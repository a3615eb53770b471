package graft.tools

import scala.collection.mutable

import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.LogicalRDD

import graft.util.GraftSession

/** Prints formatted physical plans for the headline queries so plan
  * regressions (lost pushdown, surprise shuffles, missed broadcasts) are
  * visible, with the lineage of any frame built over an RDD.
  * Run: sbt "runMain graft.tools.ExplainAudit [names...]" */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.local()
    // CosineFusion audit: the NAIVE dot/(norm·norm) formulation, written
    // through the registered SQL functions, must plan as the fused
    // one-pass expression in this (extensions-installed, same as
    // Bench/Verify) session — proving the optimizer rule runs in the
    // gated path, not just its unit spec.
    locally {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val naive = emb.selectExpr(
        "graft_dot(embedding, embedding) / (graft_norm(embedding) * graft_norm(embedding)) AS c")
      val optimized = naive.queryExecution.optimizedPlan.toString
      val fused = optimized.contains("graft_cosine") && !optimized.contains("graft_norm")
      println(s"\n========== cosine_fusion_audit ==========")
      println(s"naive dot/(norm*norm) fused to graft_cosine: $fused")
      if (!fused) println(optimized)
    }
    val names = if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        df.explain("formatted")
        // a frame built over an RDD lineage (not a checkpoint) hides its
        // work behind `Scan ExistingRDD`: print that lineage too
        df.queryExecution.analyzed.collect {
          case l: LogicalRDD if !l.rdd.isCheckpointed => lineage(l.rdd)
        }.foreach(d => println(d.mkString("== RDD lineage ==\n", "\n", "\n")))
      } catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }

  /** One line per distinct RDD, parents named by id (`toDebugString`
    * prints a DAG as a tree, which doubles at every reused RDD). */
  private def lineage(root: RDD[_]): Seq[String] = {
    val seen = mutable.LinkedHashMap.empty[Int, String]
    def walk(r: RDD[_]): Unit = if (!seen.contains(r.id)) {
      val deps = r.dependencies.map {
        case d: ShuffleDependency[_, _, _] => s"shuffle ${d.rdd.id}"
        case d => d.rdd.id.toString
      }
      seen(r.id) = s"$r (${r.getNumPartitions} partitions) <- ${deps.mkString(", ")}"
      if (!r.isCheckpointed) r.dependencies.foreach(d => walk(d.rdd))
    }
    walk(root)
    seen.values.toSeq
  }
}
