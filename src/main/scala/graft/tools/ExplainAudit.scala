package graft.tools

import graft.util.GraftSession

/** Prints formatted physical plans for the headline queries so plan
  * regressions (lost pushdown, surprise shuffles, missed broadcasts) are
  * visible in review. Run: sbt "runMain graft.tools.ExplainAudit [names...]" */
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
      try graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
