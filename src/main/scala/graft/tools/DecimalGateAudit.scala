package graft.tools

import graft.util.GraftSession
import org.apache.spark.sql.types.{ArrayType, DataType, DecimalType, MapType, StructType}

/** STANDING GATE against DECIMAL columns in gated query output (judge
  * round-9 item #4): the correctness gate hashes TYPED values on both
  * engines' pandas readouts, and decimal is the one numeric family the
  * two engines render differently — Spark's parquet decimal128 arrives
  * as Python `Decimal` objects while DuckDB 1.0's `fetchdf` renders
  * DECIMAL(38,0) as float64. Equal values, different typed hashes:
  * exactly how q277/q287/q288/q294 read hash-mismatch in round 9 while
  * being value-exact on both engines at both SFs.
  *
  * The house convention (q108/q109/q144/q261 since round 7, everything
  * since round 10): DECIMAL(38,0) is an INTERNAL arithmetic width —
  * 128-bit cross-multiplied DIVs, pair-count combinatorics — and every
  * GATED readout column is cast to BIGINT (with the narrowing headroom
  * documented at the cast site). This tool makes the convention
  * executable: it walks every `SparkEntry.queries` entry's analyzed
  * output schema (fields, and nested struct/array/map element types)
  * and FAILS (exit 1) on any DecimalType. The allowlist is EMPTY by
  * design — a future query that genuinely must emit decimal should
  * instead emit the value as BIGINT micro-units or a string, both of
  * which hash identically across engines.
  *
  * Since round 11 it ALSO scans the ORACLE side: a decimal readout can
  * re-enter through the DuckDB SQL alone (HUGEINT `//`, `::DECIMAL`
  * casts) while the Spark side stays BIGINT — same typed-hash mismatch,
  * opposite origin. SQL isn't parsed here; the check is the house
  * convention made textual: an oracle that mentions DECIMAL or HUGEINT
  * must also contain at least one narrowing readout cast — `AS BIGINT`
  * for the integer-exact family, or `AS DOUBLE` for the monetary family
  * that sums doubles through DECIMAL(12,2) for deterministic addition
  * and reads back out as float64 (q01/q02/q16/q46 and the store-serve
  * twins; the Spark side performs the identical widen-sum-narrow, so
  * the typed hashes agree). Every legitimate internal-width use funnels
  * through one of the two. DuckDB's float-rendered `::DECIMAL`
  * select-list casts are flagged outright.
  *
  * NOT side-effect-free (advisor r10 note): building a query's
  * DataFrame runs real jobs — eager `localCheckpoint(true)` in many
  * operators, `require`-guard `count()`s (Concentration.gini), and
  * stored-state queries (q311, q315) actually COMMIT snapshot state
  * during plan construction. The tool therefore needs the sf data dir
  * readable and a writable tmp/state root, and it releases each query's
  * retained blocks as it walks the surface.
  *
  * Run: `sbt "runMain graft.tools.DecimalGateAudit"` (sf0.001 default).
  */
object DecimalGateAudit {

  /** Every decimal-typed leaf inside a (possibly nested) type. */
  private def decimalLeaves(dt: DataType, path: String): Seq[String] = dt match {
    case _: DecimalType => Seq(s"$path: $dt")
    case s: StructType =>
      s.fields.toSeq.flatMap(f => decimalLeaves(f.dataType, s"$path.${f.name}"))
    case a: ArrayType => decimalLeaves(a.elementType, s"$path[]")
    case m: MapType =>
      decimalLeaves(m.keyType, s"$path<key>") ++
        decimalLeaves(m.valueType, s"$path<value>")
    case _ => Seq.empty
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.local()

    val names = if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    var failures = Vector.empty[(String, Seq[String])]
    var planErrors = Vector.empty[(String, String)]
    names.foreach { n =>
      try {
        val schema = graft.SparkEntry.queries(n)(spark, sfDir).schema
        val hits = schema.fields.toSeq.flatMap(f => decimalLeaves(f.dataType, f.name))
        if (hits.nonEmpty) failures :+= (n -> hits)
      } catch {
        case e: Throwable =>
          planErrors :+= (n -> Option(e.getMessage).getOrElse(e.getClass.getName).take(160))
      }
      // query construction runs eager checkpoints (see scaladoc) — release
      // them so walking 314 queries doesn't accumulate block-manager state
      GraftSession.release(spark)
    }
    // oracle-side scan (round-11 item #7): textual convention check over
    // SparkEntry.oracleSql — see scaladoc for what it can and cannot catch
    var oracleFails = Vector.empty[(String, String)]
    graft.SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (n, sql) =>
      if (!names.contains(n)) ()
      else {
        val up = sql.toUpperCase
        val mentionsWide = up.contains("DECIMAL") || up.contains("HUGEINT")
        if (up.contains("::DECIMAL"))
          oracleFails :+= (n -> ("oracle uses a ::DECIMAL select-list cast " +
            "(DuckDB fetchdf renders it float64 — hash-unsafe); " +
            "funnel through CAST(... AS BIGINT)"))
        else if (mentionsWide && !up.contains("AS BIGINT")
            && !up.contains("AS DOUBLE"))
          oracleFails :+= (n -> ("oracle widens to DECIMAL/HUGEINT but has " +
            "no `AS BIGINT`/`AS DOUBLE` readout cast — the narrowed readout " +
            "convention is missing on the oracle side"))
      }
    }
    println(s"\n== DecimalGateAudit: ${names.size} queries scanned ==")
    if (planErrors.nonEmpty) {
      println(s"plan errors (${planErrors.size}):")
      planErrors.foreach { case (n, m) => println(s"  $n: $m") }
    }
    if (failures.nonEmpty || planErrors.nonEmpty || oracleFails.nonEmpty) {
      failures.foreach { case (n, hits) =>
        println(s"FAIL  $n  decimal output column(s): ${hits.mkString("; ")}")
      }
      oracleFails.foreach { case (n, why) => println(s"FAIL  $n  $why") }
      println(s"FAIL: ${failures.size} queries emit DECIMAL gated output, " +
        s"${oracleFails.size} oracles break the readout convention " +
        s"(allowlist: none — cast the readout to BIGINT)")
      spark.stop()
      sys.exit(1)
    }
    println("PASS: no gated query emits a DECIMAL output column; " +
      "all oracles honor the BIGINT readout convention")
    spark.stop()
  }
}
