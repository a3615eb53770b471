package graft.util

import org.apache.spark.sql.SparkSession

/** The one place a main builds its Spark session, so Bench, Verify, the
  * CLI, the plan audits and the dev probes run under the same config and
  * their numbers are comparable. Tests build theirs in `TestSpark`. */
object GraftSession {

  /** Local thread count: `SPARK_GRAFT_CPUS`, 4 when unset (the gate's
    * value). */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** A `local[cpus]` session with as many shuffle partitions as threads,
    * the UTC session time zone (events()'s TIMESTAMP_NTZ→timestamp cast
    * assumes UTC instants, so a non-UTC host would otherwise bucket days
    * differently from the verified results), no UI, the graft SQL
    * extensions installed, and WARN logging. Any other `spark.*` setting
    * can be layered on with `-Dspark.k=v` (SparkConf loads `spark.*`
    * system properties). */
  def local(cpus: Int = GraftSession.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop every block-manager-resident RDD the finished query left behind.
    * The operator library leans on EAGER `localCheckpoint(true)` —
    * Datasheet, Packing, graph loops, ~40 sites — whose blocks are never
    * released, so without this a 313-query session's block-manager
    * occupancy grows monotonically and the memory/GC tax lands on
    * whichever late-alphabet query does the most JVM-side work (q107 and
    * q102 measured ~1.5-4× their isolated cost). Safe between queries
    * BECAUSE no DataFrame crosses query boundaries in this codebase:
    * cross-query reuse is all on-disk (ANN index, snapshot stores) — the
    * only persists are query-internal. Returns how many RDDs were
    * released. */
  def release(spark: SparkSession): Int = {
    val retained = spark.sparkContext.getPersistentRDDs
    retained.values.foreach(_.unpersist(blocking = false))
    spark.sharedState.cacheManager.clearCache()
    retained.size
  }
}
