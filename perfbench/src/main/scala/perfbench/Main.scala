package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.BusDrain
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.SparkEntry
import graft.ingest.Readers
import graft.jobs.{JobConf, SendToWarehouseJob}
import graft.sink.{TableCatalog, WarehouseSink}
import graft.streaming.StreamingSend

/** Runs one workload through the program's public entry points and writes
  * the raw measurements as one JSON object to `--out`. `run.py` generates
  * the inputs, checks the outputs and prints the benchmark's result line.
  *
  * The timed section runs the workload's operation on a fresh warehouse
  * root, and repeats it until `--seconds` have passed. With `--trace 1` the
  * job-attribution listener is attached to every operation and the
  * per-layer metrics are taken from them. */
object Main {

  val Namespace = "bench"

  /** `queries` is the analytics hot list (full `SparkEntry.queries` names, in
    * run order); `launchMs` is the epoch time at which the JVM was launched. */
  final case class Args(workload: String, input: String, work: String, out: String,
      seconds: Double, trace: Boolean, cpus: Int, maxFiles: Int, queries: Seq[String], launchMs: Long)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("input"), m("work"), m("out"), m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("cpus").toInt, m.getOrElse("max-files", "4").toInt,
      m.get("queries").toSeq.flatMap(_.split(',')).filter(_.nonEmpty), m("launch-ms").toLong)
  }

  // ---- session -------------------------------------------------------------

  private def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Session build plus a warm-up job in this fresh JVM. The time runs from
    * the JVM's launch, so JVM start, class loading and the program's static
    * initialisation count too. */
  private def setUp(a: Args): (SparkSession, Double) = {
    val spark = session(a.cpus, a.work)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    (spark, (System.currentTimeMillis() - a.launchMs) / 1000.0)
  }

  // ---- load witness (the canary spin of graft.Bench) -----------------------

  private def canarySpin(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 42L) print("")
    dt
  }

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  // ---- per-operation trace summaries --------------------------------------

  private def sumS(js: Seq[JobRec]): Double = js.map(_.ms).sum / 1000.0

  /** Wall time inside [t0, t1] (ms) that no job covers. */
  private def uncovered(js: Seq[JobRec], t0: Long, t1: Long): Double = {
    val iv = js.map(j => (math.max(j.startMs, t0), math.min(j.endMs, t1))).filter(p => p._2 > p._1).sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0L, (t1 - t0) - covered) / 1000.0
  }

  private def sparkTotals(js: Seq[JobRec], wallS: Double, cpus: Int): Map[String, Double] = {
    val taskS = js.map(_.taskMs).sum / 1000.0
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> js.map(_.stages).sum.toDouble,
      "spark.tasks" -> js.map(_.tasks).sum.toDouble,
      "spark.task_s" -> taskS,
      "spark.gc_s" -> js.map(_.gcMs).sum / 1000.0,
      "spark.shuffle_write_mb" -> js.map(_.shuffleWriteBytes).sum / 1e6,
      "spark.spill_mb" -> js.map(_.spillBytes).sum / 1e6,
      "spark.core_util" -> (if (wallS > 0) taskS / (wallS * cpus) else 0.0)
    ) ++ (Layers.All :+ Layers.Bench :+ Layers.Unattributed).map { l =>
      s"attr.$l.jobs" -> js.count(_.layer == l).toDouble
    }
  }

  private def isInfer(j: JobRec) =
    j.frames.exists(_.startsWith("graft.etl.TypeInference")) || j.plan.contains("min(CASE WHEN isnotnull(")
  private def isFlatten(j: JobRec) =
    j.frames.exists(_.startsWith("graft.ingest.JsonFlatten")) || j.plan.contains("max(size(")
  private val AllNullProbe = "Functions \\[\\d+\\]: \\[(partial_)?count\\([a-z_]".r
  /** `isEmpty` probes (a limit-1 collect) and the all-null column probe of
    * the store path (one count per column). */
  private def isProbe(j: JobRec) =
    !j.isWrite && (j.rootOp == "CollectLimit" || AllNullProbe.findFirstIn(j.plan).isDefined)

  /** The pipeline's per-layer metrics for one operation's jobs. */
  private def pipelineLayers(js: Seq[JobRec], t0: Long, t1: Long, inputBytes: Long,
      trace: Trace): Map[String, Double] = {
    val writes = js.filter(_.isWrite)
    val tables = writes.flatMap(_.writeTable).distinct
    val users = js.filter(_.writeTable.contains("users"))
    val misfit = js.filter(j => j.writeTable.contains("misfits") ||
      (!j.isWrite && j.plan.contains("explode(__graft_misfits")))
    val bytes = trace.execMetric(writes, "written output")
    Map(
      "ingest.raw_scans" -> js.count(_.scansRaw).toDouble,
      "ingest.flatten_s" -> sumS(js.filter(isFlatten)),
      "etl.infer_s" -> sumS(js.filter(isInfer)),
      "etl.infer_jobs" -> js.count(isInfer).toDouble,
      "etl.coerce_s" -> sumS(js.filter(_.plan.contains("__graft_misfits"))),
      "jobs.tables_stored" -> tables.size.toDouble,
      "jobs.spark_jobs" -> js.size.toDouble,
      "jobs.jobs_per_table" -> (if (tables.nonEmpty) js.size.toDouble / tables.size else 0.0),
      "jobs.probe_s" -> sumS(js.filter(isProbe)),
      "jobs.probe_jobs" -> js.count(isProbe).toDouble,
      "jobs.driver_s" -> uncovered(js, t0, t1),
      "jobs.write_job_frac" -> (if (js.nonEmpty) writes.size.toDouble / js.size else 0.0),
      "sink.write_s" -> sumS(writes),
      "sink.write_jobs" -> writes.size.toDouble,
      "sink.files_written" -> trace.execMetric(writes, "number of written files").toDouble,
      "sink.bytes_written" -> bytes.toDouble,
      "sink.write_amp" -> (if (inputBytes > 0) bytes.toDouble / inputBytes else 0.0),
      "sink.misfit_s" -> sumS(misfit),
      "sink.users_upsert_s" -> sumS(users),
      "sink.users_rewrite_mb" -> trace.execMetric(users, "written output") / 1e6
    )
  }

  // ---- workloads -----------------------------------------------------------

  final case class Op(wallS: Double, parts: Map[String, Double], layers: Map[String, Double],
      traced: Boolean, extra: Map[String, String] = Map.empty)

  /** Repeats `op` until the deadline, each on a fresh warehouse root. */
  private def timedLoop(a: Args, spark: SparkSession, storage: StorageWatch)(
      op: (Int, Option[Trace]) => Op): (Seq[Op], Double) = {
    val sc = spark.sparkContext
    val ops = mutable.ArrayBuffer.empty[Op]
    var peak = 0L
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      // the analytics workload's own action on a query's DataFrame runs
      // the operators' plan, so its jobs count for that layer
      val trace = if (a.trace) Some(new Trace(if (a.workload == "analytics_hot") "operators" else Layers.Bench))
        else None
      trace.foreach(sc.addSparkListener)
      BusDrain.drain(sc)
      storage.reset()
      val o = op(i, trace)
      BusDrain.drain(sc)
      ops += trace.fold(o)(tr => o.copy(layers = o.layers ++ Map(
        "trace.wall_s" -> o.wallS, "trace.listener_s" -> tr.busyS)))
      peak = math.max(peak, storage.peak)
      trace.foreach { tr =>
        sc.removeSparkListener(tr)
        writeSpans(s"${a.work}/spans_$i.jsonl", tr.jobs)
      }
      i += 1
    }
    (ops.toSeq, peak / 1e6)
  }

  private def durS(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def streamFanout(a: Args, spark: SparkSession, storage: StorageWatch, inputBytes: Long) =
    timedLoop(a, spark, storage) { (i, trace) =>
      val root = s"${a.work}/wh_$i"
      val t0 = System.currentTimeMillis()
      val s0 = System.nanoTime()
      // the streaming send of app.SendCli: infer the source schema from the
      // files already there, then drain them as micro-batches
      val schema = Readers.ndjson(spark, a.input).schema
      val readS = (System.nanoTime() - s0) / 1e9
      val q = StreamingSend.start(spark, JobConf(warehouseRoots = Seq(root)), Namespace, a.input, schema,
        s"${a.work}/ckpt_$i", trigger = Trigger.AvailableNow(),
        sourceOptions = Map("maxFilesPerTrigger" -> a.maxFiles.toString))
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      val sendS = (System.nanoTime() - s0) / 1e9
      val t1 = System.currentTimeMillis()
      val c0 = System.nanoTime()
      val removed = new WarehouseSink(new TableCatalog(root)).compact(spark, Namespace, "tracks")
      val compactS = (System.nanoTime() - c0) / 1e9
      val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      val batchS = progress.map(durS(_, "triggerExecution"))
      val dropped = progress.flatMap(_.stateOperators.toSeq)
        .map(s => Option(s.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue).getOrElse(0L)).sum
      val last = progress.lastOption.flatMap(_.stateOperators.headOption)
      val layers = trace.map { tr =>
        BusDrain.drain(spark.sparkContext)
        val js = tr.jobs
        val sendJobs = js.filter(_.startMs <= t1)
        val batches = progress.size.max(1)
        val inBatch = js.filter(_.batchId.isDefined)
        val evals = inBatch.groupBy(_.batchId).values.map(_.count(_.runsStateOp)).sum
        pipelineLayers(sendJobs, t0, t1, inputBytes, tr) ++ sparkTotals(js, sendS + compactS, a.cpus) ++ Map(
          "ingest.read_s" -> readS,
          "etl.dup_rows_dropped" -> dropped.toDouble,
          "sink.compact_s" -> compactS,
          "sink.compact_rows_removed" -> removed.toDouble,
          "streaming.batches" -> progress.size.toDouble,
          "streaming.first_batch_s" -> batchS.headOption.getOrElse(0.0),
          "streaming.add_batch_s" -> median(progress.map(durS(_, "addBatch"))),
          "streaming.jobs_per_batch" -> inBatch.size.toDouble / batches,
          "streaming.source_evals_per_batch" -> evals.toDouble / batches,
          "streaming.state_rows" -> last.map(_.numRowsTotal.toDouble).getOrElse(0.0),
          "streaming.state_mb" -> last.map(_.memoryUsedBytes / 1e6).getOrElse(0.0))
      }.getOrElse(Map.empty)
      Op(sendS + compactS, Map("send_s" -> sendS, "compact_s" -> compactS, "compact_removed" -> removed.toDouble,
        "dropped" -> dropped.toDouble, "rows_read" -> progress.map(_.numInputRows).sum.toDouble) ++
        batchS.zipWithIndex.map { case (s, k) => f"batch_$k%02d" -> s },
        layers, trace.isDefined, Map("root" -> root))
    }

  /** Drops block-manager data a finished query left behind (as graft.Bench
    * does between queries), so one query's cached blocks do not tax the next. */
  private def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.sharedState.cacheManager.clearCache()
  }

  private def runQueries(a: Args, spark: SparkSession) = a.queries.map { n =>
    val t0 = System.currentTimeMillis()
    val s0 = System.nanoTime()
    val rows = SparkEntry.queries(n)(spark, a.input).collect()
    val s = (System.nanoTime() - s0) / 1e9
    val t1 = System.currentTimeMillis()
    release(spark)
    (n, s, rows, t0, t1)
  }

  /** One untimed pass of the queries (code generation, class loading and JIT
    * of the operators), then the timed passes. Returns the untimed pass's
    * wall beside the timed operations. */
  private def analyticsHot(a: Args, spark: SparkSession, storage: StorageWatch) = {
    val warmS = runQueries(a, spark).map(_._2).sum
    val (ops, peak) = timedLoop(a, spark, storage) { (_, trace) =>
      val per = runQueries(a, spark)
      val wall = per.map(_._2).sum
      val layers = trace.map { tr =>
        BusDrain.drain(spark.sparkContext)
        val js = tr.jobs
        val perQ = per.flatMap { case (n, s, _, t0, t1) =>
          val q = n.split('_').head
          val mine = js.filter(j => j.startMs >= t0 && j.startMs <= t1)
          Seq(s"operators.$q.wall_s" -> s, s"operators.$q.jobs" -> mine.size.toDouble,
            s"operators.$q.task_s" -> mine.map(_.taskMs).sum / 1000.0)
        }
        perQ.toMap ++ sparkTotals(js, wall, a.cpus)
      }.getOrElse(Map.empty)
      Op(wall, per.map(p => p._1 -> p._2).toMap ++ per.map(p => s"rows:${p._1}" -> p._3.length.toDouble),
        layers, trace.isDefined, per.map(p => s"hash:${p._1}" -> resultHash(p._3)).toMap)
    }
    (ops, peak, Some(warmS))
  }

  /** Order-independent hash of a query result: the wrapping sum of a 64-bit
    * hash of each row's text form. */
  private def resultHash(rows: Array[Row]): String = {
    import scala.util.hashing.MurmurHash3.stringHash
    rows.iterator.map { r =>
      val t = r.toString
      (stringHash(t, 0x3c074a61).toLong << 32) ^ (stringHash(t, 0x1b873593).toLong & 0xffffffffL)
    }.sum.toString
  }

  /** Writes one line per traced job: its span, layer, call site, counts and
    * the operator tree of its plan. */
  private def writeSpans(path: String, jobs: Seq[JobRec]): Unit = {
    val lines = jobs.map { j =>
      val tree = j.plan.split("\n\n").take(2).mkString("\n")
      s"""{"job":${j.id},"start_ms":${j.startMs},"end_ms":${j.endMs},"layer":${js(j.layer)},""" +
        s""""execution":${j.executionId.getOrElse(-1L)},"batch":${j.batchId.getOrElse(-1L)},""" +
        s""""stages":${j.stages},"tasks":${j.tasks},"task_ms":${j.taskMs},"write":${js(j.writeTable.getOrElse(""))},""" +
        s""""scopes":${j.scopes.toSeq.sorted.map(js).mkString("[", ",", "]")},""" +
        s""""frames":${j.frames.take(12).map(js).mkString("[", ",", "]")},"plan":${js(tree)}}"""
    }
    Files.write(new File(path).toPath, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  // ---- output --------------------------------------------------------------

  private def js(s: String): String = "\"" + s.flatMap {
    case '\\' => "\\\\"
    case '"' => "\\\""
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  } + "\""
  private def jn(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  private def jmap(m: Iterable[(String, Double)]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => js(k) + ":" + jn(v) }.mkString("{", ",", "}")
  private def jsmap(m: Iterable[(String, String)]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => js(k) + ":" + js(v) }.mkString("{", ",", "}")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    new File(a.work).mkdirs()
    val inputBytes = Option(new File(a.input).listFiles()).toSeq.flatten.map(_.length).sum
    val (spark, setupS) = setUp(a)
    val storage = new StorageWatch
    spark.sparkContext.addSparkListener(storage)

    canarySpin() // JIT warm-up, so the first reading is steady-state
    val loadBefore = loadAvg()
    val spinBefore = canarySpin()
    val (ops, peakMb, warmS) = a.workload match {
      case "stream_fanout" =>
        val (ops, peak) = streamFanout(a, spark, storage, inputBytes)
        (ops, peak, None)
      case "analytics_hot" => analyticsHot(a, spark, storage)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val spinAfter = canarySpin()
    val loadAfter = loadAvg()

    // untimed facts the checker and the per-layer metrics need
    val facts = mutable.Map.empty[String, Double]
    if (a.workload != "analytics_hot" && a.trace) {
      val raw = Readers.ndjson(spark, a.input)
      facts("ingest.corrupt_rows") =
        // Spark refuses a raw-file query that needs the corrupt-record
        // column alone, so the aggregate reads `type` too
        if (!raw.columns.contains("_corrupt_record")) 0.0
        else raw.agg(count(col("_corrupt_record")), count(col("type"))).head().getLong(0).toDouble
      facts("ingest.flat_cols") =
        new SendToWarehouseJob(spark, JobConf(), Namespace).normalize(raw).columns.length.toDouble
    }
    spark.stop()

    val opsJson = ops.map { o =>
      s"""{"wall_s":${jn(o.wallS)},"traced":${o.traced},"parts":${jmap(o.parts)},""" +
        s""""layers":${jmap(o.layers)},"extra":${jsmap(o.extra)}}"""
    }.mkString("[", ",", "]")
    val out =
      s"""{"workload":${js(a.workload)},"cpus":${a.cpus},"setup_s":${jn(setupS)},""" +
        s""""untimed_pass_s":${warmS.map(jn).getOrElse("null")},""" +
        s""""peak_storage_mb":${jn(peakMb)},"input_bytes":$inputBytes,"ops":$opsJson,""" +
        s""""facts":${jmap(facts)},""" +
        s""""load":{"spin_before_s":${jn(spinBefore)},"spin_after_s":${jn(spinAfter)},""" +
        s""""load_avg_before":${jn(loadBefore)},"load_avg_after":${jn(loadAfter)}}}"""
    Files.write(new File(a.out).toPath, out.getBytes(StandardCharsets.UTF_8))
  }
}
