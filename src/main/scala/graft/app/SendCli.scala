package graft.app

import org.apache.spark.sql.SparkSession

import graft.ingest.Readers
import graft.jobs.{JobConf, SendToWarehouseJob}
import graft.streaming.StreamingSend
import graft.util.GraftSession

/** CLI entry point — the `seghouse send` equivalent (reference
  * seghouse/app.py:16-44). Like the reference it takes `--config-file`
  * (YAML: apps/warehouses/skip_fields/extra_timestamps — read by
  * [[ConfigFile]] with SnakeYAML, every value a string) and/or the same
  * settings as flags; flag values are appended to the file's. The source
  * dir is any Spark-readable path (local or s3a://), and `--stream`
  * switches to the Structured Streaming runtime over the same pipeline
  * core, with the schema inferred once by [[graft.ingest.Readers.ndjson]]
  * from the files already there.
  *
  * Usage:
  *   runMain graft.app.SendCli --source-dir DIR --namespace NS
  *     [--config-file FILE.yaml]
  *     [--warehouse-root PATH]... [--jdbc-url URL]...
  *     [--skip-field NAME]... [--extra-timestamp NAME=TZ]...
  *     [--stream --checkpoint DIR] [--cpus N]
  */
object SendCli {

  final case class Args(
      sourceDir: String = "",
      namespace: String = "",
      configFile: String = "",
      warehouseRoots: Seq[String] = Nil,
      jdbcUrls: Seq[String] = Nil,
      skipFields: Seq[String] = Nil,
      extraTimestamps: Map[String, String] = Map.empty,
      stream: Boolean = false,
      checkpoint: String = "",
      cpus: Int = 4)

  def parse(argv: Seq[String]): Args = {
    def loop(rest: List[String], acc: Args): Args = rest match {
      case Nil => acc
      case "--source-dir" :: v :: t      => loop(t, acc.copy(sourceDir = v))
      case "--namespace" :: v :: t       => loop(t, acc.copy(namespace = v))
      case "--config-file" :: v :: t     => loop(t, acc.copy(configFile = v))
      case "--warehouse-root" :: v :: t  => loop(t, acc.copy(warehouseRoots = acc.warehouseRoots :+ v))
      case "--jdbc-url" :: v :: t        => loop(t, acc.copy(jdbcUrls = acc.jdbcUrls :+ v))
      case "--skip-field" :: v :: t      => loop(t, acc.copy(skipFields = acc.skipFields :+ v))
      case "--extra-timestamp" :: v :: t =>
        v.split("=", 2) match {
          case Array(n, tz) => loop(t, acc.copy(extraTimestamps = acc.extraTimestamps + (n -> tz)))
          case _ => throw new IllegalArgumentException(s"--extra-timestamp expects NAME=TZ, got $v")
        }
      case "--stream" :: t               => loop(t, acc.copy(stream = true))
      case "--checkpoint" :: v :: t      => loop(t, acc.copy(checkpoint = v))
      case "--cpus" :: v :: t            => loop(t, acc.copy(cpus = v.toInt))
      case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
    }
    val a = loop(argv.toList, Args())
    require(a.sourceDir.nonEmpty, "--source-dir is required")
    require(a.namespace.nonEmpty, "--namespace is required")
    require(a.warehouseRoots.nonEmpty || a.jdbcUrls.nonEmpty || a.configFile.nonEmpty,
      "at least one --warehouse-root, --jdbc-url, or --config-file is required")
    require(!a.stream || a.checkpoint.nonEmpty, "--stream requires --checkpoint")
    a
  }

  /** Flags merge with the config file: file values first, flag values
    * appended (flag extra-timestamps override same-named file entries). */
  def toConf(a: Args): JobConf = {
    val file =
      if (a.configFile.nonEmpty) ConfigFile.fromYaml(a.configFile)
      else ConfigFile.AppConfig()
    val conf = JobConf(
      skipFields = (file.skipFields ++ a.skipFields).distinct,
      extraTimestamps = file.extraTimestamps ++ a.extraTimestamps,
      warehouseRoots = a.warehouseRoots,
      warehouseConfs = a.jdbcUrls.map(u => Map("type" -> "jdbc", "url" -> u)) ++ file.warehouses)
    require(conf.warehouseRoots.nonEmpty || conf.warehouseConfs.nonEmpty,
      "no warehouses configured (config file has none and no flags given)")
    conf
  }

  /** Testable core: run against an existing session. */
  def run(spark: SparkSession, a: Args): Unit = {
    val conf = toConf(a)
    if (!a.stream) {
      new SendToWarehouseJob(spark, conf, a.namespace).execute(a.sourceDir)
    } else {
      // infer once from the existing files, as a batch run reads them
      val schema = Readers.ndjson(spark, a.sourceDir).schema
      val q = StreamingSend.start(spark, conf, a.namespace, a.sourceDir, schema, a.checkpoint)
      q.awaitTermination()
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toIndexedSeq)
    val spark = GraftSession.local(a.cpus)
    try run(spark, a) finally spark.stop()
  }
}
