package graft.app

import scala.jdk.CollectionConverters._

import org.yaml.snakeyaml.{DumperOptions, LoaderOptions, Yaml}
import org.yaml.snakeyaml.constructor.SafeConstructor
import org.yaml.snakeyaml.error.YAMLException
import org.yaml.snakeyaml.representer.Representer
import org.yaml.snakeyaml.resolver.Resolver

import graft.util.Names

/** The reference's YAML configuration surface (seghouse/config/
  * configuration.py:8-45): `apps` (write_key + name), `warehouses` (a list
  * of typed dicts consumed by factory.py:4-13 / clickhouse.py:43-48),
  * `skip_fields`, and `extra_timestamps` (name -> timezone).
  *
  * The file is read by SnakeYAML (one of Spark's own jars), so any YAML
  * syntax loads: block or flow style, anchors, block scalars. The loader
  * is safe (no arbitrary object construction), refuses duplicate keys, and
  * resolves no implicit types: every scalar stays the string it was
  * written as (`port: 0123` is "0123", `yes` is "yes", `c:` is ""). Syntax
  * errors surface as `IllegalArgumentException`.
  */
object ConfigFile {

  /** configuration.py:8-18 — an app with a write key; `schema` is the
    * decamelized name exactly as `App.schema()` computes it. NOTE: the
    * reference parses `apps` but its send job never consumes them (the
    * database name comes from the --namespace flag alone); this port
    * mirrors that — entries are parsed, validated, and exposed here, and
    * deliberately have no effect on the job (semantics ledger, README). */
  final case class AppEntry(writeKey: String, name: String) {
    def schema: String = Names.decamelize(name)
  }

  /** configuration.py:22-29 equivalent. Warehouses stay as raw key->value
    * dicts (the reference keeps `List[dict]` too) and are interpreted by
    * [[graft.sink.WarehouseFactory.fromConf]]. */
  final case class AppConfig(
      apps: Seq[AppEntry] = Nil,
      warehouses: Seq[Map[String, String]] = Nil,
      skipFields: Seq[String] = Nil,
      extraTimestamps: Map[String, String] = Map.empty)

  /** configuration.py:32-45 (`from_yaml`). Unknown top-level keys are
    * ignored exactly like the reference's `.get(...)` reads; `warehouses`
    * is NOT required here (the reference KeyErrors without it) because the
    * CLI also accepts warehouse flags that merge with the file. */
  def fromYaml(filePath: String): AppConfig =
    fromYamlString(java.nio.file.Files.readString(java.nio.file.Paths.get(filePath)))

  /** The document as SnakeYAML's `java.util` tree; an empty one is null. */
  private def load(text: String): Any = {
    val options = new LoaderOptions()
    options.setAllowDuplicateKeys(false)
    val stringsOnly = new Resolver { override protected def addImplicitResolvers(): Unit = () }
    val dumper = new DumperOptions()
    val yaml = new Yaml(new SafeConstructor(options), new Representer(dumper), dumper, options, stringsOnly)
    try yaml.load[Any](text)
    catch { case e: YAMLException => throw new IllegalArgumentException(e.getMessage, e) }
  }

  private def kind(n: Any): String = n match {
    case _: java.util.Map[_, _] => "mapping"
    case _: java.util.List[_]   => "list"
    case _: String              => "scalar"
    case null                   => "null"
    case other                  => other.getClass.getSimpleName
  }

  def fromYamlString(text: String): AppConfig = {
    val root = load(text) match {
      case null                   => java.util.Collections.emptyMap[Any, Any]()
      case m: java.util.Map[_, _] => m
      case _ => throw new IllegalArgumentException(
        "config file must be a top-level YAML mapping")
    }
    def seqOf(key: String): Seq[Any] = Option(root.get(key)).fold(Seq.empty[Any]) {
      case xs: java.util.List[_] => xs.asScala.toSeq
      case other => throw new IllegalArgumentException(
        s"config key '$key' must be a list, got ${kind(other)}")
    }
    def scalar(n: Any, where: String): String = n match {
      case s: String => s
      case other => throw new IllegalArgumentException(
        s"$where must be a scalar, got ${kind(other)}")
    }
    def flatMapOf(n: Any, where: String): Map[String, String] = n match {
      case m: java.util.Map[_, _] => m.asScala.toSeq.map { case (k, v) =>
        val key = scalar(k, s"$where key")
        key -> scalar(v, s"$where.$key")
      }.toMap
      case other => throw new IllegalArgumentException(
        s"$where must be a mapping, got ${kind(other)}")
    }

    // apps: the reference collects into a set (dedup by value, configuration.py:36-38)
    val apps = seqOf("apps").map(n => flatMapOf(n, "apps[]"))
      .map(m => AppEntry(
        m.getOrElse("write_key", throw new IllegalArgumentException("apps[] needs write_key")),
        m.getOrElse("name", throw new IllegalArgumentException("apps[] needs name"))))
      .distinct
    val warehouses = seqOf("warehouses").map(n => flatMapOf(n, "warehouses[]"))
    val skip = seqOf("skip_fields").map(n => scalar(n, "skip_fields[]"))
    val extraTs = Option(root.get("extra_timestamps")).fold(Map.empty[String, String]) {
      case m: java.util.Map[_, _] => flatMapOf(m, "extra_timestamps")
      case other => throw new IllegalArgumentException(
        s"config key 'extra_timestamps' must be a mapping, got ${kind(other)}")
    }
    AppConfig(apps, warehouses, skip, extraTs)
  }
}
