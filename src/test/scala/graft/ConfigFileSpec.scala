package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.app.ConfigFile
import graft.sink.{ClickHouseDdl, ClickHouseWarehouse, JdbcWarehouse, WarehouseFactory, WarehouseSink}

/** Config-file surface (reference seghouse/config/configuration.py:32-45 +
  * warehouse/factory.py:4-13): YAML reading with every scalar a string,
  * AppConfig extraction, typed warehouse dispatch, and the cluster DDL behavior
  * (clickhouse.py:62-63,74-75). */
class ConfigFileSpec extends AnyFunSuite {

  private val referenceShaped =
    """# seghouse-style config
      |apps:
      |  - write_key: wk1
      |    name: MyApp
      |  - write_key: wk1          # duplicate -> set-dedup (configuration.py:36-38)
      |    name: MyApp
      |  - write_key: wk2
      |    name: otherApp
      |warehouses:
      |  - type: clickhouse
      |    host: ch.example.com
      |    port: 8123
      |    user: default
      |    password: "p#ss"        # '#' inside quotes is not a comment
      |  - type: parquet
      |    root: /tmp/wh
      |skip_fields:
      |  - context_library_version
      |  - 'context_library_name'
      |extra_timestamps:
      |  timestamp_ist: Asia/Kolkata
      |  timestamp_ny: America/New_York
      |""".stripMargin

  test("reference-shaped YAML parses into AppConfig") {
    val c = ConfigFile.fromYamlString(referenceShaped)
    assert(c.apps == Seq(
      ConfigFile.AppEntry("wk1", "MyApp"), ConfigFile.AppEntry("wk2", "otherApp")))
    assert(c.apps.head.schema == "my_app") // App.schema() decamelize
    assert(c.warehouses == Seq(
      Map("type" -> "clickhouse", "host" -> "ch.example.com", "port" -> "8123",
        "user" -> "default", "password" -> "p#ss"),
      Map("type" -> "parquet", "root" -> "/tmp/wh")))
    assert(c.skipFields == Seq("context_library_version", "context_library_name"))
    assert(c.extraTimestamps == Map(
      "timestamp_ist" -> "Asia/Kolkata", "timestamp_ny" -> "America/New_York"))
  }

  test("missing sections default to empty, like the reference's .get reads") {
    val c = ConfigFile.fromYamlString("warehouses:\n  - type: parquet\n    root: /x\n")
    assert(c.apps.isEmpty && c.skipFields.isEmpty && c.extraTimestamps.isEmpty)
    assert(c.warehouses.size == 1)
  }

  test("flow style, anchors and block scalars read like block style") {
    val c = ConfigFile.fromYamlString(
      """apps: [{write_key: wk1, name: MyApp}, {write_key: wk1, name: MyApp},
        |       {write_key: wk2, name: otherApp}]
        |warehouses:
        |  - {type: clickhouse, host: ch.example.com, port: 8123, user: &user default,
        |     password: "p#ss"}
        |  - type: parquet
        |    root: |-
        |      /tmp/wh
        |skip_fields: [context_library_version, 'context_library_name']
        |zones: {ist: &ist Asia/Kolkata}
        |extra_timestamps:
        |  timestamp_ist: *ist
        |  timestamp_ny: >-
        |    America/New_York
        |""".stripMargin)
    assert(c == ConfigFile.fromYamlString(referenceShaped))
  }

  test("tabs, duplicate keys, a top-level list and non-scalar values are refused") {
    def refused(doc: String) = intercept[IllegalArgumentException](ConfigFile.fromYamlString(doc))
    refused("\ta: 1")                                  // tab indent
    refused("a: 1\na: 2")                              // dup key
    refused("warehouses:\n  - type: x\n    type: y")   // dup key inside an entry
    refused("- just\n- a list")
    assert(refused("skip_fields: [[a, b]]").getMessage == "skip_fields[] must be a scalar, got list")
    assert(refused("extra_timestamps: [a]").getMessage ==
      "config key 'extra_timestamps' must be a mapping, got list")
    // tabs are only illegal in INDENTATION — quoted scalars may carry them
    assert(ConfigFile.fromYamlString("skip_fields:\n  - \"x\ty\"").skipFields == Seq("x\ty"))
  }

  test("numeric- and boolean-looking scalars stay verbatim") {
    val c = ConfigFile.fromYamlString(
      """warehouses:
        |  - type: clickhouse
        |    port: 0123
        |    secure: yes
        |    timeout: 1e3
        |    cluster: null
        |    password: ~
        |skip_fields: [0123, yes, Off, true, 1.50]
        |""".stripMargin)
    assert(c.warehouses == Seq(Map("type" -> "clickhouse", "port" -> "0123", "secure" -> "yes",
      "timeout" -> "1e3", "cluster" -> "null", "password" -> "~")))
    assert(c.skipFields == Seq("0123", "yes", "Off", "true", "1.50"))
  }

  test("block sequences at the same indent as their key (common emitter style)") {
    val c = ConfigFile.fromYamlString(
      """skip_fields:
        |- context_ip
        |- channel
        |warehouses:
        |- type: parquet
        |  root: /x
        |- type: jdbc
        |  url: jdbc:derby:y
        |extra_timestamps:
        |  t_ny: America/New_York
        |""".stripMargin)
    assert(c.skipFields == Seq("context_ip", "channel"))
    assert(c.warehouses == Seq(
      Map("type" -> "parquet", "root" -> "/x"),
      Map("type" -> "jdbc", "url" -> "jdbc:derby:y")))
    assert(c.extraTimestamps == Map("t_ny" -> "America/New_York"))
  }

  test("nested mapping under a list item nests instead of flattening") {
    // flattened, retries and mode would be two more scalar keys of the
    // entry; nested, opts is a mapping, which a warehouse entry refuses
    val e = intercept[IllegalArgumentException](ConfigFile.fromYamlString(
      """warehouses:
        |  - name: a
        |    opts:
        |      retries: 3
        |      mode: fast
        |  - name: b
        |""".stripMargin))
    assert(e.getMessage == "warehouses[].opts must be a scalar, got mapping")
  }

  test("quoting, comments, and empty values") {
    val c = ConfigFile.fromYamlString(
      "warehouses:\n  - a: \"x # not a comment\"  # real comment\n    b: 'it''s'\n    c:\n")
    assert(c.warehouses == Seq(Map("a" -> "x # not a comment", "b" -> "it's", "c" -> "")))
  }

  test("factory dispatch mirrors factory.py") {
    assert(WarehouseFactory.fromConf(Map("type" -> "parquet", "root" -> "/tmp/x"))
      .isInstanceOf[WarehouseSink])
    val j = WarehouseFactory.fromConf(Map("type" -> "jdbc", "url" -> "jdbc:derby:memory:cfg"))
    assert(j.isInstanceOf[JdbcWarehouse] && !j.isInstanceOf[ClickHouseWarehouse])
    assert(WarehouseFactory.fromConf(Map(
      "type" -> "clickhouse", "host" -> "h", "user" -> "u", "password" -> ""))
      .isInstanceOf[ClickHouseWarehouse])
    val e = intercept[IllegalArgumentException](
      WarehouseFactory.fromConf(Map("type" -> "snowflake")))
    assert(e.getMessage.contains("Unable to get warehouse of type")) // factory.py:8
    intercept[IllegalArgumentException](
      WarehouseFactory.fromConf(Map("type" -> "clickhouse", "host" -> "h"))) // missing user
  }

  test("cluster: ON CLUSTER on create-database, refusal on table DDL") {
    assert(ClickHouseDdl.createDatabase("db", Some("main"))
      == "CREATE DATABASE IF NOT EXISTS `db` ON CLUSTER `main`")
    assert(ClickHouseDdl.createDatabase("db") == "CREATE DATABASE IF NOT EXISTS `db`")
    // clickhouse.py:74-75: table DDL with a cluster raises
    val wh = new ClickHouseWarehouse("jdbc:clickhouse://h:9000", Map.empty, Some("main")) {
      def tableDdl(): String = createTableSql("db", "tracks",
        org.apache.spark.sql.types.StructType(Nil))
    }
    intercept[UnsupportedOperationException](wh.tableDdl())
  }
}
