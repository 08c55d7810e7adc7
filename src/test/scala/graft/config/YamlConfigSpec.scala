package graft.config

import org.scalatest.funsuite.AnyFunSuite

class YamlConfigSpec extends AnyFunSuite {

  val yml = """src:
               |  host: 192.168.1.3
               |  port: 3306
               |  database: test
               |  username: root
               |  password: 11111
               |dest:
               |  host: 192.168.1.200
               |  port: 5432
               |  database: test2
               |  username: t
               |  password: p
               |pageSize: 100000
               |maxParallel: 30
               |charInLength: false
               |useNvarchar2: true
               |Distributed: false
               |dbType: Gauss
               |tables:
               |  test1:
               |    - select * from test1
               |  test2:
               |    - select * from test2 where id < 5
               |    - select * from test2 where id >= 5
               |exclude:
               |  - 'log1'
               |  - 'log2'
               |  - '*_cswysk'
               |""".stripMargin

  test("parses the reference example.yml shape (C8)") {
    val cfg = YamlConfig.parse(yml)
    assert(cfg.src == ConnConfig("192.168.1.3", 3306, "test", "root", "11111"))
    assert(cfg.dest.port == 5432 && cfg.dest.database == "test2")
    assert(cfg.pageSize == 100000L && cfg.maxParallel == 30)
    assert(!cfg.charInLength && cfg.useNvarchar2 && !cfg.distributed)
    assert(cfg.tables == Map(
      "test1" -> Seq("select * from test1"),
      "test2" -> Seq("select * from test2 where id < 5", "select * from test2 where id >= 5")))
    assert(cfg.exclude == Seq("log1", "log2", "*_cswysk"))
  }

  test("defaults when keys are absent (root.go:107-109)") {
    val cfg = YamlConfig.parse("pageSize: 500\n")
    assert(cfg.pageSize == 500L)
    assert(cfg.maxParallel == 20) // reference default when unset
    assert(cfg.exclude.isEmpty && cfg.tables.isEmpty)
  }

  test("comments and quoting are tolerated") {
    val cfg = YamlConfig.parse("maxParallel: 7 # fast\nexclude:\n  - \"a*\"\n")
    assert(cfg.maxParallel == 7)
    assert(cfg.exclude == Seq("a*"))
  }

  test("JDBC URLs follow the reference DSNs (app.go:43,66; value deltas in DELTAS.md)") {
    val cfg = YamlConfig.parse(yml)
    assert(cfg.src.mysqlJdbcUrl.startsWith(
      "jdbc:mysql://192.168.1.3:3306/test?characterEncoding=utf8"))
    // the params that pin go-driver value semantics under Connector/J
    assert(cfg.src.mysqlJdbcUrl.contains("zeroDateTimeBehavior=convertToNull")) // DELTAS.md #1
    assert(cfg.src.mysqlJdbcUrl.contains("tinyInt1isBit=false"))                // DELTAS.md #3
    assert(cfg.src.mysqlJdbcUrl.contains("yearIsDateType=false"))               // DELTAS.md #3
    assert(cfg.dest.pgJdbcUrl == "jdbc:postgresql://192.168.1.200:5432/test2?sslmode=disable")
  }
}
