package graft.ddlgen

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import graft.TestSpark

class DdlGenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("orderedGroupConcat: ordered by seq, distinct, custom separator (A3)") {
    val df = Seq((1, 2, "b"), (1, 1, "a"), (1, 3, "b"), (2, 1, "z")).toDF("g", "seq", "v")
    val got = df.groupBy($"g")
      .agg(DdlGen.orderedGroupConcat($"seq", $"v").as("l"))
      .orderBy("g").select("l").as[String].collect()
    assert(got.toSeq == Seq("a, b", "z"))
  }

  test("indexDdl: PRIMARY / unique / plain / fulltext branches (tablemeta.go:205-248)") {
    val stats = Seq(
      Row("t1", "PRIMARY", 0, 1, "id", "BTREE"),
      Row("t1", "ix_ab", 1, 2, "b", "BTREE"),
      Row("t1", "ix_ab", 1, 1, "a", "BTREE"),
      Row("t1", "ux_c", 0, 1, "c", "BTREE"),
      Row("t1", "ft_d", 1, 1, "d", "FULLTEXT"))
    val ddl = DdlGen.indexDdl(stats, suffix = "s1").map(_._3)
    assert(ddl.contains("alter table t1 add primary key (id)"))
    assert(ddl.contains("create index ix_ab_s1 on t1 (a, b)"))
    assert(ddl.contains("create unique index ux_c_s1 on t1 (c)"))
    assert(ddl.exists(_.contains("to_tsvector('english', d)")))
  }

  test("fkDdl: composite FK with rules (tablemeta.go:257-298)") {
    val kcu = Seq(
      Row("fk1", "child", "a", 1, "parent", "x"),
      Row("fk1", "child", "b", 2, "parent", "y"))
    val rc = Seq(Row("fk1", "CASCADE", "NO ACTION"))
    val ddl = DdlGen.fkDdl(kcu, rc).head._3
    assert(ddl == "alter table child add constraint fk1 foreign key (a, b) " +
      "references parent (x, y) on delete no action on update cascade")
  }

  test("sequenceDdl emits drop/create/default triplet (tablemeta.go:156-201)") {
    val ai = Seq(Row("t1", "id", 42L))
    val (_, _, dropDdl, createDdl, defaultDdl) = DdlGen.sequenceDdl(ai).head
    assert(dropDdl == "drop sequence if exists seq_t1_id")
    assert(createDdl == "create sequence seq_t1_id start with 42")
    assert(defaultDdl
      == "alter table t1 alter column id set default nextval('seq_t1_id')")
  }

  test("viewDdl scrubs backticks, schema prefix, convert() (tablemeta.go:300-331)") {
    val v = Seq(Row("v1", "select `a`, convert(`b` using utf8mb4) from mydb.`t`"))
    assert(DdlGen.viewDdl(v, "mydb").head._2
      == "create or replace view v1 as select a, b from t")
  }

  test("viewDdl strips the schema prefix as a literal, as the reference's replace()") {
    def view(body: String, schema: String): String =
      DdlGen.viewDdl(Seq(Row("v1", body)), schema).head._2
    assert(view("select a from myXdb.t", "my.db") == "create or replace view v1 as select a from myXdb.t")
    assert(view("select a from my.db.t", "my.db") == "create or replace view v1 as select a from t")
    assert(view("select a from a+b.t", "a+b") == "create or replace view v1 as select a from t")
    assert(view("select a from (x.t", "(x") == "create or replace view v1 as select a from t")
  }

  test("triggerDdl rewrites # comments to -- (tablemeta.go:333-364)") {
    val t = Seq(Row("tr1", "#note\nbegin\n#x\nend"))
    assert(DdlGen.triggerDdl(t).head._2
      == "--note\nbegin\n--x\nend")
  }

  test("property: indexDdl column lists match orderedGroupConcat, in (table, index) order") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    import org.apache.spark.sql.functions.col
    // repeated and out-of-order key parts, and NULL column names (a MySQL
    // 8 functional key part has one)
    val part = Gen.zip(Gen.oneOf("t1", "t2"), Gen.oneOf("PRIMARY", "ix"), Gen.choose(1, 3),
      Gen.option(Gen.oneOf("a", "b", "c")).map(_.orNull))
    val prop = Prop.forAll(Gen.listOf(part)) { parts =>
      val rows = parts.map { case (t, ix, seq, c) =>
        (t, ix, if (ix == "ix") 1 else 0, seq, c, "BTREE") }
      val expected = rows.toDF(DdlGen.StatisticsCols: _*)
        .groupBy("table_name", "index_name")
        .agg(DdlGen.orderedGroupConcat(col("seq_in_index"), col("column_name")))
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .sortBy(r => (r._1, r._2)).toSeq
        .map { case (t, ix, cols) =>
          (t, ix, if (ix == "PRIMARY") s"alter table $t add primary key ($cols)"
                  else s"create index ix_s1 on $t ($cols)") }
      DdlGen.indexDdl(rows.map(Row.fromTuple), suffix = "s1") == expected
    }
    val res = check(Parameters.default.withMinSuccessfulTests(25).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  test("fkDdl is an inner join; numbers read as MySQL 8 returns them (LongType, DECIMAL(20,0))") {
    // INT UNSIGNED ordinal positions arrive as Long
    val kcu = Seq(
      Row("fk1", "child", "b", 2L, "parent", "y"),
      Row("fk1", "child", "a", 1L, "parent", "x"),
      Row("fk_no_rule", "child", "c", 1L, "parent", "z"))
    val rc = Seq(Row("fk1", "RESTRICT", "CASCADE"), Row("fk_no_key", "CASCADE", "CASCADE"))
    assert(DdlGen.fkDdl(kcu, rc) == Seq(("child", "fk1", "alter table child add constraint fk1 " +
      "foreign key (a, b) references parent (x, y) on delete cascade on update restrict")))
    // BIGINT UNSIGNED AUTO_INCREMENT arrives as DECIMAL(20,0)
    val ai = Seq(Row("t2", "id", new java.math.BigDecimal("18446744073709551615")),
      Row("t1", "id", new java.math.BigDecimal("7")))
    assert(DdlGen.sequenceDdl(ai).map(_._4) == Seq(
      "create sequence seq_t1_id start with 7",
      "create sequence seq_t2_id start with 18446744073709551615"))
  }
}
