package graft.types

import org.scalatest.funsuite.AnyFunSuite

class TypeMapperSpec extends AnyFunSuite {

  private def m(dt: String, cml: Option[Long] = None, p: Option[Int] = None,
                sc: Option[Int] = None, nullable: String = "YES",
                default: Option[String] = None) =
    ColumnMeta("c", dt, cml, p, sc, nullable, default, 1)

  test("int family maps to int (tablemeta.go:97-98)") {
    Seq("int", "mediumint", "tinyint").foreach { t =>
      assert(TypeMapper.toPgType(m(t)) == "int")
    }
  }

  test("varchar length + flag variants (tablemeta.go:99-107)") {
    assert(TypeMapper.toPgType(m("varchar", Some(100L))) == "varchar(100)")
    assert(TypeMapper.toPgType(m("varchar", Some(100L)), charInLength = true) == "varchar(100 char)")
    assert(TypeMapper.toPgType(m("varchar", Some(100L)), useNvarchar2 = true) == "nvarchar2(100)")
    assert(TypeMapper.toPgType(m("char", Some(10L))) == "char(10)")
    assert(TypeMapper.toPgType(m("char", Some(10L)), charInLength = true) == "char(10 char)")
  }

  test("text family, datetime, double, blob families (tablemeta.go:114-129)") {
    Seq("text", "tinytext", "mediumtext", "longtext").foreach(t =>
      assert(TypeMapper.toPgType(m(t)) == "text"))
    Seq("datetime", "timestamp").foreach(t =>
      assert(TypeMapper.toPgType(m(t)) == "timestamp"))
    Seq("double", "float").foreach(t =>
      assert(TypeMapper.toPgType(m(t)) == "double precision"))
    Seq("tinyblob", "blob", "mediumblob", "longblob").foreach(t =>
      assert(TypeMapper.toPgType(m(t)) == "bytea"))
  }

  test("decimal: scale present vs NULL (tablemeta.go:118-123)") {
    assert(TypeMapper.toPgType(m("decimal", p = Some(12), sc = Some(3))) == "decimal(12,3)")
    assert(TypeMapper.toPgType(m("decimal", p = Some(8), sc = None)) == "decimal(8)")
  }

  test("unknown types pass through verbatim (tablemeta.go:130-132)") {
    Seq("bigint", "date", "json", "enum", "set", "bit", "geometry", "year").foreach(t =>
      assert(TypeMapper.toPgType(m(t)) == t))
  }

  test("nullability and defaults (tablemeta.go:76-94)") {
    assert(TypeMapper.columnDdl(m("int", nullable = "NO")) == "\"c\" int not null")
    assert(TypeMapper.columnDdl(m("varchar", Some(5L), default = Some("x")))
      == "\"c\" varchar(5) default 'x' null")
    assert(TypeMapper.columnDdl(m("int", default = Some("0"))) == "\"c\" int default 0 null")
    // the ( 'user' ) special case (tablemeta.go:89-90)
    assert(TypeMapper.columnDdl(m("timestamp", default = Some("( 'user' )")))
      == "\"c\" timestamp default user null")
  }

  test("createTableDdl orders by ordinal position and lowercases") {
    val cols = Seq(
      ColumnMeta("B", "int", None, None, None, "NO", None, 2),
      ColumnMeta("A", "varchar", Some(3L), None, None, "YES", None, 1))
    assert(TypeMapper.createTableDdl("T1", cols)
      == """create table "t1" ("a" varchar(3) null, "b" int not null)""")
  }

  test("createTableDdl doubles a quote inside the table and column names") {
    val cols = Seq(ColumnMeta("X\"Y", "int", None, None, None, "NO", None, 1))
    assert(TypeMapper.createTableDdl("A\"B", cols) == """create table "a""b" ("x""y" int not null)""")
  }
}
