package migbench

import java.math.{BigDecimal => JBigDecimal}
import java.sql.{DriverManager, PreparedStatement, Timestamp, Types}
import java.time.{LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

/** A source column: its MySQL catalog type (what the program reads from
  * information_schema) and the Derby type that stores it. */
final case class Col(name: String, mysql: String, derby: String, len: Option[Long] = None,
                     prec: Option[Int] = None, scale: Option[Int] = None,
                     nullable: Boolean = true, autoInc: Boolean = false) {
  /** How the output gate sums the column: int, dec, dbl, str or ts. */
  def kind: String = mysql match {
    case "bigint" | "int" => "int"
    case "decimal" => "dec"
    case "double" => "dbl"
    case "datetime" => "ts"
    case _ => "str"
  }
}

final case class Fk(name: String, cols: Seq[String], refTable: String, refCols: Seq[String],
                    onDelete: String, onUpdate: String)

final case class Index(name: String, cols: Seq[String], unique: Boolean, kind: String = "BTREE")

final case class Table(name: String, cols: IndexedSeq[Col], pk: Seq[String],
                       rows: IndexedSeq[Array[Any]], indexes: Seq[Index] = Nil,
                       fks: Seq[Fk] = Nil) {
  def autoIncrement: Option[Long] =
    cols.find(_.autoInc).map(c => rows.map(_(cols.indexOf(c)).asInstanceOf[Long]).max + 1)
}

/** One generated source: tables plus the catalog objects around them. */
final case class Source(tables: Seq[Table], views: Seq[(String, String)],
                        triggers: Seq[(String, String)])

/** Seeded source generator. Tables are shaped like the repository's sf0.1
  * test tables (columns, types, row counts, value ranges) but generated
  * here, so the benchmark needs no input files. The seed decides every
  * value, the PK gaps, NULLs, NUL characters and COPY-escape characters
  * (tab, newline, carriage return, backslash), and the many_tables row
  * counts and foreign keys. The same seed gives the same source. */
object SourceGen {
  val Schema = "bench"
  /** bulk_copy holds an eighth of the sf0.1 rows (about 110k): the full
    * 875k take ~9 s per migration and compare and ~18 s to load into
    * Derby on a 4-core box, too long for several samples per run. */
  val BulkScale = 8
  /** many_tables' table count, one per key shape. Each table costs the
    * program ~23 Spark jobs per migration and compare (~0.5 s on a 4-core
    * box), so 4 tables keep one migration and compare near 5 s, several
    * per run; 200 would take ~90 s. */
  val ManyTables = 4

  /** Perturbs one value: NULL, a NUL character, or an escape character. */
  private final class Noise(rnd: SplittableRandom, nullP: Double, nulP: Double, escP: Double) {
    private val escapes = Array("\t", "\n", "\r", "\\")
    def apply(c: Col, v: Any): Any =
      if (c.nullable && rnd.nextDouble() < nullP) null
      else v match {
        case s: String =>
          var out = s
          if (rnd.nextDouble() < escP) out = insert(out, escapes(rnd.nextInt(escapes.length)))
          if (rnd.nextDouble() < nulP) out = insert(out, "\u0000")
          out
        case other => other
      }
    private def insert(s: String, x: String): String = {
      val at = rnd.nextInt(s.length + 1)
      s.substring(0, at) + x + s.substring(at)
    }
  }

  /** Ids from 1 with small seeded gaps, and a gap of `bigGap` ids after
    * the middle row. Its size and place do not depend on the seed, so the
    * page split has the same shape on every seed: for bulk_copy's
    * six-page lineitem a gap of n ids leaves two pages empty. */
  private def ids(rnd: SplittableRandom, n: Int, bigGap: Long): Array[Long] = {
    val out = new Array[Long](n)
    var id = 0L
    var i = 0
    while (i < n) {
      id += 1
      if (rnd.nextDouble() < 0.01) id += 1 + rnd.nextInt(5)
      if (i == n / 2) id += bigGap
      out(i) = id
      i += 1
    }
    out
  }

  private val Id = Col("ID", "bigint", "BIGINT", nullable = false, autoInc = true)
  private def bigint(n: String) = Col(n, "bigint", "BIGINT")
  private def int(n: String) = Col(n, "int", "INT")
  private def decimal(n: String, p: Int, s: Int) =
    Col(n, "decimal", s"DECIMAL($p,$s)", prec = Some(p), scale = Some(s))
  private def double(n: String) = Col(n, "double", "DOUBLE")
  private def varchar(n: String, len: Int) = Col(n, "varchar", s"VARCHAR($len)", len = Some(len))
  private def text(n: String) = Col(n, "text", "VARCHAR(4000)")
  private def datetime(n: String) = Col(n, "datetime", "TIMESTAMP")

  private def pick[A](rnd: SplittableRandom, xs: IndexedSeq[A]): A = xs(rnd.nextInt(xs.size))
  private def cents(rnd: SplittableRandom, lo: Long, hi: Long): JBigDecimal =
    JBigDecimal.valueOf(lo * 100 + rnd.nextLong((hi - lo) * 100), 2)
  /** A timestamp in 1992-1998, to the microsecond. */
  private def instant(rnd: SplittableRandom): Timestamp = {
    val micros = 694224000000000L + rnd.nextLong(220838400000000L)
    Timestamp.valueOf(LocalDateTime.ofEpochSecond(micros / 1000000, (micros % 1000000).toInt * 1000,
      ZoneOffset.UTC))
  }
  private val Words = IndexedSeq("almond", "antique", "aquamarine", "azure", "beige", "bisque",
    "black", "blanched", "blue", "blush", "brown", "burlywood", "burnished", "chartreuse",
    "chiffon", "chocolate", "coral", "cornflower", "cornsilk", "cream", "cyan", "dark", "deep",
    "dim", "dodger", "drab", "firebrick", "floral", "forest", "frosted", "gainsboro", "ghost",
    "goldenrod", "green", "grey", "honeydew", "hot", "indian", "ivory", "khaki", "lace",
    "lavender", "lawn", "lemon", "light", "lime", "linen", "magenta", "maroon", "medium",
    "metallic", "midnight", "mint", "misty", "moccasin", "navajo", "navy", "olive", "orange",
    "orchid", "pale", "papaya", "peach", "peru", "pink", "plum", "powder", "puff", "purple",
    "red", "rose", "rosy", "royal", "saddle", "salmon", "sandy", "seashell", "sienna", "sky",
    "slate", "smoke", "snow", "spring", "steel", "tan", "thistle", "tomato", "turquoise",
    "violet", "wheat", "white", "yellow")
  private def words(rnd: SplittableRandom, n: Int): String =
    Seq.fill(n)(pick(rnd, Words)).mkString(" ")

  /** A table shaped like the sf0.1 table of the same name: its columns,
    * its row count there, and a seeded row generator (`i` is the row's
    * position, for key-like columns). */
  private case class Base(rows: Int, cols: IndexedSeq[Col], gen: (SplittableRandom, Int) => Array[Any])

  private val bases: Map[String, Base] = Map(
    "lineitem" -> Base(600000, IndexedSeq(bigint("L_ORDERKEY"), bigint("L_PARTKEY"),
      bigint("L_SUPPKEY"), int("L_LINENUMBER"), decimal("L_QUANTITY", 12, 2),
      decimal("L_EXTENDEDPRICE", 12, 2), double("L_DISCOUNT"), double("L_TAX"),
      varchar("L_RETURNFLAG", 8), varchar("L_LINESTATUS", 8), datetime("L_SHIPDATE")),
      (r, i) => Array(1L + i / 4, 1L + r.nextInt(20000), 1L + r.nextInt(1000), 1 + i % 4,
        cents(r, 1, 50), cents(r, 900, 105000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        pick(r, IndexedSeq("A", "N", "R")), pick(r, IndexedSeq("O", "F")), instant(r))),
    "orders" -> Base(150000, IndexedSeq(bigint("O_ORDERKEY"), bigint("O_CUSTKEY"),
      varchar("O_ORDERSTATUS", 8), decimal("O_TOTALPRICE", 14, 2), datetime("O_ORDERDATE"),
      varchar("O_ORDERPRIORITY", 40)),
      (r, i) => Array(1L + i, 1L + r.nextInt(15000), pick(r, IndexedSeq("F", "O", "P")),
        cents(r, 800, 500000), instant(r),
        pick(r, IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))),
    "events" -> Base(100000, IndexedSeq(bigint("EVENT_ID"), datetime("EV_TS"),
      bigint("USER_ID"), varchar("EVENT_TYPE", 40), double("EV_VALUE"), text("PROPS")),
      (r, i) => Array(1L + i, instant(r), 1L + r.nextInt(5000),
        pick(r, IndexedSeq("view", "click", "cart", "purchase", "signup")), r.nextDouble() * 500,
        s"""{"page":"/${pick(r, Words)}/${r.nextInt(1000)}","ref":"${words(r, 1 + r.nextInt(4))}"}""")),
    "part" -> Base(20000, IndexedSeq(bigint("P_PARTKEY"), varchar("P_NAME", 120),
      varchar("P_BRAND", 24), varchar("P_TYPE", 48), int("P_SIZE"),
      decimal("P_RETAILPRICE", 12, 2)),
      (r, i) => Array(1L + i, words(r, 5), s"Brand#${1 + r.nextInt(5)}${1 + r.nextInt(5)}",
        Seq(pick(r, IndexedSeq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")),
          pick(r, IndexedSeq("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")),
          pick(r, IndexedSeq("TIN", "NICKEL", "BRASS", "STEEL", "COPPER"))).mkString(" "),
        1 + r.nextInt(50), cents(r, 900, 2100))),
    "documents" -> Base(5000, IndexedSeq(bigint("DOC_ID"), text("DOC_TEXT"),
      varchar("DOC_LANG", 16), varchar("DOC_SOURCE", 40), bigint("N_CHARS")),
      (r, i) => {
        val t = words(r, 8 + r.nextInt(80))
        Array(1L + i, t, pick(r, IndexedSeq("en", "de", "fr", "es")),
          pick(r, IndexedSeq("web", "news", "forum", "wiki")), t.length.toLong)
      }),
    "customer" -> Base(15000, IndexedSeq(bigint("C_CUSTKEY"), varchar("C_NAME", 40),
      int("C_NATIONKEY"), decimal("C_ACCTBAL", 12, 2), varchar("C_MKTSEGMENT", 16)),
      (r, i) => Array(1L + i, f"Customer#${i + 1}%09d", r.nextInt(25), cents(r, -999, 9999),
        pick(r, IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")))),
    "supplier" -> Base(1000, IndexedSeq(bigint("S_SUPPKEY"), varchar("S_NAME", 40),
      int("S_NATIONKEY"), decimal("S_ACCTBAL", 12, 2)),
      (r, i) => Array(1L + i, f"Supplier#${i + 1}%09d", r.nextInt(25), cents(r, -999, 9999))))

  /** bulk_copy: five tables at `BulkScale` of their sf0.1 row counts,
    * every one with a single numeric PK. */
  def bulk(seed: Long): Source = {
    val rnd = new SplittableRandom(seed)
    val noise = new Noise(rnd, nullP = 0.02, nulP = 0.005, escP = 0.01)
    val tables = Seq("lineitem", "orders", "events", "part", "documents").map { t =>
      val b = bases(t)
      val n = b.rows / BulkScale
      val keys = ids(rnd, n, bigGap = n)
      val cols = Id +: b.cols
      val rows = (0 until n).map { i =>
        val base = b.gen(rnd, i)
        Array[Any](keys(i)) ++ base.indices.map(j => noise(b.cols(j), base(j)))
      }
      val name = t.toUpperCase
      val second = Index(s"IX_${name}_1", Seq(b.cols.head.name), unique = false)
      Table(name, cols, Seq("ID"), rows, Seq(Index("PRIMARY", Seq("ID"), unique = true), second))
    }
    Source(tables, Nil, Nil)
  }

  /** many_tables: small tables drawn from seven base tables. A quarter
    * of the tables each have a composite PK or no PK; the rest a numeric
    * PK. Catalog objects: secondary and full-text indexes, foreign keys,
    * auto-increment sequences, views and triggers. */
  def many(seed: Long, nTables: Int = ManyTables): Source = {
    val rnd = new SplittableRandom(seed)
    val noise = new Noise(rnd, nullP = 0.02, nulP = 0.005, escP = 0.01)
    val baseNames = IndexedSeq("customer", "part", "orders", "supplier", "events", "lineitem",
      "documents")
    // row counts do not depend on the seed: 10 rows up to 2000 by table
    // number. Composite-PK tables stop at 400 rows: Derby re-runs each
    // page's ORDER BY … OFFSET subquery for every outer row, so that path
    // costs ~rows³/pageSize row visits here (MySQL materializes it)
    val numericPk = scala.collection.mutable.ArrayBuffer[Table]()
    val tables = (0 until nTables).map { i =>
      val shape = i % 4
      val name = f"T$i%03d"
      val b = bases(baseNames(i % baseNames.size))
      val n = math.min(10 + i * 1990 / (nTables - 1), if (shape == 2) 400 else 2000)
      val from = rnd.nextInt(b.rows)
      val parent = if (shape == 3) numericPk.lastOption else None
      val parentIds = parent.map(p => p.rows.map(_(0).asInstanceOf[Long]))
      val fkCol = parent.map(_ => Col("PARENT_ID", "bigint", "BIGINT"))
      val keys = shape match {
        case 0 | 1 => ids(rnd, n, bigGap = 0)
        case _ => Array.tabulate(n)(_.toLong)
      }
      val (keyCols, pk) = shape match {
        case 0 | 1 => (IndexedSeq(Id), Seq("ID"))
        case 2 => (IndexedSeq(Col("K1", "int", "INT", nullable = false),
          Col("K2", "int", "INT", nullable = false)), Seq("K1", "K2"))
        case _ => (IndexedSeq(Col("SEQ_NO", "bigint", "BIGINT", nullable = false)), Nil)
      }
      val cols = keyCols ++ b.cols ++ fkCol
      val rows = (0 until n).map { r =>
        val base = b.gen(rnd, from + r)
        val key: Array[Any] = shape match {
          case 2 => Array(keys(r).toInt / 40, keys(r).toInt % 40)
          case _ => Array(keys(r))
        }
        val fk: Array[Any] = parentIds.map { ps =>
          if (rnd.nextDouble() < 0.1) null else ps(rnd.nextInt(ps.size))
        }.toArray
        key ++ base.indices.map(j => noise(b.cols(j), base(j))) ++ fk
      }
      val indexes =
        (if (pk.nonEmpty) Seq(Index("PRIMARY", pk, unique = true)) else Nil) ++
          (if (i % 3 == 0) Seq(Index(s"IX_${name}_1", Seq(b.cols.head.name), unique = false))
           else Nil) ++
          b.cols.find(c => c.mysql == "varchar" && i % 10 == 1)
            .map(c => Index(s"FT_${name}", Seq(c.name), unique = false, kind = "FULLTEXT"))
      val fks = parent.map(p => Fk(s"FK_${name}_${p.name}", Seq("PARENT_ID"), p.name, Seq("ID"),
        if (i % 2 == 0) "CASCADE" else "NO ACTION", "RESTRICT")).toSeq
      val t = Table(name, cols, pk, rows, indexes, fks)
      if (shape < 2) numericPk += t
      t
    }
    val views = numericPk.indices.filter(_ % 3 == 0).map { k =>
      val t = numericPk(k)
      val c = t.cols(1).name
      val expr = if (t.cols(1).mysql == "varchar")
        s"convert(`$Schema`.`${t.name}`.`$c` using utf8mb4)" else s"`$Schema`.`${t.name}`.`$c`"
      f"V$k%03d" -> (s"select `$Schema`.`${t.name}`.`ID` AS `id`,$expr AS `${c.toLowerCase}` " +
        s"from `$Schema`.`${t.name}` where (`$Schema`.`${t.name}`.`ID` > ${1 + rnd.nextInt(50)})")
    }
    val triggers = numericPk.indices.filter(_ % 4 == 1).map { k =>
      val t = numericPk(k).name
      s"TRG_$t" -> (s"# skip updates that change nothing\ncreate trigger TRG_$t before update " +
        s"on $t for each row execute function suppress_redundant_updates_trigger()")
    }
    Source(tables, views, triggers)
  }

  /** Per-table fingerprint of what the target must hold: row count, and
    * per column the NULL count plus a sum that depends on the kind. NUL
    * characters are not counted in string lengths: the migration strips
    * them. Sums are decimal strings so no precision is lost in JSON. */
  def fingerprint(t: Table): Map[String, Any] = {
    val cols = t.cols.indices.map { j =>
      val c = t.cols(j)
      var nulls = 0L
      var sum = java.math.BigInteger.ZERO
      var decSum = JBigDecimal.ZERO
      var special = 0L
      t.rows.foreach { r =>
        r(j) match {
          case null => nulls += 1
          case v: java.lang.Long => sum = sum.add(java.math.BigInteger.valueOf(v))
          case v: java.lang.Integer => sum = sum.add(java.math.BigInteger.valueOf(v.longValue))
          case v: JBigDecimal => decSum = decSum.add(v)
          case v: java.lang.Double =>
            sum = sum.add(java.math.BigInteger.valueOf(math.floor(v * 1000).toLong))
          case v: Timestamp =>
            val i = v.toLocalDateTime.toInstant(ZoneOffset.UTC)
            sum = sum.add(java.math.BigInteger.valueOf(i.getEpochSecond * 1000000L + i.getNano / 1000))
          case v: String =>
            val s = v.replace("\u0000", "")
            sum = sum.add(java.math.BigInteger.valueOf(s.codePointCount(0, s.length)))
            special += s.count(ch => ch == '\t' || ch == '\n' || ch == '\r' || ch == '\\')
        }
      }
      c.name.toLowerCase -> Map("kind" -> c.kind, "nulls" -> nulls,
        "sum" -> (if (c.kind == "dec") decSum.toPlainString else sum.toString),
        "special" -> special)
    }
    Map("rows" -> t.rows.size, "columns" -> cols.toMap)
  }

  /** Writes the source into Derby: the data tables and an
    * information_schema with MySQL's shape, as the program reads it. */
  def load(url: String, src: Source): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      c.setAutoCommit(false)
      val st = c.createStatement()
      def exec(sql: String): Unit = st.execute(sql)
      exec("CREATE SCHEMA INFORMATION_SCHEMA")
      exec("CREATE TABLE INFORMATION_SCHEMA.TABLES (TABLE_SCHEMA VARCHAR(64), TABLE_NAME " +
        "VARCHAR(64), TABLE_TYPE VARCHAR(32), AUTO_INCREMENT BIGINT)")
      exec("CREATE TABLE INFORMATION_SCHEMA.COLUMNS (TABLE_SCHEMA VARCHAR(64), TABLE_NAME " +
        "VARCHAR(64), COLUMN_NAME VARCHAR(64), DATA_TYPE VARCHAR(32), CHARACTER_MAXIMUM_LENGTH " +
        "BIGINT, NUMERIC_PRECISION INT, NUMERIC_SCALE INT, IS_NULLABLE VARCHAR(3), " +
        "COLUMN_DEFAULT VARCHAR(64), ORDINAL_POSITION INT, EXTRA VARCHAR(32))")
      exec("CREATE TABLE INFORMATION_SCHEMA.KEY_COLUMN_USAGE (CONSTRAINT_NAME VARCHAR(64), " +
        "TABLE_SCHEMA VARCHAR(64), TABLE_NAME VARCHAR(64), COLUMN_NAME VARCHAR(64), " +
        "ORDINAL_POSITION INT, REFERENCED_TABLE_NAME VARCHAR(64), REFERENCED_COLUMN_NAME " +
        "VARCHAR(64))")
      exec("CREATE TABLE INFORMATION_SCHEMA.STATISTICS (TABLE_SCHEMA VARCHAR(64), TABLE_NAME " +
        "VARCHAR(64), INDEX_NAME VARCHAR(64), NON_UNIQUE INT, SEQ_IN_INDEX INT, COLUMN_NAME " +
        "VARCHAR(64), INDEX_TYPE VARCHAR(16))")
      exec("CREATE TABLE INFORMATION_SCHEMA.REFERENTIAL_CONSTRAINTS (CONSTRAINT_SCHEMA " +
        "VARCHAR(64), CONSTRAINT_NAME VARCHAR(64), UPDATE_RULE VARCHAR(16), DELETE_RULE " +
        "VARCHAR(16))")
      exec("CREATE TABLE INFORMATION_SCHEMA.VIEWS (TABLE_SCHEMA VARCHAR(64), TABLE_NAME " +
        "VARCHAR(64), VIEW_DEFINITION VARCHAR(2000))")
      exec("CREATE TABLE INFORMATION_SCHEMA.TRIGGERS (TRIGGER_SCHEMA VARCHAR(64), TRIGGER_NAME " +
        "VARCHAR(64), ACTION_STATEMENT VARCHAR(2000))")

      def insert(table: String, n: Int)(fill: PreparedStatement => Unit): Unit = {
        val ps = c.prepareStatement(s"INSERT INTO $table VALUES (${Seq.fill(n)("?").mkString(",")})")
        fill(ps); ps.executeBatch(); ps.close()
      }
      def set(ps: PreparedStatement, vs: Any*): Unit = {
        vs.zipWithIndex.foreach {
          case (null, i) => ps.setNull(i + 1, Types.VARCHAR)
          case (Some(v), i) => ps.setObject(i + 1, v)
          case (None, i) => ps.setNull(i + 1, Types.INTEGER)
          case (v, i) => ps.setObject(i + 1, v)
        }
        ps.addBatch()
      }

      src.tables.foreach { t =>
        val colsSql = t.cols.map(col => s"${col.name} ${col.derby}" +
          (if (col.nullable) "" else " NOT NULL")).mkString(", ")
        exec(s"CREATE TABLE ${t.name} ($colsSql)")
        insert("INFORMATION_SCHEMA.TABLES", 4)(ps =>
          set(ps, Schema, t.name, "BASE TABLE", t.autoIncrement))
        insert("INFORMATION_SCHEMA.COLUMNS", 11)(ps => t.cols.zipWithIndex.foreach { case (col, j) =>
          set(ps, Schema, t.name, col.name, col.mysql, col.len, col.prec, col.scale,
            if (col.nullable) "YES" else "NO", None, j + 1, if (col.autoInc) "auto_increment" else "")
        })
        insert("INFORMATION_SCHEMA.KEY_COLUMN_USAGE", 7)(ps => {
          t.pk.zipWithIndex.foreach { case (k0, j) =>
            set(ps, "PRIMARY", Schema, t.name, k0, j + 1, None, None)
          }
          t.fks.foreach(fk => fk.cols.zip(fk.refCols).zipWithIndex.foreach { case ((a, b), j) =>
            set(ps, fk.name, Schema, t.name, a, j + 1, fk.refTable, b)
          })
        })
        insert("INFORMATION_SCHEMA.STATISTICS", 7)(ps => t.indexes.foreach(ix =>
          ix.cols.zipWithIndex.foreach { case (col, j) =>
            set(ps, Schema, t.name, ix.name, if (ix.unique) 0 else 1, j + 1, col, ix.kind)
          }))
        insert("INFORMATION_SCHEMA.REFERENTIAL_CONSTRAINTS", 4)(ps => t.fks.foreach(fk =>
          set(ps, Schema, fk.name, fk.onUpdate, fk.onDelete)))
      }
      insert("INFORMATION_SCHEMA.VIEWS", 3)(ps => src.views.foreach { case (n, d) =>
        set(ps, Schema, n, d) })
      insert("INFORMATION_SCHEMA.TRIGGERS", 3)(ps => src.triggers.foreach { case (n, d) =>
        set(ps, Schema, n, d) })
      c.commit()
    } finally c.close()

    // rows: up to 4 tables at once, one connection each; the primary key
    // is added after the rows, one index build instead of many inserts
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      src.tables.sortBy(-_.rows.size).map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = insertRows(url, t)
        })
      }.foreach(_.get())
    } finally pool.shutdown()
  }

  private def insertRows(url: String, t: Table): Unit = {
    val types = t.cols.map(col => col.kind match {
      case "int" => if (col.mysql == "int") Types.INTEGER else Types.BIGINT
      case "dec" => Types.DECIMAL
      case "dbl" => Types.DOUBLE
      case "ts" => Types.TIMESTAMP
      case _ => Types.VARCHAR
    })
    val c = DriverManager.getConnection(url)
    try {
      c.setAutoCommit(false)
      val ps = c.prepareStatement(
        s"INSERT INTO ${t.name} VALUES (${Seq.fill(t.cols.size)("?").mkString(",")})")
      var k = 0
      t.rows.foreach { r =>
        var j = 0
        while (j < r.length) {
          if (r(j) == null) ps.setNull(j + 1, types(j)) else ps.setObject(j + 1, r(j))
          j += 1
        }
        ps.addBatch()
        k += 1
        if (k % 5000 == 0) ps.executeBatch()
      }
      ps.executeBatch(); ps.close()
      if (t.pk.nonEmpty)
        c.createStatement().execute(s"ALTER TABLE ${t.name} ADD PRIMARY KEY (${t.pk.mkString(", ")})")
      c.commit()
    } finally c.close()
  }
}

/** Prints the source fingerprints of `<workload> <seed>` as JSON, without
  * Derby or Spark: the benchmark's own test compares seeds with it. */
object Fingerprint {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed) = args
    val src = if (workload == "bulk_copy") SourceGen.bulk(seed.toLong) else SourceGen.many(seed.toLong)
    println(Json(src.tables.map(t => t.name -> SourceGen.fingerprint(t)).toMap))
  }
}
