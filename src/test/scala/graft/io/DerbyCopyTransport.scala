package graft.io

import java.nio.charset.StandardCharsets
import java.sql.{Connection, DriverManager, Types}

/** A real transactional COPY transport for embedded Derby, which has no
  * COPY protocol: buffers the COPY text, and at commit replays it as one
  * INSERT per row into the statement's table and column list (`\N` is
  * NULL; PgCopyText's backslash escapes are decoded), runs the side
  * statements on the same connection, then commits — one transaction per
  * partition, like the pgjdbc transport. */
class DerbyCopyTransport(url: String) extends CopyTransport {
  private var conn: Connection = _
  private var insertSql: String = _
  private val buf = new StringBuilder

  override def begin(copySql: String): Unit = {
    conn = DriverManager.getConnection(url)
    conn.setAutoCommit(false)
    insertSql = DerbyCopyTransport.insertFor(copySql)
  }

  override def write(bytes: Array[Byte], off: Int, len: Int): Unit =
    buf.append(new String(bytes, off, len, StandardCharsets.UTF_8))

  /** Runs after the rows and side statements, before COMMIT. */
  protected def beforeCommit(): Unit = ()

  override def commit(sideSqls: Seq[String]): Unit = {
    val ps = conn.prepareStatement(insertSql)
    try {
      val types = ps.getParameterMetaData
      buf.toString.split("\n").filter(_.nonEmpty).foreach { line =>
        DerbyCopyTransport.decodeLine(line).zipWithIndex.foreach { case (field, i) =>
          val t = types.getParameterType(i + 1)
          field match {
            case None => ps.setNull(i + 1, t)
            case Some(v) if t == Types.BOOLEAN => ps.setBoolean(i + 1, v == "t")
            case Some(v) => ps.setString(i + 1, v)
          }
        }
        ps.executeUpdate()
      }
    } finally ps.close()
    val st = conn.createStatement()
    try sideSqls.foreach(st.execute) finally st.close()
    beforeCommit()
    conn.commit()
  }

  override def rollback(): Unit = if (conn != null) conn.rollback()
  override def close(): Unit = if (conn != null) conn.close()
}

object DerbyCopyTransport {
  private val Copy = """(?s)COPY\s+("(?:[^"]|"")+")\s*\((.*)\)\s+FROM\s+STDIN""".r
  private val Ident = "\"(?:[^\"]|\"\")+\"".r

  /** `COPY "t" ("a", "b") FROM STDIN` → `INSERT INTO "t" ("a", "b") VALUES (?, ?)`. */
  def insertFor(copySql: String): String = copySql.trim match {
    case Copy(table, cols) =>
      val names = Ident.findAllIn(cols).toSeq
      s"INSERT INTO $table (${names.mkString(", ")}) VALUES (${names.map(_ => "?").mkString(", ")})"
    case other => throw new IllegalArgumentException(s"not a COPY statement: $other")
  }

  /** One COPY text line (no newline) → its fields, each as `decode`. */
  def decodeLine(line: String): Seq[Option[String]] = line.split("\t", -1).toSeq.map(decode)

  /** One COPY text field: `\N` → None, else the value with `\\`, `\t`,
    * `\n` and `\r` unescaped. */
  def decode(field: String): Option[String] =
    if (field == "\\N") None
    else {
      val sb = new StringBuilder
      var i = 0
      while (i < field.length) {
        val c = field.charAt(i)
        if (c == '\\' && i + 1 < field.length) {
          sb.append(field.charAt(i + 1) match {
            case 't' => '\t'
            case 'n' => '\n'
            case 'r' => '\r'
            case other => other
          })
          i += 2
        } else { sb.append(c); i += 1 }
      }
      Some(sb.toString)
    }
}

final class DerbyCopyTransportFactory(url: String) extends CopyTransportFactory {
  override def open(): CopyTransport = new DerbyCopyTransport(url)
}
