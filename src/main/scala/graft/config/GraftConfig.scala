package graft.config

/** Connection endpoint (example.yml:1-12). */
case class ConnConfig(host: String = "", port: Int = 0, database: String = "",
                      username: String = "", password: String = "") {
  /** The go-mysql-driver DSN (cmd/app.go:43: charset=utf8&maxAllowedPacket=0)
    * translated to Connector/J, with the three params that pin the same
    * VALUE semantics the go driver exhibits — see DELTAS.md for why each
    * differs under JDBC defaults:
    * zeroDateTimeBehavior=convertToNull (zero dates, delta #1),
    * tinyInt1isBit=false (tinyint(1) stays numeric, delta #3),
    * yearIsDateType=false (YEAR stays numeric, delta #3). */
  def mysqlJdbcUrl: String =
    s"jdbc:mysql://$host:$port/$database?characterEncoding=utf8" +
      "&zeroDateTimeBehavior=convertToNull&tinyInt1isBit=false&yearIsDateType=false"
  def pgJdbcUrl: String =
    s"jdbc:postgresql://$host:$port/$database?sslmode=disable"   // cmd/app.go:66
}

/** Typed mirror of the reference's YAML config (example.yml:1-26;
  * key semantics cmd/root.go:534-560, cmd/app.go:21-34). */
case class GraftConfig(
    src: ConnConfig = ConnConfig(),
    dest: ConnConfig = ConnConfig(),
    pageSize: Long = 100000,                  // example.yml:13
    maxParallel: Int = 20,                    // default when unset (root.go:107-109)
    charInLength: Boolean = false,            // example.yml:15
    useNvarchar2: Boolean = false,            // example.yml:16
    distributed: Boolean = false,             // "Distributed" (tablemeta.go:233-241)
    tables: Map[String, Seq[String]] = Map.empty, // custom-SQL mode (root.go:97-98)
    exclude: Seq[String] = Nil,               // wildcard exclusion (root.go:227-246)
    selFromYml: Boolean = false,              // -s flag: work list from `tables:` (root.go:529,97)
    // invalidTableData capture (root.go:450-470): the reference logs each
    // bad value inline during its row loop; the Spark equivalent is an
    // extra bounded sampling scan per table, so it is opt-in — enabling
    // it costs up to one additional source read per table with no NULs.
    logInvalidData: Boolean = false)

/** Hand-rolled parser for the flat YAML subset the reference uses: scalar
  * keys, one-level maps (src/dest), a list key (exclude), and a
  * map-of-lists (tables). Zero-dependency by necessity (offline build) and
  * sufficient for the reference's entire config surface.
  */
object YamlConfig {

  private def unquote(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && ((t.head == '\'' && t.last == '\'') || (t.head == '"' && t.last == '"')))
      t.substring(1, t.length - 1)
    else t
  }

  def parse(text: String): GraftConfig = {
    var cfg = GraftConfig()
    var section: String = ""      // current top-level map key ("src", "dest", "tables", "exclude")
    var tablesKey: String = ""    // current table under `tables:`
    var conn = Map[String, Map[String, String]]().withDefaultValue(Map.empty)
    var tables = Map[String, Vector[String]]()
    var exclude = Vector[String]()

    text.linesIterator.foreach { raw =>
      val noComment = raw.takeWhile(_ != '#')
      if (noComment.trim.nonEmpty) {
        val indent = noComment.takeWhile(_ == ' ').length
        val line = noComment.trim
        if (indent == 0) {
          line.split(":", 2) match {
            case Array(k, v) if v.trim.nonEmpty =>
              section = ""
              val key = k.trim
              val value = unquote(v)
              key match {
                case "pageSize" => cfg = cfg.copy(pageSize = value.toLong)
                case "maxParallel" => cfg = cfg.copy(maxParallel = value.toInt)
                case "charInLength" => cfg = cfg.copy(charInLength = value.toBoolean)
                case "useNvarchar2" => cfg = cfg.copy(useNvarchar2 = value.toBoolean)
                case "Distributed" | "distributed" => cfg = cfg.copy(distributed = value.toBoolean)
                case "logInvalidData" => cfg = cfg.copy(logInvalidData = value.toBoolean)
                case _ => ()
              }
            case Array(k, _) => section = k.trim
            case _ => ()
          }
        } else if (line.startsWith("- ")) {
          val item = unquote(line.drop(2))
          if (section == "exclude") exclude :+= item
          else if (section == "tables" && tablesKey.nonEmpty)
            tables = tables.updated(tablesKey, tables.getOrElse(tablesKey, Vector.empty) :+ item)
        } else {
          line.split(":", 2) match {
            case Array(k, v) if (section == "src" || section == "dest") && v.trim.nonEmpty =>
              conn = conn.updated(section, conn(section).updated(k.trim, unquote(v)))
            case Array(k, v) if section == "tables" && v.trim.isEmpty =>
              tablesKey = k.trim
            case _ => ()
          }
        }
      }
    }

    def toConn(m: Map[String, String]) = ConnConfig(
      host = m.getOrElse("host", ""),
      port = m.get("port").map(_.toInt).getOrElse(0),
      database = m.getOrElse("database", ""),
      username = m.getOrElse("username", ""),
      password = m.getOrElse("password", ""))

    cfg.copy(src = toConn(conn("src")), dest = toConn(conn("dest")),
      tables = tables.view.mapValues(_.toSeq).toMap, exclude = exclude)
  }
}
