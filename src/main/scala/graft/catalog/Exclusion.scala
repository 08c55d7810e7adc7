package graft.catalog

/** Table-exclusion filtering (cmd/root.go:227-246; config example.yml:23-26):
  * each configured pattern excludes matching table names; `*` is the
  * wildcard (mapped to SQL LIKE `%`). Patterns compile once to anchored
  * regexes with LIKE semantics, matched on the driver.
  *
  * Matching is CASE-INSENSITIVE: the reference evaluates exclusion as
  * MySQL `table_name NOT LIKE '...'`, and MySQL's default `*_ci`
  * collations compare case-insensitively — `exclude: LOG*` skips `log1`
  * there, so it must here too.
  */
object Exclusion {

  /** `*` → `%`, matching the reference's wildcard rewrite (root.go:237-239). */
  def toLikePattern(p: String): String = p.replace("*", "%")

  /** One LIKE pattern → an anchored regex with SQL LIKE semantics
    * (`%` any sequence, `_` any single char, everything else literal) —
    * the driver-side compilation of exactly what `Column.like` evaluates. */
  def likeRegex(p: String): java.util.regex.Pattern = {
    val sb = new StringBuilder
    toLikePattern(p).foreach {
      case '%' => sb.append(".*")
      case '_' => sb.append('.')
      case c   => sb.append(java.util.regex.Pattern.quote(c.toString))
    }
    // UNICODE_CASE folds non-ASCII the way SQL lower() does (Ö→ö), as
    // ExclusionSpec checks against a Column.like predicate
    java.util.regex.Pattern.compile(sb.toString,
      java.util.regex.Pattern.DOTALL | java.util.regex.Pattern.CASE_INSENSITIVE |
        java.util.regex.Pattern.UNICODE_CASE)
  }

  /** Driver-side keep-predicate over table names (cmd/root.go:227-246).
    * The work list is catalog metadata — at most thousands of short
    * strings — so matching belongs on the driver: compiling the patterns
    * once and filtering in-memory costs microseconds, where spinning a
    * Spark job per name (or even one job for all names) costs scheduler
    * round-trips that serialize a 10k-table catalog into 10k jobs. */
  def compiledKeep(patterns: Seq[String]): String => Boolean = {
    val compiled = patterns.map(likeRegex)
    name => !compiled.exists(_.matcher(name).matches())
  }
}
