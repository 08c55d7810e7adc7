package graft

import org.scalatest.funsuite.AnyFunSuite

/** Integrity gate for the SparkEntry registry itself — the family
  * modules in `graft.operators` feed it, and the oracle gate silently
  * weakens if a name collides (later Map entry wins), drifts from the
  * published CORRECTNESS artifact (a rename would erase a query's
  * verification history), or ships without a SQL oracle (the oracle
  * gate then records only a rows>0 check).
  */
class RegistrySpec extends AnyFunSuite {

  /** Rows-only entries (no DuckDB-expressible SQL form) must be listed
    * here WITH the reason — every other query must carry an oracle.
    * Currently empty: every one of the battery's queries, including
    * the mapPartitions multimodal kernels (q69/q98), ships at least a
    * SQL-expressible gate projection.
    */
  private val rowsOnlyAllowed: Map[String, String] = Map.empty

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("registry names and oracle SQL are byte-identical to the pinned digests") {
    // moving a query between modules must not change what the gate
    // checks; an intended change to a name or an oracle updates these
    // digests in the same commit
    val names = SparkEntry.queries.keySet.toSeq.sorted.mkString("\n")
    val oracle = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (n, sql) => s"$n\t$sql" }.mkString("\n")
    assert(sha256(names) ==
      "0ecd215a8363aa51c974f39eaae8e5e09fe52ba496080250abb031509769bc49")
    assert(sha256(oracle) ==
      "4c2bfaadaf5ed2767b73c4ef5f40cbc7a5fd91ae319dd6f4b4bd06483e84d297")
  }

  test("registry names are unique (no Map-collapse in the gate)") {
    val (total, distinct) = SparkEntry.registrySize
    assert(total == distinct,
      s"registry has $total entries but only $distinct distinct names")
  }

  test("every query has a SQL oracle unless allow-listed with a reason") {
    val noSql = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noSql == rowsOnlyAllowed.keySet,
      s"rows-only entries drifted: unexpected=${(noSql -- rowsOnlyAllowed.keySet).toSeq.sorted} " +
        s"stale-allowlist=${(rowsOnlyAllowed.keySet -- noSql).toSeq.sorted}")
    assert(rowsOnlyAllowed.values.forall(_.trim.nonEmpty))
  }

  test("names follow the qNN_slug convention and numbers are unique") {
    val pat = "^q[0-9]{2,3}_[a-z0-9_]+$".r
    val names = SparkEntry.queries.keySet.toSeq.sorted
    val bad = names.filterNot(n => pat.matches(n))
    assert(bad.isEmpty, s"non-conforming names: $bad")
    val nums = names.map(_.drop(1).takeWhile(_.isDigit).toInt)
    val dup = nums.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    assert(dup.isEmpty, s"duplicate query numbers: ${dup.toSeq.sorted}")
  }

  private lazy val operatorsMd = new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get("/root/repo/docs/OPERATORS.md")), "UTF-8")

  private lazy val lastVerified: Set[String] = {
    val artifacts = new java.io.File("/root/repo").listFiles()
      .filter(f => f.getName.matches("CORRECTNESS_r\\d+\\.json"))
    if (artifacts.isEmpty) Set.empty
    else {
      val txt = new String(java.nio.file.Files.readAllBytes(
        artifacts.maxBy(_.getName).toPath), "UTF-8")
      "\"(q[0-9]+_[a-z0-9_]+)\"\\s*:\\s*\\{".r
        .findAllMatchIn(txt).map(_.group(1)).toSet
    }
  }

  test("docs/OPERATORS.md header count equals the registry size") {
    // third occurrence of a stale header count in three rounds (342,
    // then 405) — now a deliberately wrong number fails the suite
    val m = "All ([0-9]+) oracle-gated queries".r.findFirstMatchIn(operatorsMd)
    assert(m.isDefined, "OPERATORS.md header no longer carries the count")
    assert(m.get.group(1).toInt == SparkEntry.queries.size,
      s"OPERATORS.md header says 'All ${m.get.group(1)}' but the registry " +
        s"has ${SparkEntry.queries.size} queries — update the header")
  }

  test("README.md operator count equals the registry size") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/repo/README.md")), "UTF-8")
    val m = "([0-9]+) operator queries".r.findFirstMatchIn(readme)
    assert(m.isDefined, "README.md no longer carries the operator count")
    assert(m.get.group(1).toInt == SparkEntry.queries.size,
      s"README.md says '${m.get.group(1)} operator queries' but the registry " +
        s"has ${SparkEntry.queries.size} — update the README")
    val hi = "q01–q([0-9]+)".r.findFirstMatchIn(readme).map(_.group(1).toInt)
    val maxQ = SparkEntry.queries.keySet
      .map(_.drop(1).takeWhile(_.isDigit).toInt).max
    assert(hi.contains(maxQ),
      s"README.md range says q01–q${hi.orNull} but the registry tops at q$maxQ")
  }

  test("every registry query is documented in docs/OPERATORS.md (no orphans)") {
    // the index is the dedup-audit surface: an operator that never
    // appears there was never screened against its neighbors (the
    // round-9 audit found 9 duplicates exactly this way)
    val ids = SparkEntry.queries.keySet.map(_.takeWhile(_ != '_'))
    val documented = "q[0-9]{2,3}".r.findAllIn(operatorsMd).toSet
    val orphans = (ids -- documented).toSeq.sorted
    assert(orphans.isEmpty,
      s"queries missing from docs/OPERATORS.md: $orphans")
  }

  test("queries added since the last CORRECTNESS artifact carry a dedup-audit ledger row") {
    // every NEW operator must name its nearest existing sibling and
    // what distinguishes it — the check the round-9 postmortem asked
    // to automate. Ledger rows: | qNNN_slug | qMMM_slug | distinction |
    val ledger = "\\|\\s*(q[0-9]+_[a-z0-9_]+)\\s*\\|\\s*(q[0-9]+_[a-z0-9_]+)\\s*\\|([^|]+)\\|".r
      .findAllMatchIn(operatorsMd)
      .map(m => m.group(1) -> (m.group(2), m.group(3).trim)).toMap
    val fresh = (SparkEntry.queries.keySet -- lastVerified).toSeq.sorted
    val missing = fresh.filterNot(ledger.contains)
    assert(missing.isEmpty,
      s"new queries without a dedup-audit ledger row in docs/OPERATORS.md: $missing")
    fresh.foreach { q =>
      val (sibling, why) = ledger(q)
      assert(sibling != q, s"$q lists itself as its nearest sibling")
      assert(SparkEntry.queries.contains(sibling),
        s"$q's nearest sibling $sibling is not a registry query")
      assert(why.nonEmpty, s"$q's ledger row has no distinction note")
    }
  }

  test("registry keeps every name the last CORRECTNESS artifact verified") {
    // a rename or deletion would silently erase a query's verification
    // history; growth (new names beyond the artifact) is expected
    val artifacts = new java.io.File("/root/repo").listFiles()
      .filter(f => f.getName.matches("CORRECTNESS_r\\d+\\.json"))
    assume(artifacts.nonEmpty)
    val latest = artifacts.maxBy(_.getName)
    val txt = new String(
      java.nio.file.Files.readAllBytes(latest.toPath), "UTF-8")
    val published = "\"(q[0-9]+_[a-z0-9_]+)\"\\s*:\\s*\\{".r
      .findAllMatchIn(txt).map(_.group(1)).toSet
    val lost = published -- SparkEntry.queries.keySet
    assert(lost.isEmpty,
      s"registry lost queries verified in ${latest.getName}: ${lost.toSeq.sorted}")
  }
}
