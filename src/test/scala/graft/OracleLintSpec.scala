package graft

import org.scalatest.funsuite.AnyFunSuite

/** Oracle-type lint — makes the r10 HUGEINT class of bug impossible.
  *
  * DuckDB types `sum()` over any integer argument as HUGEINT; pandas
  * renders int128 as float64, so the driver's typed hash sees
  * `150.0 != 150` even when every value matches (the r10 failures
  * drift_psi / heaps_curve / q12_late_lines / volume_bars). Spark's
  * `sum(long)` is long. The only way an integer `sum()` is safe in an
  * oracle is wrapped in an explicit CAST (to BIGINT if it reaches the
  * output schema, to DOUBLE/DECIMAL if it feeds float math).
  *
  * The lint therefore scans every assembled `SparkEntry.queries` oracleSql
  * string and fails the build on any `sum(` call that is NEITHER
  *   (a) inside the balanced-paren extent of some enclosing `CAST(...)`
  *       — the cast pins that expression's final type, so a HUGEINT
  *       intermediate cannot escape it — NOR
  *   (b) summing an argument that itself carries a cast to a
  *       non-integer type (`AS DOUBLE` / `AS FLOAT` / `DECIMAL(p,s)`),
  *       which DuckDB sums as DOUBLE/DECIMAL — no HUGEINT possible.
  * Intermediate-CTE integer sums are NOT exempt: HUGEINT propagates
  * through `//` and arithmetic into output columns (that is exactly how
  * volume_bars' bar_id went red), so the project convention is to
  * CAST-pin every sum whose argument is not already non-integer,
  * intermediate or final.
  */
class OracleLintSpec extends AnyFunSuite {

  /** Offsets of every `sum(`/`SUM (` call in `sql`. */
  private def sumCalls(sql: String): List[Int] =
    raw"(?i)\bsum\s*\(".r.findAllMatchIn(sql).map(_.start).toList

  /** The [start, end) extents of every `CAST(...)` call in `sql`
    * (balanced-paren match). Any expression inside such an extent has
    * its type pinned by the enclosing cast — HUGEINT cannot escape. */
  private def castExtents(sql: String): List[(Int, Int)] =
    raw"(?i)\bcast\s*\(".r.findAllMatchIn(sql).map { m =>
      val open = sql.indexOf('(', m.start)
      var depth = 0
      var i = open
      var end = sql.length
      var done = false
      while (i < sql.length && !done) {
        sql.charAt(i) match {
          case '(' => depth += 1
          case ')' =>
            depth -= 1
            if (depth == 0) { end = i + 1; done = true }
          case _ =>
        }
        i += 1
      }
      (m.start, end)
    }.toList

  private def castWrapped(extents: List[(Int, Int)], at: Int): Boolean =
    extents.exists { case (s, e) => s < at && at < e }

  /** The balanced-paren argument of the sum call starting at `at`. */
  private def argOf(sql: String, at: Int): String = {
    val open = sql.indexOf('(', at)
    var depth = 0
    var i = open
    while (i < sql.length) {
      sql.charAt(i) match {
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return sql.substring(open + 1, i)
        case _ =>
      }
      i += 1
    }
    sql.substring(open + 1)
  }

  private val nonIntegerArg =
    raw"(?i)(AS\s+DOUBLE|AS\s+FLOAT|DECIMAL\s*\()".r

  /** All lint hits in one assembled oracle SQL string. */
  private def offendersIn(name: String, sql: String): List[String] = {
    val extents = castExtents(sql)
    for {
      at <- sumCalls(sql)
      if !castWrapped(extents, at)
      arg = argOf(sql, at)
      if nonIntegerArg.findFirstIn(arg).isEmpty
    } yield s"$name: ...${sql.slice(math.max(0, at - 40), math.min(sql.length, at + 60))}..."
  }

  test("every integer sum() in oracleSql is CAST-wrapped (no HUGEINT can reach the driver's typed hash)") {
    val offenders = SparkEntry.queries.flatMap(q => offendersIn(q.name, q.oracleSql))
    assert(offenders.isEmpty,
      s"\n${offenders.size} un-cast integer sum() calls in oracleSql " +
        "(DuckDB types these HUGEINT -> float64 in pandas -> typed-hash mismatch; " +
        "wrap in CAST(... AS BIGINT) or cast the argument to DOUBLE/DECIMAL):\n" +
        offenders.mkString("\n"))
  }

  test("negative control: the lint DOES flag the r10 bug shapes") {
    // the exact shapes that went red in r10 — an un-cast aggregate sum,
    // an un-cast window sum, and HUGEINT escaping through // arithmetic
    assert(offendersIn("ctl", "SELECT sum(n) AS tot FROM t").nonEmpty)
    assert(offendersIn("ctl",
      "SELECT sum(c) OVER (ORDER BY b) AS cum FROM t").nonEmpty)
    assert(offendersIn("ctl",
      "SELECT sum(CAST(q AS BIGINT)) // 500 AS bar_id FROM t").nonEmpty)
    // and does NOT flag the two safe shapes
    assert(offendersIn("ctl",
      "SELECT CAST(sum(n) AS BIGINT) AS tot FROM t").isEmpty)
    assert(offendersIn("ctl",
      "SELECT sum(CAST(x AS DOUBLE)) AS s FROM t").isEmpty)
  }
}
