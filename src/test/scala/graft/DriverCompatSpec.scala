package graft

import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
import scala.util.control.NonFatal

/** Driver-compat static checks. The correctness harness compares Spark
  * parquet output to DuckDB oracle output through pandas, which (a) cannot
  * sort rows on array/map-typed columns (`TypeError: unhashable type`) and
  * (b) renders DuckDB HUGEINT — the result type of an un-cast
  * `sum(INTEGER)` — as float64 while the Spark side is int64, so the value
  * hash misses even when every value is identical. Both classes produced
  * red rows in round 4 (`e_quantize`; `d_pack_chunks`/`d_shard_export`/
  * `d_passage_dedup`). These specs make them impossible to reintroduce.
  */
class DriverCompatSpec extends SparkSpec {

  test("every query's final schema is scalar-only (pandas-sortable)") {
    val sc = spark.sparkContext
    // every row is checked: a row that throws is one finding, and the rows
    // after it are still checked
    val findings = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val pinned = sc.getPersistentRDDs.keySet
      try {
        val bad = fn(spark, sfDir).schema.fields.filter(f => f.dataType match {
          case _: ArrayType | _: MapType | _: StructType => true
          case _ => false
        })
        if (bad.isEmpty) None
        else Some(s"$name emits non-scalar columns " +
          s"[${bad.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ")}] — " +
          "the driver comparator cannot sort them; encode as string/hash")
      } catch {
        case NonFatal(e) => Some(s"$name threw $e")
      } finally {
        // release whatever the query pinned (same hygiene as Verify/Bench —
        // INCLUDING the SessionPins exemption those harnesses apply: a
        // session fit materialized during construction is still served to
        // later rows, so reaping its blocks here crashed the first
        // consumer after the reap with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)
        val now = sc.getPersistentRDDs
        (now.keySet -- pinned -- graft.operators.SessionPins.pinned(sc))
          .foreach(id => now.get(id).foreach(_.unpersist(false)))
      }
    }
    assert(findings.isEmpty,
      s"${findings.size} of ${SparkEntry.queries.size} rows:\n${findings.mkString("\n")}")
  }

  test("every oracle entry names a query row") {
    // compare_oracle.py replays each oracle against the row's dump; an
    // oracle whose row is gone reports MISSING-RESULT forever
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty,
      s"oracle entries without a query row: ${orphans.toSeq.sorted.mkString(", ")}")
  }

  /** Per-offset (paren depth, inside-string-literal) scan. Single-quoted
    * SQL string literals are skipped — an unbalanced '(' inside a quoted
    * regex/pattern must not skew the depth — and the doubled `''` escape
    * stays inside the literal. `depth(i)` is the depth BEFORE consuming
    * char i (matching the old scanLeft semantics).
    */
  private def scanSql(sql: String): (Array[Int], Array[Boolean]) = {
    val depth = new Array[Int](sql.length)
    val lit = new Array[Boolean](sql.length)
    var d = 0
    var inLit = false
    var i = 0
    while (i < sql.length) {
      depth(i) = d
      lit(i) = inLit
      val c = sql.charAt(i)
      if (inLit) {
        if (c == '\'') {
          if (i + 1 < sql.length && sql.charAt(i + 1) == '\'') {
            depth(i + 1) = d
            lit(i + 1) = true
            i += 1 // escaped quote: stay inside the literal
          } else inLit = false
        }
      } else c match {
        case '\'' => inLit = true; lit(i) = true
        case '('  => d += 1
        case ')'  => d -= 1
        case _    =>
      }
      i += 1
    }
    (depth, lit)
  }

  private def identChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_'

  /** Text of an oracle from its first top-level (paren-depth-0, outside
    * string literals, word-bounded) SELECT to the end: the final SELECT
    * plus any top-level set-op branches. CTE bodies sit inside parens, so
    * they're excluded — intermediate integer sums (e.g. d_simhash's bit
    * sums) feed further arithmetic and never reach pandas.
    */
  private def finalRegion(sql: String): String = {
    val (depth, lit) = scanSql(sql)
    var i = 0
    while (i < sql.length) {
      if (!lit(i) && depth(i) == 0 &&
          sql.regionMatches(true, i, "SELECT", 0, 6) &&
          (i == 0 || !identChar(sql.charAt(i - 1))) &&
          (i + 6 >= sql.length || !identChar(sql.charAt(i + 6))))
        return sql.substring(i)
      i += 1
    }
    sql
  }

  /** Offsets of raw (un-wrapped, depth-0) `sum(` calls in the final SELECT
    * of `sql` — each one is a HUGEINT hazard. A sum inside `CAST(`/`round(`
    * sits at depth > 0 and is excluded; a depth-0 sum used as a divisor is
    * excluded (the whole expression is already DOUBLE); a `sum(` inside a
    * string literal is text, not a call.
    */
  private def rawFinalSums(sql: String): Seq[Int] = {
    val region = finalRegion(sql)
    val (depth, lit) = scanSql(region)
    "(?i)\\bsum\\s*\\(".r.findAllMatchIn(region)
      .filter(m => !lit(m.start) && depth(m.start) == 0)
      .filterNot { m =>
        region.substring(math.max(0, m.start - 12), m.start).trim.endsWith("/")
      }
      .map(_.start).toSeq
  }

  test("no oracle carries a raw sum( in its final SELECT (DuckDB HUGEINT)") {
    // self-check on round 4's actual red-row shape, so a lint regression
    // can't silently pass everything
    assert(rawFinalSums(
      "WITH t AS (SELECT a, b FROM x) SELECT a, sum(b) AS s FROM t GROUP BY a").nonEmpty)
    assert(rawFinalSums(
      "WITH t AS (SELECT a, sum(b) AS s FROM x GROUP BY a) " +
        "SELECT a, CAST(sum(s) AS BIGINT) AS s2, round(sum(s), 2) AS s3, " +
        "n / sum(n) OVER () AS p FROM t GROUP BY a, n").isEmpty)
    // an unbalanced '(' inside a string literal must not hide a later raw
    // sum (quoted parens don't count toward depth)...
    assert(rawFinalSums(
      "WITH t AS (SELECT a, b FROM x) " +
        "SELECT regexp_extract(a, '([0-9]+') AS g, sum(b) AS s FROM t GROUP BY g").nonEmpty)
    // ...and a literal mentioning sum( is text, not a call
    assert(rawFinalSums(
      "WITH t AS (SELECT a FROM x) SELECT a, 'sum(' AS label FROM t").isEmpty)
    // SELECT embedded in an identifier does not start the final region
    assert(rawFinalSums(
      "WITH preselected AS (SELECT a, b FROM x) " +
        "SELECT a, CAST(sum(b) AS BIGINT) AS s FROM preselected GROUP BY a").isEmpty)
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      val bad = rawFinalSums(sql)
      assert(bad.isEmpty,
        s"$name final SELECT has unwrapped sum( at offsets $bad — DuckDB" +
          " promotes integer sums to HUGEINT, which the driver comparator" +
          " renders as float64; wrap as CAST(sum(..) AS BIGINT) (or" +
          " round(..) for doubles)")
    }
  }
}
