package graft.queries

import graft.SparkSpec
import graft.graph.Hashing

class TokEntropySpec extends SparkSpec {

  test("d_tok_entropy: hand-computed entropies on fixture docs") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tokent").toString
    Seq(
      (0L, "a a a a", "en", "s", 7L),       // one token type: H = 0
      (1L, "a b c d", "en", "s", 7L),       // uniform over 4: H = 2 bits
      (2L, "a a a b", "en", "s", 7L),       // skewed: H = 2 - 3·ln3/(4·ln2)
      (3L, "Mixed CASE mixed case", "en", "s", 21L)) // lowercased: 2 types
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val got = Text.queries("d_tok_entropy")(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    val hSkew =
      Hashing.round6(2.0 - 3.0 * math.log(3.0) / (4.0 * math.log(2.0)))
    assert(got(0L) == ((4L, 1L, 0.0, 0.0)), "degenerate doc: zero entropy")
    assert(got(1L) == ((4L, 4L, 2.0, 1.0)), "uniform: log2(4), efficiency 1")
    // vocab is {a, b} so log2(vocab) = 1: efficiency equals H itself
    assert(got(2L)._3 == hSkew && got(2L)._4 == hSkew)
    assert(got(3L) == ((4L, 2L, 1.0, 1.0)), "case-folded before counting")
  }

  test("d_tok_entropy on the bench corpus: bounds and zero-shuffle plan") {
    val df = Text.queries("d_tok_entropy")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, v, h, hn) =
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
      assert(n >= v && v >= 1)
      // 0 <= H <= log2(vocab) <= log2(n), efficiency in [0, 1]; the
      // 6-dp pin can push a maximal H half an ulp-of-round above the cap
      val cap = math.log(v.toDouble) / math.log(2.0)
      assert(h >= 0.0 && h <= cap + 5e-7)
      assert(hn >= 0.0 && hn <= 1.0 + 5e-7)
    }
    // kernel row: a pure map over the scan — no Exchange anywhere
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"),
      "entropy kernel must not shuffle")
  }
}
