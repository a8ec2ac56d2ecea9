package graft.text

import graft.SparkSpec
import graft.queries.Text

/** Pins `d_lsh_est_j`: the signature-agreement estimate replays from
  * [[TextOps.minhashSig]] per pair, the arithmetic matches the oracle
  * spelling, and the estimator behaves (exact duplicates estimate 1).
  */
class EstJSpec extends SparkSpec {

  test("d_lsh_est_j: n_eq replays from per-doc signatures; est/err " +
      "arithmetic exact; identical docs estimate exactly 1") {
    val rows = Text.queries("d_lsh_est_j")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    val texts = graft.Tables(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val sigs = scala.collection.mutable.Map.empty[Long, Array[Long]]
    def sigOf(id: Long): Array[Long] = sigs.getOrElseUpdate(id,
      TextOps.minhashSig(TextOps.shingles(texts(id))))
    val r6 = graft.graph.Hashing.round6 _
    rows.foreach { case (a, b, jac, nEq, est, err) =>
      val want = sigOf(a).zip(sigOf(b)).count { case (x, y) => x == y }
      assert(nEq == want, s"pair ($a,$b)")
      assert(est == r6(nEq.toDouble / TextOps.K))
      assert(err == r6(est - jac))
      assert(est >= 0.0 && est <= 1.0)
      // identical shingle sets → identical permutation minima, exactly
      if (jac == 1.0) assert(est == 1.0 && err == 0.0)
    }
    // the estimator must correlate with truth across the candidate set:
    // the mean estimate of the top-jac half exceeds the bottom half's
    // (LSH candidates all sit at jac >= 0.3, so both halves populate)
    if (rows.length >= 4) {
      val sorted = rows.sortBy(_._3)
      val (lo, hi) = sorted.splitAt(rows.length / 2)
      def mean(xs: Array[(Long, Long, Double, Int, Double, Double)]) =
        xs.map(_._5).sum / xs.length
      assert(mean(hi) > mean(lo), "estimate must track exact Jaccard")
    }
  }
}
