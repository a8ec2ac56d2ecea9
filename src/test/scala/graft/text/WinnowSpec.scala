package graft.text

import graft.SparkSpec
import graft.queries.Text
import graft.graph.Hashing

class WinnowSpec extends SparkSpec {

  /** Independent array-level winnow: recompute the gram sequence from
    * tokenHash and apply the textbook right-min sliding rule with an
    * O(m·w) scan, collecting into a SET (the kernel's emit-on-change
    * must equal this set semantics).
    */
  private def bruteWinnow(text: String): Set[(Int, Long)] = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
    val hs = toks.map(TextOps.tokenHash)
    val m = hs.length - TextOps.ShingleW + 1
    if (m < TextOps.WinnowW) return Set.empty
    val kg = (0 until m).map(i => ((hs(i) * Hashing.TokMul + hs(i + 1))
      % Hashing.P * Hashing.TokMul + hs(i + 2)) % Hashing.P)
    (0 to m - TextOps.WinnowW).map { w =>
      val win = (w until w + TextOps.WinnowW)
      val minv = win.map(kg).min
      val pos = win.filter(j => kg(j) == minv).max // rightmost tie
      (pos, kg(pos))
    }.toSet
  }

  test("winnow matches the brute right-min rule on the bench corpus, " +
      "with the coverage guarantee and shingle-set containment") {
    val docs = graft.Tables(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(docs.nonEmpty)
    var fps = 0
    docs.foreach { case (_, t) =>
      val got = TextOps.winnow(t)
      // no duplicate positions, exact match with the brute set
      assert(got.map(_._1).distinct.length == got.length)
      assert(got.toSet == bruteWinnow(t))
      // every fingerprint hash is one of the document's distinct shingles
      val sh = TextOps.shingles(t).toSet
      got.foreach { case (_, f) => assert(sh.contains(f)) }
      // coverage: every full window of WinnowW gram positions contains a
      // selected position (the guarantee that makes span matching work)
      val m = t.split("\\s+").length - TextOps.ShingleW + 1
      if (m >= TextOps.WinnowW) {
        assert(got.nonEmpty)
        val sel = got.map(_._1).toSet
        (0 to m - TextOps.WinnowW).foreach { w =>
          assert((w until w + TextOps.WinnowW).exists(sel),
            s"window at $w uncovered")
        }
      }
      fps += got.length
    }
    assert(fps > 0)
  }

  test("winnow: short documents emit nothing; a shared token run shares " +
      "a fingerprint between documents") {
    assert(TextOps.winnow("a b").isEmpty, "fewer tokens than a shingle")
    assert(TextOps.winnow("a b c d e").isEmpty, "grams < WinnowW")
    // two docs sharing a WinnowW+ShingleW-1 = 6-token run must share at
    // least one fingerprint HASH (positions may differ)
    val run = "one two three four five six"
    val a = TextOps.winnow(s"alpha beta $run gamma delta epsilon").map(_._2)
    val b = TextOps.winnow(s"zeta eta theta iota $run kappa").map(_._2)
    assert((a.toSet intersect b.toSet).nonEmpty, "coverage guarantee broken")
  }

  test("d_winnow row shape: (doc_id, pos, fp) rows replay the kernel") {
    val rows = Text.queries("d_winnow")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = rows.groupBy(_._1)
    val docs = graft.Tables(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(byDoc.nonEmpty)
    byDoc.foreach { case (id, rs) =>
      assert(rs.map(t => (t._2.toInt, t._3)).toSet ==
        TextOps.winnow(docs(id)).toSet)
    }
  }

  /** Driver-side replay of the full d_winnow_pairs pipeline (df cap →
    * min-shared candidates → exact verify) from per-doc fingerprint
    * sets.
    */
  private def brutePairs(
      docs: Seq[(Long, String)]): Map[(Long, Long), (Long, Double)] = {
    val sets = docs.map { case (id, t) =>
      id -> TextOps.winnow(t).map(_._2).toSet
    }.toMap
    val df = sets.values.toSeq.flatten.groupBy(identity)
      .view.mapValues(_.size).toMap
    val rare = sets.view.mapValues(_.filter(f =>
      df(f) >= 2 && df(f) <= TextOps.WinnowMaxDf)).toMap
    val ids = docs.map(_._1).sorted
    (for {
      a <- ids; b <- ids if a < b
      if (rare(a) intersect rare(b)).size >= TextOps.WinnowMinShared
    } yield {
      val n = (sets(a) intersect sets(b)).size.toLong
      val j = n.toDouble / (sets(a).size + sets(b).size - n).toDouble
      (a, b) -> ((n, graft.graph.Hashing.round6(j)))
    }).toMap
  }

  test("winnowPairs: a planted 40-token shared span is found with exact " +
      "overlap stats; unrelated docs and >MaxDf boilerplate stay silent") {
    val s = spark
    import s.implicits._
    def words(tag: String, n: Int): String =
      (0 until n).map(j => s"$tag$j").mkString(" ")
    val span = words("shared", 40)
    val boiler = words("boiler", 8) // > WinnowW+ShingleW-1: guaranteed fp
    val base = Seq(
      1L -> s"${words("ua", 30)} $span ${words("ub", 30)}",
      2L -> s"${words("va", 25)} $span ${words("vb", 35)}",
      3L -> words("lone", 90))
    // 70 docs (> WinnowMaxDf = 64) sharing ONLY the boilerplate run:
    // its fingerprints are over-common → dropped → no pairs among them
    val noise = (100L until 170L).map(id =>
      id -> s"${words(s"n${id}x", 20)} $boiler ${words(s"n${id}y", 20)}")
    val docs = base ++ noise
    val got = Text.winnowPairs(docs.toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val want = brutePairs(docs)
    assert(want.contains((1L, 2L)), "planted span must survive the replay")
    assert(got == want)
    assert(!got.keys.exists { case (a, b) => a >= 100L || b >= 100L },
      "boilerplate-only overlap must be df-capped out")
    assert(!got.keys.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("d_winnow_pairs on the bench corpus equals the driver replay") {
    val docs = graft.Tables(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val got = Text.queries("d_winnow_pairs")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got == brutePairs(docs))
    assert(got.nonEmpty, "bench corpus replicas must collide")
  }
}
