package graft.text

import graft.SparkSpec
import graft.queries.Text
import graft.graph.Hashing

class CdcSpec extends SparkSpec {

  private def toks(t: String): Array[String] =
    t.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)

  test("cdcChunks tiles every document exactly: contiguous, complete, " +
      "boundaries only at hash % CdcMod == 0, fold replays") {
    val docs = graft.Tables(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(docs.nonEmpty)
    var multi = 0
    docs.foreach { case (_, t) =>
      val ts = toks(t)
      val ch = TextOps.cdcChunks(t)
      // tiling: chunk k starts where k-1 ended; lengths sum to n
      assert(ch.head._2 == 0L)
      ch.sliding(2).foreach {
        case Array(a, b) => assert(b._2 == a._2 + a._3)
        case _ =>
      }
      assert(ch.map(_._3).sum == ts.length.toLong)
      assert(ch.map(_._1).toSeq == ch.indices.map(_.toLong))
      // every INTERNAL boundary token hashes ≡ 0 mod CdcMod; no token
      // strictly inside a chunk does
      ch.zipWithIndex.foreach { case ((_, st, n, chash), k) =>
        val hs = (st until st + n).map(i => TextOps.tokenHash(ts(i.toInt)))
        val last = k == ch.length - 1
        hs.dropRight(1).foreach(h => assert(h % TextOps.CdcMod != 0L))
        if (!last) assert(hs.last % TextOps.CdcMod == 0L)
        // ordered fold replay
        val want = hs.foldLeft(0L)((a, h) =>
          (a * Hashing.TokMul + h) % Hashing.P)
        assert(chash == want)
      }
      if (ch.length > 1) multi += 1
    }
    assert(multi > 0, "corpus must contain multi-chunk documents")
  }

  test("content-defined stability: an edit changes only the chunk " +
      "containing it — every other chunk hash survives") {
    val base = (0 until 400).map(j => s"tok${j * 13 % 97}w$j").mkString(" ")
    val ch0 = TextOps.cdcChunks(base)
    assert(ch0.length > 2, "need several chunks for the claim to bite")
    // edit one token in the middle chunk (replace, no length change)
    val ts = base.split(" ")
    val mid = ch0(ch0.length / 2)
    val editPos = (mid._2 + mid._3 / 2).toInt
    val edited = ts.updated(editPos, "EDITEDTOKEN").mkString(" ")
    val ch1 = TextOps.cdcChunks(edited)
    val h0 = ch0.map(_._4).toSet
    val h1 = ch1.map(_._4).toSet
    // all chunks except those overlapping the edit survive verbatim
    val survivors = ch0.filter(c =>
      editPos < c._2 || editPos >= c._2 + c._3).map(_._4).toSet
    assert(survivors.subsetOf(h1))
    // and the edit really changed something
    assert(h0 != h1)
  }

  test("d_cdc_dedup: replicas share every chunk; savings replay from " +
      "the chunk table") {
    val chunks = Text.queries("d_cdc_chunks")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getLong(3)))
    val dedup = Text.queries("d_cdc_dedup")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    val byHash = chunks.groupBy(_._2)
    val want = byHash.collect { case (h, cs) if cs.length > 1 =>
      h -> ((cs.length.toLong, cs.map(_._1).distinct.length.toLong,
        cs.map(_._3).min, (cs.length - 1).toLong * cs.map(_._3).min))
    }
    assert(dedup == want)
    assert(dedup.nonEmpty, "replica docs must duplicate chunks")
  }
}
