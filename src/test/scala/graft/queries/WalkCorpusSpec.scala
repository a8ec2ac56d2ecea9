package graft.queries

import graft.SparkSpec
import graft.graph.{GraphOps, Hashing}

class WalkCorpusSpec extends SparkSpec {

  /** Brute-force replay of the counter-based walk schedule: positioned
    * adjacency (neighbors sorted), idx = kmvMix(h) mod outdeg with the
    * SAME rolling h as [[Graph.walkHashExpr]].
    */
  private def brute(): Set[(Long, Long, Long, Long)] = {
    val edges = GraphOps.lineitemGraph(spark, sfDir, Graph.TriMod)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.toIndexedSeq).toMap
    val p = Hashing.P
    val m = Hashing.TokMul
    val out = Set.newBuilder[(Long, Long, Long, Long)]
    for {
      source <- adj.keys.toSeq.sorted if source % Graph.WalkSrcMod == 0
      walk <- 0L until Graph.WalksPerSrc.toLong
    } {
      var node = source
      out += ((source, walk, 0L, node))
      var t = 1
      var alive = true
      while (t <= Graph.WalkLen && alive) {
        adj.get(node) match {
          case Some(ns) =>
            val h = ((((source % p) * m + walk) % p * m + t) % p * m +
              node) % p
            val idx = (Hashing.kmvMix(h) % ns.length).toInt
            node = ns(idx)
            out += ((source, walk, t.toLong, node))
            t += 1
          case None => alive = false // sink: walk truncates
        }
      }
    }
    out.result()
  }

  test("g_walk_corpus replays the counter-based schedule exactly and is " +
      "deterministic across runs") {
    val got = Graph.queries("g_walk_corpus")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == got.toSet.size, "duplicate (source,walk,step) rows")
    val want = brute()
    assert(got.toSet == want)
    assert(want.nonEmpty)
    // every walk starts at its source and consecutive steps follow edges
    val edges = GraphOps.lineitemGraph(spark, sfDir, Graph.TriMod)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got.groupBy(t => (t._1, t._2)).foreach { case ((src, _), rows) =>
      val byStep = rows.sortBy(_._3)
      assert(byStep.head._3 == 0L && byStep.head._4 == src)
      byStep.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._3 == a._3 + 1, "gap in step sequence")
          assert(edges((a._4, b._4)), s"non-edge step ${a._4}->${b._4}")
        case _ => ()
      }
    }
    // determinism: a second evaluation is bit-identical
    val again = Graph.queries("g_walk_corpus")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.toSet == want)
  }

  test("broadcast and shuffle regimes are bit-equal on a corpus-scale " +
      "walk fleet (every node a source) — the hint is physical only") {
    val adj = Graph.walkAdj(
      GraphOps.lineitemGraph(spark, sfDir, Graph.TriMod))
    def corpus(bc: Boolean): Set[(Long, Long, Long, Long)] =
      Graph.walkCorpus(adj, srcMod = 1L, walksPerSrc = 3,
          len = Graph.WalkLen, broadcastState = bc)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    val steps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val bcast = corpus(bc = true)
    val shuffled = Graph.walkCorpus(adj, srcMod = 1L, walksPerSrc = 3,
        len = Graph.WalkLen, broadcastState = false,
        (_, c) => steps += c)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(bcast == shuffled,
      "dropping the broadcast hint must not change a single step")
    assert(bcast.nonEmpty && steps.length == Graph.WalkLen)
    // counter-based randomness: the per-step survivor disclosure is
    // monotone non-increasing (walks only die at sinks)
    assert(steps.toSeq.sliding(2).forall {
      case Seq(a, b) => b <= a
      case _ => true
    })
  }
}
