package graft.graph

import graft.SparkSpec
import graft.queries.Graph

class MsfSpec extends SparkSpec {

  /** Same weighted edge derivation as the query, on the driver. */
  private def weightedEdges(): Array[(Long, Long, Long)] = {
    GraphOps.lineitemSubgraph(spark, sfDir, Graph.CcMod, Graph.CcQtyMax)
      .collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1))))
      .distinct
      .map { case (a, b) =>
        (a, b, Hashing.kmvMix((a * 1000003L + b) % Hashing.P) % 100000L)
      }
  }

  /** Driver-side Kruskal under the (w, a, b) total order. */
  private def kruskal(
      edges: Array[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    val kept = Set.newBuilder[(Long, Long, Long)]
    edges.sortBy { case (a, b, w) => (w, a, b) }.foreach { case (a, b, w) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb)
        kept += ((a, b, w)) }
    }
    kept.result()
  }

  test("g_msf equals driver-side Kruskal under the (w, a, b) total " +
      "order: edge-for-edge, |forest| = n - components, acyclic by " +
      "construction") {
    val got = Graph.queries("g_msf")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val edges = weightedEdges()
    val want = kruskal(edges)
    assert(got.length == want.size && got.toSet == want,
      "Borůvka under the struct order must BE the Kruskal forest")
    // |forest| = n − #components (Kruskal's invariant, re-derived from
    // the oracle-checked CC row's own brute rather than trusted)
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val comps = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b, _) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      nodes.map(find).distinct.length
    }
    assert(got.length == nodes.length - comps)
    assert(comps > 1, "the fragmented subgraph must have several trees")
    // total weight agrees (redundant given set equality; kept as the
    // scalar a report would publish)
    assert(got.map(_._3).sum == want.toSeq.map(_._3).sum)
  }
}
