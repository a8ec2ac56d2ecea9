package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Embedding similarity/near-dup operators: the multi-table LSH paths are
  * verified against the brute-force cosine baseline — candidates are a
  * SUBSET (recall < 1 by design), every emitted score must agree exactly
  * with the brute-force score, and pair canonicalization holds.
  */
class EmbeddingsSpec extends SparkSpec {

  private def brute = Embeddings.queries("e_cosine_topk")(spark, sfDir)

  test("invalidateModels drops the cached fits and unpins their blocks; " +
      "the next consumer refits cleanly") {
    val sc = spark.sparkContext
    // force both fits, note what they pinned
    Embeddings.kmCentroids(spark, sfDir)
    Embeddings.queries("e_pq")(spark, sfDir).count()
    val pinnedBefore = graft.operators.SessionPins.pinned(sc)
    assert(pinnedBefore.nonEmpty, "fits should have pinned model blocks")
    Embeddings.invalidateModels(spark, sfDir)
    val pinnedAfter = graft.operators.SessionPins.pinned(sc)
    assert(pinnedBefore.intersect(pinnedAfter).isEmpty,
      "stale model blocks still pinned after invalidation")
    assert((pinnedBefore -- sc.getPersistentRDDs.keySet) == pinnedBefore,
      "stale model blocks still persisted after invalidation")
    // refit path: the rows still produce their results (fresh model)
    assert(Embeddings.queries("e_kmeans")(spark, sfDir).count() > 0)
    assert(graft.operators.SessionPins.pinned(sc).nonEmpty)
  }

  test("e_ann_lsh: scores agree with brute force; ranks consistent") {
    val ann = Embeddings.queries("e_ann_lsh")(spark, sfDir)
      .select(col("q_id"), col("vec_id"), col("cos")).collect()
    assert(ann.nonEmpty)
    // brute-force cosine for every (q, v) pair the ANN emitted.
    val bf = brute
      .select(col("q_id"), col("vec_id"), col("cos")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // ANN's returned cosines must be exact (same rounding, same fold order)
    // wherever the pair also appears in the brute-force top-k.
    val mismatches = ann.collect {
      case r if bf.contains((r.getLong(0), r.getLong(1))) &&
        bf((r.getLong(0), r.getLong(1))) != r.getDouble(2) => r
    }
    assert(mismatches.isEmpty, s"cos disagreement: ${mismatches.take(3).toSeq}")
  }

  test("e_ann_ivf: scores agree with brute force; cells partition the corpus") {
    val ivf = Embeddings.queries("e_ann_ivf")(spark, sfDir)
      .select(col("q_id"), col("vec_id"), col("cos")).collect()
    assert(ivf.nonEmpty)
    val bf = brute
      .select(col("q_id"), col("vec_id"), col("cos")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every candidate's exact cosine must agree wherever the pair also
    // appears in the brute-force top-k (same kernel, same rounding).
    val mismatches = ivf.collect {
      case r if bf.contains((r.getLong(0), r.getLong(1))) &&
        bf((r.getLong(0), r.getLong(1))) != r.getDouble(2) => r
    }
    assert(mismatches.isEmpty, s"cos disagreement: ${mismatches.take(3).toSeq}")
    // per query at most ~IvfTopK rows (ties may exceed k, but never the
    // whole corpus — the probe actually restricted the candidate set).
    val perQ = ivf.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(perQ.values.forall(_ <= Embeddings.IvfTopK + 5))
  }

  test("e_embed_dups: canonical unique pairs, threshold respected, subset of brute force") {
    val dups = Embeddings.queries("e_embed_dups")(spark, sfDir).collect()
    val keys = dups.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.forall { case (a, b) => a < b })
    assert(keys.distinct.length == keys.length)
    assert(dups.forall(_.getDouble(2) >= Embeddings.DupCosThreshold))
  }

  test("e_ivfpq_search: exactly top-k per query; ADC dists agree with the " +
      "full-scan e_pq_search wherever pairs overlap") {
    val ivfpq = Embeddings.queries("e_ivfpq_search")(spark, sfDir).collect()
    assert(ivfpq.nonEmpty)
    // row_number cut: exactly TopK rows per query (candidate sets at this
    // sf are far larger than k).
    val perQ = ivfpq.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(perQ.values.forall(_ == Embeddings.TopK), s"per-query counts: ${perQ.toMap}")
    // the IVF restriction changes WHICH vectors are scanned, never the ADC
    // distance of a scanned vector — overlapping pairs must agree exactly.
    val full = Embeddings.queries("e_pq_search")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val mismatches = ivfpq.collect {
      case r if full.contains((r.getLong(0), r.getLong(1))) &&
        full((r.getLong(0), r.getLong(1))) != r.getDouble(2) => r
    }
    assert(mismatches.isEmpty, s"ADC dist disagreement: ${mismatches.take(3).toSeq}")
  }

  test("e_semdedup: kept flag matches the brute-force greedy keep-first rule") {
    val out = Embeddings.queries("e_semdedup")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    val vecs = graft.Tables(spark, sfDir, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cos6(a: Long, b: Long): Double = {
      val (va, vb) = (vecs(a), vecs(b))
      val c = dot(va, vb) / (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb)))
      BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out.keySet == vecs.keySet) // one row per corpus vector
    val byCell = out.toSeq.groupBy(_._2._1)
    for ((_, members) <- byCell; (id, (_, kept)) <- members) {
      val hasLowerDup = members.exists { case (other, _) =>
        other < id && cos6(other, id) >= Embeddings.SemDupThreshold
      }
      assert(kept == (if (hasLowerDup) 0 else 1),
        s"vec $id: kept=$kept but hasLowerDup=$hasLowerDup")
    }
    // the threshold actually bites at this sf — some rows on each side.
    assert(out.values.exists(_._2 == 0) && out.values.exists(_._2 == 1))
  }

  test("e_bq_search: Hamming distances match recomputed sign codes; " +
      "reranked cosines are exact") {
    val out = Embeddings.queries("e_bq_search")(spark, sfDir).collect()
    assert(out.nonEmpty)
    val vecs = graft.Tables(spark, sfDir, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def ham(a: Array[Double], b: Array[Double]): Int =
      a.indices.count(i => (a(i) >= 0) != (b(i) >= 0))
    // per-row: the integer Hamming distance must equal the sign-bit
    // disagreement count of the raw vectors (the code pack is lossless
    // for this quantity).
    out.foreach { r =>
      val (q, c, h) = (r.getLong(0), r.getLong(1), r.getInt(2))
      assert(h == ham(vecs(q), vecs(c)), s"q=$q c=$c ham=$h")
    }
    // reranked cosines agree with brute force wherever the pair also
    // appears in the exact top-k (same kernel, same rounding).
    val bf = brute.select(col("q_id"), col("vec_id"), col("cos")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val mismatches = out.collect {
      case r if bf.contains((r.getLong(0), r.getLong(1))) &&
        bf((r.getLong(0), r.getLong(1))) != r.getDouble(3) => r
    }
    assert(mismatches.isEmpty, s"cos disagreement: ${mismatches.take(3).toSeq}")
    // exactly BqTopK rows per query (row_number cut), ranks 1..k
    val perQ = out.groupBy(_.getLong(0))
    perQ.values.foreach { rows =>
      assert(rows.length == Embeddings.BqTopK)
      assert(rows.map(_.getInt(4)).sorted.toSeq == (1 to Embeddings.BqTopK))
    }
  }

  test("e_nsw_search: greedy routing replays a brute walk over the NSW " +
      "routing graph, cosines improve monotonically, and some walk moves") {
    val got = Embeddings.queries("e_nsw_search")(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    // brute replay: collect embeddings + the row's own kNN edges
    val emb = graft.Tables(spark, sfDir, "embeddings").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def cos(a: Long, b: Long): Double = {
      val (va, vb) = (emb(a), emb(b))
      graft.graph.Hashing.round6(
        dot(va, vb) / (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb))))
    }
    val adj = Embeddings.nswGraph(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val entry = adj.keys.filter(_ >= Embeddings.NumQueries).min
    val want = (0L until Embeddings.NumQueries.toLong).map { q =>
      var cur = entry
      var c = cos(q, cur)
      var steps = 0L
      var moved = true
      var t = 0
      while (t < Embeddings.NswSteps && moved) {
        moved = false
        adj.get(cur).filter(_.nonEmpty).foreach { ns =>
          val best = ns.map(n => (n, cos(q, n)))
            .minBy { case (n, nc) => (-nc, n) }
          if (best._2 > c) {
            cur = best._1; c = best._2; steps += 1; moved = true
          }
        }
        t += 1
      }
      q -> ((entry, cur, c, steps))
    }.toMap
    assert(got == want)
    assert(got.values.exists(_._4 > 0), "no walk moved — routing vacuous")
    got.foreach { case (q, (e, f, c, st)) =>
      assert(c >= cos(q, e) - 1e-12, s"query $q worsened")
      assert(st <= Embeddings.NswSteps)
      if (st == 0) assert(f == e)
    }
  }

  test("e_mmr_rerank: matches an independent brute-force MMR greedy") {
    val out = Embeddings.queries("e_mmr_rerank")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    val vecs = graft.Tables(spark, sfDir, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cos6(a: Long, b: Long): Double = {
      val (va, vb) = (vecs(a), vecs(b))
      val c = dot(va, vb) / (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb)))
      BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    for (q <- 0L until Embeddings.NumQueries.toLong) {
      // shortlist: top MmrShortlist by (cos desc, id asc)
      val short = vecs.keys.filter(_ != q).toSeq
        .map(c => (c, cos6(q, c)))
        .sortBy { case (c, r) => (-r, c) }
        .take(Embeddings.MmrShortlist)
      val rel = short.toMap
      val sel = scala.collection.mutable.ArrayBuffer.empty[Long]
      for (step <- 1 to Embeddings.MmrK) {
        val pick = short.filterNot { case (c, _) => sel.contains(c) }
          .map { case (c, r) =>
            val pen = if (sel.isEmpty) 0.0 else sel.map(s => cos6(c, s)).max
            (c, Embeddings.MmrLambda * r - Embeddings.MmrOneMinusLambda * pen)
          }
          .minBy { case (c, sc) => (-sc, c) }._1
        assert(out((q, step)) == pick,
          s"q=$q step=$step: got ${out((q, step))}, brute-force picked $pick " +
            s"(rel=${rel.get(pick)})")
        sel += pick
      }
    }
  }

  test("semDedup: all-identical corpus (collapsed k-means mega-cell) " +
      "pre-collapses to one representative and keeps only the min id") {
    import spark.implicits._
    val n = 64
    val v = Array.tabulate(8)(j => 0.25 * (j + 1))
    val emb = (0 until n).map(i => (i.toLong, v)).toDF("vec_id", "v")
      .withColumn("nrm", expr("sqrt(vec_dot(v, v))"))
    val asg = (0 until n).map(i => (i.toLong, 0)).toDF("vec_id", "cell")
    // maxDistinct = 1: the exact-dup pre-collapse must reduce the
    // mega-cell to ONE distinct vector or the bound trips — this IS the
    // adversarial cell-size assertion (k-means collapsed onto one point).
    val out = graft.queries.Embeddings
      .semDedup(asg, emb, Embeddings.SemDupThreshold, maxDistinct = 1L)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(out.size == n)
    assert(out(0L) == 1, "min-id representative must be kept")
    assert((1 until n).forall(i => out(i.toLong) == 0),
      "every exact duplicate of a lower id must be dropped")
  }

  test("semDedup: the distinct-vector cell bound fails loudly, naming the knob") {
    import spark.implicits._
    val emb = (0 until 5).map(i =>
        (i.toLong, Array.tabulate(8)(j => if (j == i) 1.0 else 0.0)))
      .toDF("vec_id", "v")
      .withColumn("nrm", expr("sqrt(vec_dot(v, v))"))
    val asg = (0 until 5).map(i => (i.toLong, 0)).toDF("vec_id", "cell")
    val e = intercept[Exception] {
      graft.queries.Embeddings
        .semDedup(asg, emb, Embeddings.SemDupThreshold, maxDistinct = 3L)
        .collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.toString + " | " + chain(t.getCause)
    assert(chain(e).contains("quadratic by design"),
      s"unexpected failure chain: ${chain(e).take(600)}")
  }

  test("e_bq_search: the query-side broadcast bound fails loudly past it " +
      "and searches normally within it") {
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    val rnd = new scala.util.Random(7)
    val emb = (0 until 32).map(i =>
        (i.toLong, Array.fill(Embeddings.Dims)(rnd.nextDouble() - 0.5)))
      .toDF("vec_id", "v")
      .withColumn("nrm", expr("sqrt(vec_dot(v, v))"))
    // NumQueries (20) query codes > bound 8 → the plan-embedded guard
    // must fail the query loudly, naming the equi-join reroute.
    val e = intercept[Exception] {
      graft.queries.Embeddings.bqSearch(spark, emb, maxQueryBroadcast = 8L)
        .collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.toString + " | " + chain(t.getCause)
    assert(chain(e).contains("broadcast bound"),
      s"unexpected failure chain: ${chain(e).take(600)}")
    // ...and the same corpus within the bound returns a full result set.
    val ok = graft.queries.Embeddings
      .bqSearch(spark, emb, maxQueryBroadcast = 32L)
      .collect()
    assert(ok.nonEmpty && ok.length <= Embeddings.NumQueries * Embeddings.BqTopK)
  }

  test("e_prefix_rerank: reranked cosines are exact; shortlist recall < 1 " +
      "is the only divergence from brute force") {
    val rr = Embeddings.queries("e_prefix_rerank")(spark, sfDir)
      .select(col("q_id"), col("vec_id"), col("cos")).collect()
    assert(rr.nonEmpty)
    val bf = brute
      .select(col("q_id"), col("vec_id"), col("cos")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // the rerank stage uses the SAME full-dim kernel — any pair also in
    // the brute-force top-k must carry the identical rounded cosine.
    val mismatches = rr.collect {
      case r if bf.contains((r.getLong(0), r.getLong(1))) &&
        bf((r.getLong(0), r.getLong(1))) != r.getDouble(2) => r
    }
    assert(mismatches.isEmpty, s"cos disagreement: ${mismatches.take(3).toSeq}")
  }

  test("e_ivf_recall is exactly the overlap of e_ann_ivf with the exact " +
      "top-k, per query") {
    import graft.graph.Hashing.round6
    val exact = brute.where(col("rk") <= Embeddings.IvfTopK)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ivf = Embeddings.queries("e_ann_ivf")(spark, sfDir)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Embeddings.queries("e_ivf_recall")(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val byQ = exact.groupBy(_._1)
    assert(got.keySet == byQ.keySet)
    byQ.foreach { case (q, ex) =>
      val hit = ex.count(ivf).toLong
      assert(got(q) == ((ex.length.toLong, hit,
        round6(hit.toDouble / ex.length))), s"q=$q")
    }
  }

  test("e_prefix_recall replays a brute-force Matryoshka curve exactly") {
    import graft.graph.Hashing.round6
    val vecs = graft.Tables(spark, sfDir, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE))")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    def cosTo(d: Int)(a: Array[Double], b: Array[Double]): Double = {
      var (s1, s2, s3, i) = (0.0, 0.0, 0.0, 0)
      while (i < d) { s1 += a(i) * b(i); s2 += a(i) * a(i)
        s3 += b(i) * b(i); i += 1 }
      round6(s1 / (math.sqrt(s2) * math.sqrt(s3)))
    }
    val qs = vecs.filter(_._1 < Embeddings.NumQueries)
    def scored(d: Int, q: (Long, Array[Double])) = vecs
      .filter(_._1 != q._1).map(v => (v._1, cosTo(d)(q._2, v._2)))
    // exact tie-inclusive top-k on the full dims
    val exact = qs.map { q =>
      val sc = scored(vecs(0)._2.length, q).sortBy(t => (-t._2, t._1))
      val kth = sc(Embeddings.TopK - 1)._2
      q._1 -> sc.filter(_._2 >= kth).map(_._1).toSet
    }.toMap
    val got = Embeddings.queries("e_prefix_recall")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    Embeddings.PrefixRecallDims.foreach { d =>
      qs.foreach { q =>
        val ptop = scored(d, q).sortBy(t => (-t._2, t._1))
          .take(Embeddings.TopK).map(_._1).toSet
        val ex = exact(q._1)
        val hit = (ex intersect ptop).size.toLong
        assert(got((d, q._1)) ==
          ((ex.size.toLong, hit, round6(hit.toDouble / ex.size))),
          s"dims=$d q=${q._1}")
      }
    }
  }

  test("e_range_search: exactly the pairs at cos >= tau, counts match, " +
      "and scores agree with the top-k scan") {
    val rs = Embeddings.queries("e_range_search")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rs.nonEmpty)
    rs.foreach { case (_, _, cos, _) => assert(cos >= Embeddings.RangeTau) }
    // n_in_range is the per-query group size
    val sizes = rs.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    rs.foreach { case (q, _, _, n) => assert(n == sizes(q)) }
    // completeness + score agreement vs the brute top-k scan: every
    // top-k pair at cos >= tau must appear here with the same score
    // (both rows share cosineJoined, so a miss means the filter dropped
    // a qualifying pair).
    val rsMap = rs.map(t => (t._1, t._2) -> t._3).toMap
    brute.collect().foreach { r =>
      val (q, v, c) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      if (c >= Embeddings.RangeTau)
        assert(rsMap.get((q, v)).contains(c), s"missing/mismatched ($q,$v)")
    }
  }

  test("e_mutual_knn: exactly the bidirectional pairs of the shared " +
      "directed kNN edge builder, with that edge's cos") {
    val got = Embeddings.queries("e_mutual_knn")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val edges = Embeddings.knnScoredEdges(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val dirSet = edges.keySet
    val wantMutual = dirSet.filter { case (a, b) =>
      a < b && dirSet.contains((b, a))
    }
    assert(got.keySet == wantMutual)
    assert(got.nonEmpty && got.size < edges.size,
      "mutual filter must prune asymmetric hub edges")
    got.foreach { case (p, c) => assert(c == edges(p), s"pair $p") }
    // cos really is orientation-independent at 6 dp (the row's claim)
    wantMutual.foreach { case (a, b) =>
      assert(edges((a, b)) == edges((b, a)))
    }
  }

  test("e_pq_recall / e_ivfpq_recall: recall replays as the exact " +
      "intersection of the materialized search and exact top-k sets") {
    val exact = Embeddings.queries("e_cosine_topk")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def check(searchName: String, recallName: String): Unit = {
      val hits = Embeddings.queries(searchName)(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = Embeddings.queries(recallName)(spark, sfDir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getDouble(3)))).toMap
      val byQ = exact.groupBy(_._1)
      assert(got.keySet == byQ.keySet && got.nonEmpty)
      byQ.foreach { case (q, ex) =>
        val nHit = ex.count(hits.contains).toLong
        val (gn, gh, gr) = got(q)
        assert(gn == ex.length.toLong && gh == nHit, s"$recallName q=$q")
        assert(gr == graft.graph.Hashing.round6(nHit.toDouble / ex.length))
      }
    }
    check("e_pq_search", "e_pq_recall")
    check("e_ivfpq_search", "e_ivfpq_recall")
  }

  test("e_ood_score: exactly the OodTopN farthest-from-centroid " +
      "vectors of the shared kmeans fit, cells agreeing with e_kmeans") {
    val got = Embeddings.queries("e_ood_score")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(got.length == Embeddings.OodTopN)
    // ordered by (d2 desc, vec_id asc)
    got.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._3 > b._3 || (a._3 == b._3 && a._1 < b._1))
      case _ =>
    }
    // the cut really is the global top-N of the full fit, cells match
    val fit = Embeddings.kmFit(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        graft.graph.Hashing.round6(r.getDouble(2))))
    val want = fit.sortBy(t => (-t._3, t._1)).take(Embeddings.OodTopN)
    assert(got.toSeq == want.toSeq)
    val cells = Embeddings.queries("e_kmeans")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach { case (id, cell, _) => assert(cells(id) == cell) }
  }

  test("e_qgram: the mergeable per-partition fold equals a brute " +
      "driver-side Gram over the quantized codes") {
    val d = Embeddings.Dims
    val got = Embeddings.queries("e_qgram")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got.size == d * (d + 1) / 2, "full upper triangle")
    // brute: re-quantize every vector on the driver and accumulate
    val qs = graft.Tables(spark, sfDir, "embeddings")
      .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .collect().map { r =>
      val v = r.getSeq[Double](0).toArray
      val (lo, hi) = (v.min, v.max)
      if (hi == lo) Array.fill(d)(0L)
      else v.map(x => BigDecimal((x - lo) / ((hi - lo) / 255.0))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    }
    val want = scala.collection.mutable.Map.empty[(Int, Int), Long]
      .withDefaultValue(0L)
    qs.foreach { q =>
      for (i <- 0 until d; j <- i until d) want((i, j)) += q(i) * q(j)
    }
    assert(got == want.toMap)
    // sanity: the diagonal dominates its row (Cauchy-Schwarz on sums)
    assert((0 until d).forall(i => got((i, i)) > 0))
  }
}
