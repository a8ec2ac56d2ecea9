package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The NSW beam sweep (`e_nsw_recall`): ef = 1 must reproduce the greedy
  * `e_nsw_search` walk exactly (same exploration, same best-so-far), the
  * beam invariants must hold at every axis point, and the recall row
  * must be internally consistent with the exact ground truth.
  */
class NswRecallSpec extends SparkSpec {

  test("ef=1 beam IS the greedy walk: final beam equals (found_id, cos) " +
      "per query") {
    val (knn, q, nbr, s0) = Embeddings.nswShared(spark, sfDir)
    val (beam, visited) = Embeddings.nswBeam(knn, q, nbr, s0, 1)
    val got = beam.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val greedy = Embeddings.queries("e_nsw_search")(spark, sfDir).collect()
      .map(r => r.getAs[Long]("q_id") ->
        (r.getAs[Long]("found_id"), r.getAs[Double]("cos"))).toMap
    assert(got == greedy,
      "ef=1 keeps the best node seen so far and expands it — exactly " +
        "the greedy stay-on-no-improvement schedule")
    // the ef=1 visited pool contains every greedy stop (entry included)
    val vis = visited.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    greedy.foreach { case (qid, (f, _)) => assert(vis.contains((qid, f))) }
  }

  test("beam invariants: ≤ ef rows per query, beam ⊆ visited, and the " +
      "beam head is the visited maximum") {
    val (knn, q, nbr, s0) = Embeddings.nswShared(spark, sfDir)
    for (ef <- Embeddings.NswEfAxis) {
      val (beam, visited) = Embeddings.nswBeam(knn, q, nbr, s0, ef)
      val byQ = beam.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1)
      byQ.foreach { case (qid, rows) =>
        assert(rows.length <= ef, s"q$qid: beam exceeds ef=$ef")
        assert(rows.map(_._2).distinct.length == rows.length)
      }
      val vis = visited.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val visSet = vis.toSet
      byQ.values.flatten.foreach(t => assert(visSet.contains(t),
        "every beam row was scored, so it must be in the visited pool"))
      // the beam's best equals the visited pool's best (cos desc, node)
      val bestVis = vis.groupBy(_._1).map { case (qid, rows) =>
        qid -> rows.maxBy(t => (t._3, -t._2))._3
      }
      byQ.foreach { case (qid, rows) =>
        assert(rows.maxBy(t => (t._3, -t._2))._3 == bestVis(qid),
          s"q$qid: beam head must carry the best cosine ever seen")
      }
    }
  }

  test("graph quality IS the recall axis (the r17 measurement): the " +
      "identical beam over the EXACT brute-force M-NN graph routes " +
      "near-perfectly, NN-descent refinement recovers most of that " +
      "gap from the LSH seed, and the residual is construction " +
      "budget — not corpus geometry, not the beam") {
    val s = spark
    import s.implicits._
    val (knnLsh, q, nbr, s0) = Embeddings.nswShared(spark, sfDir)

    // exact M-NN graph: brute-force cosines with the row's own scoring
    // discipline (6-dp round, ties to the lowest id), symmetrized like
    // nswGraph — built driver-side over the raw embeddings table (the
    // fixture corpus is small; the SHIPPED builder stays bucketed)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def r6(x: Double): Double = graft.graph.Hashing.round6(x)
    val nrm = emb.map { case (id, v) =>
      id -> math.sqrt(v.map(x => x * x).sum) }
    val ids = emb.keys.toSeq.sorted
    val exactEdges = ids.flatMap { v =>
      ids.filter(_ != v)
        .map(u => (u, r6(emb(v).zip(emb(u)).map(t => t._1 * t._2).sum /
          (nrm(v) * nrm(u)))))
        .sortBy { case (u, c) => (-c, u) }
        .take(Embeddings.NswM)
        .map { case (u, _) => (v, u) }
    }
    val exactKnn = (exactEdges ++ exactEdges.map(_.swap)).distinct
      .toDF("src", "dst").localCheckpoint(true)

    // identical beam, identical entry, identical visited→top-k ranking
    val gnd = Embeddings.queries("e_cosine_topk")(spark, sfDir)
      .where(col("rk") <= Embeddings.IvfTopK)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(knn: org.apache.spark.sql.DataFrame, ef: Int): Double = {
      val (_, visited) = Embeddings.nswBeam(knn, q, nbr, s0, ef)
      val top = visited.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .filter(t => t._1 != t._2)
        .groupBy(_._1).values.flatMap(_.sortBy(t => (-t._3, t._2))
          .take(Embeddings.IvfTopK)).map(t => (t._1, t._2)).toSet
      gnd.count(top.contains).toDouble / gnd.size
    }
    // the RAW seed graph (no descent), symmetrized — what r16 shipped
    val rawKnn = {
      val e = Embeddings.knnScoredEdges(spark, sfDir, Embeddings.NswM)
        .select(col("src"), col("dst"))
      e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().localCheckpoint(true)
    }
    val ef = 4
    val raw = recallOf(rawKnn, ef)
    val refined = recallOf(knnLsh, ef) // nswShared ships the descent graph
    val exact = recallOf(exactKnn, ef)
    info(f"recall@${Embeddings.IvfTopK} ef=$ef: raw LSH seed $raw%.3f, " +
      f"NN-descent refined $refined%.3f, exact M-NN $exact%.3f")
    // (1) the corpus is navigable and the beam budget suffices: the
    //     exact graph routes near-perfectly at ef=4
    assert(exact >= 0.9,
      f"exact-graph routing reads $exact%.3f — corpus/beam would be " +
        "the cap, invalidating the descent design rationale")
    // (2) the descent rounds recover a material share of the gap the
    //     raw sign-bucket seed leaves (r16's finding, now quantified)
    assert(refined >= raw + 0.2 && refined >= 0.4,
      f"NN-descent must materially improve the seed " +
        f"(raw $raw%.3f -> refined $refined%.3f)")
    // (3) honesty: the residual vs exact is construction budget —
    //     NN-descent converges slowly on this near-iid corpus
    //     (neighbors-of-neighbors correlation is weak), disclosed above
    assert(refined <= exact)
  }

  test("nswBeamBatch ≡ nswBeam per axis point: beam AND visited sets " +
      "are identical for every ef in one hop loop") {
    val (knn, q, nbr, s0) = Embeddings.nswShared(spark, sfDir)
    val (beamAll, visAll) =
      Embeddings.nswBeamBatch(knn, q, nbr, s0, Embeddings.NswEfAxis)
    def setOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    import org.apache.spark.sql.functions.col
    for (ef <- Embeddings.NswEfAxis) {
      val (beam, vis) = Embeddings.nswBeam(knn, q, nbr, s0, ef)
      val bSlice = beamAll.where(col("ef") === ef)
        .select(col("q_id"), col("node"), col("cos"))
      val vSlice = visAll.where(col("ef") === ef)
        .select(col("q_id"), col("node"), col("cos"))
      assert(setOf(bSlice) == setOf(beam), s"beam diverged at ef=$ef")
      assert(setOf(vSlice) == setOf(vis), s"visited diverged at ef=$ef")
    }
  }

  test("e_nsw_recall row shape and consistency: one row per ef, exact " +
      "integer hits, recall = n_hit / n_exact") {
    val rows = Embeddings.queries("e_nsw_recall")(spark, sfDir).collect()
    assert(rows.map(_.getInt(0)).toSeq == Embeddings.NswEfAxis)
    rows.foreach { r =>
      val (nEx, nHit) = (r.getLong(1), r.getLong(2))
      assert(nHit >= 0 && nHit <= nEx)
      assert(r.getDouble(3) ==
        graft.graph.Hashing.round6(nHit.toDouble / nEx))
      assert(r.getLong(4) > 0, "n_visited discloses the cost axis")
    }
  }
}
