package graft

/** Pins the board fit policy (r19 verdict #1): `Bench.runBoard` calls
  * `Embeddings.invalidateModels(spark, sfDir)` before its first row, so
  * every attempt starts with EMPTY session-fit caches and each fit is
  * paid exactly once inside a timed row per attempt. The testable core
  * is the fan-out itself: after one invalidation call, no session pin
  * from ANY fit family survives — a family missing from the chain would
  * leave its blocks pinned and the gate re-run would time cache reads
  * for its rows (the r19 measurement-integrity finding).
  */
class BenchFitPolicySpec extends SparkSpec {

  test("one invalidateModels call empties EVERY fit family's session " +
      "pins, and the refit reproduces the same rows") {
    val sc = spark.sparkContext
    // Touch one fit-bearing row per family: PPR family loop (Graph),
    // LSH pair table (Text), graph snapshot (GraphOps), served GT
    // (Embeddings).
    val rows = Seq("g_pagerank", "d_lsh_pairs", "g_degree", "e_cosine_topk")
    val before = rows.map { n =>
      n -> SparkEntry.queries(n)(spark, sfDir).collect().toSeq
    }.toMap
    assert(graft.operators.SessionPins.pinned(sc).nonEmpty,
      "fit-bearing rows should have pinned session blocks")
    // the exact call Bench.runBoard makes at the top of every attempt
    graft.queries.Embeddings.invalidateModels(spark, sfDir)
    assert(graft.operators.SessionPins.pinned(sc).isEmpty,
      "an attempt must start with NO session fits — some family's pins " +
        "survived the central invalidation chain")
    // attempt 2 refits from the parquet inputs to the same answers
    rows.foreach { n =>
      val again = SparkEntry.queries(n)(spark, sfDir).collect().toSeq
      assert(again == before(n), s"$n changed after invalidate+refit")
    }
  }
}
