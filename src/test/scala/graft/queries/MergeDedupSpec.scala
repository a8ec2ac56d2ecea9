package graft.queries

import graft.SparkSpec

/** Semantics of the incremental-dedup operator beyond what the DuckDB
  * oracle checks: that it drops cross-snapshot duplicates when they
  * exist (the sf0.001 corpus has none, so the dup path is exercised on
  * a constructed frame).
  */
class MergeDedupSpec extends SparkSpec {

  test("d_incr_dedup drops exactly the cross-snapshot text duplicates") {
    import spark.implicits._
    // constructed corpus: new snapshot ids {0,3,6,9}; 3 and 9 duplicate
    // existing texts (including a dup of a doc that ALSO appears twice in
    // the old snapshot), 0 and 6 are novel.
    val docs = Seq(
      (0L, "alpha beta", "en", "s0", 10L),
      (3L, "dup one", "en", "s0", 7L),
      (6L, "gamma delta", "de", "s1", 11L),
      (9L, "dup two", "fr", "s1", 7L),
      (1L, "dup one", "en", "s2", 7L),
      (2L, "dup two", "fr", "s2", 7L),
      (4L, "dup two", "fr", "s3", 7L),
      (5L, "other old", "en", "s3", 9L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_incr").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Text.queries("d_incr_dedup")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(0L, 6L), s"survivors were $out")
    // and on the real sf0.001 corpus the op must keep every new doc that
    // has no text twin in the old snapshot (oracle-equivalent semantics).
    val real = Text.queries("d_incr_dedup")(spark, sfDir).collect().map(_.getLong(0)).toSet
    val d = graft.Tables(spark, sfDir, "documents")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1))
    val oldTexts = d.collect { case (id, t) if id % 3 != 0 => t }.toSet
    val expect = d.collect { case (id, t) if id % 3 == 0 && !oldTexts(t) => id }.toSet
    assert(real == expect)
  }
}
