package graft.text

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.graph.Hashing

/** Text-operator kernels vs their expression-plan twins.
  *
  * `d_simhash` moved from an interpreted HOF expression plan (r1, oracle-
  * green) to a typed mapPartitions kernel; this spec pins the kernel to the
  * legacy plan on the real documents table so the DuckDB oracle contract is
  * preserved without needing DuckDB in-process.
  */
class TextSpec extends SparkSpec {

  test("simhash32 kernel matches the legacy expression plan") {
    val s = spark
    import s.implicits._
    val docs = Tables(spark, sfDir, "documents")

    // legacy r1 plan: explode token hashes, 32 CASE sums, bit combine.
    val hs = docs.selectExpr(
      "doc_id", s"explode(${TextOps.spark.tokenHashes("text")}) AS h")
    val bitSums = (0 until 32).map(b =>
      expr(s"sum(CASE WHEN (shiftright(h, $b) & 1) = 1 THEN 1 ELSE -1 END)")
        .as(s"bit$b"))
    val combine = (0 until 32)
      .map(b => s"CASE WHEN bit$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    val legacy = hs.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .selectExpr("doc_id", s"$combine AS simhash")
      .as[(Long, Long)].collect().toMap

    val kernel = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().map { case (id, t) => id -> TextOps.simhash32(t) }.toMap

    assert(kernel.keySet == legacy.keySet)
    val diffs = kernel.collect { case (id, v) if legacy(id) != v => id }
    assert(diffs.isEmpty, s"simhash mismatch for doc_ids: ${diffs.take(5)}")
  }

  test("charNgrams: distinct rolling 5-gram hashes, independent recompute") {
    // independent reimplementation: sliding codepoint windows + BigInt mod.
    def naive(text: String): Seq[Long] = {
      val cps = text.toLowerCase(java.util.Locale.ROOT).codePoints().toArray.toSeq
      if (cps.length < TextOps.NgramW) Seq.empty
      else cps.sliding(TextOps.NgramW)
        .map(_.foldLeft(BigInt(0))((a, c) =>
          (a * TextOps.CharMul + c) mod BigInt(Hashing.P)).toLong)
        .toSeq.distinct
    }
    val samples = Seq("", "abcd", "abcde", "the cat sat on the mat",
      "aaaaaaaaaa", "Hello, World! Hello, World!")
    for (t <- samples)
      assert(TextOps.charNgrams(t).toSeq == naive(t), s"for input '$t'")
  }

  test("d_ngram_pairs: near-identical docs found, all pairs above threshold") {
    val out = graft.queries.Text.queries("d_ngram_pairs")(spark, sfDir)
      .collect()
    assert(out.nonEmpty, "expected at least one near-dup pair at sf0.001")
    assert(out.forall(_.getDouble(2) >= graft.queries.Text.NgramJacThreshold))
    // pairs are canonical (doc_a < doc_b) and unique.
    val keys = out.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.forall { case (a, b) => a < b })
    assert(keys.distinct.length == keys.length)
  }

  test("bandRows kernel matches the minhash/bandHash expression path") {
    val s = spark
    import s.implicits._
    // legacy path: K interpreted array_min(transform(...)) minhash lambdas
    // folded into band hashes — the plan bandRows replaced.
    val sh = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => (id, TextOps.shingles(t)) })
      .toDF("doc_id", "sh")
    val sigExpr = (0 until TextOps.K)
      .map(j => TextOps.spark.minhash("sh", j)).mkString("array(", ", ", ")")
    val hof = sh.selectExpr("doc_id", s"$sigExpr AS sig")
      .selectExpr(Seq("doc_id") ++ (0 until TextOps.Bands)
        .map(b => s"${TextOps.spark.bandHash("sig", b)} AS b$b"): _*)
      .selectExpr("doc_id", s"stack(${TextOps.Bands}, ${(0 until TextOps.Bands)
        .map(b => s"$b, b$b").mkString(", ")}) AS (band, bh)")
      .where(col("bh").isNotNull) // empty-feature docs: kernel emits no rows
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val kernel = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        TextOps.bandRows(TextOps.shingles(t)).map { case (b, h) => (id, b, h) } }
      .collect().toSet
    assert(kernel == hof)
    assert(TextOps.bandRows(Array.emptyLongArray).isEmpty)
  }

  test("d_simhash_pairs: pigeonhole recall is exact at the hamming threshold") {
    val s = spark
    import s.implicits._
    val sim = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().map { case (id, t) => id -> TextOps.simhash32(t) }
    // brute-force ground truth: every pair with hamming <= threshold.
    val want = (for {
      (a, ha) <- sim; (b, hb) <- sim if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= graft.queries.Text.SimhashHammingMax
    } yield (a, b)).toSet
    val got = graft.queries.Text.queries("d_simhash_pairs")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the 4-block bucketing GUARANTEES recall 1 for hamming <= 3 — the
    // candidate filter may only remove pairs above the threshold.
    assert(got == want)
  }

  test("d_dup_clusters: label propagation equals driver-side union-find") {
    val pairs = graft.queries.Text.queries("d_lsh_pairs")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(x => x -> find(x)).toMap
    val got = graft.queries.Text.queries("d_dup_clusters")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // cluster representative is the component minimum.
    assert(got.forall { case (id, c) => c <= id })
  }

  test("chunkFps: stride-aligned starts, full coverage, rolling fp consistency") {
    val text = (1 to 150).map(i => s"tok$i").mkString(" ")
    val w = 64; val st = 48
    val chunks = TextOps.chunkFps(text, w, st)
    // starts at every multiple of stride below the token count, in order.
    assert(chunks.map(_._1).toSeq == Seq(0, 48, 96, 144))
    // every window is width-capped, ≥ 1 token, and the LAST one ends at
    // the token count (full coverage, no token beyond any window).
    assert(chunks.forall { case (s0, l, _) => l >= 1 && l <= w && s0 + l <= 150 })
    assert(chunks.last._1 + chunks.last._2 == 150)
    // the fp is the same TokMul roll as passageHashes: a stride-aligned
    // FULL window whose start is also a passage boundary must agree.
    val aligned = TextOps.chunkFps(text, 8, 8) // width = stride = PassageW
    val pas = TextOps.passageHashes(text, 8)
    assert(aligned.take(pas.length).map(_._3).toSeq == pas.toSeq)
    // degenerate inputs: empty/whitespace text still yields one chunk
    // (the "" token), matching the tokenizer convention everywhere else.
    assert(TextOps.chunkFps("", w, st).length == 1)
    assert(TextOps.chunkFps("   ", w, st).nonEmpty)
  }

  test("simhash32 edge cases: empty, whitespace-only, single token") {
    // empty string -> one empty token, hash 0 -> all bitSums = -1 -> 0.
    assert(TextOps.simhash32("") == 0L)
    // whitespace-only -> ["", ""] (leading split + trailing keep) or ["",""]:
    // all hashes 0 -> simhash 0 either way.
    assert(TextOps.simhash32("  ") == 0L)
    // single token: simhash = low 32 bits of its rolling hash.
    val h = "abc".foldLeft(0L)((a, c) => (a * TextOps.CharMul + c.toInt) % Hashing.P)
    assert(TextOps.simhash32("abc") == (h & 0xFFFFFFFFL))
  }
}
