package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Cross-query invariants for the round-4 pipeline operators — properties
  * the DuckDB oracle cannot express (consistency BETWEEN queries and
  * determinism across runs).
  */
class PipelineQueriesSpec extends SparkSpec {

  test("d_sample_hash is deterministic and a subset of the corpus") {
    val a = Text.queries("d_sample_hash")(spark, sfDir).collect().map(_.getLong(0)).toSet
    val b = Text.queries("d_sample_hash")(spark, sfDir).collect().map(_.getLong(0)).toSet
    assert(a == b, "re-run must sample the identical set")
    val all = graft.Tables(spark, sfDir, "documents").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(a.subsetOf(all) && a.nonEmpty)
  }

  test("d_pack_chunks partitions every document exactly once per stream") {
    val chunks = Text.queries("d_pack_chunks")(spark, sfDir).collect()
    val nDocs = chunks.map(_.getAs[Long]("n_docs")).sum
    val total = graft.Tables(spark, sfDir, "documents").count()
    assert(nDocs == total, "every document lands in exactly one chunk")
    // chunk ids start at 0 and the packing is gap-free in token space:
    // chunk c exists for every c up to the stream's last chunk.
    chunks.groupBy(r => (r.getString(0), r.getString(1))).foreach { case (k, rs) =>
      val ids = rs.map(_.getAs[Long]("chunk_id")).sorted
      assert(ids.head == 0L, s"$k: first chunk is 0")
      assert(ids.distinct.length == ids.length, s"$k: chunk ids unique")
    }
  }

  test("d_shard_export shards partition the corpus; store is shard-laid-out") {
    val a = Text.queries("d_shard_export")(spark, sfDir).collect()
    val total = graft.Tables(spark, sfDir, "documents").count()
    assert(a.map(_.getAs[Long]("n_docs")).sum == total,
      "every document lands in exactly one shard")
    assert(a.map(_.getAs[Number]("shard").intValue()).distinct.length == a.length)
    // content-keyed assignment: a re-run shards identically.
    val b = Text.queries("d_shard_export")(spark, sfDir).collect()
    assert(a.map(r => (r.getAs[Number]("shard").intValue(), r.getAs[Long]("n_docs"))).toSet ==
      b.map(r => (r.getAs[Number]("shard").intValue(), r.getAs[Long]("n_docs"))).toSet)
    // the write really is partitioned by shard (a trainer prunes to its own).
    val dirs = new java.io.File(graft.Scratch.dir(spark, "shards"))
      .listFiles().filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(dirs.length == a.length, s"expected ${a.length} shard dirs")
  }

  test("d_curate output respects its own gates and agrees with d_quality") {
    val cur = Text.queries("d_curate")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getAs[Int]("n_tokens"), r.getAs[Double]("quality")))
      .toMap
    assert(cur.nonEmpty)
    cur.values.foreach { case (n, q) =>
      assert(q >= Text.CurateMinQuality && n >= Text.CurateMinTokens)
    }
    val qual = Text.queries("d_quality")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("quality")).toMap
    cur.foreach { case (id, (_, q)) =>
      assert(qual(id) == q, s"doc $id: curate quality $q != d_quality ${qual(id)}")
    }
  }

  test("d_top_terms ranks are 1..K with non-increasing counts per language") {
    val rows = Text.queries("d_top_terms")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("tf"), r.getAs[Int]("rk")))
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      val byRank = rs.sortBy(_._4)
      assert(byRank.map(_._4).toSeq == (1 to byRank.length),
        s"$lang: dense ranks 1..${byRank.length}")
      assert(byRank.length <= Text.TopTermsK)
      byRank.sliding(2).foreach {
        case Array(a, b) => assert(a._3 >= b._3, s"$lang: tf non-increasing")
        case _ =>
      }
    }
  }

  test("e_kmeans assigns every vector to one of K cells, deterministically") {
    val a = Embeddings.queries("e_kmeans")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("cell")).toMap
    val n = graft.Tables(spark, sfDir, "embeddings").count()
    assert(a.size == n, "one assignment per vector")
    assert(a.values.toSet.subsetOf((0 until Embeddings.KmK).toSet))
    val b = Embeddings.queries("e_kmeans")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("cell")).toMap
    assert(a == b, "Lloyd's rounds are deterministic")
  }

  test("e_pq encodes every vector with in-range per-subspace codes") {
    val a = Embeddings.queries("e_pq")(spark, sfDir).collect()
    val n = graft.Tables(spark, sfDir, "embeddings").count()
    assert(a.length == n, "one code word per vector")
    val codeCols = (0 until Embeddings.PqM).map(j => s"code$j")
    a.foreach { r =>
      codeCols.foreach { c =>
        val v = r.getAs[Number](c).intValue()
        assert(v >= 0 && v < Embeddings.KmK, s"$c out of range: $v")
      }
    }
    // the codebooks genuinely partition the data: each subspace uses
    // more than one centroid
    codeCols.foreach { c =>
      assert(a.map(_.getAs[Number](c).intValue()).distinct.length > 1, c)
    }
    val b = Embeddings.queries("e_pq")(spark, sfDir).collect()
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted),
      "Lloyd rounds are deterministic")
  }

  test("e_pq_search returns full per-query top-k and self-retrieves at rank 1") {
    val rows = Embeddings.queries("e_pq_search")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("rk")))
    val byQ = rows.groupBy(_._1)
    assert(byQ.size == Embeddings.NumQueries)
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_._3).sorted.sameElements(1 to Embeddings.TopK), s"q $q")
      // ADC distance of a vector to its own code is just its quantization
      // error — the query's own vector must win its ranking
      assert(rs.exists(t => t._2 == q && t._3 == 1), s"q $q self-retrieval")
    }
  }

  test("the served LSH pair table and exact-dedup groups unpin on " +
      "invalidateShared and refit from source to the same answer") {
    val sc = spark.sparkContext
    val pairs0 = Text.queries("d_lsh_pairs")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val groups0 = Text.queries("d_dedup_exact")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs0.nonEmpty && groups0.nonEmpty)
    val pinned0 = graft.operators.SessionPins.pinned(sc)
    Text.invalidateShared(spark, sfDir)
    assert(graft.operators.SessionPins.pinned(sc).size < pinned0.size,
      "invalidation must unpin the served text-side frames")
    assert(Text.queries("d_lsh_pairs")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      == pairs0) // REFIT from source — not a stale frame
    assert(Text.queries("d_dedup_exact")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == groups0)
  }

  test("d_split_leakage: exactly the cross-split subset of the verified " +
      "near-dup pairs, splits replayed from fingerprints") {
    val leaks = Text.queries("d_split_leakage")(spark, sfDir).collect()
    assert(leaks.nonEmpty, "fixture should contain cross-split near-dups")
    val pairs = Text.queries("d_lsh_pairs")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val split = graft.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val m = graft.text.TextOps.fingerprint(r.getString(1)) % 10
        r.getLong(0) -> (if (m < 8) "train" else if (m == 8) "val" else "test")
      }.toMap
    leaks.foreach { r =>
      val (a, b, sa, sb) = (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3))
      assert(pairs((a, b)), s"($a,$b) not a verified near-dup pair")
      assert(sa != sb && split(a) == sa && split(b) == sb, s"($a,$b) splits")
    }
    // completeness: every cross-split near-dup pair is reported
    val expected = pairs.count { case (a, b) => split(a) != split(b) }
    assert(leaks.length == expected)
  }

  test("d_weighted_sample: exact K per language, keys replayed, " +
      "length-biased, map-side group limit in the plan") {
    val df = Text.queries("d_weighted_sample")(spark, sfDir)
    val out = df.collect()
    val perLang = out.groupBy(_.getString(1))
    perLang.values.foreach(rows =>
      assert(rows.length == Text.WeightedSampleK))
    // keys replay independently: u^(1/w) from the fingerprint kernel
    val docs = graft.Tables(spark, sfDir, "documents")
      .selectExpr("doc_id", "text", "greatest(n_chars, 1) AS wt").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    out.foreach { r =>
      val (id, wt, skey) = (r.getLong(0), r.getLong(2), r.getDouble(3))
      val (text, w) = docs(id)
      assert(w == wt)
      val u = (graft.text.TextOps.fingerprint(text) + 1.0) /
        (graft.graph.Hashing.P + 1.0)
      val expect = BigDecimal(math.pow(u, 1.0 / w))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(skey == expect, s"doc $id key $skey vs $expect")
    }
    // the point of weighting: the sample is length-biased — sampled docs
    // average a larger weight than their language's corpus average.
    val corpusAvg = docs.values.map(_._2.toDouble).sum / docs.size
    val sampleAvg = out.map(_.getLong(2).toDouble).sum / out.length
    assert(sampleAvg > corpusAvg,
      s"sample avg wt $sampleAvg vs corpus $corpusAvg")
    // scale shape: the row_number cut must compile to WindowGroupLimit
    // (map-side per-group top-K), not a full window sort.
    assert(df.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  test("d_dsir_resample: K rows, no target docs, rank over the rounded " +
      "Gumbel key, importance bias, map-side group limit in the plan") {
    val df = Text.queries("d_dsir_resample")(spark, sfDir)
    val out = df.collect()
    assert(out.length == Text.DsirK)
    // schema: doc_id, source, lang, n_big, logw, gkey, rk
    out.foreach { r =>
      assert(r.getString(1) != Text.DsirTarget, s"target doc ${r.getLong(0)} sampled")
      assert(r.getLong(3) >= 1L) // every sampled doc has a bigram stream
    }
    val byRank = out.sortBy(_.getInt(6))
    assert(byRank.map(_.getInt(6)).toSeq == (1 to Text.DsirK))
    // ranks follow the rounded key desc with doc_id tie-break
    byRank.sliding(2).foreach { case Array(a, b) =>
      val (ka, kb) = (a.getDouble(5), b.getDouble(5))
      assert(ka > kb || (ka == kb && a.getLong(0) < b.getLong(0)))
    case _ => ()
    }
    // the point of importance weighting: the resample is biased toward
    // target-looking docs — its mean logw exceeds the raw-corpus mean
    // (Gumbel noise is zero-centered-ish and iid across docs, so the
    // selection bias survives it on this corpus; deterministic seed).
    val gum = out.map(r => r.getDouble(5) - r.getDouble(4))
    assert(gum.forall(g => !g.isNaN && !g.isInfinite))
    val sampleAvg = out.map(_.getDouble(4)).sum / out.length
    assert(sampleAvg > -0.2, s"sample mean logw $sampleAvg implausibly low")
    // determinism: a second run reproduces the same sample
    val again = Text.queries("d_dsir_resample")(spark, sfDir).collect()
      .map(_.getLong(0)).toSet
    assert(again == out.map(_.getLong(0)).toSet)
    // scale shape: the global top-K must not be a full sort — either the
    // partitionless-window group limit or (what Spark actually picks
    // here) TakeOrderedAndProject, the map-side partial top-K + bounded
    // driver merge.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit") ||
      plan.contains("TakeOrderedAndProject"))
  }

  test("codePointSyms splits by code point, not UTF-16 unit") {
    assert(Text.codePointSyms("abc").toSeq == Seq("a", "b", "c"))
    assert(Text.codePointSyms("").toSeq == Seq.empty)
    // astral-plane character (surrogate pair) stays one symbol — the
    // DuckDB string_split(word, '') unit.
    val emoji = new String(Character.toChars(0x1F600))
    assert(Text.codePointSyms(s"a${emoji}b").toSeq == Seq("a", emoji, "b"))
  }

  test("bpeApply: greedy non-overlapping merge semantics") {
    def ap(s: String, a: String, b: String) =
      Text.bpeApply(s.split("").filter(_.nonEmpty), a, b).toSeq
    assert(ap("aaa", "a", "a") == Seq("aa", "a"))
    assert(ap("aaaa", "a", "a") == Seq("aa", "aa"))
    assert(ap("abab", "a", "b") == Seq("ab", "ab"))
    assert(ap("xaby", "a", "b") == Seq("x", "ab", "y"))
    assert(ap("ab", "b", "a") == Seq("a", "b"))
    // merged symbols are single units afterward: "ab"+"a" ≠ "a"+"ba"
    assert(Text.bpeApply(Array("ab", "a", "b"), "a", "b").toSeq ==
      Seq("ab", "ab"))
  }

  test("d_bpe_vocab reproduces an independent in-memory BPE trainer") {
    val rows = Text.queries("d_bpe_vocab")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1 to Text.BpeRounds))
    // merging only removes or re-labels pair occurrences, so the best
    // count cannot grow across rounds
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a._4 >= b._4, s"$a then $b")
      case _ => ()
    }
    // ground truth: plain-Scala BPE over the collected word dictionary
    var dict: Map[Seq[String], Long] = graft.Tables(spark, sfDir, "documents")
      .select(org.apache.spark.sql.functions.col("text")).collect()
      .flatMap(_.getString(0).toLowerCase(java.util.Locale.ROOT)
        .split("\\s+", -1)).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
      .map { case (w, f) => w.split("").filter(_.nonEmpty).toSeq -> f }
    for ((rk, p1, p2, cnt) <- rows) {
      val counts = collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- dict; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      val (bp, bc) = counts.toSeq
        .sortBy { case ((a, b), c) => (-c, a, b) }.head
      assert((bp._1, bp._2, bc) == ((p1, p2, cnt)), s"round $rk")
      dict = dict.groupBy { case (syms, _) =>
        Text.bpeApply(syms.toArray, bp._1, bp._2).toSeq
      }.view.mapValues(_.values.sum).toMap
    }
  }

  test("d_ngram_diversity equals a brute-force per-source replay") {
    val rows = Text.queries("d_ngram_diversity")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(rows.nonEmpty)
    val docs = graft.Tables(spark, sfDir, "documents")
      .select(org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)
        .toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
        .filter(_.nonEmpty).toSeq))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = (for {
      (src, ds) <- docs.groupBy(_._1)
      n <- 1 to 3
    } yield {
      val grams = ds.flatMap(_._2.sliding(n).filter(_.length == n).toSeq)
      (src, n) -> ((grams.length.toLong, grams.distinct.length.toLong,
        r6(grams.distinct.length.toDouble / grams.length)))
    }).toMap
    assert(rows == want)
    // structural sanity on any natural-ish corpus: diversity grows in n —
    // non-strictly, because a small or fully-distinct source saturates a
    // ratio at 1.0 and consecutive ratios legitimately tie there.
    rows.keys.map(_._1).foreach { src =>
      assert(rows((src, 1))._3 <= rows((src, 2))._3 &&
        rows((src, 2))._3 <= rows((src, 3))._3)
      assert(rows((src, 1))._3 < rows((src, 2))._3 ||
        rows((src, 2))._3 == 1.0)
      assert(rows((src, 2))._3 < rows((src, 3))._3 ||
        rows((src, 3))._3 == 1.0)
    }
  }

  test("gopherRepCounts: hand-computed repetition counts, incl. the " +
      "dup-5-gram signal the demo corpus never trips") {
    val T = graft.text.TextOps
    // "a b c d e a b c d e": tot=10 one-char words; (a,b) wins the
    // 2-gram tie lexically at cnt 2 → top2 = 2·(1+1); the 5-gram
    // (a,b,c,d,e) occurs twice → dup5 = 2·5.
    assert(T.gopherRepCounts("a b c d e a b c d e") == ((10L, 4L, 10L)))
    // no repeats: top-2-gram falls to the lexically-first pair at cnt 1
    // ("five six" → 1·(4+3)), dup signal zero
    assert(T.gopherRepCounts("one two three four five six") ==
      ((22L, 7L, 0L)))
    // tie-break is load-bearing: "bb cc" (cnt 1) vs "a a" (cnt 2)
    assert(T.gopherRepCounts("a a a bb cc") == ((7L, 2L * 2L, 0L)))
    // short/empty docs
    assert(T.gopherRepCounts("word") == ((4L, 0L, 0L)))
    assert(T.gopherRepCounts("") == ((0L, 0L, 0L)))
  }

  test("d_gopher_rep: fractions replay from the kernel, flag matches the " +
      "thresholds on rounded values") {
    val rows = Text.queries("d_gopher_rep")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getInt(3)))
    assert(rows.nonEmpty)
    val docs = graft.Tables(spark, sfDir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == docs.size)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { case (id, f2, f5, fl) =>
      val (tot, top2, dup5) = graft.text.TextOps.gopherRepCounts(docs(id))
      val (w2, w5) =
        (if (tot == 0) 0.0 else r6(top2.toDouble / tot),
          if (tot == 0) 0.0 else r6(dup5.toDouble / tot))
      assert((f2, f5) == ((w2, w5)), s"doc $id")
      assert(fl == (if (f2 > Text.GopherTop2Max || f5 > Text.GopherDup5Max) 1
        else 0), s"doc $id flag")
      assert(f2 >= 0 && f2 <= 1 && f5 >= 0 && f5 <= 1)
    }
    // the corpus actually exercises the flag
    assert(rows.exists(_._4 == 1) && rows.exists(_._4 == 0))
  }

  test("production-path BPE: the driver-local merge loop equals the " +
      "distributed per-round path and affords a 200-merge schedule") {
    val demo = Text.queries("d_bpe_vocab")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    // same stage-1 fold, merge loop on the collected dictionary: merges
    // identical to the distributed rounds, tie-breaks included
    assert(Text.bpeTrainLocal(spark, sfDir, Text.BpeRounds) == demo)
    // the production round count the per-round distributed loop cannot
    // afford (200 sequential Spark jobs): the local loop is a prefix-
    // stable greedy, so the first BpeRounds merges must coincide
    val long = Text.bpeTrainLocal(spark, sfDir, 200)
    assert(long.take(Text.BpeRounds) == demo)
    assert(long.length > Text.BpeRounds)
    // greedy invariant: the picked pair count never increases round over
    // round (a post-merge pair's count is bounded by the merged pair's)
    long.sliding(2).foreach {
      case Seq(x, y) => assert(y._4 <= x._4, s"$x then $y")
      case _ =>
    }
    // deterministic end to end
    assert(Text.bpeTrainLocal(spark, sfDir, 200) == long)
  }

  test("d_bpe_encode equals an independent in-memory train-then-apply") {
    val df = Text.queries("d_bpe_encode")(spark, sfDir)
    // scale shape: the word→symbol-count dictionary joins as a
    // broadcast; a shuffled join here would re-shuffle the corpus on a
    // string key.
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    val rows = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows.nonEmpty)
    // in-memory trainer: same loop as the d_bpe_vocab ground truth
    val docs = graft.Tables(spark, sfDir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")).collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase(java.util.Locale.ROOT)
          .split("\\s+", -1).filter(_.nonEmpty).toSeq)
    var dict: Map[Seq[String], Long] = docs.flatMap(_._2)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
      .map { case (w, f) => w.split("").filter(_.nonEmpty).toSeq -> f }
    val merges = Seq.newBuilder[(String, String)]
    for (_ <- 1 to Text.BpeRounds) {
      val counts = collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- dict; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      val (bp, _) = counts.toSeq
        .sortBy { case ((a, b), c) => (-c, a, b) }.head
      merges += bp
      dict = dict.groupBy { case (syms, _) =>
        Text.bpeApply(syms.toArray, bp._1, bp._2).toSeq
      }.view.mapValues(_.values.sum).toMap
    }
    // apply: per word the merge cascade, per doc the (n_words, Σ syms)
    val ms = merges.result()
    val enc = collection.mutable.Map.empty[String, Long]
    def nSyms(w: String): Long = enc.getOrElseUpdate(w, {
      var syms = w.split("").filter(_.nonEmpty)
      for ((a, b) <- ms) syms = Text.bpeApply(syms, a, b)
      syms.length.toLong
    })
    val want = docs.collect { case (id, ws) if ws.nonEmpty =>
      id -> ((ws.length.toLong, ws.map(nSyms).sum))
    }.toMap
    assert(rows == want)
  }

  test("e_hard_negatives: different-label top-k per query, under the dup cap") {
    val rows = graft.queries.Embeddings.queries("e_hard_negatives")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3),
        r.getInt(4)))
    val labels = graft.Tables(spark, sfDir, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.map(_._1).distinct.length ==
      graft.queries.Embeddings.NumQueries)
    rows.foreach { case (q, v, lab, cos, rk) =>
      assert(labels(v) == lab && lab != labels(q), s"q=$q v=$v")
      assert(cos < graft.queries.Embeddings.HnDupMax)
      assert(rk >= 1 && rk <= graft.queries.Embeddings.HnK)
      assert(v != q)
    }
    // within each query the ranked list is non-increasing in cosine
    rows.groupBy(_._1).values.foreach { g =>
      g.sortBy(_._5).sliding(2).foreach {
        case Array(a, b) => assert(a._4 >= b._4)
        case _ => ()
      }
    }
  }

  test("d_ccnet_buckets: scores match d_bigram_lm, buckets are " +
      "score-ordered and all three are inhabited") {
    val T = graft.queries.Text
    val df = T.queries("d_ccnet_buckets")(spark, sfDir)
    // scale shape: the sample is a bounded TakeOrderedAndProject and the
    // thresholds join back as a broadcast 1-row nested loop — no global
    // sort of per-doc scores anywhere.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject") &&
      plan.contains("BroadcastNestedLoopJoin"))
    val rows = df.collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(rows.nonEmpty)
    // the labeling pass must not drift from the scoring row it embeds
    val lm = T.queries("d_bigram_lm")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    rows.foreach { case (id, s, _) => assert(lm(id) == s, s"doc $id") }
    assert(rows.map(_._1).toSet == lm.keySet)
    // threshold semantics: every head score is >= every middle score,
    // every middle >= every tail (buckets are half-open score intervals)
    val byB = rows.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    assert(byB.keySet == Set("head", "middle", "tail"))
    assert(byB("head").min >= byB("middle").max)
    assert(byB("middle").min > byB("tail").max)
  }

  test("e_cluster_balance caps every cell, keeps small cells whole, stays " +
      "consistent with the kmeans assignment") {
    val E = graft.queries.Embeddings
    val df = E.queries("e_cluster_balance")(spark, sfDir)
    val rows = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    val cells = E.queries("e_kmeans")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cellSizes = cells.groupBy(_._2).view.mapValues(_.size).toMap
    rows.foreach { case (v, c, _, rk) =>
      assert(cells(v) == c, s"vec $v cell drifted")
      assert(rk >= 1 && rk <= E.CbPerCell)
    }
    rows.groupBy(_._2).foreach { case (c, g) =>
      assert(g.length == math.min(E.CbPerCell, cellSizes(c)),
        s"cell $c kept ${g.length} of ${cellSizes(c)}")
    }
    // the cap binds somewhere on this corpus (otherwise the row tests
    // nothing) — and the per-cell cut is a map-side group limit.
    assert(cellSizes.values.exists(_ > E.CbPerCell))
    assert(df.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  test("d_span_dups equals the brute-force rolling-span duplicate report") {
    val df = Text.queries("d_span_dups")(spark, sfDir)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .sortBy(_._4)
    assert(got.length == Text.SpanTopN)
    // scale shape: the global top-N cut must stay map-side-bounded —
    // either InferWindowGroupLimit fires on the partition-less
    // row_number window (what Spark picks here) or the plan is a
    // TakeOrderedAndProject; a plain global WindowExec would funnel
    // every duplicated-span aggregate row through one partition.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit") ||
      plan.contains("TakeOrderedAndProject"), plan.take(2000))
    // brute force over the collected corpus with the same hash fold
    val spans = collection.mutable.Map.empty[Long, (Set[Long], Long)]
    graft.Tables(spark, sfDir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")).collect()
      .foreach { r =>
        val (id, t) = (r.getLong(0), r.getString(1))
        val hs = t.toLowerCase(java.util.Locale.ROOT)
          .split("\\s+", -1).map(graft.text.TextOps.tokenHash)
        for (i <- 0 to hs.length - Text.SpanW) {
          var x = 0L
          for (j <- i until i + Text.SpanW)
            x = (x * graft.graph.Hashing.TokMul + hs(j)) % graft.graph.Hashing.P
          val (ds, c) = spans.getOrElse(x, (Set.empty[Long], 0L))
          spans(x) = (ds + id, c + 1)
        }
      }
    val want = spans.toSeq
      .map { case (sh, (ds, c)) => (sh, ds.size.toLong, c) }
      .filter(_._2 > 1)
      .sortBy { case (sh, d, c) => (-c, -d, sh) }
      .take(Text.SpanTopN).zipWithIndex
      .map { case ((sh, d, c), i) => (sh, d, c, i + 1) }
    assert(got.toSeq == want)
  }

  test("d_decontam_frac agrees with d_decontam's hit counts and bounds") {
    val hits = Text.queries("d_decontam")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val frac = Text.queries("d_decontam_frac")(spark, sfDir).collect()
    assert(frac.nonEmpty)
    frac.foreach { r =>
      val (id, nSh, nHits, f, flag) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4))
      // the fractional row's hit count IS d_decontam's (absent = 0)
      assert(nHits == hits.getOrElse(id, 0L), s"doc $id")
      assert(nHits <= nSh && f >= 0.0 && f <= 1.0)
      assert((flag == 1) == (f >= Text.DecontamFracThreshold), s"doc $id flag")
    }
    // every doc d_decontam scored appears in the fractional table
    assert(hits.keySet.subsetOf(frac.map(_.getLong(0)).toSet))
  }

  test("d_passage_dedup keeps each distinct passage exactly once") {
    val rows = Text.queries("d_passage_dedup")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, nPass, nDup, nKept) =>
      assert(nPass > 0 && nDup <= nPass && nKept <= nPass, s"doc $id")
      // non-duplicated passages are always kept
      assert(nKept >= nPass - nDup, s"doc $id")
    }
    // global invariant: Σ n_kept = number of DISTINCT passage hashes
    val docs = graft.Tables(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
    val distinct = docs.flatMap(r =>
      graft.text.TextOps.passageHashes(r.getString(1), Text.PassageW)).toSet
    assert(rows.map(_._4).sum == distinct.size)
    // only documents with at least one full window appear
    val expectDocs = docs.filter(r =>
      graft.text.TextOps.passageHashes(r.getString(1), Text.PassageW).nonEmpty)
    assert(rows.length == expectDocs.length)
  }

  test("d_lsh_verify covers exactly the LSH candidate set with sane bounds") {
    val ver = Text.queries("d_lsh_verify")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Double]("jac"), r.getAs[Int]("edit_dist"), r.getAs[Double]("sim")))
      .toMap
    val pairs = Text.queries("d_lsh_pairs")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ver.keySet == pairs)
    ver.foreach { case (k, (jac, dist, sim)) =>
      assert(jac >= 0.3 && dist >= 0 && sim <= 1.0, s"pair $k")
      // near-dup candidates at this threshold are genuinely close in
      // edit space — normalized similarity stays high
      assert(sim >= 0.5, s"pair $k: sim $sim")
    }
  }

  test("d_bigram_lm scores are log-probs consistent with the token stream") {
    val lm = Text.queries("d_bigram_lm")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_bigrams"),
        r.getAs[Double]("avg_logp"))).toMap
    assert(lm.nonEmpty)
    // smoothed conditionals are strict probabilities: (c12+1)/(c1+V) < 1
    // whenever V > observed types, so every mean log is negative.
    lm.values.foreach { case (n, s) => assert(n > 0 && s < 0.0) }
    // bigram count is exactly n_ws - 1 for every multi-token document
    // (same tokenizer as d_tokens), and docs with < 2 tokens are absent.
    val ws = Text.queries("d_tokens")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("n_ws")).toMap
    ws.foreach { case (id, n) =>
      if (n >= 2) assert(lm(id)._1 == n - 1L, s"doc $id")
      else assert(!lm.contains(id))
    }
  }
}
