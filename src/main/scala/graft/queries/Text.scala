package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Scratch, Tables}
import graft.graph.Hashing
import graft.graph.Hashing.{P, TokMul}
import graft.text.TextOps
import graft.text.TextOps.{K, Bands, RowsPerBand}

/** Training-data pipeline operators over the `documents` table (beyond-
  * reference roadmap, SURVEY §7.5): token counting, fingerprinting,
  * quality scoring, language ID, exact dedup, MinHash+LSH near-dup,
  * SimHash. Spark expression and DuckDB oracle are generated from the
  * same [[TextOps]] constants, so integer hash outputs match exactly;
  * ratio outputs are rounded identically on both sides.
  */
object Text {

  private def stop(qs: String) =
    TextOps.Stopwords.map(w => s"'$w'").mkString(", ")

  /** DuckDB CTE chain producing `scored(doc_id, n_bigrams, avg_logp)` —
    * the oracle twin of [[bigramScore]], shared by the `d_bigram_lm` and
    * `d_ccnet_buckets` oracles so the LM-score spelling cannot drift
    * between them.
    */
  private def bigramScoredCte: String =
    s"""WITH tk AS (SELECT doc_id, ${TextOps.duck.tokens("text")} AS toks
       |  FROM documents),
       |big AS MATERIALIZED (SELECT doc_id, toks[CAST(u.i AS INT) + 1] AS w1,
       |    toks[CAST(u.i AS INT) + 2] AS w2
       |  FROM tk, UNNEST(range(0, len(toks) - 1)) AS u(i)),
       |c12 AS MATERIALIZED (SELECT w1, w2, count(*) AS c12 FROM big
       |  GROUP BY 1, 2),
       |c1 AS MATERIALIZED (SELECT w1, count(*) AS c1 FROM big GROUP BY 1),
       |v_t AS (SELECT count(*) AS v FROM c1),
       |scored AS MATERIALIZED (SELECT doc_id, count(*) AS n_bigrams,
       |  round(avg(ln((c12 + 1.0) / (c1 + v))), 6) AS avg_logp
       |  FROM big JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v_t
       |  GROUP BY doc_id)""".stripMargin

  /** `d_winnow_pairs` body over any `(doc_id, text)` frame — extracted so
    * the spec can plant known shared spans. Shape (the
    * `d_lsh_pairs` → `d_lsh_verify` discipline in one row):
    * 1. distinct `(doc_id, fp)` winnowing fingerprints (zero-shuffle
    *    typed kernel + one distinct);
    * 2. CANDIDATES from a self-equi-join on fp, restricted to
    *    fingerprints with document frequency in [2, WinnowMaxDf] — the
    *    MOSS over-common-fingerprint drop, which is also what bounds
    *    the join (≤ C(MaxDf,2) pairs per fp, never all-pairs) — keeping
    *    pairs sharing ≥ WinnowMinShared rare fps;
    * 3. VERIFY: exact shared-fingerprint count over the FULL uncapped
    *    sets (two 8-byte-key joins) + Jaccard = n/(na+nb−n), the one
    *    float division, rounded at 6 dp.
    * Every join key is an 8-byte integer; the fingerprint table is
    * checkpointed once and feeds the df filter, both candidate sides,
    * both verify sides and the size table.
    */
  private[graft] def winnowPairs(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val fps = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        TextOps.winnow(t).map { case (_, f) => (id, f) }
      }
      .toDF("doc_id", "fp").distinct()
      .localCheckpoint(true)
    val rareFp = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("dfc"))
      .where(col("dfc").between(2, TextOps.WinnowMaxDf))
      .select(col("fp"))
    val rare = fps.join(rareFp, Seq("fp"), "left_semi")
    val cand = rare.as("x").join(rare.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_rare"))
      .where(col("shared_rare") >= TextOps.WinnowMinShared)
      .select(col("doc_a"), col("doc_b"))
    val sizes = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    cand
      .join(fps.select(col("doc_id").as("doc_a"), col("fp")), Seq("doc_a"))
      .join(fps.select(col("doc_id").as("doc_b"), col("fp")),
        Seq("doc_b", "fp"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("nf").as("na")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("nf").as("nb")),
        Seq("doc_b"))
      .selectExpr("doc_a", "doc_b", "n_shared",
        "round(CAST(n_shared AS DOUBLE) / " +
          "CAST(na + nb - n_shared AS DOUBLE), 6) AS jacc")
  }

  /** `d_len_gini` body over any `(n_chars, doc_id)` frame — extracted so
    * the spec can pin it against the rank-window formulation. Exact Gini
    * via a range-partitioned prefix-sum fold: the sort key
    * `(n_chars, doc_id)` is UNIQUE (doc_id is a key), so global ranks
    * are well-defined wherever the range boundaries fall. Each range
    * partition p folds its sorted rows once into exact BIGINT partials
    * `(n_p, Σx, Σ j·x)` with LOCAL ranks j; the global Σ i·x
    * re-assembles as Σ_p (off_p·Σx_p + Σj·x_p) where off_p = Σ_{q<p} n_q
    * is the row count of earlier ranges — computed by a triangular
    * broadcast join over the ≤P partial rows (P = shuffle partitions),
    * not a window. The plan therefore contains NO window node at all
    * (spec-asserted): where the old `row_number()` formulation moved the
    * whole corpus through ONE task to assign ranks, this sorts n/P rows
    * per task and ships 4 longs per partition — the shape that survives
    * a 100 TB corpus. Same three exact BIGINT moments, bit-identical G;
    * the local j·x products use long arithmetic (the old int
    * `i * n_chars` product would overflow past ~2³¹ total rank·len).
    */
  private[graft] def lenGini(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val parts = s.sessionState.conf.numShufflePartitions
    val partials = docs
      .select(col("n_chars").cast("long"), col("doc_id").cast("long"))
      .repartitionByRange(parts, col("n_chars"), col("doc_id"))
      .sortWithinPartitions(col("n_chars"), col("doc_id"))
      .as[(Long, Long)]
      .rdd.mapPartitionsWithIndex { (pid, it) =>
        var n = 0L; var sx = 0L; var sjx = 0L
        it.foreach { case (x, _) => n += 1; sx += x; sjx += n * x }
        Iterator((pid, n, sx, sjx))
      }.toDF("pid", "n", "sx", "sjx")
      .localCheckpoint(true) // both sides of the triangular offset join
    partials.as("a")
      .join(broadcast(partials.as("b")), col("b.pid") < col("a.pid"),
        "left")
      .groupBy(col("a.pid").as("pid"), col("a.n").as("n"),
        col("a.sx").as("sx"), col("a.sjx").as("sjx"))
      .agg(coalesce(sum(col("b.n")), lit(0L)).as("off"))
      .agg(sum(col("n")).as("n_docs"), sum(col("sx")).as("s_x"),
        sum(expr("off * sx + sjx")).as("s_ix"))
      .selectExpr("n_docs", "s_x", "s_ix",
        "CAST(2 * s_ix - (n_docs + 1) * s_x AS DOUBLE) / " +
          "CAST(n_docs * s_x AS DOUBLE) AS gini")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token counting: whitespace tokens + BPE-ish regex pieces.
    "d_tokens" -> ((s, dir) => {
      Tables(s, dir, "documents").selectExpr(
        "doc_id",
        s"size(${TextOps.spark.tokens("text")}) AS n_ws",
        // Spark SQL string literals eat lone backslashes; DuckDB's do not.
        s"size(regexp_extract_all(lower(text), '${TextOps.BpeRegex.replace("\\", "\\\\")}', 0)) AS n_bpe")
    }),

    // Document fingerprint: rolling hash over token hashes — typed
    // per-partition kernel ([[TextOps.fingerprint]]), one narrow pass;
    // identical integer output to the expression chain it replaced (the
    // expression rendering stays in [[TextOps.spark]] for the oracle).
    "d_fingerprint" -> ((s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, t) => (id, TextOps.fingerprint(t)) })
        .toDF("doc_id", "fp")
    }),

    // Winnowing fingerprints (MOSS): position-aware document signatures
    // with the coverage guarantee MinHash lacks — any shared run of
    // WinnowW+ShingleW−1 tokens shares a fingerprint, which localizes
    // WHERE two documents overlap, not just that they do. Typed
    // per-partition kernel (see [[TextOps.winnow]]) — zero shuffle, pure
    // integer math; downstream span-dedup joins would bucket on the
    // 8-byte fp exactly like d_lsh_pairs buckets on bands.
    "d_winnow" -> ((s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, t) =>
          TextOps.winnow(t).map { case (p, f) => (id, p.toLong, f) }
        }
        .toDF("doc_id", "pos", "fp")
    }),

    // MinHash estimator quality — per LSH candidate pair, the
    // signature-agreement Jaccard estimate êJ = |{j : mⱼ(a) = mⱼ(b)}|/K
    // next to the exact shingle Jaccard, with the signed error: the
    // calibration readout that justifies (or indicts) a chosen K before
    // a corpus-scale dedup run trusts the sketch. The K-long signatures
    // ship instead of the shingle sets (constant bytes per doc — at
    // 100 TB that is the entire point of MinHash); the exact side rides
    // the already-verified d_lsh_pairs computation. Integer agreement
    // count, two rounded divisions/subtractions spelled identically in
    // the oracle.
    "d_lsh_est_j" -> ((s, dir) => {
      import s.implicits._
      val sig = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, t) =>
          val m = TextOps.minhashSig(TextOps.shingles(t))
          if (m.isEmpty) None else Some((id, m))
        }.toDF("doc_id", "sig")
        .localCheckpoint(true) // both pair sides
      lshPairsDf(s, dir)
        .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sa")),
          Seq("doc_a"))
        .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sb")),
          Seq("doc_b"))
        .selectExpr("doc_a", "doc_b", "jac",
          "size(filter(zip_with(sa, sb, (x, y) -> x = y), b -> b)) AS n_eq")
        .selectExpr("doc_a", "doc_b", "jac", "n_eq",
          s"round(CAST(n_eq AS DOUBLE) / ${TextOps.K}, 6) AS est_j")
        .selectExpr("doc_a", "doc_b", "jac", "n_eq", "est_j",
          "round(est_j - jac, 6) AS err")
    }),

    // Cross-doc span overlap from winnowing fingerprints — the actual
    // MOSS deliverable the d_winnow signatures exist for: candidate
    // pairs from a bucketed equi-join on the 8-byte fp (document-
    // frequency-capped, so a boilerplate fingerprint can never explode
    // the self-join), exact-verified over the FULL uncapped sets. The
    // winnowing coverage guarantee makes the recall claim concrete: any
    // shared run of ≥ WinnowW+ShingleW−1 tokens shares a fingerprint,
    // so real span plagiarism cannot be missed by the bucket stage
    // (spec-pinned on planted spans in [[WinnowSpec]]).
    "d_winnow_pairs" -> ((s, dir) =>
      winnowPairs(Tables(s, dir, "documents"))),

    // Content-defined chunking (the CDC half of a chunk-level dedup
    // store): boundaries fall where a token HASH ≡ 0 mod CdcMod, so an
    // edit perturbs only its own chunk — fixed-width windows would
    // reshuffle every downstream chunk. Typed one-pass kernel
    // ([[TextOps.cdcChunks]]), zero shuffle — at corpus scale this is a
    // pure map over the document scan emitting ~n_toks/64 rows per doc.
    "d_cdc_chunks" -> ((s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, t) =>
          TextOps.cdcChunks(t).map { case (ci, st, nt, h) =>
            (id, ci, st, nt, h)
          }
        }
        .toDF("doc_id", "chunk_idx", "start_tok", "n_toks", "chash")
    }),

    // Chunk-level dedup over the CDC chunks: the cross-doc store view —
    // one row per duplicated chunk content (same ordered token-hash
    // fold), with copy and distinct-doc counts and the byte savings a
    // chunk store would reclaim. ONE map-side-combined shuffle on the
    // 8-byte chunk hash; n_toks rides min() (all copies agree — same
    // content ⇒ same length).
    "d_cdc_dedup" -> ((s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, t) =>
          TextOps.cdcChunks(t).map { case (_, _, nt, h) => (id, nt, h) }
        }
        .toDF("doc_id", "n_toks", "chash")
        .groupBy(col("chash"))
        .agg(count(lit(1)).as("n_copies"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(col("n_toks")).as("n_toks"))
        .where(col("n_copies") > 1)
        .selectExpr("chash", "n_copies", "n_docs", "n_toks",
          "(n_copies - 1) * n_toks AS saved_toks")
    }),

    // Token-distribution Shannon entropy per document — the
    // repetitiveness signal LM curation cuts on (a low-entropy doc is
    // boilerplate/template spam even when d_rep_ratio's adjacent-token
    // test misses it), plus the vocab-normalized efficiency. Typed
    // per-partition kernel like d_fingerprint — ZERO shuffle, one narrow
    // projection in, four scalars out; at 100 TB this is a pure map over
    // the document scan, no exploded token rows ever cross an exchange
    // (the oracle's UNNEST is DuckDB-side replay only). Float discipline
    // in [[TextOps.tokenEntropy]]'s scaladoc.
    "d_tok_entropy" -> ((s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          val (n, v, h, hn) = TextOps.tokenEntropy(t)
          (id, n, v, h, hn)
        })
        .toDF("doc_id", "n_toks", "n_vocab", "entropy_bits", "norm_entropy")
    }),

    // Quality scoring: length/stopword/punctuation components + composite.
    // Counts come from the typed one-pass kernel ([[TextOps.curateCounts]]
    // — the interpreted stopword-filter HOF this replaces costs ~70 µs/doc,
    // ~10× the kernel); the ratio arithmetic stays in Catalyst with the
    // exact expression shapes of the SQL oracle (kernel≡SQL is
    // oracle-proven by d_curate).
    "d_quality" -> ((s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          val cc = TextOps.curateCounts(t)
          (id, cc.nTok, cc.stop, cc.chars, cc.punct)
        })
        .toDF("doc_id", "n_tokens", "stop_cnt", "n_chars", "punct_cnt")
        .selectExpr(
          "doc_id", "n_tokens",
          "round(CAST(stop_cnt AS DOUBLE) / n_tokens, 6) AS stop_ratio",
          "round(CAST(punct_cnt AS DOUBLE) / CAST(n_chars AS DOUBLE), 6) AS punct_ratio",
          "round(CAST(n_chars AS DOUBLE) / n_tokens, 6) AS avg_tok_len")
        .selectExpr(
          "doc_id", "n_tokens", "stop_ratio", "punct_ratio", "avg_tok_len",
          "round(least(1.0, n_tokens / 100.0) * (1.0 - punct_ratio) * (0.5 + stop_ratio), 6) AS quality")
    }),

    // Language ID: marker-word scores per language, deterministic argmax.
    "d_langid" -> ((s, dir) => {
      val scoreCols = TextOps.LangMarkers.map { case (lang, ws) =>
        val arr = ws.map(w => s"'$w'").mkString(", ")
        s"size(filter(toks, t -> array_contains(array($arr), t))) AS s_$lang"
      }
      val langs = TextOps.LangMarkers.map(_._1)
      val caseChain = langs.zipWithIndex.map { case (l, i) =>
        val geAll = langs.filterNot(_ == l).map(o => s"s_$l >= s_$o").mkString(" AND ")
        if (i < langs.length - 1) s"WHEN $geAll THEN '$l'" else s"ELSE '$l'"
      }.mkString("CASE ", " ", " END")
      Tables(s, dir, "documents")
        .selectExpr("doc_id", s"${TextOps.spark.tokens("text")} AS toks")
        .selectExpr(Seq("doc_id") ++ scoreCols: _*)
        .selectExpr("doc_id", s"$caseChain AS lang_pred")
    }),

    // Exact dedup: group identical texts, keep the lowest doc_id
    // (hash-first plan — see [[dedupGroupsDf]]).
    "d_dedup_exact" -> ((s, dir) => dedupGroupsDf(s, dir)),

    // Exact-dedup SURVIVOR extraction: the filtered corpus a training run
    // actually consumes — one representative document (lowest doc_id) per
    // distinct text, with its metadata. The keeper-id set comes from the
    // same hash-first plan as `d_dedup_exact`; survivors re-attach via a
    // left-semi join on doc_id (ids only — text never re-shuffles).
    "d_dedup_survivors" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .join(dedupGroupsDf(s, dir).select(col("keep_id").as("doc_id")),
          Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),

    // PII detection + redaction: count pattern hits per class, then
    // replace them with typed placeholders — the scrub pass every public
    // training corpus runs before anything else. Narrow per-row
    // projection (regexp only — no shuffle, no UDF); patterns are applied
    // in a fixed order (email → ssn → phone → ip) so overlapping classes
    // resolve deterministically on both engines. The synthetic corpus
    // contains no PII — the oracle validates the no-op identity and the
    // zero counts; PiiSpec proves the redaction on injected PII.
    "d_pii_redact" -> ((s, dir) => piiRedact(Tables(s, dir, "documents"))),

    // Incremental-snapshot dedup: a NEW ingestion batch (doc_id % 3 == 0
    // here; in production the day's crawl) filtered against the EXISTING
    // corpus by content — only documents whose text does not already
    // appear survive. Same hash-first discipline as [[dedupGroups]]: the
    // cross-snapshot collision check shuffles 8-byte xxhash64 keys only
    // (two left-semi joins on `fp`), and full text re-shuffles solely for
    // the fp values present on BOTH sides, where equality is verified
    // exactly. At 100 TB the existing corpus contributes nothing but its
    // fingerprint column to the comparison.
    "d_incr_dedup" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val fresh = docs.where(col("doc_id") % 3 === 0)
      val known = docs.where(col("doc_id") % 3 =!= 0)
      val freshH = fresh.select(col("doc_id"), col("text"),
        xxhash64(col("text")).as("fp"))
      val knownH = known.select(xxhash64(col("text")).as("fp"),
        col("text").as("known_text"))
      val candFps = freshH.select(col("fp"))
        .join(knownH.select(col("fp")), Seq("fp"), "left_semi").distinct()
      val dupIds = freshH.join(candFps, Seq("fp"), "left_semi")
        .join(knownH.join(candFps, Seq("fp"), "left_semi"), Seq("fp"))
        .where(col("text") === col("known_text"))
        .select(col("doc_id")).distinct()
      fresh.join(dupIds, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),

    // Deterministic hash sampling: a reproducible SamplePct% subset keyed
    // by the document FINGERPRINT (content-keyed, so re-ingesting the
    // same corpus under different doc_ids samples the same documents).
    // Narrow per-row predicate — no shuffle, no RNG state; the complement
    // split (>= SamplePct) is the held-out set by construction.
    "d_sample_hash" -> ((s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
        .as[(Long, String, String)]
        .mapPartitions(_.collect {
          case (id, lang, t)
              if (((TextOps.fingerprint(t) % 100) + 100) % 100) < SamplePct =>
            (id, lang)
        })
        .toDF("doc_id", "lang")
    }),

    // Concat-and-chunk sequence packing: documents are concatenated in
    // doc_id order within each (lang, source) stream and sliced into
    // ChunkTokens-sized training sequences; each document is assigned the
    // chunk its first token lands in. One window shuffle partitioned by
    // the stream key (the packing order is per-stream sequential BY
    // DEFINITION — at 100 TB the streams, not the documents, are the
    // parallelism axis), then a map-side-combinable aggregate per chunk.
    "d_pack_chunks" -> ((s, dir) => {
      val stream = Window.partitionBy(col("lang"), col("source"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "documents")
        .selectExpr("doc_id", "lang", "source",
          s"size(${TextOps.spark.tokens("text")}) AS n_tok")
        .withColumn("cum", sum(col("n_tok")).over(stream))
        .withColumn("chunk_id",
          floor((col("cum") - col("n_tok")) / ChunkTokens))
        .groupBy(col("lang"), col("source"), col("chunk_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"))
    }),

    // Training-shard export — the pipeline's last mile: assign every
    // document to one of ExportShards shards by CONTENT fingerprint
    // (re-ingesting the same corpus shards identically; adjacent doc_ids
    // scatter, so shards are balanced without a shuffle), write the
    // corpus as a shard-partitioned parquet store, and read the store
    // back for per-shard manifest stats. The write is `partitionBy` on
    // the shard column — the same partition-pruned layout as the PPR
    // stores (S7/S8), so a trainer reading shard k touches k's files
    // only. The stats read-back comes from the STORE, not the input:
    // the driver row verifies the round trip.
    "d_shard_export" -> ((s, dir) => {
      val out = Scratch.dir(s, "shards")
      val assigned = Tables(s, dir, "documents")
        .selectExpr("doc_id", "lang",
          s"size(${TextOps.spark.tokens("text")}) AS n_tok",
          s"((${TextOps.spark.fingerprint("text")} % $ExportShards) + $ExportShards) % $ExportShards AS shard")
      assigned.write.mode("overwrite").partitionBy("shard").parquet(out)
      // the partition column is re-inferred as int32 on read-back; restore
      // the BIGINT the oracle (and the pre-write schema) carries
      s.read.parquet(out)
        .withColumn("shard", col("shard").cast("long"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"))
    }),

    // MinHash band signatures (the LSH bucketing key material).
    "d_minhash" -> ((s, dir) => bands(shingleDf(s, dir))),

    // LSH candidate pairs + exact shingle-Jaccard verification (see
    // [[lshPairsDf]]).
    "d_lsh_pairs" -> ((s, dir) => lshPairsDf(s, dir)),

    // Candidate-pair VERIFICATION by edit distance — the exact-check
    // stage a near-dup pipeline runs on the (small) LSH candidate set
    // before acting on it: per pair, the true Levenshtein distance and a
    // length-normalized similarity. Shape at 100 TB: the quadratic-cost
    // comparison runs ONLY on LSH survivors (the point of candidate
    // generation), texts arrive by doc-id equi-joins against the corpus,
    // and the O(|a|·|b|) DP executes distributed, one task batch per
    // candidate partition.
    "d_lsh_verify" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      lshPairsDf(s, dir)
        .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta")),
          Seq("doc_a"))
        .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb")),
          Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("jac"),
          levenshtein(col("ta"), col("tb")).as("edit_dist"),
          round(lit(1.0) - levenshtein(col("ta"), col("tb")).cast("double") /
            greatest(length(col("ta")), length(col("tb"))), 6).as("sim"))
    }),

    // Sub-document (passage-level) dedup — the C4/RefinedWeb-style pass
    // that removes REPEATED SPANS across documents, not just whole-doc
    // copies: the token-hash stream cut into consecutive 8-token
    // windows, each window fingerprinted, first occurrence (smallest
    // (doc_id, pos)) kept. Per document: passage count, passages that
    // are globally duplicated, passages this document gets to keep.
    // Shape at 100 TB: passages shuffle as 8-byte fingerprints (never
    // text), the first-occurrence winner is one packed min per group
    // (map-side combinable), and the per-doc rollup re-joins on the
    // fingerprint key.
    "d_passage_dedup" -> ((s, dir) => {
      import s.implicits._
      val pas = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, t) =>
          TextOps.passageHashes(t, PassageW).iterator.zipWithIndex
            .map { case (h, pos) => (id, pos, h) }
        })
        .toDF("doc_id", "pos", "ph")
        .localCheckpoint(true) // feeds the winner table AND the rollup
      val firsts = pas.groupBy("ph")
        .agg(min(col("doc_id") * PassagePack + col("pos")).as("first_pack"),
          count(lit(1)).as("occ"))
      pas.join(firsts, Seq("ph"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_pass"),
          sum(when(col("occ") > 1, 1L).otherwise(0L)).as("n_dup"),
          sum(when(col("doc_id") * PassagePack + col("pos") === col("first_pack"),
            1L).otherwise(0L)).as("n_kept"))
    }),

    // Overlapping sliding-window chunking — the context-window prep a
    // RAG / training pipeline runs before embedding or packing:
    // fixed-width token windows at a fixed stride (the overlap keeps
    // span continuity across chunk boundaries), each chunk carrying its
    // rolling fingerprint so downstream chunk-level dedup shuffles
    // 8-byte keys instead of text. One narrow typed pass per document,
    // no shuffle at all; chunk counts scale with tokens, not documents.
    "d_chunk_overlap" -> ((s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, t) =>
          TextOps.chunkFps(t, ChunkW, ChunkStride).iterator.zipWithIndex
            .map { case ((start, len, fp), ci) =>
              (id, ci.toLong, start.toLong, len.toLong, fp) }
        })
        .toDF("doc_id", "chunk_id", "start_tok", "n_tok", "chunk_fp")
    }),

    // Duplicate-cluster extraction: connected components over the LSH
    // near-dup pair graph — the step a dedup pipeline runs after pair
    // detection to pick one keeper per duplicate GROUP (pairs alone
    // over-delete transitive clusters). Delegates to the shared
    // [[graft.graph.ConnectedComponents]] kernel: the candidate-pair
    // graph is tiny relative to the corpus (that is the point of LSH), so
    // it rides the single-task union-find regime; a pathological
    // everything-duplicates corpus would cross the size guard onto the
    // superstep path. cluster_id = min doc_id of the component;
    // singleton documents (no near-dup pair) are not emitted.
    "d_dup_clusters" -> ((s, dir) =>
      graft.graph.ConnectedComponents.run(
          s, lshPairsDf(s, dir).select(
            col("doc_a").as("src"), col("doc_b").as("dst")),
          rounds = DupClusterRounds)
        .select(col("node_id").as("doc_id"), col("comp").as("cluster_id"))),

    // SimHash (32-bit, bit-majority over token hashes incl. duplicates) —
    // typed per-partition kernel (TextOps.simhash32): one narrow pass, no
    // explode/shuffle, vs the interpreted HOF plan it replaced.
    "d_simhash" -> ((s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, t) => (id, TextOps.simhash32(t)) })
        .toDF("doc_id", "simhash")
    }),

    // SimHash near-dup pairs: Charikar block bucketing — the 32-bit
    // simhash splits into 4 byte blocks; a pair with hamming distance
    // <= SimhashHammingMax (3) differs in at most 3 bits, so BY
    // PIGEONHOLE at least one block is identical and the pair collides in
    // that block's bucket: recall is EXACTLY 1 at the threshold, unlike
    // the MinHash bands. Verification is a codegen'd
    // bit_count(simhash XOR simhash) on candidates only.
    "d_simhash_pairs" -> ((s, dir) => {
      import s.implicits._
      val sim = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, t) => (id, TextOps.simhash32(t)) })
        .toDF("doc_id", "simhash")
      val blockList = (0 until 4)
        .map(b => s"$b, (simhash >> ${8 * b}) & 255").mkString(", ")
      val stacked = sim.selectExpr("doc_id", "simhash",
        s"stack(4, $blockList) AS (band, bb)")
      // lowest-matching-band dedup: a pair colliding in several blocks is
      // emitted ONLY by its first matching block (all earlier blocks must
      // differ), so no distinct shuffle over the candidate set is needed.
      val firstBand = (0 until 3).map(bp =>
          s"(band <= $bp OR ((sim_a >> ${8 * bp}) & 255) != ((sim_b >> ${8 * bp}) & 255))")
        .mkString(" AND ")
      stacked.as("x").join(stacked.as("y"),
          col("x.band") === col("y.band") && col("x.bb") === col("y.bb") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          col("x.simhash").as("sim_a"), col("y.simhash").as("sim_b"),
          col("x.band").as("band"))
        .where(expr(firstBand))
        .selectExpr("doc_a", "doc_b", "bit_count(sim_a ^ sim_b) AS hamming")
        .where(col("hamming") <= SimhashHammingMax)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    }),

    // Weighted corpus rebalancing: per-LANGUAGE sampling rates (the
    // domain/language mixing step of a training-data pipeline — e.g.
    // downsample the dominant language, keep the rest). Selection is the
    // same content-keyed fingerprint mod as d_sample_hash, so the mix is
    // reproducible and composes with the uniform sample; the rate lookup
    // is a tiny CASE projection, no join, no shuffle before the final
    // count.
    "d_mix_sample" -> ((s, dir) => {
      import s.implicits._
      val rates = MixRatesPermille.toMap
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
        .as[(Long, String, String)]
        .mapPartitions(_.collect {
          case (id, lang, t)
              if (((TextOps.fingerprint(t) % 1000) + 1000) % 1000) <
                rates.getOrElse(lang, MixDefaultPermille) =>
            (id, lang)
        })
        .toDF("doc_id", "lang")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("first_doc"))
    }),

    // End-to-end curation pipeline: the composition a real corpus run
    // executes — quality gate → exact-dedup keep-first WITHIN the gated
    // set → deterministic fingerprint sample of the survivors.
    //
    // Scale shape: the expensive token-analysis chain runs in ONE scan,
    // which also emits both hashes (dedup xxhash64 + sample
    // fingerprint); its id-width output (no text) is eagerly
    // checkpointed, so nothing downstream ever re-runs the analysis.
    // Dedup then groups 8-byte hashes; only COLLIDING hash groups pull
    // their text back from a second, hash-only scan for exact
    // verification (same nesting argument as d_dedup_exact). The
    // materialized state is ~32 bytes/doc — ppm of the corpus at 100 TB.
    "d_curate" -> ((s, dir) => {
      import s.implicits._
      // ONE typed pass computes every integer input (counts + both
      // hashes, [[TextOps.curateCounts]]); the ratio/round chain stays
      // in Catalyst with the exact d_quality expression shapes, so the
      // two queries report the same per-document score.
      val g1 = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
        .as[(Long, String, String)]
        .mapPartitions(_.map { case (id, lang, t) =>
          val cc = TextOps.curateCounts(t)
          (id, lang, cc.nTok, cc.stop, cc.chars, cc.punct, cc.h, cc.fp)
        })
        .toDF("doc_id", "lang", "n_tokens", "stop_cnt", "n_chars",
          "punct_cnt", "h", "fp")
        .selectExpr("doc_id", "lang", "n_tokens", "h", "fp",
          "round(CAST(stop_cnt AS DOUBLE) / n_tokens, 6) AS stop_ratio",
          "round(CAST(punct_cnt AS DOUBLE) / CAST(n_chars AS DOUBLE), 6) AS punct_ratio")
        .selectExpr("doc_id", "lang", "n_tokens", "h", "fp",
          "round(least(1.0, n_tokens / 100.0) * (1.0 - punct_ratio) * (0.5 + stop_ratio), 6) AS quality")
        // checkpoint BEFORE the gate: predicate pushdown would otherwise
        // collapse the analysis into the filter AND the projection,
        // evaluating it twice per row
        .localCheckpoint(true)
        .where(col("quality") >= CurateMinQuality && col("n_tokens") >= CurateMinTokens)
      val hGroups = g1.groupBy("h")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("hc"))
      val dupH = hGroups.where(col("hc") > 1).select(col("h"))
      // colliding groups only: re-read text with a hash-only projection
      // (no token analysis), restricted to gated ids
      val dupTexts = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          (id, t, TextOps.contentHash64(t)) })
        .toDF("doc_id", "text", "h")
        .join(dupH, Seq("h"), "left_semi")
        .join(g1.select(col("doc_id")), Seq("doc_id"), "left_semi")
      val verified = dupTexts.groupBy(col("h"), col("text"))
        .agg(min(col("doc_id")).as("keep_id"))
        .select(col("keep_id"))
      val keep = hGroups.where(col("hc") === 1).select(col("keep_id"))
        .union(verified)
        .withColumnRenamed("keep_id", "doc_id")
      g1.join(keep, Seq("doc_id"), "left_semi")
        .where(expr(s"((fp % 100) + 100) % 100 < $CurateSamplePct"))
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality"))
    }),

    // Corpus length-distribution stats: exact interpolated percentiles of
    // token counts per language — the profile a curation run reads before
    // picking length cutoffs. Single shuffle on lang; Spark's exact
    // `percentile` and DuckDB's `quantile_cont` share the (n-1)·p linear
    // interpolation, and outputs round to 6 dp on both sides.
    "d_len_stats" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .selectExpr("lang", s"size(${TextOps.spark.tokens("text")}) AS n_tok")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_tok")), 6).as("avg_tok"),
          round(expr("percentile(n_tok, 0.5)"), 6).as("p50"),
          round(expr("percentile(n_tok, 0.9)"), 6).as("p90"),
          round(expr("percentile(n_tok, 0.99)"), 6).as("p99"))
    }),

    // Corpus length inequality: the exact Gini coefficient of document
    // char lengths — the skew scalar a curation run reads next to the
    // percentiles (a high-Gini corpus is dominated by a few huge docs;
    // mixture rebalancing targets it). Exact rank formulation
    // G = (2·Σ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) over lengths sorted by
    // (n_chars, doc_id) via the range-partitioned prefix-sum fold in
    // [[lenGini]] — NO global window, no single-task sort; the oracle
    // states the same moments with a row_number() rank (fine inside
    // DuckDB's single process) and [[LenGiniSpec]] pins the two
    // formulations bit-identical.
    "d_len_gini" -> ((s, dir) => lenGini(Tables(s, dir, "documents"))),

    // Top terms per language: explode → (lang, term) count → top-K. The
    // rank key is (count DESC, term ASC) — integers + strings, so the
    // cut is deterministic across engines (no float-ordering ties). The
    // per-lang window runs AFTER aggregation, over term-count rows only —
    // never over the exploded token stream.
    "d_top_terms" -> ((s, dir) => {
      val byLang = Window.partitionBy(col("lang"))
        .orderBy(col("tf").desc, col("term").asc)
      Tables(s, dir, "documents")
        .selectExpr("lang", s"explode(${TextOps.spark.tokens("text")}) AS term")
        .where(not(col("term").isin(TextOps.Stopwords: _*)) &&
          length(col("term")) >= 3)
        .groupBy(col("lang"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .withColumn("rk", row_number().over(byLang))
        .where(col("rk") <= TopTermsK)
        .select(col("lang"), col("term"), col("tf"), col("rk"))
    }),

    // n-gram Jaccard near-dup: char-5-gram sets, MinHash-banded candidate
    // pairs (never all-pairs — same LSH shape as d_lsh_pairs, different
    // feature space), exact 5-gram Jaccard verification. Banding recall is
    // <1 at the 0.5 threshold boundary BY DESIGN (that is what makes it a
    // scale path); near-identical documents (J ≈ 1) collide with
    // probability ~1. The oracle replays the identical candidate
    // generation, so the output is deterministic across engines.
    "d_ngram_pairs" -> ((s, dir) => {
      val ng = ngramDf(s, dir)
      // char-gram banding is 2×8, not 4×4 — see TextOps.NgramBands.
      val cand = bandPairs(bandRowsDf(s, dir, TextOps.charNgrams,
        TextOps.NgramBands, TextOps.NgramRowsPerBand))
      cand
        .join(ng.select(col("doc_id").as("doc_a"), col("sh").as("ng_a")), Seq("doc_a"))
        .join(ng.select(col("doc_id").as("doc_b"), col("sh").as("ng_b")), Seq("doc_b"))
        .selectExpr("doc_a", "doc_b",
          "round(CAST(size(array_intersect(ng_a, ng_b)) AS DOUBLE) / size(array_union(ng_a, ng_b)), 6) AS jac")
        .where(col("jac") >= NgramJacThreshold)
        .select(col("doc_a"), col("doc_b"), col("jac"))
    }),

    // Eval-set decontamination: flag training documents sharing any
    // token-shingle with a held-out eval split (the n-gram-overlap
    // decontamination step every pretraining corpus runs against its
    // benchmark suites). The eval shingle UNIVERSE is distinct-reduced
    // and explicitly broadcast — eval sets are thousands of documents
    // against a 100 TB corpus, so the corpus side streams map-side
    // through the hash join and the only shuffle is the final per-doc
    // count. Shingle extraction is the same typed kernel as the MinHash
    // chain ([[TextOps.shingles]] — hashes are distinct per doc, so the
    // join count IS the distinct-overlap count).
    "d_decontam" -> ((s, dir) => {
      val sh = shingleDf(s, dir)
      val ev = sh.where(col("doc_id") % DecontamEvalMod === 0)
        .select(explode(col("sh")).as("h")).distinct()
      sh.where(col("doc_id") % DecontamEvalMod =!= 0)
        .select(col("doc_id"), explode(col("sh")).as("h"))
        .join(broadcast(ev), Seq("h"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"))
    }),

    // Train/val/test split leakage audit: near-duplicate pairs whose
    // members land in DIFFERENT splits of a content-keyed 80/10/10
    // split — the eval-hygiene check that catches test answers leaking
    // into training data through near-dups (exact dups are caught by
    // dedup; NEAR-dups crossing the split are the insidious case).
    // Composes the verified LSH pair set with the fingerprint-derived
    // split; joins are id-keyed (texts never reshuffle).
    "d_split_leakage" -> ((s, dir) => {
      val split = Tables(s, dir, "documents")
        .selectExpr("doc_id", s"${TextOps.spark.fingerprint("text")} AS fp")
        .selectExpr("doc_id",
          "CASE WHEN fp % 10 < 8 THEN 'train' WHEN fp % 10 = 8 THEN 'val' " +
            "ELSE 'test' END AS split")
      lshPairsDf(s, dir)
        .join(split.selectExpr("doc_id AS doc_a", "split AS split_a"),
          Seq("doc_a"))
        .join(split.selectExpr("doc_id AS doc_b", "split AS split_b"),
          Seq("doc_b"))
        .where(col("split_a") =!= col("split_b"))
        .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"),
          col("jac"))
    }),

    // Weighted sampling without replacement (Efraimidis-Spirakis A-Res):
    // keep the top-K docs per language by key u^(1/w), where w is the
    // document's weight (length here — any quality signal plugs in) and
    // u ∈ (0,1] derives from the content fingerprint — so the sample is
    // seeded, reproducible, and content-keyed like d_sample_hash, but
    // length-BIASED: inclusion probability scales with w, the
    // quality-weighted subsampling real curation pipelines run. Note:
    // u and w both derive from the text (fingerprint vs length), so they
    // are not strictly independent — fine for a deterministic demo row,
    // but a production sampler would salt the key stream (e.g.
    // fingerprint(salt || text)) so u is independent of any weight
    // signal computed from the same content. Key
    // rounded to 9 dp before ranking + doc_id tie-break (the rounded-
    // score ranking discipline); the row_number filter compiles to
    // WindowGroupLimit, so each map task ships only its local top-K per
    // language — no global sort.
    "d_weighted_sample" -> ((s, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("skey").desc, col("doc_id").asc)
      Tables(s, dir, "documents")
        .selectExpr("doc_id", "lang",
          "greatest(n_chars, 1) AS wt",
          s"round(pow((${TextOps.spark.fingerprint("text")} + 1.0) / ${Hashing.P + 1}.0, " +
            "1.0 / greatest(n_chars, 1)), 9) AS skey")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= WeightedSampleK)
        .select(col("doc_id"), col("lang"), col("wt"), col("skey"), col("rk"))
    }),

    // Vocabulary cardinality via a KMV (k-minimum-values) sketch, per
    // language, next to the exact distinct count. The sketch is a custom
    // TypedImperativeAggregate ([[graft.functions.KmvKth]]) whose buffer
    // is k-BOUNDED with partial aggregation — each map task ships ≤ k
    // longs per group, where exact distinct counting shuffles every
    // distinct value (the 100 TB cardinality-estimation shape; the exact
    // column here exists to oracle-check the sketch against reality and
    // would be dropped at scale). The estimate (k−1)/u is computed from
    // the returned integer by the SAME SQL text in both engines.
    //
    // Hash choice: raw tokenHash under-wraps P on short tokens (hashes
    // cluster near 0 → the r7 row visibly overshot n_exact, documented
    // then as by-design-visible), so the sketch key is tokenHash mapped
    // through [[Hashing.kmvMix]] — a dual-rendered full-range
    // (xor-whitened multiply-mod-P, range P² ≈ 2⁶⁰) mixer; with it the
    // estimate tracks n_exact inside the KMV error band (KmvAggSpec pins
    // both the mixed-accuracy band and the raw-hash bias it repairs).
    "d_vocab_kmv" -> ((s, dir) => {
      graft.functions.KmvFunctions.register(s)
      Tables(s, dir, "documents")
        .selectExpr("lang", s"explode(${TextOps.spark.tokens("text")}) AS t")
        .selectExpr("lang", s"${TextOps.spark.tokenHash("t")} AS h")
        .selectExpr("lang", "h", s"${Hashing.spark.kmvMix("h")} AS hm")
        .groupBy(col("lang"))
        .agg(countDistinct(col("h")).as("n_exact"),
          graft.functions.KmvFunctions.kmvKth(col("hm"), KmvK).as("kth_h"))
        .where(col("kth_h").isNotNull)
        .selectExpr("lang", "CAST(n_exact AS BIGINT) AS n_exact", "kth_h",
          kmvEstSql("kth_h"))
    }),

    // Fractional decontamination score: per training doc, the fraction
    // of its distinct shingles that appear in the held-out eval split,
    // with the flag applied on the 6-dp-ROUNDED fraction (boundary
    // values cannot flap across engines). Same scale shape as
    // d_decontam — eval shingles broadcast, corpus streams map-side,
    // the only shuffles are the two per-doc counts.
    "d_decontam_frac" -> ((s, dir) => {
      val sh = shingleDf(s, dir)
      val ev = sh.where(col("doc_id") % DecontamEvalMod === 0)
        .select(explode(col("sh")).as("h")).distinct()
      val tr = sh.where(col("doc_id") % DecontamEvalMod =!= 0)
        .select(col("doc_id"), explode(col("sh")).as("h"))
        .localCheckpoint(true) // read twice: total + hit counts
      val tot = tr.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      val hits = tr.join(broadcast(ev), Seq("h"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
      tot.join(hits, Seq("doc_id"), "left")
        .selectExpr("doc_id",
          "CAST(n_sh AS BIGINT) AS n_sh",
          "CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits",
          "round(CAST(coalesce(n_hits, 0) AS DOUBLE) / n_sh, 6) AS frac",
          "CAST(CASE WHEN round(CAST(coalesce(n_hits, 0) AS DOUBLE) / n_sh, 6)" +
            s" >= $DecontamFracThreshold THEN 1 ELSE 0 END AS INT) AS flagged")
    }),

    // Within-document repetition: duplicate-token fraction (the
    // Gopher-style repetition quality signal — high dup_frac marks
    // boilerplate/spam). Pure narrow projection, no shuffle.
    "d_rep_ratio" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .selectExpr("doc_id", s"${TextOps.spark.tokens("text")} AS toks")
        .selectExpr("doc_id",
          "size(toks) AS n_tokens",
          "size(array_distinct(toks)) AS n_distinct",
          "round(1.0 - CAST(size(array_distinct(toks)) AS DOUBLE) / size(toks), 6) AS dup_frac")
    }),

    // Gopher-style repetition quality signals (Rae et al. 2021 §A1.1,
    // occurrence-weighted spelling — see TextOps.gopherRepCounts): the
    // char fraction of the single most frequent word 2-gram and of all
    // duplicated word 5-grams, plus the filter flag at the published
    // 0.20 / 0.15 thresholds. Complements d_rep_ratio's token-level
    // dup fraction with the n-gram signals that actually catch
    // boilerplate and template spam. Scale shape: the kernel is one
    // narrow per-document map pass emitting three longs — no shuffle at
    // all; the flag/fraction SQL text is shared verbatim with the
    // oracle so the only float op (one division) cannot drift.
    "d_gopher_rep" -> ((s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          val (tot, top2, dup5) = TextOps.gopherRepCounts(t)
          (id, tot, top2, dup5)
        })
        .toDF("doc_id", "tot", "top2", "dup5")
        .selectExpr("doc_id", gopherFracSql("top2"), gopherFracSql("dup5"))
        .selectExpr("doc_id", "frac_top2", "frac_dup5", gopherFlagSql)
    }),

    // Corpus n-gram diversity per source: distinct/total ratios for
    // word 1/2/3-grams — the diversity diagnostic a data report runs to
    // catch template-heavy or model-generated sources (low distinct-n).
    // Scale shape: distinct-by-grouping, NOT countDistinct — the gram
    // dictionary is the shuffle key of the FIRST map-side-combined
    // groupBy, and the second agg runs over one row per distinct gram;
    // a countDistinct here would re-shuffle every occurrence. The
    // per-source output is 3 rows regardless of corpus size.
    "d_ngram_diversity" -> ((s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .select(col("source"), col("text"))
        .as[(String, String)]
        .mapPartitions(_.flatMap { case (src, t) =>
          val toks = t.toLowerCase(java.util.Locale.ROOT)
            .split("\\s+", -1).filter(_.nonEmpty)
          (1 to 3).iterator.flatMap(n =>
            (0 to toks.length - n).iterator.map(i =>
              (src, n, toks.slice(i, i + n).mkString(" "))))
        })
        .toDF("source", "n", "gram")
        .groupBy(col("source"), col("n"), col("gram"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"), col("n"))
        .agg(count(lit(1)).as("n_distinct"), sum(col("c")).as("total"))
        .selectExpr("source", "n", "CAST(total AS BIGINT) AS total",
          "CAST(n_distinct AS BIGINT) AS n_distinct",
          "round(n_distinct / CAST(total AS DOUBLE), 6) AS ratio")
    }),

    // TF-IDF keyword extraction: top terms per document by
    // tf · ln(N/df). Unlike d_top_terms (corpus-global frequencies) this
    // exercises the corpus-level document-frequency join: df aggregates
    // distinct docs per term (map-side combinable), then re-joins the
    // per-doc term counts ON TERM — an equi-join on the term dictionary,
    // which at 100 TB is far too large to broadcast (the 1-row corpus
    // count N is the only broadcast). The rank key is (rounded score
    // DESC, term ASC): float ties cannot flip the cut.
    "d_tfidf" -> ((s, dir) => {
      val toks = Tables(s, dir, "documents")
        .selectExpr("doc_id", s"explode(${TextOps.spark.tokens("text")}) AS term")
        .where(not(col("term").isin(TextOps.Stopwords: _*)) &&
          length(col("term")) >= 3)
      val tf = toks.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = Tables(s, dir, "documents").agg(count(lit(1)).as("n"))
      val byDoc = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term").asc)
      tf.join(df, Seq("term"))
        .crossJoin(broadcast(n))
        .selectExpr("doc_id", "term", "tf",
          "round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf")
        .withColumn("rk", row_number().over(byDoc))
        .where(col("rk") <= TfidfK)
        .select(col("doc_id"), col("term"), col("tf"), col("tfidf"), col("rk"))
    }),

    // Bigram language-model scoring — the statistical-LM quality filter
    // (perplexity-style) corpus curation runs before training: fit an
    // add-one-smoothed bigram model ON the corpus itself, then score each
    // document by its mean log-likelihood under that model. Low scores =
    // token sequences the corpus finds improbable (boilerplate, garbled
    // encodings, word salad). Shape at 100 TB: the model tables are
    // TERM-KEYED aggregates (map-side combinable), and scoring re-joins
    // the per-doc bigram stream on those term keys — the dictionary is
    // never broadcast (same contract as `d_tfidf`); the only broadcast is
    // the 1-row vocabulary size. P(w2|w1) = (c(w1,w2)+1)/(c(w1)+V) with
    // c(w1) = occurrences as bigram history and V = |history vocab|.
    "d_bigram_lm" -> ((s, dir) => bigramScore(s, dir)),

    // PMI collocation mining — the classic association-strength ranking
    // (Church & Hanks 1990) over the corpus bigram stream: pmi =
    // ln(c12·B / (c1·c2)) with c1/c2/B all folded FROM the bigram model
    // itself (c1 = Σ_w2 c12, c2 = Σ_w1 c12, B = Σ c12 — one corpus
    // pass, no second tokenization). Everything inside the ln is an
    // exact BIGINT, so both engines evaluate one identical IEEE
    // mult/div/ln chain per surviving pair; the min-count filter kills
    // the rare-pair PMI blowup and the cut is (rounded pmi desc, w1,
    // w2) — total-ordered. Scale shape: term-keyed map-side-combined
    // aggregates + two model-internal folds + a 1-row broadcast +
    // TakeOrderedAndProject.
    "d_pmi_bigrams" -> ((s, dir) => {
      import s.implicits._
      val big = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.flatMap { case (_, t) =>
          val toks = t.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
          if (toks.length < 2) Iterator.empty
          else (0 until toks.length - 1).iterator.map(i =>
            (toks(i), toks(i + 1)))
        }).toDF("w1", "w2")
      val c12 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .localCheckpoint(true) // feeds both history folds + the output
      val c1 = c12.groupBy("w1").agg(sum(col("c12")).as("c1"))
      val c2 = c12.groupBy("w2").agg(sum(col("c12")).as("c2"))
      val b = c12.agg(sum(col("c12")).as("b"))
      c12.where(col("c12") >= PmiMinCount)
        .join(c1, Seq("w1")).join(c2, Seq("w2"))
        .crossJoin(broadcast(b))
        .selectExpr("w1", "w2", "c12", "CAST(c1 AS BIGINT) AS c1",
          "CAST(c2 AS BIGINT) AS c2",
          "round(ln((CAST(c12 AS DOUBLE) * CAST(b AS DOUBLE)) / " +
            "(CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))), 6) AS pmi")
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(PmiTopN)
    }),

    // Corpus lexical profile — the one-row vocabulary diagnostic
    // (Zipf/Heaps-adjacent): token count, vocabulary size, hapax and
    // dis legomena (once / twice frequencies — the head of the Zipf
    // tail and the raw inputs of Good-Turing smoothing), type-token
    // ratio. ONE term-keyed map-side-combined groupBy to the frequency
    // dictionary, then a single-pass fold over one-row-per-term; all
    // moments integers, two rounded divisions at the end.
    "d_lexical_stats" -> ((s, dir) => {
      val tf = Tables(s, dir, "documents")
        .selectExpr(s"explode(${TextOps.spark.tokens("text")}) AS term")
        .where(length(col("term")) >= 1)
        .groupBy("term").agg(count(lit(1)).as("c"))
      tf.agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("vocab"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("dis"))
        .selectExpr("CAST(n_tokens AS BIGINT) AS n_tokens", "vocab",
          "CAST(hapax AS BIGINT) AS hapax", "CAST(dis AS BIGINT) AS dis",
          "round(CAST(vocab AS DOUBLE) / n_tokens, 6) AS ttr",
          "round(CAST(hapax AS DOUBLE) / vocab, 6) AS hapax_ratio")
    }),

    // Pairwise Jensen-Shannon divergence between per-source unigram
    // distributions — the data-mixture drift readout (is src7's language
    // statistically the same as src12's?) curation runs before choosing
    // mixture weights. Distributions live over `JsdBuckets` hashed token
    // buckets (the DSIR hashed-feature discipline — fixed-width state
    // regardless of vocabulary size), JSD via the entropy identity
    // JSD = H(M) − (H(P)+H(Q))/2 with M = (P+Q)/2. Float discipline:
    // p = c/n is ONE division over exact integers; each pair-bucket
    // mass m = p_a/2 + p_b/2 sums ≤ 2 addends (IEEE addition is
    // commutative — order-free); every entropy Σ folds from a
    // bucket-SORTED array on both engines. Scale: bucket counts are
    // map-side-combined to |sources|·B rows; the pair stage is a
    // broadcast join over the bounded source list — |sources| is a
    // domain catalog, not data.
    "d_domain_jsd" -> ((s, dir) => {
      import s.implicits._
      val B = JsdBuckets
      val cnt = Tables(s, dir, "documents")
        .select(col("source"), col("text")).as[(String, String)]
        .mapPartitions(_.flatMap { case (src, t) =>
          t.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
            .iterator.map(tok => (src, TextOps.tokenHash(tok) % B))
        }).toDF("source", "bucket")
        .groupBy("source", "bucket").agg(count(lit(1)).as("c"))
      val n = cnt.groupBy("source").agg(sum(col("c")).as("n"))
        .localCheckpoint(true) // pair driver + per-source totals
      val ps = cnt.join(n, Seq("source"))
        .selectExpr("source", "bucket", "CAST(c AS DOUBLE) / n AS p")
        .localCheckpoint(true) // M-sides and per-source entropies
      val sided = ps.crossJoin(broadcast(n.select(col("source").as("other"))))
        .where(col("source") =!= col("other"))
        .selectExpr("least(source, other) AS sa",
          "greatest(source, other) AS sb", "bucket", "p / 2 AS mh")
      val hM = sided.groupBy("sa", "sb", "bucket")
        .agg(sum(col("mh")).as("m"))
        .groupBy("sa", "sb")
        .agg(sort_array(collect_list(struct(col("bucket"), col("m"))))
          .as("terms"))
        .selectExpr("sa", "sb",
          "aggregate(terms, CAST(0 AS DOUBLE), " +
            "(a, t) -> a - t.m * ln(t.m)) AS h_m")
      val hP = ps.groupBy("source")
        .agg(sort_array(collect_list(struct(col("bucket"), col("p"))))
          .as("terms"))
        .selectExpr("source",
          "aggregate(terms, CAST(0 AS DOUBLE), " +
            "(a, t) -> a - t.p * ln(t.p)) AS h")
      hM.join(hP.selectExpr("source AS sa", "h AS h_a"), Seq("sa"))
        .join(hP.selectExpr("source AS sb", "h AS h_b"), Seq("sb"))
        .join(n.selectExpr("source AS sa", "n AS n_a"), Seq("sa"))
        .join(n.selectExpr("source AS sb", "n AS n_b"), Seq("sb"))
        .selectExpr("sa AS src_a", "sb AS src_b",
          "CAST(n_a AS BIGINT) AS n_a", "CAST(n_b AS BIGINT) AS n_b",
          "round(h_a / ln(CAST(2 AS DOUBLE)), 6) AS h_a_bits",
          "round(h_b / ln(CAST(2 AS DOUBLE)), 6) AS h_b_bits",
          "round((h_m - (h_a + h_b) / CAST(2 AS DOUBLE)) " +
            "/ ln(CAST(2 AS DOUBLE)), 6) AS jsd_bits")
    }),

    // CCNet-style corpus partition by LM quality: every scored document
    // labeled head / middle / tail against tercile thresholds of the
    // add-one-smoothed bigram-LM score (d_bigram_lm's avg_logp,
    // recomputed here — rows stay independent). The thresholds come from
    // the deterministic bottom-k-by-hash document sample, NOT a global
    // ntile: an exact-tercile window would sort every per-doc score on
    // one partition, while the sampled thresholds are a
    // TakeOrderedAndProject over CcnetSampleK rows plus a broadcast
    // 1-row crossJoin — the corpus-scale pass stays a map-side CASE.
    // Rank rule: the value at floor(q·(k−1))+1, all-DOUBLE floor math;
    // boundary docs equal to a threshold land in the better bucket
    // (>= head cut → head, >= tail cut → middle), deterministic on the
    // 6-dp-rounded score.
    "d_ccnet_buckets" -> ((s, dir) => {
      val scored = bigramScore(s, dir)
        .selectExpr("doc_id", "avg_logp",
          s"${Hashing.spark.kmvMix(s"(doc_id % $P)")} AS hm")
        .localCheckpoint(true) // feeds the sample and the labeling pass
      val sample = scored.orderBy(col("hm"), col("doc_id"))
        .limit(CcnetSampleK)
      val thr = sample
        .crossJoin(broadcast(sample.agg(count(lit(1)).as("k"))))
        .withColumn("rn",
          row_number().over(Window.orderBy(col("avg_logp"), col("doc_id"))))
        .agg(
          max(when(col("rn") ===
            (floor((col("k") - 1).cast("double") / 3.0).cast("long") + 1),
            col("avg_logp"))).as("t_lo"),
          max(when(col("rn") ===
            (floor(((col("k") - 1).cast("double") * 2.0) / 3.0).cast("long")
              + 1),
            col("avg_logp"))).as("t_hi"))
      scored.crossJoin(broadcast(thr))
        .selectExpr("doc_id", "avg_logp",
          "CASE WHEN avg_logp >= t_hi THEN 'head' " +
            "WHEN avg_logp < t_lo THEN 'tail' " +
            "ELSE 'middle' END AS bucket")
    }),

    // Per-domain document cap: keep the DomainCapN best documents per
    // source by (quality DESC, doc_id ASC) — the domain-balancing step
    // that stops one crawl domain dominating the corpus. The rank tie
    // key is the integer doc_id over the 6-dp-rounded score, so the cut
    // is deterministic across engines; the window runs per source (the
    // natural parallelism axis — at 100 TB domains are many and
    // individually small).
    "d_domain_cap" -> ((s, dir) => {
      import s.implicits._
      val bySource = Window.partitionBy(col("source"))
        .orderBy(col("quality").desc, col("doc_id").asc)
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .as[(Long, String, String)]
        .mapPartitions(_.map { case (id, src, t) =>
          val cc = TextOps.curateCounts(t)
          (id, src, cc.nTok, cc.stop, cc.chars, cc.punct)
        })
        .toDF("doc_id", "source", "n_tokens", "stop_cnt", "n_chars", "punct_cnt")
        .selectExpr("doc_id", "source", "n_tokens",
          "round(CAST(stop_cnt AS DOUBLE) / n_tokens, 6) AS stop_ratio",
          "round(CAST(punct_cnt AS DOUBLE) / CAST(n_chars AS DOUBLE), 6) AS punct_ratio")
        .selectExpr("doc_id", "source",
          "round(least(1.0, n_tokens / 100.0) * (1.0 - punct_ratio) * (0.5 + stop_ratio), 6) AS quality")
        .withColumn("rk", row_number().over(bySource))
        .where(col("rk") <= DomainCapN)
        .select(col("source"), col("doc_id"), col("quality"), col("rk"))
    }),

    // DSIR-style importance resampling (Xie et al. 2023): select raw
    // documents whose hashed-n-gram distribution looks like a target
    // domain. Bag-of-hashed-bigrams models (DsirBuckets buckets, add-α
    // smoothing) are fit on the target split (source = DsirTarget) and
    // the raw remainder; each raw doc scores the MEAN per-bigram
    // log-ratio ln(p_target(b)) − ln(p_raw(b)) over its own bigram
    // stream (mean, not the paper's sum, so the demo score is
    // length-unbiased — the paper resamples fixed-length chunks
    // instead), then DsirK docs are drawn by Gumbel-top-k: key =
    // logw + Gumbel(u) with u seeded from the content fingerprint
    // through the full-range KMV mixer — deterministic, reproducible,
    // and a faithful weighted-without-replacement sample. Shape at
    // 100 TB: the bucket models are DsirBuckets-row aggregates
    // (map-side combinable, broadcast back: the model is ≤ a few KB
    // regardless of corpus size); scoring is a bucket-keyed join of the
    // per-doc bigram stream — texts never reshuffle; the global top-K
    // window compiles to WindowGroupLimit, so each map task ships only
    // K candidate rows (docs with < 2 tokens have no bigram stream and
    // are out of scope on both engines).
    "d_dsir_resample" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"), col("text"))
        .as[(Long, String, String, String)]
        .mapPartitions(_.map { case (id, src, lang, t) =>
          // tokenizer = d_tokens' whitespace split; fingerprint = the
          // d_fingerprint fold (token-hash rolling hash, empties
          // included) so the Gumbel seed equals the corpus-wide content
          // key; bigram buckets go through the full-range mixer so the
          // raw rolling hash's short-token bias cannot skew bucket load.
          val toks = t.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
          val hs = toks.map(TextOps.tokenHash)
          var fp = 0L
          hs.foreach(h => fp = (fp * Hashing.TokMul + h) % Hashing.P)
          val bs =
            if (hs.length < 2) Array.empty[Long]
            else Array.tabulate(hs.length - 1) { i =>
              Hashing.kmvMix(
                (hs(i) * Hashing.TokMul + hs(i + 1)) % Hashing.P) % DsirBuckets
            }
          (id, src, lang, fp, bs)
        })
        .toDF("doc_id", "source", "lang", "fp", "bs")
        .localCheckpoint(true) // feeds the two models AND the scoring join
      val bg = docs.select(col("doc_id"), col("source"),
        explode(col("bs")).as("b"))
      val isTgt = col("source") === DsirTarget
      val tm = bg.where(isTgt).groupBy("b").agg(count(lit(1)).as("tc"))
      val rm = bg.where(!isTgt).groupBy("b").agg(count(lit(1)).as("rc"))
      val tot = bg.agg(
        sum(when(isTgt, 1L).otherwise(0L)).as("tt"),
        sum(when(isTgt, 0L).otherwise(1L)).as("rt"))
      val aB = DsirAlpha * DsirBuckets
      val scored = bg.where(!isTgt)
        .join(tm, Seq("b"), "left")
        .join(rm, Seq("b"))
        .crossJoin(broadcast(tot))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_big"),
          round(avg(
            log((coalesce(col("tc"), lit(0L)) + DsirAlpha) / (col("tt") + aB)) -
              log((col("rc") + DsirAlpha) / (col("rt") + aB))), 6).as("logw"))
      val gum = docs.where(!isTgt)
        .selectExpr("doc_id", "source", "lang",
          // P² as a DOUBLE product of CASTs — same spelling as the
          // DuckDB twin (a `P.0` literal is DECIMAL there and overflows).
          s"round(-ln(-ln((${Hashing.spark.kmvMix("fp")} + 1.0) / " +
            s"(CAST(${Hashing.P} AS DOUBLE) * CAST(${Hashing.P} AS DOUBLE)))), 9) AS g")
      val w = Window.orderBy(col("gkey").desc, col("doc_id").asc)
      scored.join(gum, Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("lang"), col("n_big"),
          col("logw"), round(col("logw") + col("g"), 6).as("gkey"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= DsirK)
    }),

    // Exact-substring duplicate spans: rolling SpanW-token windows at
    // every position, hashed by the shared rolling fold; report the
    // SpanTopN most-duplicated cross-document spans. This is the
    // diagnostic view of suffix-array-style exact-substring dedup (Lee
    // et al. 2022) — boilerplate, license headers and templated text
    // show up here long before they dominate near-dup clusters. Shape
    // at 100 TB: the span stream is W·corpus rows of 8-byte hashes
    // (texts never reshuffle), the agg map-side-combines, and the
    // report's global top-N compiles to a bounded TakeOrderedAndProject.
    "d_span_dups" -> ((s, dir) => {
      import s.implicits._
      val sp = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, t) =>
          // token stream = duck.tokenHashes semantics (empties included)
          val hs = t.toLowerCase(java.util.Locale.ROOT)
            .split("\\s+", -1).map(TextOps.tokenHash)
          (0 to hs.length - SpanW).iterator.map { i =>
            var x = 0L
            var j = i
            while (j < i + SpanW) {
              x = (x * Hashing.TokMul + hs(j)) % Hashing.P; j += 1
            }
            (id, x)
          }
        })
        .toDF("doc_id", "sh")
      val w = Window.orderBy(col("n_occ").desc, col("n_docs").desc,
        col("sh").asc)
      sp.groupBy(col("sh"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"))
        .where(col("n_docs") > 1)
        .selectExpr("sh", "CAST(n_docs AS BIGINT) AS n_docs", "n_occ")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= SpanTopN)
    }),

    // BPE vocabulary induction (Sennrich et al. 2016) — tokenizer
    // training, the step that turns a text corpus into the merge table
    // a trained tokenizer applies. Classic shape: ONE corpus pass folds
    // the text into a (word, freq) dictionary (vocabulary-sized, not
    // corpus-sized — the only corpus-scale shuffle); each round then
    // counts adjacent symbol pairs over the dictionary weighted by
    // word frequency (distributed agg with map-side combine), picks the
    // most frequent pair (1-row driver argmax with a deterministic
    // (count DESC, pair ASC) tie-break — the size-guarded dispatch
    // pattern), and rewrites the symbol sequences with a greedy
    // non-overlapping merge ([[bpeApply]]). Output = the merge table
    // itself, one row per round. Rounds are inherently sequential;
    // each round's work is the distributed pair count. SCALE AXIS: the
    // demo's [[BpeRounds]] = 6 exercises the per-round shape, but
    // production tokenizer training is 30k+ merges — this driver loop
    // would serialize 30k Spark jobs at a fixed per-job floor. The
    // production path keeps the SAME first stage (the one corpus-scale
    // shuffle folding 100 TB to a vocabulary-sized dictionary), then
    // either runs the merge loop on the broadcast dictionary in one
    // driver/executor-local pass (the dictionary is MBs once the corpus
    // is folded — the standard trainer shape) or batches non-adjacent
    // merges per round; the per-round distributed count shown here is
    // the shape you fall back to only when the dictionary itself
    // cannot fit one machine.
    "d_bpe_vocab" -> ((s, dir) => {
      import s.implicits._
      bpeShared(s, dir)._1.toDF("rk", "p1", "p2", "cnt")
    }),

    // BPE tokenizer APPLY — per-document token counts under the
    // d_bpe_vocab-induced merges (the tokenizer-fertility measurement a
    // data pipeline runs before committing to a vocabulary). The apply
    // path is word-level memoization: training already folded the corpus
    // to the (word, merged-symbols) dictionary, so encoding costs one
    // broadcast of the vocabulary-sized word → symbol-count map plus one
    // corpus map pass — per-word work ∝ distinct words, NOT corpus
    // tokens, which is what makes apply tractable at 100 TB. r19: the
    // training loop is a session fit shared with d_bpe_vocab
    // ([[bpeShared]] - a tokenizer trains once and applies many); the
    // apply pass below stays per-evaluation.
    "d_bpe_encode" -> ((s, dir) => {
      import s.implicits._
      val dict = bpeShared(s, dir)._2
        .map { case (wd, syms, _) => (wd, syms.length.toLong) }
        .toDF("word", "n_syms")
      val dw = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, t) =>
          t.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
            .filter(_.nonEmpty).iterator.map(w => (id, w))
        }
        .toDF("doc_id", "word")
      dw.join(broadcast(dict), Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_syms")).as("n_bpe_tokens"))
        .selectExpr("doc_id", "CAST(n_words AS BIGINT) AS n_words",
          "CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens")
    })
  )

  /** The `d_bpe_vocab` training loop, shared with `d_bpe_encode`'s apply
    * path: returns the BpeRounds greedy merges and the trained word
    * dictionary (word, merged symbols, freq). One corpus pass folds to
    * the (word, freq) dictionary — the only corpus-scale shuffle; per
    * round a distributed freq-weighted pair count + 1-row driver argmax
    * with deterministic tie-break.
    */
  /** Stage 1 of BOTH trainer paths: the one corpus-scale shuffle folding
    * the text into the (word, freq) dictionary — vocabulary-sized, not
    * corpus-sized.
    */
  private[queries] def bpeFoldCorpus(s: SparkSession, dir: String):
      org.apache.spark.sql.Dataset[(String, Long)] = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select(col("text")).as[String]
      .flatMap(_.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1))
      .filter(_.nonEmpty)
      .groupByKey(identity).count()
  }

  /** The demo training loop fitted ONCE per (session, source dir) —
    * r19: `d_bpe_vocab` and `d_bpe_encode` each re-ran the full
    * [[bpeTrain]] loop (corpus fold + BpeRounds distributed counts +
    * per-round checkpoints); a tokenizer trains once and applies many,
    * so the second run was pure recomputation (guide §2.4). The final
    * dictionary is re-checkpointed into a pinned copy the per-row reap
    * spares; invalidation rides the central `invalidateModels` chain
    * ([[invalidateShared]]).
    */
  private val bpeCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (Seq[(Int, String, String, Long)],
      org.apache.spark.sql.Dataset[(String, Array[String], Long)])]
  private val bpePins = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Set[Int]]

  private def bpeShared(s: SparkSession, dir: String):
      (Seq[(Int, String, String, Long)],
        org.apache.spark.sql.Dataset[(String, Array[String], Long)]) =
    bpeCache.getOrElseUpdate((s, dir), {
      val sc = s.sparkContext
      val (merges, words) = bpeTrain(s, dir)
      val before = sc.getPersistentRDDs.keySet
      val pinnedWords = words.localCheckpoint(true)
      val ids = (sc.getPersistentRDDs.keySet -- before).toSet --
        graft.operators.SessionPins.pinned(sc)
      graft.operators.SessionPins.pin(sc, ids)
      bpePins.put((s, dir), ids)
      (merges, pinnedWords)
    })

  /** Re-ingest hook: drop the shared text-side fits (BPE trainer, LSH
    * pair table, exact-dedup groups) for (session, dir).
    */
  def invalidateShared(s: SparkSession, dir: String): Unit = {
    bpeCache.remove((s, dir))
    bpePins.remove((s, dir)).foreach(ids =>
      graft.operators.SessionPins.unpin(s.sparkContext, ids))
    lshCache.remove((s, dir))
    lshPins.remove((s, dir)).foreach(ids =>
      graft.operators.SessionPins.unpin(s.sparkContext, ids))
    dgCache.remove((s, dir))
    dgPins.remove((s, dir)).foreach(ids =>
      graft.operators.SessionPins.unpin(s.sparkContext, ids))
  }

  private def bpeTrain(s: SparkSession, dir: String):
      (Seq[(Int, String, String, Long)],
        org.apache.spark.sql.Dataset[(String, Array[String], Long)]) = {
    import s.implicits._
    var words = bpeFoldCorpus(s, dir)
      .map { case (wd, f) => (wd, codePointSyms(wd), f) }
      .localCheckpoint(true)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to BpeRounds) {
      val best = words
        .flatMap { case (_, syms, f) =>
          (0 until syms.length - 1).iterator.map(i =>
            ((syms(i), syms(i + 1)), f))
        }
        .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
        .map { case ((a, b), c) => (a, b, c) }
        .toDF("a", "b", "cnt")
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      // a corpus whose words are all single symbols before BpeRounds
      // merges would silently desync from the unrolled oracle — fail
      // loudly instead (cannot happen on the driver corpus).
      require(best.nonEmpty, s"d_bpe_vocab: no pairs left at round $r")
      val (a, b, c) =
        (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
      merges += ((r, a, b, c))
      words = words.map { case (wd, syms, f) => (wd, bpeApply(syms, a, b), f) }
        .localCheckpoint(true)
    }
    (merges.result(), words)
  }

  /** PRODUCTION-PATH BPE trainer (the shape `d_bpe_vocab`'s scaladoc
    * documents): the SAME stage-1 corpus fold ([[bpeFoldCorpus]] — the
    * only corpus-scale work at 100 TB), then the ENTIRE merge loop runs
    * driver-locally over the collected vocabulary-sized dictionary —
    * zero Spark jobs per round, so 30k merges cost 30k in-memory passes
    * over the dictionary instead of 30k distributed jobs at a fixed
    * per-job floor. Spec-pinned equal to [[bpeTrain]]'s distributed
    * per-round path on the demo corpus, and run for 200+ merges there
    * (PipelineQueriesSpec) to demonstrate the round count the
    * distributed demo loop cannot afford. Stops early when no adjacent
    * pair remains (the natural trainer exit; the fixed-round distributed
    * path fails loudly instead because its unrolled oracle needs the
    * full schedule).
    */
  private[queries] def bpeTrainLocal(s: SparkSession, dir: String,
      rounds: Int): Seq[(Int, String, String, Long)] =
    bpeLocalMerges(bpeFoldCorpus(s, dir).collect(), rounds)

  /** The driver-local merge loop over a folded (word, freq) dictionary.
    * Identical semantics to the distributed rounds: freq-weighted
    * adjacent-pair counts, argmax with the (count DESC, a ASC, b ASC)
    * tie-break under CODE-POINT string order (== Spark's binary UTF8
    * sort; Java's compareTo is UTF-16 and would diverge on supplementary
    * characters), greedy non-overlapping rewrite via [[bpeApply]].
    */
  private[queries] def bpeLocalMerges(dict: Array[(String, Long)],
      rounds: Int): Seq[(Int, String, String, Long)] = {
    // code-point comparison == UTF-8 byte order == Spark UTF8String sort
    def cpLt(x: String, y: String): Boolean = {
      var i = 0
      var j = 0
      while (i < x.length && j < y.length) {
        val cx = x.codePointAt(i)
        val cy = y.codePointAt(j)
        if (cx != cy) return cx < cy
        i += Character.charCount(cx)
        j += Character.charCount(cy)
      }
      x.length - i < y.length - j
    }
    var words = dict.map { case (wd, f) => (codePointSyms(wd), f) }
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        counts.foreach { e =>
          if (best == null || e._2 > best._2 ||
            (e._2 == best._2 && (cpLt(e._1._1, best._1._1) ||
              (e._1._1 == best._1._1 && cpLt(e._1._2, best._1._2)))))
            best = e
        }
        val ((a, b), c) = best
        merges += ((r, a, b, c))
        words = words.map { case (syms, f) => (bpeApply(syms, a, b), f) }
        r += 1
      }
    }
    merges.result()
  }

  /** Exact-verify threshold for [[queries]]' `d_ngram_pairs`. */
  val NgramJacThreshold = 0.5

  /** Held-out eval split for `d_decontam`: docs with id ≡ 0 (mod this). */
  val DecontamEvalMod = 17

  /** `d_decontam_frac` flag threshold: a training doc whose
    * ROUNDED contaminated-shingle fraction reaches this is flagged
    * (the fractional-overlap thresholding real decontamination
    * pipelines apply, vs `d_decontam`'s raw hit count).
    */
  val DecontamFracThreshold = 0.1

  /** Documents kept per source by `d_domain_cap`. */
  val DomainCapN = 50

  /** KMV sketch size for `d_vocab_kmv` (the synthetic corpus has ~31
    * distinct tokens per language, so the kth order statistic exists).
    */
  val KmvK = 16

  /** Documents kept per language by `d_weighted_sample`. */
  val WeightedSampleK = 20

  /** `d_span_dups` — exact-substring duplicate spans (the Lee et al.
    * 2022 "Deduplicating Training Data Makes Language Models Better"
    * signal, at rolling granularity): window width in tokens and the
    * size of the most-duplicated-spans report. Rolling spans start at
    * EVERY token position, so cross-document repeats are caught at any
    * alignment — the case fixed passage boundaries (d_passage_dedup)
    * structurally miss.
    */
  val SpanW = 5
  val SpanTopN = 30

  /** `d_gopher_rep` filter thresholds — the published Gopher values for
    * the top-2-gram and duplicate-5-gram char fractions.
    */
  val GopherTop2Max = 0.2
  val GopherDup5Max = 0.15

  /** Fraction + flag SQL for `d_gopher_rep`, shared verbatim by the
    * Spark row and the DuckDB oracle over identical integer columns.
    */
  private def gopherFracSql(num: String): String =
    s"round(CASE WHEN tot = 0 THEN CAST(0.0 AS DOUBLE) " +
      s"ELSE $num / CAST(tot AS DOUBLE) END, 6) AS frac_$num"

  private def gopherFlagSql: String =
    s"CASE WHEN frac_top2 > CAST($GopherTop2Max AS DOUBLE) OR " +
      s"frac_dup5 > CAST($GopherDup5Max AS DOUBLE) THEN 1 ELSE 0 END" +
      " AS flagged"

  /** `d_ccnet_buckets` threshold-sample size: covers the whole corpus at
    * sf0.001 (thresholds = exact terciles there) and is a real 64-of-500
    * subsample at sf0.01; production sizes it for tercile-boundary error
    * like any quantile sketch.
    */
  val CcnetSampleK = 64

  /** Per-document add-one-smoothed bigram-LM score — the `d_bigram_lm`
    * row body, shared with `d_ccnet_buckets`' labeling pass. The bigram
    * stream feeds the model AND the scoring join — materialized once,
    * produced by a typed kernel (the transform/sequence/struct HOF chain
    * evaluates interpreted and was 3× the query's cost; same fix as
    * d_curate's counts kernel). Tokenizer = the d_tokens whitespace
    * split, verbatim.
    */
  private def bigramScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val big = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, t) =>
        val toks = t.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
        if (toks.length < 2) Iterator.empty
        else (0 until toks.length - 1).iterator.map(i =>
          (id, toks(i), toks(i + 1)))
      })
      .toDF("doc_id", "w1", "w2")
      .localCheckpoint(true)
    val c12 = big.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    // history counts fold from the bigram model, not a second corpus
    // pass: c(w1) = Σ_w2 c(w1,w2), exactly
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val v = c1.agg(count(lit(1)).as("v"))
    big.join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log((col("c12") + 1.0) / (col("c1") + col("v")))), 6)
          .as("avg_logp"))
  }

  /** `d_bpe_vocab` merge rounds. Six is enough to exercise cascading
    * merges (a round-r merged symbol participating in a later pair) on
    * the demo vocabulary; production BPE runs tens of thousands of
    * rounds over the same per-round shape.
    */
  val BpeRounds = 6

  /** Initial BPE symbolization: one symbol per Unicode CODE POINT —
    * the same unit DuckDB's `string_split(word, '')` produces, so the
    * two engines stay in sync on non-BMP input (UTF-16 `split("")`
    * would shear emoji/astral CJK into surrogate halves on the Spark
    * side only). Identical to `split("")` on BMP-only corpora like the
    * driver's.
    */
  private[queries] def codePointSyms(w: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** One greedy left-to-right non-overlapping merge pass — the BPE
    * rewrite step. "aaa" under (a,a) becomes [aa, a]: a consumed symbol
    * cannot start the next match. The oracle replays the same semantics
    * with a window-function run-alternation (candidate runs take
    * positions 1,3,5,…).
    */
  private[queries] def bpeApply(s: Array[String], a: String,
      b: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += s(i); i += 1 }
    }
    out.result()
  }

  /** `d_dsir_resample` — DSIR-style importance resampling (Xie et al.
    * 2023, "Data Selection for Language Models via Importance
    * Resampling"): hashed-bigram bucket count, target-domain proxy,
    * add-α smoothing, and the resample size. Buckets chosen so the
    * demo corpus populates most of them; α = 0.5 is the paper's
    * Laplace-style smoothing shape.
    */
  val DsirBuckets = 512
  val DsirAlpha = 0.5
  val DsirTarget = "src0"
  val DsirK = 40

  /** Shared estimate text, pinned to this file's sketch size — see
    * [[TextOps.kmvEstSql]].
    */
  private def kmvEstSql(col: String): String = TextOps.kmvEstSql(col, KmvK)

  /** Keywords kept per document by `d_tfidf`. */
  val TfidfK = 3

  /** Percent of documents kept by `d_sample_hash` (fingerprint mod 100). */
  val SamplePct = 10

  /** Shard count for `d_shard_export`. */
  val ExportShards = 8

  /** Training-sequence token budget for `d_pack_chunks`. */
  val ChunkTokens = 1000

  /** Terms kept per language by `d_top_terms`. */
  val TopTermsK = 10

  /** `d_pmi_bigrams` min bigram count (kills the rare-pair PMI blowup)
    * and report size.
    */
  val PmiMinCount = 5
  val PmiTopN = 30

  /** `d_domain_jsd` hashed-token distribution width — fixed per-source
    * state (the DSIR hashed-feature discipline) regardless of
    * vocabulary size.
    */
  val JsdBuckets = 512

  /** `d_curate` gates: minimum composite quality, minimum token count,
    * and the post-dedup fingerprint sample percentage.
    */
  val CurateMinQuality = 0.3
  val CurateMinTokens = 10
  val CurateSamplePct = 50

  /** `d_mix_sample` per-language keep rates (permille): downsample the
    * dominant language, oversample-keep the rest.
    */
  val MixRatesPermille: Seq[(String, Int)] =
    Seq("en" -> 300, "de" -> 800, "fr" -> 800)
  val MixDefaultPermille = 1000

  /** PII pattern classes for `d_pii_redact` — RE2-safe regexes (no
    * backreferences or lookaround) so the Java-regex (Spark) and RE2
    * (DuckDB) evaluations agree character-for-character. ORDER MATTERS and
    * each class counts/redacts the text as left by the previous class:
    * ssn runs before phone (the looser phone pattern would swallow the
    * 3-2-4 digit groups), email before ip (an address's host part must
    * not be re-matched as a bare IP).
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}",
    "ssn" -> "\\b\\d{3}-\\d{2}-\\d{4}\\b",
    "phone" -> "\\+?\\d[\\d()\\- ]{7,}\\d",
    "ip" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b")

  /** `d_pii_redact` body over any `(doc_id, text)` frame: per-class hit
    * counts + the scrubbed text, one narrow codegen'd projection.
    */
  private[queries] def piiRedact(docs: DataFrame): DataFrame = {
    val (counts, clean) = PiiPatterns
      .foldLeft((Seq.empty[org.apache.spark.sql.Column], col("text"))) {
        case ((acc, cur), (name, pat)) =>
          (acc :+ size(regexp_extract_all(cur, lit(pat), lit(0))).as(s"n_$name"),
            regexp_replace(cur, lit(pat), lit(s"<${name.toUpperCase}>")))
      }
    docs.select(col("doc_id") +: counts :+ clean.as("clean"): _*)
  }

  /** Hash-first exact-dedup groups `(keep_id, n_copies)` — the
    * `d_dedup_exact` body, shared with `d_dedup_survivors`. The wide
    * shuffle groups on an 8-byte xxhash64 of the text; full documents are
    * re-shuffled ONLY for hash groups with >1 row (actual duplicates +
    * the vanishing 64-bit collision rate), where text equality is then
    * verified exactly. Same text ⇒ same hash, so text groups nest inside
    * hash groups and the result is identical to a direct GROUP BY text —
    * but a 100 TB dedup shuffles 8-byte keys, not documents.
    */
  private def dedupGroupsDf(s: SparkSession, dir: String): DataFrame =
    // r19 second pass: served once per (session, dir) — d_dedup_exact
    // and d_dedup_survivors both read this frame (group-count rows).
    servedFrame(dgCache, dgPins, s, dir) {
      dedupGroups(Tables(s, dir, "documents").select(col("doc_id"), col("text")))
    }

  /** Same, over any `(doc_id, text)` input (the curation pipeline runs it
    * on the quality-gated subset).
    */
  private def dedupGroups(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), col("text"), xxhash64(col("text")).as("fp"))
    val fpGroups = d.select(col("fp"), col("doc_id"))
      .groupBy("fp")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("fpc"))
    val dupFps = fpGroups.where(col("fpc") > 1).select(col("fp"))
    val verified = d.join(dupFps, Seq("fp"), "left_semi")
      .groupBy(col("fp"), col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
    val singles = fpGroups.where(col("fpc") === 1)
      .select(col("keep_id"), lit(1L).as("n_copies"))
    verified.union(singles)
  }

  /** LSH candidate pairs + exact shingle-Jaccard verification — the
    * `d_lsh_pairs` body, shared with `d_dup_clusters`. The shingle DF is
    * a cheap typed-kernel projection, so its uses recompute rather than
    * cache — no executor memory pinned after the query returns.
    */
  private def lshPairsDf(s: SparkSession, dir: String): DataFrame =
    // r19 second pass: served once per (session, dir) — FIVE rows read
    // this table (d_lsh_pairs, d_lsh_verify, d_dup_clusters,
    // d_lsh_est_j, d_split_leakage), each previously re-running the
    // banded self-join + exact-Jaccard verify; the survivor pair table
    // is candidate-scale (the point of banded LSH), so pinning it is
    // cheap at any corpus size.
    servedFrame(lshCache, lshPins, s, dir) {
      val sh = shingleDf(s, dir)
      val cand = bandPairs(bandRowsDf(s, dir, TextOps.shingles))
      cand
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
        .selectExpr("doc_a", "doc_b",
          "round(CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE) / size(array_union(sh_a, sh_b)), 6) AS jac")
        .where(col("jac") >= 0.3)
        .select(col("doc_a"), col("doc_b"), col("jac"))
    }

  /** Shared serve-once plumbing for the two text-side result fits
    * above: first consumer materializes one pinned checkpoint per
    * (session, dir); later consumers slice it; [[invalidateShared]]
    * releases it (the uniform session-fit contract).
    */
  private val lshCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private val lshPins = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Set[Int]]
  private val dgCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private val dgPins = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Set[Int]]

  private def servedFrame(
      cache: scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame],
      pins: scala.collection.concurrent.TrieMap[(SparkSession, String), Set[Int]],
      s: SparkSession, dir: String)(build: => DataFrame): DataFrame =
    cache.getOrElseUpdate((s, dir), {
      val sc = s.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val out = build.localCheckpoint(true)
      val ids = (sc.getPersistentRDDs.keySet -- before).toSet --
        graft.operators.SessionPins.pinned(sc)
      graft.operators.SessionPins.pin(sc, ids)
      pins.put((s, dir), ids)
      out
    })

  /** Max hamming distance for `d_simhash_pairs` — must stay ≤ 3 for the
    * 4-block pigeonhole recall guarantee (32 bits / 4 blocks: ≤ 3 flipped
    * bits cannot touch all 4 blocks).
    */
  val SimhashHammingMax = 3

  /** Passage window width (tokens) for `d_passage_dedup`, and the
    * position-packing multiplier (`doc_id * pack + pos` must be injective:
    * positions are bounded by tokens-per-document ≪ 2²⁰).
    */
  val PassageW = 8
  val PassagePack = 1048576L

  /** Sliding-window chunking (`d_chunk_overlap`): window width and stride
    * in tokens — overlap = ChunkW - ChunkStride tokens carried across
    * consecutive chunks.
    */
  val ChunkW = 64
  val ChunkStride = 48

  /** Superstep budget for `d_dup_clusters` if the pair graph ever crosses
    * the union-find size guard (near-dup clusters are shallow; 20
    * jump-accelerated rounds cover diameter ≫ anything LSH produces).
    */
  val DupClusterRounds = 20

  /** doc_id + distinct shingle-hash array — typed per-partition kernel
    * ([[TextOps.shingles]]), one narrow pass per row; semantically the
    * tokenHashes→shinglesFromHashes expression chain (kept in [[TextOps]]
    * for the DuckDB oracle rendering), ~100× cheaper interpreted-CPU-wise.
    */
  private def shingleDf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => (id, TextOps.shingles(t)) })
      .toDF("doc_id", "sh")
  }

  /** doc_id + distinct char-5-gram hash array — typed kernel
    * ([[TextOps.charNgrams]]), the n-gram-Jaccard feature space.
    */
  private def ngramDf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => (id, TextOps.charNgrams(t)) })
      .toDF("doc_id", "sh")
  }

  /** MinHash band hashes b0..b{Bands-1} of a `(doc_id, sh)` feature DF —
    * shared by the word-shingle and char-n-gram LSH variants.
    */
  private def bands(features: DataFrame): DataFrame = {
    val sig = features.selectExpr(
      Seq("doc_id") ++
        (0 until K).map(j => s"${TextOps.spark.minhash("sh", j)} AS m$j"): _*)
    val bandCols = (0 until Bands).map { b =>
      val lo = b * RowsPerBand
      val e = (lo until lo + RowsPerBand)
        .map(j => s"m$j")
        .reduceLeft((acc, x) => s"(($acc) * $TokMul + $x) % $P")
      s"$e AS b$b"
    }
    sig.selectExpr(Seq("doc_id") ++ bandCols: _*)
  }

  /** Stacked `(doc_id, band, bh)` LSH band rows straight from `documents`
    * — text → feature hashes → all-K-min MinHash → band fold, fused into
    * ONE typed per-partition pass ([[TextOps.bandRows]]); empty feature
    * sets emit no rows (the NULL-band-hash docs of the expression path,
    * which the equi-join likewise never matched). The K interpreted
    * `array_min(transform(...))` lambdas this replaces dominated
    * `d_ngram_pairs` (~900-element char-gram arrays, evaluated on both
    * sides of the self-join).
    */
  private def bandRowsDf(s: SparkSession, dir: String,
      feat: String => Array[Long],
      nBands: Int = Bands, rowsPerBand: Int = RowsPerBand): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        TextOps.bandRows(feat(t), nBands, rowsPerBand)
          .map { case (b, h) => (id, b, h) } }
      .toDF("doc_id", "band", "bh")
  }

  /** Distinct candidate pairs (doc_a < doc_b) sharing any band bucket —
    * the LSH equi-join over stacked `(doc_id, band, bh)` rows; shuffles
    * on (band, hash), never all-pairs.
    */
  private def bandPairs(stacked: DataFrame): DataFrame = {
    stacked.as("x").join(stacked.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  // --------------------------------------------------------------- oracle

  /** Winnowing CTE chain ending in `sel(doc_id, wstart, pos, fp)` — the
    * DuckDB replay of [[TextOps.winnow]], shared by the `d_winnow` and
    * `d_winnow_pairs` oracles so the fingerprint spelling cannot drift.
    */
  private def duckWinnowCte: String = {
    val M = Hashing.TokMul
    val W = TextOps.WinnowW
    s"""tk AS (SELECT doc_id, ${TextOps.duck.tokenHashes("text")} AS hs
       |  FROM documents),
       |kg AS MATERIALIZED (SELECT doc_id, u.i AS pos,
       |  ((hs[CAST(u.i AS INT) + 1] * $M + hs[CAST(u.i AS INT) + 2]) * $M
       |    + hs[CAST(u.i AS INT) + 3]) % ${Hashing.P} AS h
       |  FROM tk, UNNEST(range(0, len(hs) - ${TextOps.ShingleW - 1}))
       |    AS u(i)
       |  WHERE len(hs) >= ${TextOps.ShingleW}),
       |winmin AS MATERIALIZED (SELECT doc_id, pos AS wstart,
       |  min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN CURRENT ROW AND ${W - 1} FOLLOWING) AS minv,
       |  count(*) OVER (PARTITION BY doc_id) AS m
       |  FROM kg),
       |sel AS MATERIALIZED (SELECT f.doc_id, f.wstart, max(k.pos) AS pos,
       |  f.minv AS fp
       |  FROM (SELECT doc_id, wstart, minv FROM winmin
       |    WHERE wstart <= m - $W) f
       |  JOIN kg k ON k.doc_id = f.doc_id
       |    AND k.pos BETWEEN f.wstart AND f.wstart + ${W - 1}
       |    AND k.h = f.minv
       |  GROUP BY 1, 2, 4)""".stripMargin
  }

  /** CDC chunk CTE chain ending in
    * `cch(doc_id, chunk_idx, start_tok, n_toks, chash)` — the DuckDB
    * replay of [[TextOps.cdcChunks]], shared by the `d_cdc_chunks` and
    * `d_cdc_dedup` oracles. chunk_idx counts the boundaries STRICTLY
    * before each token (a 1-PRECEDING running sum), so the boundary
    * token closes its own chunk exactly like the kernel.
    */
  private def duckCdcCte: String =
    s"""tkh AS (SELECT doc_id, ${TextOps.duck.tokenHashes("text")} AS hs
       |  FROM documents),
       |ctok AS MATERIALIZED (SELECT doc_id, u.i AS pos,
       |  hs[CAST(u.i AS INT) + 1] AS h
       |  FROM tkh, UNNEST(range(0, len(hs))) AS u(i)),
       |casg AS MATERIALIZED (SELECT doc_id, pos, h,
       |  CAST(coalesce(sum(CASE WHEN h % ${TextOps.CdcMod} = 0 THEN 1
       |      ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS chunk_idx
       |  FROM ctok),
       |cch AS MATERIALIZED (SELECT doc_id, chunk_idx,
       |  min(pos) AS start_tok, count(*) AS n_toks,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), list(h ORDER BY pos)),
       |    (a, v) -> (a * ${Hashing.TokMul} + v) % ${Hashing.P}) AS chash
       |  FROM casg GROUP BY 1, 2)""".stripMargin

  private def duckShingleCte: String =
    s"""hs_t AS (SELECT doc_id, ${TextOps.duck.tokenHashes("text")} AS hs FROM documents),
       |sh_t AS (SELECT doc_id, ${TextOps.duck.shinglesFromHashes("hs")} AS sh FROM hs_t)""".stripMargin

  /** `(doc_id, simhash)` CTE — oracle twin of [[TextOps.simhash32]]. */
  private def duckSimhashCte: String = {
    val bitSums = (0 until 32)
      .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS bit$b")
      .mkString(", ")
    val combine = (0 until 32)
      .map(b => s"CASE WHEN bit$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    s"""hs_t AS (SELECT doc_id, ${TextOps.duck.tokenHashes("text")} AS hs FROM documents),
       |ex AS (SELECT doc_id, unnest(hs) AS h FROM hs_t),
       |bits AS (SELECT doc_id, $bitSums FROM ex GROUP BY doc_id),
       |sim_t AS (SELECT doc_id, $combine AS simhash FROM bits)""".stripMargin
  }

  private def duckNgramCte: String =
    s"""cs_t AS (SELECT doc_id, ${TextOps.duck.charCodes("text")} AS cs FROM documents),
       |ng_t AS (SELECT doc_id, ${TextOps.duck.ngramsFromCodes("cs")} AS sh FROM cs_t)""".stripMargin

  /** sig/band CTEs over a feature table `(doc_id, sh)` — oracle twin of
    * [[bands]]; CTE names prefixed so two feature spaces can coexist.
    */
  private def duckBandCteFrom(featureTable: String,
      nBands: Int = Bands, rowsPerBand: Int = RowsPerBand): String = {
    val sigCols = (0 until K)
      .map(j => s"${TextOps.duck.minhash("sh", j)} AS m$j").mkString(", ")
    val bandCols = (0 until nBands).map { b =>
      val lo = b * rowsPerBand
      val e = (lo until lo + rowsPerBand)
        .map(j => s"m$j")
        .reduceLeft((acc, x) => s"(($acc) * $TokMul + $x) % $P")
      s"$e AS b$b"
    }.mkString(", ")
    s"""sig_t AS (SELECT doc_id, $sigCols FROM $featureTable),
       |band_t AS (SELECT doc_id, $bandCols FROM sig_t)""".stripMargin
  }

  private def duckBandCte: String =
    s"""$duckShingleCte,
       |${duckBandCteFrom("sh_t")}""".stripMargin

  /** Full `d_lsh_pairs` oracle query — also nested (as a subquery) inside
    * the `d_dup_clusters` closure oracle.
    */
  private def duckLshPairsSql: String =
    s"""WITH $duckBandCte,
       |${duckCandCte()}
       |SELECT doc_a, doc_b,
       | round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jac
       |FROM cand JOIN sh_t a ON a.doc_id = doc_a JOIN sh_t b ON b.doc_id = doc_b
       |WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.3""".stripMargin

  /** stacked/cand CTEs — oracle twin of [[bandPairs]] over `band_t`. */
  private def duckCandCte(nBands: Int = Bands): String =
    s"""stacked AS (${(0 until nBands).map(b =>
          s"SELECT doc_id, $b AS band, b$b AS bh FROM band_t")
          .mkString(" UNION ALL ")}),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM stacked x JOIN stacked y
       |  ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "d_tokens" ->
      s"""SELECT doc_id,
         | len(${TextOps.duck.tokens("text")}) AS n_ws,
         | len(regexp_extract_all(lower(text), '${TextOps.BpeRegex}')) AS n_bpe
         |FROM documents""".stripMargin,
    "d_fingerprint" ->
      s"SELECT doc_id, ${TextOps.duck.fingerprint("text")} AS fp FROM documents",
    "d_winnow" ->
      s"""WITH $duckWinnowCte
         |SELECT DISTINCT doc_id, pos, fp FROM sel""".stripMargin,
    "d_winnow_pairs" ->
      s"""WITH $duckWinnowCte,
         |wf AS MATERIALIZED (SELECT DISTINCT doc_id, fp FROM sel),
         |dfc AS (SELECT fp FROM wf GROUP BY fp
         |  HAVING count(*) BETWEEN 2 AND ${TextOps.WinnowMaxDf}),
         |rare AS MATERIALIZED (SELECT wf.doc_id, wf.fp FROM wf
         |  JOIN dfc USING (fp)),
         |cand AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM rare x JOIN rare y
         |    ON x.fp = y.fp AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2
         |  HAVING count(*) >= ${TextOps.WinnowMinShared}),
         |sz AS MATERIALIZED (SELECT doc_id, count(*) AS nf FROM wf
         |  GROUP BY 1),
         |ist AS (SELECT c.doc_a, c.doc_b, count(*) AS n_shared
         |  FROM cand c JOIN wf a ON a.doc_id = c.doc_a
         |  JOIN wf b ON b.doc_id = c.doc_b AND b.fp = a.fp
         |  GROUP BY 1, 2)
         |SELECT i.doc_a, i.doc_b, i.n_shared,
         |  round(CAST(i.n_shared AS DOUBLE) /
         |    CAST(sa.nf + sb.nf - i.n_shared AS DOUBLE), 6) AS jacc
         |FROM ist i JOIN sz sa ON sa.doc_id = i.doc_a
         |JOIN sz sb ON sb.doc_id = i.doc_b""".stripMargin,
    "d_lsh_est_j" -> {
      val sigCols = (0 until K)
        .map(j => s"${TextOps.duck.minhash("sh", j)} AS m$j").mkString(", ")
      val agree = (0 until K)
        .map(j => s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $duckShingleCte,
         |sg AS MATERIALIZED (SELECT doc_id, $sigCols FROM sh_t
         |  WHERE len(sh) > 0),
         |pr AS MATERIALIZED ($duckLshPairsSql),
         |est AS (SELECT pr.doc_a, pr.doc_b, pr.jac,
         |  CAST($agree AS BIGINT) AS n_eq
         |  FROM pr JOIN sg a ON a.doc_id = pr.doc_a
         |  JOIN sg b ON b.doc_id = pr.doc_b),
         |e2 AS (SELECT doc_a, doc_b, jac, n_eq,
         |  round(CAST(n_eq AS DOUBLE) / $K, 6) AS est_j FROM est)
         |SELECT doc_a, doc_b, jac, n_eq, est_j,
         | round(est_j - jac, 6) AS err
         |FROM e2""".stripMargin
    },
    "d_cdc_chunks" ->
      s"""WITH $duckCdcCte
         |SELECT doc_id, chunk_idx, start_tok, n_toks, chash
         |FROM cch""".stripMargin,
    "d_cdc_dedup" ->
      s"""WITH $duckCdcCte
         |SELECT chash, count(*) AS n_copies,
         | count(DISTINCT doc_id) AS n_docs, min(n_toks) AS n_toks,
         | CAST((count(*) - 1) * min(n_toks) AS BIGINT) AS saved_toks
         |FROM cch GROUP BY 1 HAVING count(*) > 1""".stripMargin,
    "d_tok_entropy" ->
      s"""WITH tk AS (SELECT doc_id,
         |  unnest(${TextOps.duck.tokens("text")}) AS w FROM documents),
         |tc AS MATERIALIZED (SELECT doc_id, w, count(*) AS c FROM tk
         |  GROUP BY 1, 2),
         |mom AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
         |  count(*) AS n_vocab, sum(c * ln(CAST(c AS DOUBLE))) AS s
         |  FROM tc GROUP BY 1)
         |SELECT doc_id, n_toks, n_vocab,
         |  round((ln(CAST(n_toks AS DOUBLE)) - s / n_toks)
         |    / ln(CAST(2 AS DOUBLE)), 6) AS entropy_bits,
         |  CASE WHEN n_vocab > 1 THEN
         |    round(((ln(CAST(n_toks AS DOUBLE)) - s / n_toks)
         |      / ln(CAST(2 AS DOUBLE)))
         |      / (ln(CAST(n_vocab AS DOUBLE)) / ln(CAST(2 AS DOUBLE))), 6)
         |  ELSE CAST(0 AS DOUBLE) END AS norm_entropy
         |FROM mom""".stripMargin,
    "d_quality" ->
      s"""WITH t AS (SELECT doc_id, ${TextOps.duck.tokens("text")} AS toks,
         |  CAST(length(text) AS DOUBLE) AS n_chars_d,
         |  CAST(length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS DOUBLE) AS punct_cnt
         |  FROM documents),
         |u AS (SELECT doc_id, len(toks) AS n_tokens,
         |  round(CAST(len(list_filter(toks, t -> list_contains([${stop("")}], t))) AS DOUBLE) / len(toks), 6) AS stop_ratio,
         |  round(punct_cnt / n_chars_d, 6) AS punct_ratio,
         |  round(n_chars_d / len(toks), 6) AS avg_tok_len FROM t)
         |SELECT doc_id, n_tokens, stop_ratio, punct_ratio, avg_tok_len,
         | round(least(1.0, n_tokens / 100.0) * (1.0 - punct_ratio) * (0.5 + stop_ratio), 6) AS quality
         |FROM u""".stripMargin,
    "d_langid" -> {
      val scoreCols = TextOps.LangMarkers.map { case (lang, ws) =>
        val arr = ws.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(toks, t -> list_contains([$arr], t))) AS s_$lang"
      }.mkString(", ")
      val langs = TextOps.LangMarkers.map(_._1)
      val caseChain = langs.zipWithIndex.map { case (l, i) =>
        val geAll = langs.filterNot(_ == l).map(o => s"s_$l >= s_$o").mkString(" AND ")
        if (i < langs.length - 1) s"WHEN $geAll THEN '$l'" else s"ELSE '$l'"
      }.mkString("CASE ", " ", " END")
      s"""WITH t AS (SELECT doc_id, ${TextOps.duck.tokens("text")} AS toks FROM documents),
         |sc AS (SELECT doc_id, $scoreCols FROM t)
         |SELECT doc_id, $caseChain AS lang_pred FROM sc""".stripMargin
    },
    "d_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text""".stripMargin,
    "d_dedup_survivors" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)""".stripMargin,
    "d_incr_dedup" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id % 3 = 0 AND text NOT IN (
        |  SELECT text FROM documents WHERE doc_id % 3 <> 0)""".stripMargin,
    "d_pii_redact" -> {
      // generated from the SAME PiiPatterns constant as the Spark side —
      // one sequential CTE per class (each counts + redacts the text as
      // left by the previous one, exactly like the Column fold).
      val steps = PiiPatterns.zipWithIndex.map { case ((name, pat), i) =>
        s"s${i + 1} AS (SELECT * EXCLUDE (t), " +
          s"len(regexp_extract_all(t, '$pat')) AS n_$name, " +
          s"regexp_replace(t, '$pat', '<${name.toUpperCase}>', 'g') AS t " +
          s"FROM s$i)"
      }
      val names = PiiPatterns.map { case (n, _) => s"n_$n" }.mkString(", ")
      s"""WITH s0 AS (SELECT doc_id, text AS t FROM documents),
         |${steps.mkString(",\n")}
         |SELECT doc_id, $names, t AS clean FROM s${PiiPatterns.length}""".stripMargin
    },
    "d_shard_export" ->
      s"""SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         | min(doc_id) AS first_doc FROM (
         |  SELECT doc_id, len(${TextOps.duck.tokens("text")}) AS n_tok,
         |   ((${TextOps.duck.fingerprint("text")} % $ExportShards) + $ExportShards) % $ExportShards AS shard
         |  FROM documents)
         |GROUP BY shard""".stripMargin,
    "d_sample_hash" ->
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, ${TextOps.duck.fingerprint("text")} AS fp
         |  FROM documents)
         |WHERE ((fp % 100) + 100) % 100 < $SamplePct""".stripMargin,
    "d_mix_sample" -> {
      val rateCase = MixRatesPermille
        .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
        .mkString("CASE ", " ", s" ELSE $MixDefaultPermille END")
      s"""SELECT lang, count(*) AS n_kept, min(doc_id) AS first_doc FROM (
         |  SELECT doc_id, lang, ${TextOps.duck.fingerprint("text")} AS fp,
         |   $rateCase AS rate
         |  FROM documents)
         |WHERE ((fp % 1000) + 1000) % 1000 < rate
         |GROUP BY lang""".stripMargin
    },
    "d_curate" ->
      s"""WITH t AS (SELECT doc_id, text, lang, ${TextOps.duck.tokens("text")} AS toks,
         |  CAST(length(text) AS DOUBLE) AS n_chars_d,
         |  CAST(length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS DOUBLE) AS punct_cnt
         |  FROM documents),
         |u AS (SELECT doc_id, text, lang, len(toks) AS n_tokens,
         |  round(CAST(len(list_filter(toks, t -> list_contains([${stop("")}], t))) AS DOUBLE) / len(toks), 6) AS stop_ratio,
         |  round(punct_cnt / n_chars_d, 6) AS punct_ratio FROM t),
         |g AS (SELECT doc_id, text, lang, n_tokens,
         |  round(least(1.0, n_tokens / 100.0) * (1.0 - punct_ratio) * (0.5 + stop_ratio), 6) AS quality
         |  FROM u
         |  WHERE round(least(1.0, n_tokens / 100.0) * (1.0 - punct_ratio) * (0.5 + stop_ratio), 6) >= $CurateMinQuality
         |    AND n_tokens >= $CurateMinTokens),
         |k AS (SELECT min(doc_id) AS doc_id FROM g GROUP BY text)
         |SELECT doc_id, lang, n_tokens, quality FROM (
         |  SELECT g.doc_id, g.lang, g.n_tokens, g.quality,
         |    ${TextOps.duck.fingerprint("text")} AS fp
         |  FROM g JOIN k USING (doc_id))
         |WHERE ((fp % 100) + 100) % 100 < $CurateSamplePct""".stripMargin,
    "d_len_stats" ->
      s"""WITH t AS (SELECT lang, len(${TextOps.duck.tokens("text")}) AS n_tok
         |  FROM documents)
         |SELECT lang, count(*) AS n_docs, round(avg(n_tok), 6) AS avg_tok,
         | round(quantile_cont(n_tok, 0.5), 6) AS p50,
         | round(quantile_cont(n_tok, 0.9), 6) AS p90,
         | round(quantile_cont(n_tok, 0.99), 6) AS p99
         |FROM t GROUP BY lang""".stripMargin,
    // sum() HUGEINT widening cast back to BIGINT (driver hash parity)
    "d_len_gini" ->
      s"""WITH d AS (SELECT n_chars, row_number()
         |    OVER (ORDER BY n_chars, doc_id) AS i FROM documents),
         |mom AS (SELECT count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS s_x,
         |  CAST(sum(i * n_chars) AS BIGINT) AS s_ix FROM d)
         |SELECT n_docs, s_x, s_ix,
         |  CAST(2 * s_ix - (n_docs + 1) * s_x AS DOUBLE) /
         |    CAST(n_docs * s_x AS DOUBLE) AS gini
         |FROM mom""".stripMargin,
    "d_top_terms" ->
      s"""WITH t AS (SELECT lang, unnest(${TextOps.duck.tokens("text")}) AS term
         |  FROM documents),
         |f AS (SELECT lang, term, count(*) AS tf FROM t
         |  WHERE term NOT IN (${stop("")}) AND length(term) >= 3
         |  GROUP BY 1, 2),
         |r AS (SELECT lang, term, tf, row_number() OVER (
         |  PARTITION BY lang ORDER BY tf DESC, term ASC) AS rk FROM f)
         |SELECT lang, term, tf, rk FROM r WHERE rk <= $TopTermsK""".stripMargin,
    "d_pack_chunks" ->
      s"""WITH t AS (SELECT doc_id, lang, source,
         |  len(${TextOps.duck.tokens("text")}) AS n_tok FROM documents),
         |c AS (SELECT lang, source, n_tok,
         |  sum(n_tok) OVER (PARTITION BY lang, source ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum FROM t)
         |SELECT lang, source,
         | CAST(floor((cum - n_tok) / $ChunkTokens.0) AS BIGINT) AS chunk_id,
         | count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens
         |FROM c GROUP BY 1, 2, 3""".stripMargin,
    "d_minhash" ->
      s"""WITH $duckBandCte
         |SELECT doc_id, b0, b1, b2, b3 FROM band_t""".stripMargin,
    "d_lsh_pairs" -> duckLshPairsSql,
    "d_lsh_verify" ->
      s"""WITH pr AS MATERIALIZED ($duckLshPairsSql)
         |SELECT pr.doc_a, pr.doc_b, pr.jac,
         | levenshtein(a.text, b.text) AS edit_dist,
         | round(1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE) /
         |   greatest(length(a.text), length(b.text)), 6) AS sim
         |FROM pr JOIN documents a ON a.doc_id = pr.doc_a
         |JOIN documents b ON b.doc_id = pr.doc_b""".stripMargin,
    "d_passage_dedup" ->
      s"""WITH tk AS (SELECT doc_id, ${TextOps.duck.tokenHashes("text")} AS hs
         |  FROM documents),
         |pl AS (SELECT doc_id,
         |  ${TextOps.duck.passagesFromHashes("hs", PassageW)} AS ps FROM tk),
         |pa AS MATERIALIZED (SELECT doc_id, unnest(ps) AS ph,
         |  generate_subscripts(ps, 1) - 1 AS pos FROM pl),
         |f AS (SELECT ph, min(doc_id * $PassagePack + pos) AS first_pack,
         |  count(*) AS occ FROM pa GROUP BY ph)
         |SELECT doc_id, count(*) AS n_pass,
         | CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         | CAST(sum(CASE WHEN doc_id * $PassagePack + pos = first_pack
         |   THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM pa JOIN f USING (ph) GROUP BY doc_id""".stripMargin,
    "d_chunk_overlap" ->
      s"""WITH tk AS (SELECT doc_id, ${TextOps.duck.tokenHashes("text")} AS hs
         |  FROM documents),
         |cl AS (SELECT doc_id,
         |  ${TextOps.duck.chunksFromHashes("hs", ChunkW, ChunkStride)} AS cs
         |  FROM tk),
         |cu AS (SELECT doc_id, unnest(cs) AS c,
         |  generate_subscripts(cs, 1) - 1 AS chunk_id FROM cl)
         |SELECT doc_id, chunk_id, c.start AS start_tok, c.ln AS n_tok,
         | c.fp AS chunk_fp FROM cu""".stripMargin,
    // connected components as a transitive-closure recursive CTE: reach =
    // all (node, seed) pairs, cluster = min reachable seed. UNION (not
    // UNION ALL) dedups the working table, so the recursion terminates at
    // the closure. uedges is MATERIALIZED: it is referenced from the
    // recursive step and DuckDB 1.0 would otherwise inline the whole LSH
    // pipeline into every iteration.
    "d_dup_clusters" ->
      s"""WITH RECURSIVE
         |upairs AS MATERIALIZED (SELECT doc_a, doc_b FROM ($duckLshPairsSql)),
         |uedges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM upairs
         |  UNION ALL SELECT doc_b AS a, doc_a AS b FROM upairs),
         |reach(id, r) AS (
         |  SELECT DISTINCT a AS id, a AS r FROM uedges
         |  UNION
         |  SELECT e.b AS id, reach.r FROM reach JOIN uedges e ON e.a = reach.id)
         |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin,
    "d_ngram_pairs" ->
      s"""WITH $duckNgramCte,
         |${duckBandCteFrom("ng_t", TextOps.NgramBands, TextOps.NgramRowsPerBand)},
         |${duckCandCte(TextOps.NgramBands)}
         |SELECT doc_a, doc_b,
         | round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jac
         |FROM cand JOIN ng_t a ON a.doc_id = doc_a JOIN ng_t b ON b.doc_id = doc_b
         |WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= $NgramJacThreshold""".stripMargin,
    "d_simhash" ->
      s"""WITH $duckSimhashCte
         |SELECT doc_id, simhash FROM sim_t""".stripMargin,
    "d_simhash_pairs" -> {
      val stackedUnion = (0 until 4).map(b =>
          s"SELECT doc_id, simhash, $b AS band, (simhash >> ${8 * b}) & 255 AS bb FROM sim_t")
        .mkString(" UNION ALL ")
      val firstBand = (0 until 3).map(bp =>
          s"(band <= $bp OR ((sim_a >> ${8 * bp}) & 255) != ((sim_b >> ${8 * bp}) & 255))")
        .mkString(" AND ")
      s"""WITH $duckSimhashCte,
         |stacked AS ($stackedUnion),
         |cand AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |    x.simhash AS sim_a, y.simhash AS sim_b, x.band AS band
         |  FROM stacked x JOIN stacked y
         |  ON x.band = y.band AND x.bb = y.bb AND x.doc_id < y.doc_id),
         |firstb AS (SELECT doc_a, doc_b, sim_a, sim_b FROM cand WHERE $firstBand)
         |SELECT doc_a, doc_b, bit_count(xor(sim_a, sim_b)) AS hamming
         |FROM firstb WHERE bit_count(xor(sim_a, sim_b)) <= $SimhashHammingMax""".stripMargin
    },
    "d_decontam" ->
      s"""WITH $duckShingleCte,
         |ev AS (SELECT DISTINCT unnest(sh) AS h FROM sh_t
         |  WHERE doc_id % $DecontamEvalMod = 0),
         |tr AS (SELECT doc_id, unnest(sh) AS h FROM sh_t
         |  WHERE doc_id % $DecontamEvalMod <> 0)
         |SELECT tr.doc_id, count(*) AS n_hits
         |FROM tr JOIN ev USING (h) GROUP BY tr.doc_id""".stripMargin,
    "d_split_leakage" ->
      s"""WITH pr AS MATERIALIZED ($duckLshPairsSql),
         |sp AS (SELECT doc_id,
         |  CASE WHEN fp % 10 < 8 THEN 'train' WHEN fp % 10 = 8 THEN 'val'
         |    ELSE 'test' END AS split
         |  FROM (SELECT doc_id, ${TextOps.duck.fingerprint("text")} AS fp
         |    FROM documents))
         |SELECT pr.doc_a, pr.doc_b, a.split AS split_a, b.split AS split_b,
         |  pr.jac
         |FROM pr JOIN sp a ON a.doc_id = pr.doc_a
         |  JOIN sp b ON b.doc_id = pr.doc_b
         |WHERE a.split <> b.split""".stripMargin,
    "d_weighted_sample" ->
      s"""SELECT doc_id, lang, wt, skey, rk FROM (
         |  SELECT doc_id, lang, wt, skey, row_number() OVER (
         |    PARTITION BY lang ORDER BY skey DESC, doc_id ASC) AS rk
         |  FROM (SELECT doc_id, lang, greatest(n_chars, 1) AS wt,
         |    round(pow((${TextOps.duck.fingerprint("text")} + 1.0) / ${Hashing.P + 1}.0,
         |      1.0 / greatest(n_chars, 1)), 9) AS skey
         |    FROM documents))
         |WHERE rk <= $WeightedSampleK""".stripMargin,
    "d_vocab_kmv" ->
      s"""WITH t AS (SELECT lang, unnest(${TextOps.duck.tokens("text")}) AS t
         |  FROM documents),
         |hh AS (SELECT lang, ${TextOps.duck.tokenHash("t")} AS h FROM t),
         |d AS MATERIALIZED (SELECT DISTINCT lang, h FROM hh),
         |dm AS (SELECT DISTINCT lang, ${Hashing.duck.kmvMix("h")} AS hm
         |  FROM d),
         |kth AS (SELECT lang, hm AS kth_h FROM (
         |  SELECT lang, hm, row_number() OVER (
         |    PARTITION BY lang ORDER BY hm ASC) AS rn FROM dm)
         |  WHERE rn = $KmvK),
         |ex AS (SELECT lang, count(*) AS n_exact FROM d GROUP BY lang)
         |SELECT ex.lang, CAST(ex.n_exact AS BIGINT) AS n_exact, k.kth_h,
         |  ${kmvEstSql("k.kth_h")}
         |FROM ex JOIN kth k ON k.lang = ex.lang""".stripMargin,
    "d_decontam_frac" ->
      s"""WITH $duckShingleCte,
         |ev AS (SELECT DISTINCT unnest(sh) AS h FROM sh_t
         |  WHERE doc_id % $DecontamEvalMod = 0),
         |tr AS MATERIALIZED (SELECT doc_id, unnest(sh) AS h FROM sh_t
         |  WHERE doc_id % $DecontamEvalMod <> 0),
         |tot AS (SELECT doc_id, count(*) AS n_sh FROM tr GROUP BY doc_id),
         |hits AS (SELECT tr.doc_id, count(*) AS n_hits FROM tr
         |  JOIN ev USING (h) GROUP BY tr.doc_id)
         |SELECT t.doc_id, CAST(t.n_sh AS BIGINT) AS n_sh,
         |  CAST(coalesce(hi.n_hits, 0) AS BIGINT) AS n_hits,
         |  round(CAST(coalesce(hi.n_hits, 0) AS DOUBLE) / t.n_sh, 6) AS frac,
         |  CAST(CASE WHEN round(CAST(coalesce(hi.n_hits, 0) AS DOUBLE) / t.n_sh, 6)
         |    >= $DecontamFracThreshold THEN 1 ELSE 0 END AS INT) AS flagged
         |FROM tot t LEFT JOIN hits hi ON hi.doc_id = t.doc_id""".stripMargin,
    "d_tfidf" ->
      s"""WITH t AS (SELECT doc_id, unnest(${TextOps.duck.tokens("text")}) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t
         |  WHERE term NOT IN (${stop("")}) AND length(term) >= 3
         |  GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n_t AS (SELECT count(*) AS n FROM documents),
         |sc AS (SELECT doc_id, term, tf,
         |  round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
         |  FROM tf JOIN df USING (term) CROSS JOIN n_t),
         |r AS (SELECT doc_id, term, tf, tfidf, row_number() OVER (
         |  PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rk FROM sc)
         |SELECT doc_id, term, tf, tfidf, rk FROM r WHERE rk <= $TfidfK""".stripMargin,
    "d_ngram_diversity" ->
      s"""WITH t AS MATERIALIZED (SELECT source,
         |  list_filter(${TextOps.duck.tokens("text")}, x -> x <> '') AS toks
         |  FROM documents),
         |g AS MATERIALIZED (
         |  SELECT source, 1 AS n, toks[CAST(u.i AS INT) + 1] AS gram
         |  FROM t, UNNEST(range(0, len(toks))) AS u(i)
         |  UNION ALL
         |  SELECT source, 2, toks[CAST(u.i AS INT) + 1] || ' ' ||
         |    toks[CAST(u.i AS INT) + 2]
         |  FROM t, UNNEST(range(0, len(toks) - 1)) AS u(i)
         |  UNION ALL
         |  SELECT source, 3, toks[CAST(u.i AS INT) + 1] || ' ' ||
         |    toks[CAST(u.i AS INT) + 2] || ' ' || toks[CAST(u.i AS INT) + 3]
         |  FROM t, UNNEST(range(0, len(toks) - 2)) AS u(i)),
         |d AS (SELECT source, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3)
         |SELECT source, n, CAST(sum(c) AS BIGINT) AS total,
         |  CAST(count(*) AS BIGINT) AS n_distinct,
         |  round(count(*) / CAST(sum(c) AS DOUBLE), 6) AS ratio
         |FROM d GROUP BY 1, 2""".stripMargin,
    "d_gopher_rep" ->
      s"""WITH t AS MATERIALIZED (SELECT doc_id,
         |  list_filter(${TextOps.duck.tokens("text")}, x -> x <> '') AS toks
         |  FROM documents),
         |tc AS (SELECT doc_id, CAST(coalesce(list_sum(
         |  list_transform(toks, x -> CAST(length(x) AS BIGINT))), 0)
         |  AS BIGINT) AS tot FROM t),
         |g2 AS (SELECT doc_id, toks[CAST(u.i AS INT) + 1] AS w1,
         |  toks[CAST(u.i AS INT) + 2] AS w2
         |  FROM t, UNNEST(range(0, len(toks) - 1)) AS u(i)),
         |c2 AS (SELECT doc_id, w1, w2, count(*) AS cnt FROM g2
         |  GROUP BY 1, 2, 3),
         |t2 AS (SELECT doc_id,
         |  CAST(cnt * (length(w1) + length(w2)) AS BIGINT) AS top2 FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY cnt DESC, w1 ASC, w2 ASC) AS rn FROM c2) WHERE rn = 1),
         |g5 AS (SELECT doc_id, toks[CAST(u.i AS INT) + 1] AS w1,
         |  toks[CAST(u.i AS INT) + 2] AS w2, toks[CAST(u.i AS INT) + 3] AS w3,
         |  toks[CAST(u.i AS INT) + 4] AS w4, toks[CAST(u.i AS INT) + 5] AS w5
         |  FROM t, UNNEST(range(0, len(toks) - 4)) AS u(i)),
         |c5 AS (SELECT doc_id, w1, w2, w3, w4, w5, count(*) AS cnt FROM g5
         |  GROUP BY 1, 2, 3, 4, 5, 6),
         |t5 AS (SELECT doc_id, CAST(coalesce(sum(CASE WHEN cnt > 1 THEN
         |  cnt * (length(w1) + length(w2) + length(w3) + length(w4) +
         |    length(w5)) END), 0) AS BIGINT) AS dup5
         |  FROM c5 GROUP BY doc_id),
         |j AS (SELECT tc.doc_id, tc.tot, coalesce(t2.top2, 0) AS top2,
         |  coalesce(t5.dup5, 0) AS dup5
         |  FROM tc LEFT JOIN t2 USING (doc_id) LEFT JOIN t5 USING (doc_id)),
         |f AS (SELECT doc_id, ${gopherFracSql("top2")},
         |  ${gopherFracSql("dup5")} FROM j)
         |SELECT doc_id, frac_top2, frac_dup5, $gopherFlagSql FROM f""".stripMargin,
    "d_bigram_lm" ->
      s"""$bigramScoredCte
         |SELECT doc_id, n_bigrams, avg_logp FROM scored""".stripMargin,
    "d_pmi_bigrams" ->
      s"""WITH tk AS (SELECT doc_id, ${TextOps.duck.tokens("text")} AS toks
         |  FROM documents),
         |big AS MATERIALIZED (SELECT toks[CAST(u.i AS INT) + 1] AS w1,
         |    toks[CAST(u.i AS INT) + 2] AS w2
         |  FROM tk, UNNEST(range(0, len(toks) - 1)) AS u(i)),
         |c12 AS MATERIALIZED (SELECT w1, w2, count(*) AS c12 FROM big
         |  GROUP BY 1, 2),
         |c1 AS MATERIALIZED (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
         |  FROM c12 GROUP BY 1),
         |c2 AS MATERIALIZED (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2
         |  FROM c12 GROUP BY 1),
         |bt AS (SELECT CAST(sum(c12) AS BIGINT) AS b FROM c12)
         |SELECT w1, w2, c12, c1, c2,
         | round(ln((CAST(c12 AS DOUBLE) * CAST(b AS DOUBLE)) /
         |   (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))), 6) AS pmi
         |FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN bt
         |WHERE c12 >= $PmiMinCount
         |ORDER BY pmi DESC, w1, w2 LIMIT $PmiTopN""".stripMargin,
    "d_lexical_stats" ->
      s"""WITH tf AS MATERIALIZED (SELECT term, count(*) AS c FROM (
         |  SELECT unnest(${TextOps.duck.tokens("text")}) AS term
         |  FROM documents) WHERE length(term) >= 1 GROUP BY 1)
         |SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
         | count(*) AS vocab,
         | CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
         | CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis,
         | round(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS BIGINT), 6)
         |   AS ttr,
         | round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |   / count(*), 6) AS hapax_ratio
         |FROM tf""".stripMargin,
    "d_domain_jsd" ->
      s"""WITH tk AS MATERIALIZED (SELECT source,
         |  ${TextOps.duck.tokenHash("tok")} % $JsdBuckets AS bucket
         |  FROM (SELECT source, unnest(${TextOps.duck.tokens("text")})
         |    AS tok FROM documents)),
         |cnt AS MATERIALIZED (SELECT source, bucket, count(*) AS c
         |  FROM tk GROUP BY 1, 2),
         |n AS MATERIALIZED (SELECT source, CAST(sum(c) AS BIGINT) AS n
         |  FROM cnt GROUP BY 1),
         |ps AS MATERIALIZED (SELECT cnt.source, bucket,
         |  CAST(c AS DOUBLE) / n AS p FROM cnt JOIN n USING (source)),
         |sided AS (SELECT least(x.source, o.source) AS sa,
         |  greatest(x.source, o.source) AS sb, x.bucket, x.p / 2 AS mh
         |  FROM ps x JOIN (SELECT source FROM n) o
         |    ON o.source <> x.source),
         |m AS MATERIALIZED (SELECT sa, sb, bucket,
         |  CAST(sum(mh) AS DOUBLE) AS m FROM sided GROUP BY 1, 2, 3),
         |hm AS (SELECT sa, sb,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(list(m ORDER BY bucket),
         |      v -> -(v * ln(v)))), (a, x) -> a + x) AS h_m
         |  FROM m GROUP BY 1, 2),
         |hp AS (SELECT source,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(list(p ORDER BY bucket),
         |      v -> -(v * ln(v)))), (a, x) -> a + x) AS h
         |  FROM ps GROUP BY 1)
         |SELECT hm.sa AS src_a, hm.sb AS src_b, na.n AS n_a, nb.n AS n_b,
         | round(ha.h / ln(CAST(2 AS DOUBLE)), 6) AS h_a_bits,
         | round(hb.h / ln(CAST(2 AS DOUBLE)), 6) AS h_b_bits,
         | round((h_m - (ha.h + hb.h) / CAST(2 AS DOUBLE))
         |   / ln(CAST(2 AS DOUBLE)), 6) AS jsd_bits
         |FROM hm JOIN hp ha ON ha.source = hm.sa
         |JOIN hp hb ON hb.source = hm.sb
         |JOIN n na ON na.source = hm.sa
         |JOIN n nb ON nb.source = hm.sb""".stripMargin,
    "d_ccnet_buckets" ->
      s"""$bigramScoredCte,
         |sc AS MATERIALIZED (SELECT doc_id, avg_logp,
         |  ${Hashing.duck.kmvMix(s"(doc_id % $P)")} AS hm FROM scored),
         |smp AS (SELECT doc_id, avg_logp FROM (
         |  SELECT doc_id, avg_logp, row_number() OVER (
         |    ORDER BY hm, doc_id) AS rs FROM sc)
         |  WHERE rs <= $CcnetSampleK),
         |kk AS (SELECT count(*) AS k FROM smp),
         |rk AS (SELECT avg_logp, row_number() OVER (
         |  ORDER BY avg_logp, doc_id) AS rn FROM smp),
         |thr AS (SELECT
         |  max(CASE WHEN rn = CAST(floor(CAST(k - 1 AS DOUBLE) / 3.0)
         |    AS BIGINT) + 1 THEN avg_logp END) AS t_lo,
         |  max(CASE WHEN rn = CAST(floor((CAST(k - 1 AS DOUBLE) * 2.0) / 3.0)
         |    AS BIGINT) + 1 THEN avg_logp END) AS t_hi
         |  FROM rk CROSS JOIN kk)
         |SELECT doc_id, avg_logp,
         |  CASE WHEN avg_logp >= t_hi THEN 'head'
         |       WHEN avg_logp < t_lo THEN 'tail'
         |       ELSE 'middle' END AS bucket
         |FROM sc CROSS JOIN thr""".stripMargin,
    "d_rep_ratio" ->
      s"""WITH t AS (SELECT doc_id, ${TextOps.duck.tokens("text")} AS toks
         |  FROM documents)
         |SELECT doc_id, len(toks) AS n_tokens,
         | len(list_distinct(toks)) AS n_distinct,
         | round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS dup_frac
         |FROM t""".stripMargin,
    "d_domain_cap" ->
      s"""WITH t AS (SELECT doc_id, source, ${TextOps.duck.tokens("text")} AS toks,
         |  CAST(length(text) AS DOUBLE) AS n_chars_d,
         |  CAST(length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS DOUBLE) AS punct_cnt
         |  FROM documents),
         |u AS (SELECT doc_id, source, len(toks) AS n_tokens,
         |  round(CAST(len(list_filter(toks, t -> list_contains([${stop("")}], t))) AS DOUBLE) / len(toks), 6) AS stop_ratio,
         |  round(punct_cnt / n_chars_d, 6) AS punct_ratio FROM t),
         |g AS (SELECT doc_id, source,
         |  round(least(1.0, n_tokens / 100.0) * (1.0 - punct_ratio) * (0.5 + stop_ratio), 6) AS quality
         |  FROM u),
         |r AS (SELECT source, doc_id, quality, row_number() OVER (
         |  PARTITION BY source ORDER BY quality DESC, doc_id ASC) AS rk FROM g)
         |SELECT source, doc_id, quality, rk FROM r WHERE rk <= $DomainCapN""".stripMargin,
    "d_dsir_resample" -> {
      val aB = DsirAlpha * DsirBuckets
      s"""WITH tk AS (SELECT doc_id, source, lang,
         |  ${TextOps.duck.tokenHashes("text")} AS hs,
         |  ${TextOps.duck.fingerprint("text")} AS fp FROM documents),
         |bg AS MATERIALIZED (SELECT doc_id, source,
         |  ${Hashing.duck.kmvMix(
               s"(hs[CAST(u.i AS INT) + 1] * ${Hashing.TokMul} + " +
                 s"hs[CAST(u.i AS INT) + 2]) % ${Hashing.P}")} % $DsirBuckets AS b
         |  FROM tk, UNNEST(range(0, len(hs) - 1)) AS u(i)),
         |tm AS MATERIALIZED (SELECT b, count(*) AS tc FROM bg
         |  WHERE source = '$DsirTarget' GROUP BY 1),
         |rm AS MATERIALIZED (SELECT b, count(*) AS rc FROM bg
         |  WHERE source <> '$DsirTarget' GROUP BY 1),
         |tot AS (SELECT
         |  CAST(sum(CASE WHEN source = '$DsirTarget' THEN 1 ELSE 0 END) AS BIGINT) AS tt,
         |  CAST(sum(CASE WHEN source = '$DsirTarget' THEN 0 ELSE 1 END) AS BIGINT) AS rt
         |  FROM bg),
         |sc AS (SELECT doc_id, count(*) AS n_big,
         |  round(avg(ln((coalesce(tc, 0) + $DsirAlpha) / (tt + $aB)) -
         |            ln((rc + $DsirAlpha) / (rt + $aB))), 6) AS logw
         |  FROM bg LEFT JOIN tm USING (b) JOIN rm USING (b) CROSS JOIN tot
         |  WHERE source <> '$DsirTarget' GROUP BY doc_id),
         |gu AS (SELECT doc_id, source, lang,
         |  round(-ln(-ln((${Hashing.duck.kmvMix("fp")} + 1.0) /
         |    (CAST(${Hashing.P} AS DOUBLE) * CAST(${Hashing.P} AS DOUBLE)))), 9) AS g
         |  FROM tk WHERE source <> '$DsirTarget'),
         |j AS (SELECT s.doc_id, g.source, g.lang, s.n_big, s.logw,
         |  round(s.logw + g.g, 6) AS gkey FROM sc s JOIN gu g USING (doc_id)),
         |r AS (SELECT *, row_number() OVER (
         |  ORDER BY gkey DESC, doc_id ASC) AS rk FROM j)
         |SELECT doc_id, source, lang, n_big, logw, gkey, rk FROM r
         |WHERE rk <= $DsirK""".stripMargin
    },
    "d_span_dups" -> {
      val fold = (1 to SpanW).foldLeft("CAST(0 AS BIGINT)") { (acc, k) =>
        s"(($acc * ${TokMul} + hs[CAST(u.i AS INT) + $k]) % $P)"
      }
      s"""WITH tk AS (SELECT doc_id, ${TextOps.duck.tokenHashes("text")} AS hs
         |  FROM documents),
         |sp AS MATERIALIZED (SELECT doc_id, $fold AS sh
         |  FROM tk, UNNEST(range(0, len(hs) - ${SpanW - 1})) AS u(i)),
         |ag AS (SELECT sh, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_occ FROM sp GROUP BY sh),
         |f AS (SELECT * FROM ag WHERE n_docs > 1),
         |r AS (SELECT *, row_number() OVER (
         |  ORDER BY n_occ DESC, n_docs DESC, sh ASC) AS rk FROM f)
         |SELECT sh, n_docs, n_occ, rk FROM r WHERE rk <= $SpanTopN""".stripMargin
    },
    // Unrolled BPE rounds. Per round r: pc = freq-weighted adjacent-pair
    // counts over the round-(r-1) symbol table; b = the deterministic
    // argmax; then the greedy non-overlapping rewrite as window
    // functions — candidate positions (sym, next) = (a, b) form runs of
    // consecutive positions, a run merges at its 1st, 3rd, … candidates
    // (`tk`), and the symbol AFTER a merge (`ptk = 1`) is consumed.
    "d_bpe_vocab" ->
      (bpeChainCte + "fin AS (SELECT 1 AS one)\n" +
        (1 to BpeRounds)
          .map(r => s"SELECT $r AS rk, a AS p1, b AS p2, cnt FROM b$r")
          .mkString("\nUNION ALL\n")),
    // Apply = read the trained symbol table s{BpeRounds} back per word
    // and fold per document; the chain CTE is shared with d_bpe_vocab so
    // the two rows replay the identical merges.
    "d_bpe_encode" ->
      (bpeChainCte +
        s"""enc AS (SELECT word, len(s) AS n_syms FROM s$BpeRounds),
           |dw AS (SELECT doc_id, word FROM (
           |  SELECT doc_id, unnest(${TextOps.duck.tokens("text")}) AS word
           |  FROM documents) t WHERE word <> '')
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           |  CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens
           |FROM dw JOIN enc USING (word) GROUP BY doc_id""".stripMargin)
  )

  /** Unrolled-BPE CTE chain shared by the `d_bpe_vocab` and
    * `d_bpe_encode` oracles: per round r a freq-weighted pair count
    * (pc), the deterministic argmax (b), and the greedy non-overlapping
    * rewrite as window functions — candidate positions (sym, next) =
    * (a, b) form runs of consecutive positions, a run merges at its 1st,
    * 3rd, … candidates (`tk`), and the symbol AFTER a merge (`ptk` = 1)
    * is consumed. Ends comma-terminated so callers append their own
    * final CTEs/select.
    */
  private def bpeChainCte: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH w0 AS MATERIALIZED (SELECT word, count(*) AS freq FROM (
       |  SELECT unnest(${TextOps.duck.tokens("text")}) AS word
       |  FROM documents) t WHERE word <> '' GROUP BY word),
       |s0 AS MATERIALIZED (SELECT word, freq,
       |  list_filter(string_split(word, ''), c -> c <> '') AS s FROM w0),
       |""".stripMargin
    for (r <- 1 to BpeRounds) {
      val p = r - 1
      sb ++= s"""pc$r AS (SELECT s[CAST(u.i AS INT) + 1] AS a,
         |  s[CAST(u.i AS INT) + 2] AS b, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM s$p, UNNEST(range(0, len(s) - 1)) AS u(i) GROUP BY 1, 2),
         |b$r AS MATERIALIZED (SELECT a, b, cnt FROM pc$r
         |  ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
         |e$r AS (SELECT word, freq, CAST(u.i AS INT) + 1 AS pos,
         |  s[CAST(u.i AS INT) + 1] AS sym
         |  FROM s$p, UNNEST(range(0, len(s))) AS u(i)),
         |c$r AS (SELECT word, freq, pos, sym, lead(sym) OVER wpw AS nxt,
         |  CASE WHEN sym = (SELECT a FROM b$r)
         |    AND lead(sym) OVER wpw = (SELECT b FROM b$r)
         |    THEN 1 ELSE 0 END AS cand
         |  FROM e$r WINDOW wpw AS (PARTITION BY word ORDER BY pos)),
         |g$r AS (SELECT *, CASE WHEN cand = 1 THEN pos - row_number()
         |  OVER (PARTITION BY word, cand ORDER BY pos) END AS run FROM c$r),
         |k$r AS (SELECT *, CASE WHEN cand = 1 AND row_number() OVER (
         |  PARTITION BY word, run ORDER BY pos) % 2 = 1
         |  THEN 1 ELSE 0 END AS tk FROM g$r),
         |o$r AS (SELECT word, freq, pos, sym, nxt, tk,
         |  lag(tk) OVER (PARTITION BY word ORDER BY pos) AS ptk FROM k$r),
         |s$r AS MATERIALIZED (SELECT word, freq,
         |  list(CASE WHEN tk = 1 THEN sym || nxt ELSE sym END
         |    ORDER BY pos) AS s
         |  FROM o$r WHERE coalesce(ptk, 0) = 0 GROUP BY word, freq),
         |""".stripMargin
    }
    sb.toString
  }
}
