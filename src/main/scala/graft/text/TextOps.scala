package graft.text

/** Text-analysis / dedup building blocks over the `documents` table
  * (beyond-reference roadmap, SURVEY §7.5): tokenization, rolling-hash
  * fingerprints, shingles, MinHash+LSH, SimHash, quality and language
  * heuristics.
  *
  * Every operator is defined ONCE as constants here and rendered TWICE —
  * a Spark SQL expression ([[spark]]) and a DuckDB oracle ([[duck]]) —
  * so the driver's hash-compare sees bit-identical integer results. All
  * hashes are polynomial rolling hashes mod [[graft.graph.Hashing.P]]
  * (exact in 64-bit integer arithmetic in both engines; no
  * engine-specific hash()).
  *
  * Scale notes: everything here is a per-row projection (no shuffle) until
  * the LSH band join; the band join shuffles on (band, hash) — bounded by
  * rows×bands, never O(n²). Candidate verification joins back to the
  * shingle arrays by doc_id — at 100 TB those joins are AQE-skew-safe
  * because band-bucket sizes are capped by near-dup cluster sizes.
  */
object TextOps {
  import graft.graph.Hashing.{P, TokMul, kmvMix, round6}

  /** Char multiplier of the token hash (the token multiplier of the doc
    * fingerprint is [[graft.graph.Hashing.TokMul]]).
    */
  val CharMul = 31L

  /** MinHash config: K permutations h_j(x) = (a_j·x + b_j) mod P, banded
    * into Bands groups of RowsPerBand.
    */
  val K = 16
  val Bands = 4
  val RowsPerBand = 4

  /** Banding for the char-n-gram feature space: the SAME K=16 signature,
    * folded as 2 bands × 8 rows instead of 4 × 4. Char-5-gram Jaccard
    * between UNRELATED same-language documents sits around 0.2-0.3 (the
    * gram space saturates on shared orthography), so 4-row bands collide
    * on ~J⁴·4 ≈ 1-3% of ALL pairs — measured 110k candidate pairs from 5k
    * documents, turning the exact-verify join into an accidental
    * near-cross-product. 8-row bands cut the unrelated-pair collision
    * rate to ~J⁸·2 ≈ 1e-5 while a true near-dup (J ≈ 0.99) still
    * collides with p = 1-(1-0.99⁸)² ≈ 0.994. At 100 TB the candidate
    * count, not the verify kernel, is what must stay sub-quadratic.
    */
  val NgramBands = 2
  val NgramRowsPerBand = 8
  /** Deterministic permutation constants (odd, < P). */
  val As: Seq[Long] = (0 until K).map(j => 2L * j * j + 3L * j + 7L)
  val Bs: Seq[Long] = (0 until K).map(j => 5L * j * j + j + 11L)

  /** Shingle width for near-dup (token 3-grams). */
  val ShingleW = 3

  /** Character n-gram width for the n-gram-Jaccard dedup variant. 5 chosen
    * empirically: 3-grams saturate on same-language text (most random doc
    * pairs share >50% of trigrams), 5-grams separate near-dups (J ≈ 0.99)
    * from unrelated text (J < 0.3) cleanly.
    */
  val NgramW = 5

  /** Stopword list for quality scoring (subset of English function words
    * present in the synthetic corpus).
    */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Marker words per language for the n-gram/stopword lang-ID heuristic;
    * deterministic priority order for ties (first wins).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "fast", "slow", "small", "big"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "es" -> Seq("el", "la", "los", "que", "es", "una"),
    "fr" -> Seq("le", "les", "des", "est", "une", "avec"),
    "zh" -> Seq("de", "shi", "bu", "le", "zai", "you"))

  /** BPE-ish token regex: letter runs, digit runs, single other glyphs. */
  val BpeRegex = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  // ------------------------------------------------------- typed kernels

  /** SimHash (32-bit) of one document — the typed-kernel twin of the
    * `d_simhash` DuckDB oracle: tokens = split(lower(text), '\s+') keeping
    * empties (hash 0), per-token rolling hash (a·31 + codepoint) mod `P`,
    * bit-majority over ALL token hashes including duplicates.
    *
    * This runs inside `mapPartitions` as a single narrow pass — the
    * interpreted higher-order-function expression plan it replaces
    * (explode + per-char `aggregate` lambda + 32 CASE sums) was ~100×
    * slower CPU-bound work for identical output.
    */
  def simhash32(text: String): Long = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
    val bitSums = new Array[Long](32)
    var i = 0
    while (i < toks.length) {
      val h = tokenHash(toks(i))
      var b = 0
      while (b < 32) {
        bitSums(b) += (if (((h >> b) & 1L) == 1L) 1L else -1L)
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 32) { if (bitSums(b) > 0L) out |= 1L << b; b += 1 }
    out
  }

  /** Rolling hash of one (already-lowercased) token, iterating CODEPOINTS —
    * the expression plan (`split(t,'')` + `ascii(ch)`) and the DuckDB
    * oracle (`string_split` + `ord(ch)`) both hash per-codepoint, so a
    * surrogate pair must contribute ONE value here too, not two code
    * units.
    */
  def tokenHash(t: String): Long = {
    var h = 0L
    var j = 0
    while (j < t.length) {
      val cp = t.codePointAt(j)
      h = (h * CharMul + cp) % P
      j += Character.charCount(cp)
    }
    h
  }

  /** KMV estimate from the kth-smallest distinct MIXED hash:
    * [[graft.graph.Hashing.kmvMix]] keys live in [0, P²), so h_k maps to
    * the unit interval as u = (h_k+1)/P² (the +1 guards the measure-zero h_k = 0 corner) and
    * the estimate is (k−1)/u. ONE SQL text shared by every sketch row's
    * batch query and DuckDB oracle — both engines evaluate the identical
    * IEEE expression chain over the identical integer, and a future edit
    * cannot desync the copies. P² is spelled as a DOUBLE product of
    * CASTs (a `P.0` literal parses as DECIMAL in DuckDB and overflows the
    * decimal multiply).
    */
  def kmvEstSql(col: String, k: Int): String =
    s"round(CAST(${k - 1} AS DOUBLE) / " +
      s"((CAST($col AS DOUBLE) + 1.0) / " +
      s"(CAST($P AS DOUBLE) * CAST($P AS DOUBLE))), 4) AS est"

  /** Document fingerprint — the typed twin of [[spark.fingerprint]] (and
    * the DuckDB `duck.fingerprint` rendering): rolling hash over the
    * per-token rolling hashes, identical integer math, one narrow pass.
    */
  def fingerprint(text: String): Long = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
    var acc = 0L
    var i = 0
    while (i < toks.length) {
      acc = (acc * TokMul + tokenHash(toks(i))) % P
      i += 1
    }
    acc
  }

  /** `d_cdc_chunks` boundary modulus: a chunk boundary falls AFTER any
    * token whose hash ≡ 0 (mod CdcMod), giving content-defined chunks of
    * ~CdcMod tokens in expectation — the property that makes chunk-level
    * dedup insertion-stable (an edit moves at most its own chunk's
    * boundaries, unlike fixed-width windows where one inserted token
    * shifts every downstream chunk).
    */
  val CdcMod = 64L

  /** Content-defined chunking over the token-hash stream — one pass,
    * zero allocation beyond the output: emits
    * `(chunk_idx, start_tok, n_toks, chash)` per chunk, where chash is
    * the [[fingerprint]]-style ordered fold (acc·TokMul + h) mod P over
    * the chunk's token hashes. The final partial chunk always emits
    * (every token belongs to exactly one chunk).
    */
  def cdcChunks(text: String): Array[(Long, Long, Long, Long)] = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
    val n = toks.length
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var start = 0
    var acc = 0L
    var idx = 0L
    var i = 0
    while (i < n) {
      val h = tokenHash(toks(i))
      acc = (acc * TokMul + h) % P
      if (h % CdcMod == 0) {
        out += ((idx, start.toLong, (i - start + 1).toLong, acc))
        idx += 1
        start = i + 1
        acc = 0L
      }
      i += 1
    }
    if (start < n)
      out += ((idx, start.toLong, (n - start).toLong, acc))
    out.toArray
  }

  /** Per-document token-distribution Shannon entropy (`d_tok_entropy`):
    * H = log2(n) − (1/n)·Σ c·ln(c)/ln(2) over token counts c, plus the
    * vocab-normalized efficiency H / log2(vocab). The count fold runs in
    * ascending token order so the Spark-side float sum has ONE
    * deterministic order; DuckDB's group order differs only below the
    * round-6 pin (≤ ~600 terms of magnitude ≤ c·ln c ≈ 40). The
    * normalizer divides the UNROUNDED H — the oracle spells the same
    * expression, so the quotient cannot double-round apart. Returns
    * (n_toks, n_vocab, entropy_bits, norm_entropy).
    */
  def tokenEntropy(text: String): (Long, Long, Double, Double) = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
    val n = toks.length.toLong
    val counts = toks.groupBy(identity).view.mapValues(_.length.toLong)
      .toArray.sortBy(_._1)
    var s = 0.0
    counts.foreach { case (_, c) => s += c * math.log(c.toDouble) }
    val hRaw = (math.log(n.toDouble) - s / n) / math.log(2.0)
    val v = counts.length.toLong
    val norm =
      if (v > 1) round6(hRaw / (math.log(v.toDouble) / math.log(2.0)))
      else 0.0
    (n, v, round6(hRaw), norm)
  }

  /** Non-overlapping passage fingerprints — the sub-document dedup
    * feature space (`d_passage_dedup`): the token-hash stream cut into
    * consecutive `w`-token windows, each window rolled with `TokMul`
    * exactly like [[fingerprint]] rolls the whole document. Trailing
    * tokens short of a full window contribute nothing (mirrored by the
    * `len // w` bound in [[duck.passagesFromHashes]]). Typed twin of
    * that DuckDB rendering; identical integer math.
    */
  def passageHashes(text: String, w: Int): Array[Long] = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
    val n = toks.length / w
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      var acc = 0L
      var j = 0
      while (j < w) {
        acc = (acc * TokMul + tokenHash(toks(i * w + j))) % P
        j += 1
      }
      out(i) = acc
      i += 1
    }
    out
  }

  /** Gopher-style repetition counts (`d_gopher_rep`): over the
    * whitespace-lower token stream, (total word chars, occurrence chars
    * of the single most frequent word 2-gram, occurrence chars of all
    * word 5-grams occurring more than once). All-INTEGER outputs — the
    * fraction division happens once in shared SQL text, so the typed
    * kernel and the DuckDB oracle cannot diverge on float math. Tie on
    * the top 2-gram count breaks by (w1 ASC, w2 ASC) — the tie-break is
    * load-bearing here because different 2-grams have different char
    * lengths. "Occurrence chars" is the occurrence-weighted spelling of
    * Gopher's §A1.1 repetition signals (overlapping occurrences each
    * count; the common reimplementation), documented as the row's
    * semantics rather than positional character coverage.
    *
    * Char counts are CODE POINTS (`codePointCount`), matching DuckDB's
    * `length()` — UTF-16 `String.length` would double-count astral
    * characters on the Spark side only (the same cross-engine shear
    * `codePointSyms` closes for BPE). The count-tie ORDER still compares
    * strings as UTF-16 vs DuckDB's code-point order, which can disagree
    * only when an astral token ties a U+E000..U+FFFF token on count —
    * documented BMP corpus precondition, as for the tokenizer rows.
    */
  def gopherRepCounts(text: String): (Long, Long, Long) = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
      .filter(_.nonEmpty)
    def cps(s: String): Long = s.codePointCount(0, s.length).toLong
    val tot = toks.foldLeft(0L)(_ + cps(_))
    var top2 = 0L
    if (toks.length >= 2) {
      val c2 = collection.mutable.Map.empty[(String, String), Long]
      var i = 0
      while (i < toks.length - 1) {
        val k = (toks(i), toks(i + 1))
        c2(k) = c2.getOrElse(k, 0L) + 1
        i += 1
      }
      val ((w1, w2), cnt) = c2.toSeq
        .sortBy { case ((a, b), c) => (-c, a, b) }.head
      top2 = cnt * (cps(w1) + cps(w2))
    }
    var dup5 = 0L
    if (toks.length >= 5) {
      val c5 = collection.mutable.Map.empty[Seq[String], Long]
      var i = 0
      while (i < toks.length - 4) {
        val k = toks.slice(i, i + 5).toSeq
        c5(k) = c5.getOrElse(k, 0L) + 1
        i += 1
      }
      c5.foreach { case (g, c) =>
        if (c > 1) dup5 += c * g.foldLeft(0L)(_ + cps(_))
      }
    }
    (tot, top2, dup5)
  }

  /** Overlapping sliding-window chunk fingerprints — the RAG/training
    * chunking feature space (`d_chunk_overlap`): window starts at every
    * multiple of `stride` below the token count, each window spans
    * `min(width, nTok - start)` tokens (the LAST window may be shorter
    * than the overlap; always ≥ 1 token) and rolls its token hashes with
    * `TokMul` exactly like [[passageHashes]]. Typed twin of
    * [[duck.chunksFromHashes]]; identical integer math.
    */
  def chunkFps(text: String, width: Int, stride: Int): Array[(Int, Int, Long)] = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
    val hs = toks.map(tokenHash)
    val n = hs.length
    val starts = (n - 1) / stride + 1
    val out = new Array[(Int, Int, Long)](starts)
    var i = 0
    while (i < starts) {
      val start = i * stride
      val len = math.min(width, n - start)
      var acc = 0L
      var j = 0
      while (j < len) {
        acc = (acc * TokMul + hs(start + j)) % P
        j += 1
      }
      out(i) = (start, len, acc)
      i += 1
    }
    out
  }

  /** One-pass curation counts for a document — the typed twin of the
    * `d_quality` expression chain's INTEGER inputs (token count, stopword
    * occurrences, char count, non-[a-z0-9\s] char count, content hash,
    * fingerprint). Only counts are computed here: every ratio/round stays
    * a Catalyst expression, so cross-engine float behavior is untouched.
    * `punct` iterates UTF-16 code units exactly like the Java-regex
    * character class it mirrors (astral chars count 2, as surrogates are
    * outside the class).
    */
  final case class CurateCounts(nTok: Int, stop: Int, chars: Int,
    punct: Int, h: Long, fp: Long)

  private val StopSet: Set[String] = Stopwords.toSet

  def curateCounts(text: String): CurateCounts = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
    var stop = 0
    var fp = 0L
    var i = 0
    while (i < toks.length) {
      if (StopSet.contains(toks(i))) stop += 1
      fp = (fp * TokMul + tokenHash(toks(i))) % P
      i += 1
    }
    var punct = 0
    var j = 0
    while (j < text.length) {
      val c = text.charAt(j)
      val kept = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') ||
        c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
      if (!kept) punct += 1
      j += 1
    }
    CurateCounts(toks.length, stop, text.length, punct, contentHash64(text), fp)
  }

  /** 64-bit FNV-1a over UTF-8 bytes — the dedup grouping hash for the
    * typed curation path. Same text ⇒ same hash is the only property the
    * hash-first dedup needs (colliding groups are text-verified), so any
    * deterministic 64-bit hash is valid here.
    */
  def contentHash64(text: String): Long = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Distinct token-3-gram shingle hashes of one document — the typed twin
    * of [[spark.shinglesFromHashes]]∘[[spark.tokenHashes]] (and of the
    * DuckDB `sh_t` CTE): tokens = `split(lower(text), '\s+')` keeping
    * empties, per-token rolling hash, 3-gram rolling combine mod `P`,
    * first-occurrence-distinct. Runs inside `mapPartitions` as one narrow
    * pass; the interpreted HOF expression chain it replaces was the
    * dominant cost of `d_minhash`/`d_lsh_pairs` (same ~100× CPU gap the
    * simhash kernel closed).
    */
  def shingles(text: String): Array[Long] = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
    val n = toks.length
    if (n < ShingleW) return Array.emptyLongArray
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) { hs(i) = tokenHash(toks(i)); i += 1 }
    collectDistinct(n - ShingleW + 1,
      i => ((hs(i) * TokMul + hs(i + 1)) % P * TokMul + hs(i + 2)) % P)
  }

  /** `d_winnow` window width over the [[ShingleW]]-gram hash sequence. */
  val WinnowW = 4

  /** `d_winnow_pairs` document-frequency cap: fingerprints shared by more
    * than this many documents are boilerplate (the MOSS "ignore
    * over-common fingerprints" rule) and are EXCLUDED from candidate
    * generation — which also bounds the bucket self-join at
    * C(MaxDf, 2) pairs per fingerprint. Exact overlap is still computed
    * over the FULL uncapped sets at verify time.
    */
  val WinnowMaxDf = 64

  /** `d_winnow_pairs` candidate floor: report pairs sharing at least
    * this many rare fingerprints (≥ 2 screens out single chance
    * collisions before the exact verify).
    */
  val WinnowMinShared = 2

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 —
    * the MOSS algorithm): over the ORDERED [[ShingleW]]-gram rolling-hash
    * sequence, each [[WinnowW]]-gram window selects its RIGHTMOST minimal
    * hash, and the distinct selected (position, hash) pairs are the
    * document's fingerprints. Unlike the bag-of-shingles MinHash rows
    * this is POSITION-AWARE with a coverage guarantee — any match of
    * ≥ WinnowW + ShingleW − 1 consecutive tokens shares at least one
    * fingerprint — which is what makes it the standard span-plagiarism /
    * overlap-localization signature. Pure integer math ([[tokenHash]] /
    * `TokMul` / `P`); re-selection of a position is always
    * consecutive (a position never re-enters a later window), so the
    * emit-on-change rule equals a distinct over (pos, hash). Documents
    * with fewer than WinnowW grams have no full window and emit nothing.
    */
  def winnow(text: String): Array[(Int, Long)] = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
    val n = toks.length
    if (n < ShingleW) return Array.empty
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) { hs(i) = tokenHash(toks(i)); i += 1 }
    val m = n - ShingleW + 1
    if (m < WinnowW) return Array.empty
    val kg = new Array[Long](m)
    i = 0
    while (i < m) {
      kg(i) = ((hs(i) * TokMul + hs(i + 1)) % P * TokMul + hs(i + 2)) % P
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    var w = 0
    var last = -1
    while (w <= m - WinnowW) {
      var best = w
      var j = w + 1
      while (j < w + WinnowW) { if (kg(j) <= kg(best)) best = j; j += 1 }
      if (best != last) { out += ((best, kg(best))); last = best }
      w += 1
    }
    out.toArray
  }

  /** First-occurrence-distinct collection of `count` generated hashes into
    * an array, via an open-addressed PRIMITIVE long table (hash values are
    * in [0, P), so -1 marks empty). The boxed LinkedHashSet this replaces
    * allocated one java.lang.Long per gram — the dominant cost of the
    * n-gram kernels at ~1k grams/document.
    */
  private def collectDistinct(count: Int, hashAt: Int => Long): Array[Long] = {
    if (count <= 0) return Array.emptyLongArray
    var cap = 4
    while (cap < count * 2) cap <<= 1
    val mask = cap - 1
    val table = new Array[Long](cap)
    java.util.Arrays.fill(table, -1L)
    val order = new Array[Long](count)
    var m = 0
    var i = 0
    while (i < count) {
      val v = hashAt(i)
      var idx = ((v * 0x9E3779B97F4A7C15L) >>> 40).toInt & mask
      var probing = true
      while (probing) {
        val cur = table(idx)
        if (cur == -1L) { table(idx) = v; order(m) = v; m += 1; probing = false }
        else if (cur == v) probing = false
        else idx = (idx + 1) & mask
      }
      i += 1
    }
    if (m == count) order else java.util.Arrays.copyOf(order, m)
  }

  /** Distinct character-[[NgramW]]-gram rolling hashes of one document —
    * the n-gram-Jaccard dedup signal (typed twin of the DuckDB `ng_t`
    * CTE): codepoints of lower(text) INCLUDING whitespace (both engines
    * split on '' keeping every glyph), W-gram rolling combine mod `P`,
    * first-occurrence-distinct. One narrow pass per row.
    */
  def charNgrams(text: String): Array[Long] = {
    val t = text.toLowerCase(java.util.Locale.ROOT)
    // codepoint array (surrogate pairs contribute one value, like tokenHash)
    val cps = new Array[Long](t.codePointCount(0, t.length))
    var j = 0
    var i = 0
    while (j < t.length) {
      val cp = t.codePointAt(j)
      cps(i) = cp.toLong
      i += 1
      j += Character.charCount(cp)
    }
    val n = cps.length
    if (n < NgramW) return Array.emptyLongArray
    collectDistinct(n - NgramW + 1, i => {
      var h = cps(i)
      var k = 1
      while (k < NgramW) { h = (h * CharMul + cps(i + k)) % P; k += 1 }
      h
    })
  }

  private val AsArr: Array[Long] = As.toArray
  private val BsArr: Array[Long] = Bs.toArray

  /** Stacked LSH band rows `(band, bandHash)` of one feature-hash array —
    * the typed twin of [[spark.minhash]] + [[spark.bandHash]] (and of the
    * DuckDB sig/band CTEs): all K permutation minima are tracked in ONE
    * pass over the features, then folded into [[Bands]] band hashes. The
    * expression path this replaces evaluated K separate interpreted
    * `array_min(transform(...))` lambdas per row — K× the passes and
    * ~100× the per-element cost on large char-n-gram arrays.
    *
    * Empty features yield NO rows: the expression path yields NULL band
    * hashes there, and the band equi-join never matches a NULL key, so
    * the candidate-pair output is identical.
    */
  /** The K permutation minima of one feature-hash array — the raw
    * MinHash signature [[bandRows]] folds into band hashes, exposed so
    * `d_lsh_est_j` can compare component agreement against exact
    * Jaccard. Empty features yield an empty signature.
    */
  def minhashSig(features: Array[Long]): Array[Long] = {
    if (features.isEmpty) return Array.emptyLongArray
    val mins = Array.fill(K)(Long.MaxValue)
    var i = 0
    while (i < features.length) {
      val x = features(i)
      var j = 0
      while (j < K) {
        val h = (AsArr(j) * x + BsArr(j)) % P
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    mins
  }

  def bandRows(features: Array[Long], nBands: Int = Bands,
      rowsPerBand: Int = RowsPerBand): Array[(Int, Long)] = {
    if (features.isEmpty) return Array.empty
    val mins = minhashSig(features)
    val out = new Array[(Int, Long)](nBands)
    var b = 0
    while (b < nBands) {
      var h = mins(b * rowsPerBand)
      var k = 1
      while (k < rowsPerBand) {
        h = (h * TokMul + mins(b * rowsPerBand + k)) % P
        k += 1
      }
      out(b) = (b, h)
      b += 1
    }
    out
  }

  // ---------------------------------------------------------------- Spark

  /** Spark SQL expression strings (used via selectExpr/expr). `c` is the
    * text column name.
    */
  object spark {
    def tokens(c: String): String = s"split(lower($c), '\\\\s+')"

    /** Rolling hash of one token expression `t`. Spark's split('abc','')
      * yields a trailing empty string (Java split limit -1); DuckDB's does
      * not — filter empties so both engines hash the same char sequence.
      */
    def tokenHash(t: String): String =
      s"aggregate(filter(split($t, ''), ch -> ch <> ''), CAST(0 AS BIGINT), " +
        s"(a, ch) -> (a * $CharMul + ascii(ch)) % $P)"

    /** Array of token hashes for the document. */
    def tokenHashes(c: String): String =
      s"transform(${tokens(c)}, t -> ${tokenHash("t")})"

    /** Doc fingerprint: rolling hash over token hashes (D-fingerprint). */
    def fingerprint(c: String): String =
      s"aggregate(${tokenHashes(c)}, CAST(0 AS BIGINT), " +
        s"(acc, h) -> (acc * $TokMul + h) % $P)"

    /** Distinct token-3-gram shingle hashes from a column `hs` that holds
      * the token-hash array (empty array when < W tokens).
      */
    def shinglesFromHashes(hs: String): String =
      s"array_distinct(CASE WHEN size($hs) >= $ShingleW THEN " +
        s"transform(sequence(0, size($hs) - $ShingleW), i -> " +
        s"((element_at($hs, i + 1) * $TokMul + element_at($hs, i + 2)) * $TokMul " +
        s"+ element_at($hs, i + 3)) % $P) " +
        s"ELSE slice(transform(sequence(0, 0), i -> CAST(0 AS BIGINT)), 1, 0) END)"

    /** MinHash signature entry j over a shingle-array expression `sh`. */
    def minhash(sh: String, j: Int): String =
      s"array_min(transform($sh, x -> (${As(j)} * x + ${Bs(j)}) % $P))"

    /** Band hash b over a signature array expression `sig` (1-indexed). */
    def bandHash(sig: String, b: Int): String = {
      val lo = b * RowsPerBand
      (lo until lo + RowsPerBand)
        .map(j => s"element_at($sig, ${j + 1})")
        .reduceLeft((acc, x) => s"(($acc) * $TokMul + $x) % $P")
    }
  }

  // --------------------------------------------------------------- DuckDB

  /** DuckDB oracle SQL fragments mirroring [[spark]] exactly. list_reduce
    * has no initial accumulator, so fold(0, xs) is written
    * list_reduce(list_prepend(0, xs), f).
    */
  object duck {
    def tokens(c: String): String = s"string_split_regex(lower($c), '\\s+')"

    def tokenHash(t: String): String =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(string_split($t, ''), ch -> CAST(ord(ch) AS BIGINT))), " +
        s"(a, ch) -> (a * $CharMul + ch) % $P)"

    def tokenHashes(c: String): String =
      s"list_transform(${tokens(c)}, t -> ${tokenHash("t")})"

    def fingerprint(c: String): String =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), ${tokenHashes(c)}), " +
        s"(acc, h) -> (acc * $TokMul + h) % $P)"

    def shinglesFromHashes(hs: String): String =
      s"list_distinct(CASE WHEN len($hs) >= $ShingleW THEN " +
        s"list_transform(range(0, len($hs) - ${ShingleW - 1}), i -> " +
        s"(($hs[i + 1] * $TokMul + $hs[i + 2]) * $TokMul + $hs[i + 3]) % $P) " +
        s"ELSE [] END)"

    def minhash(sh: String, j: Int): String =
      s"list_min(list_transform($sh, x -> (${As(j)} * x + ${Bs(j)}) % $P))"

    /** Passage fingerprints from a token-hash-array column `hs` — the
      * oracle twin of [[TextOps.passageHashes]]: `len // w` consecutive
      * `w`-wide windows, each rolled with `TokMul`.
      */
    def passagesFromHashes(hs: String, w: Int): String =
      s"list_transform(range(0, len($hs) // $w), i -> " +
        s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"$hs[CAST(i * $w + 1 AS INT):CAST(i * $w + $w AS INT)]), " +
        s"(a, h) -> (a * $TokMul + h) % $P))"

    /** Overlapping chunk structs from a token-hash-array column `hs` —
      * the oracle twin of [[TextOps.chunkFps]]: one struct
      * `(start, ln, fp)` per stride-multiple start below `len(hs)`, the
      * window capped at the token count, rolled with `TokMul`.
      */
    def chunksFromHashes(hs: String, width: Int, stride: Int): String =
      s"list_transform(range(0, (len($hs) - 1) // $stride + 1), i -> {" +
        s"'start': i * $stride, " +
        s"'ln': least($width, len($hs) - i * $stride), " +
        s"'fp': list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"$hs[CAST(i * $stride + 1 AS INT):" +
        s"CAST(i * $stride + least($width, len($hs) - i * $stride) AS INT)]), " +
        s"(a, h) -> (a * $TokMul + h) % $P)})"

    /** Codepoint array of lower(`c`) — step 1 of the n-gram oracle. */
    def charCodes(c: String): String =
      s"list_transform(string_split(lower($c), ''), ch -> CAST(ord(ch) AS BIGINT))"

    /** Distinct char-[[NgramW]]-gram hashes from a codepoint-array column
      * `cs` — step 2; together the oracle twin of [[TextOps.charNgrams]].
      */
    def ngramsFromCodes(cs: String): String = {
      val roll = (1 until NgramW).foldLeft(s"$cs[i + 1]") { (acc, k) =>
        s"(($acc) * $CharMul + $cs[i + ${k + 1}]) % $P"
      }
      s"list_distinct(CASE WHEN len($cs) >= $NgramW THEN " +
        s"list_transform(range(0, len($cs) - ${NgramW - 1}), i -> $roll) " +
        s"ELSE [] END)"
    }

    def bandHash(sig: String, b: Int): String = {
      val lo = b * RowsPerBand
      (lo until lo + RowsPerBand)
        .map(j => s"$sig[${j + 1}]")
        .reduceLeft((acc, x) => s"(($acc) * $TokMul + $x) % $P")
    }
  }
}
