package graft.graph

/** Deterministic hashing shared by the graph derivations and the graph
  * board rows: the full-range KMV mixer and the HyperLogLog register
  * geometry. Each operator is defined ONCE as constants here and rendered
  * as a typed kernel, a Spark SQL expression ([[spark]]) and a DuckDB
  * oracle fragment ([[duck]]), so both engines compute bit-identical
  * integer results. All arithmetic is exact in 64-bit integers mod [[P]]
  * (no engine-specific hash()).
  */
object Hashing {

  /** Modulus for all polynomial hashes: fits products in 64-bit ints. */
  val P = 1000000007L
  /** Multiplier of the rolling polynomial hashes (walk counters). */
  val TokMul = 131L

  /** KMV full-range mixer constants: two independent multiply-mod-P
    * universal hashes with LARGE multipliers (arbitrary fixed values in
    * [1, P); P prime makes each a permutation of Z_P). [[kmvMix]]
    * combines them into one value in [0, P²) ≈ [0, 2⁶⁰).
    */
  val KmvA1 = 768614337L
  val KmvB1 = 404720439L
  val KmvA2 = 523123711L
  val KmvB2 = 987654323L

  /** KMV mixer — the typed twin of [[spark.kmvMix]] / [[duck.kmvMix]].
    *
    * Polynomial hashes are NOT uniform on [0, P): a short input never
    * wraps P, so small ids cluster near 0. This maps each hash through
    * two independent multiply-mod-P universal hashes of an xor-shift
    * whitening of h — pairwise-independent spreading — and packs them
    * as z₁·P + z₂ ∈ [0, P²), a full-range key both engines can compute
    * exactly: every intermediate stays below 2⁶³ (no 64-bit wrap, which
    * ANSI Spark and DuckDB would both reject), using only *, %, xor and
    * right-shift — all dual-renderable. Injective up to the ~2⁻³⁰
    * per-pair chance that the whitened values differ by exactly P.
    */
  def kmvMix(h: Long): Long = {
    val z1 = (KmvA1 * (h ^ (h >>> 16)) + KmvB1) % P
    val z2 = (KmvA2 * (h ^ (h >>> 8)) + KmvB2) % P
    z1 * P + z2
  }

  /** Half-away-from-zero 6-dp rounding — the same pin Spark's
    * `functions.round` and DuckDB's `round(x, 6)` apply, for typed
    * kernels that round driver-free.
    */
  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Spark SQL expression strings (used via selectExpr/expr). */
  object spark {
    /** KMV full-range mixer over a hash expression `h` — see the typed
      * [[Hashing.kmvMix]] for the semantics and range argument.
      */
    def kmvMix(h: String): String =
      // outer parens for the same append-safety as the DuckDB twin.
      s"((($KmvA1 * (($h) ^ shiftright($h, 16)) + $KmvB1) % $P) * $P + " +
        s"(($KmvA2 * (($h) ^ shiftright($h, 8)) + $KmvB2) % $P))"
  }

  /** DuckDB oracle SQL fragments mirroring [[spark]] exactly. */
  object duck {
    /** KMV full-range mixer — mirrors [[spark.kmvMix]] exactly (DuckDB
      * spells bitwise xor as `xor()`; `>>` matches `shiftright` on
      * non-negative inputs).
      */
    def kmvMix(h: String): String =
      // `h` and the whole expression are defensively parenthesized: a
      // composite argument must not re-associate under `>>`'s lower
      // precedence, and a caller appending e.g. `% B` must modulate the
      // full mixed value, not the last addend.
      s"(((CAST($KmvA1 AS BIGINT) * xor(($h), ($h) >> 16) + $KmvB1) % $P) * " +
        s"CAST($P AS BIGINT) + " +
        s"((CAST($KmvA2 AS BIGINT) * xor(($h), ($h) >> 8) + $KmvB2) % $P))"
  }

  /** HyperLogLog geometry: m = [[HllM]] registers addressed by the low
    * bits of the full-range mixed hash, with the rank-of-leftmost-1-bit
    * (ρ) taken over the remaining [[HllW]] bits. The mixed key lives in
    * [0, P²) ⊂ [0, 2⁶⁰), so hm / m < 2⁵⁶ — hence W = 56 and
    * ρ ∈ [1, W + 1]. m = 16 (α₁₆ = 0.673, Flajolet et al. 2007 Fig. 3 —
    * the smallest standard geometry).
    */
  val HllM = 16
  val HllW = 56

  /** HLL estimate over prepared `(v_zero, s_scaled)` columns — ONE SQL
    * text shared by the Spark rows and the DuckDB oracles (both engines
    * run the identical IEEE chain). The register sum Σ 2^−M_j is carried
    * as the INTEGER Σ 2^(W+1−M_j) (`s_scaled`, ≤ m·2⁵⁷ < 2⁶³): long
    * addition is exact and order-free, where a float Σ 2^−M_j could
    * round differently under Spark's partition-dependent add order vs
    * DuckDB's scan order. Small-range correction per the paper: raw
    * E = α·m²/S ≤ 2.5m with empty registers → linear counting m·ln(m/V).
    */
  private[graft] def hllEstSql: String =
    hllEstSqlAs("s_scaled", "v_zero", "est")

  /** Column-parameterized form of the estimate — `g_hyperball` reads TWO
    * register folds (radius 1 and 2) per row, so the shared spelling
    * takes its input/output names.
    */
  private[graft] def hllEstSqlAs(sCol: String, vCol: String,
      alias: String): String = {
    val alphaMM = 0.673 * HllM * HllM // exact ×2⁸ scaling: prints 172.288
    val pw = 1L << (HllW + 1)
    val raw = s"(CAST($alphaMM AS DOUBLE) / " +
      s"(CAST($sCol AS DOUBLE) / CAST($pw AS DOUBLE)))"
    s"round(CASE WHEN $raw <= CAST(${2.5 * HllM} AS DOUBLE) AND $vCol > 0 " +
      s"THEN CAST($HllM AS DOUBLE) * " +
      s"ln(CAST($HllM AS DOUBLE) / CAST($vCol AS DOUBLE)) " +
      s"ELSE $raw END, 4) AS $alias"
  }
}
