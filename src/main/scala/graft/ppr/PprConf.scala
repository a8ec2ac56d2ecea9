package graft.ppr

/** PPR configuration scalars (SURVEY §1.1 D9; reference `Algo_Conf.java:8-18`).
  *
  * `alpha` is the STOP probability (reference `PPR.java:158,177`, default
  * 0.15) — NOT the damping factor; Neo4j's damping = 1 - alpha
  * (`Neo4j_Method.java:75`). All kernels here use the stop-probability
  * convention.
  */
final case class PprConf(
    alpha: Double = 0.15,
    pfail: Double = 0.0,   // derived per-algo when 0 (1/n, Algo_Conf.java:45-53)
    delta: Double = 0.0,   // derived per-algo when 0 (1/n)
    seed: Long = 42L
) {
  require(alpha > 0 && alpha < 1, s"alpha must be in (0, 1), got $alpha")
  require(pfail == 0 || (pfail > 0 && pfail < 1),
    s"pfail must be 0 (derive 1/n) or in (0, 1), got $pfail")
  require(delta == 0 || (delta > 0 && delta < 1),
    s"delta must be 0 (derive 1/n) or in (0, 1), got $delta")
}
