package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** KmvKth must return the kth-smallest DISTINCT long per group across
  * partial/merge phases (the partition count forces merges), null under
  * k distinct values, and duplicates must never displace distinct
  * retained values.
  */
class KmvAggSpec extends SparkSpec {

  test("kmv_kth == kth-smallest distinct across partitions; null under k") {
    KmvFunctions.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // group 0: only 3 distinct values (under k); others: heavy duplicate
    // streams over a bounded value space so distinctness matters.
    val rows = (0 until 10).flatMap { g =>
      val space = if (g == 0) 3 else 40 + g
      (0 until 500).map(_ => (g.toLong, rnd.nextInt(space).toLong * 7919L - 1000L))
    }
    val k = 8
    val df = rows.toDF("g", "h").repartition(11)
    val got = df.groupBy("g").agg(KmvFunctions.kmvKth(col("h"), k).as("kth"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    val exp = rows.groupBy(_._1).map { case (g, vs) =>
      val d = vs.map(_._2).distinct.sorted
      g -> (if (d.length < k) None else Some(d(k - 1)))
    }
    assert(got == exp)
    assert(got(0L).isEmpty, "group with < k distinct values must be null")
  }

  test("kmv estimate is within a loose factor of the true cardinality") {
    KmvFunctions.register(spark)
    import spark.implicits._
    // 10k distinct well-mixed hashes; k=256 → relative error ~1/√k ≈ 6%,
    // assert a loose 3× band (deterministic given the fixed seed). Tokens
    // must be LONG so the rolling polynomial wraps the modulus many
    // times — short strings (e.g. "tok7") stay below P and skew small.
    val n = 10000
    val rnd = new scala.util.Random(42)
    val rows = (0 until n).map { _ =>
      graft.text.TextOps.tokenHash(
        Seq.fill(24)(('a' + rnd.nextInt(26)).toChar).mkString)
    }.distinct
    val k = 256
    val kth = rows.toDF("h").agg(KmvFunctions.kmvKth(col("h"), k)).head.getLong(0)
    // TextOps.tokenHash lives in [0, P) — map to the unit interval by P.
    val u = kth.toDouble / graft.graph.Hashing.P.toDouble
    val est = (k - 1) / u
    assert(est > rows.length / 3.0 && est < rows.length * 3.0,
      s"est=$est for n=${rows.length}")
  }

  test("kmvMix repairs the short-token bias (the d_vocab_kmv mapping)") {
    val ops = graft.text.TextOps
    val H = graft.graph.Hashing
    // SHORT tokens: the rolling polynomial never wraps P, hashes cluster
    // near 0, and the raw order-statistic estimate overshoots wildly —
    // the r7 d_vocab_kmv defect this mixer exists to fix.
    val n = 5000
    val k = 256
    val hashes = (0 until n).map(i => ops.tokenHash("t" + i)).distinct
    def estimate(keys: Seq[Long], range: Double): Double = {
      val kth = keys.distinct.sorted.apply(k - 1)
      (k - 1) / ((kth.toDouble + 1.0) / range)
    }
    val rawEst = estimate(hashes, H.P.toDouble)
    val mixEst = estimate(hashes.map(H.kmvMix), H.P.toDouble * H.P.toDouble)
    assert(rawEst > hashes.length * 10.0,
      s"raw short-token estimate should be badly biased, got $rawEst")
    assert(mixEst > hashes.length / 1.5 && mixEst < hashes.length * 1.5,
      s"mixed estimate outside the KMV band: $mixEst for n=${hashes.length}")
    // range sanity: every mixed key fits [0, P²) — the SQL renderings
    // depend on no intermediate exceeding 2⁶³.
    assert(hashes.map(H.kmvMix).forall(z => z >= 0 && z < H.P * H.P))
  }
}
