package graft.queries

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import graft.graph.Hashing

class KmvOverlapSpec extends SparkSpec {

  test("ev_kmv_overlap matches a brute-force sketch replay; in the " +
      "k ≥ universe regime the estimate IS the exact Jaccard") {
    val got = Events.queries("ev_kmv_overlap")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getLong(6), r.getDouble(7))).toMap
    assert(got.nonEmpty, "fixture must contain consecutive days")

    // raw (day → distinct users) truth
    val du = Tables(spark, sfDir, "events")
      .select(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("user_id"))
      .distinct().collect().map(r => (r.getString(0), r.getLong(1)))
    val byDay = du.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val days = byDay.keys.toSeq.sorted

    def sketch(users: Set[Long]): Set[Long] =
      users.map(u => Hashing.kmvMix(u % Hashing.P)).toSeq.sorted
        .take(Events.EvOvK).toSet

    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
    days.foreach { d =>
      val d2 = java.time.LocalDate.parse(d, fmt).plusDays(1).format(fmt)
      if (byDay.contains(d2)) {
        val (gd2, kUnion, overlap, jacEst, nInter, nUnion, jacExact) = got(d)
        assert(gd2 == d2)
        val (sa, sb) = (sketch(byDay(d)), sketch(byDay(d2)))
        val unionK = (sa ++ sb).toSeq.sorted.take(Events.EvOvK)
        val wantOverlap = unionK.count(h => sa.contains(h) && sb.contains(h))
        assert((kUnion, overlap) == ((unionK.size.toLong, wantOverlap.toLong)),
          s"pair $d/$d2")
        assert(jacEst == wantOverlap.toDouble / unionK.size.toDouble)
        val inter = (byDay(d) intersect byDay(d2)).size.toLong
        val uni = (byDay(d) union byDay(d2)).size.toLong
        assert((nInter, nUnion) == ((inter, uni)))
        assert(jacExact == inter.toDouble / uni.toDouble)
        // sf0.001: per-day universe ≤ 15 < k → the sketch is the set and
        // the estimate collapses to the exact Jaccard.
        if (uni <= Events.EvOvK) assert(jacEst == jacExact)
        assert(overlap <= kUnion && jacEst >= 0.0 && jacEst <= 1.0)
      } else assert(!got.contains(d), s"day $d has no successor but a row")
    }
  }
}
