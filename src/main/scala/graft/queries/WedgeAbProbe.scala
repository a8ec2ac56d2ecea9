package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** r20 second-pass A/B probe for the lpShared wedge fold (guide §1):
  * interleaved same-JVM reps of the pair aggregation under
  *   - partition width 32 (the session default, one task wave) vs 64
  *     (two waves — the c396a96 claim this probe re-tests), and
  *   - the shipped two-buffer agg (count + sum) vs a PACKED single-sum
  *     (enc = 2^42 + wt per wedge, so one long sum carries cn in the
  *     high bits and aa_fp in the low 42 — §2.3 narrower shuffle rows:
  *     24 B vs 32 B per exchanged row, one agg buffer instead of two).
  * Packing is exact iff cn < 2^21 per pair, which max(deg) < 2^21
  * guarantees (cn ≤ min-endpoint degree); the probe asserts the
  * decoded frame EQUALS the shipped one before timing anything.
  *
  * Usage: `./run.sh graft.queries.WedgeAbProbe [sfDir] [reps]`
  */
object WedgeAbProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val s = graft.LocalSession.create()
    val sc = s.sparkContext
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def t(label: String)(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[ab] $label%-34s $dt%8.3f s")
      dt
    }

    val und = graft.graph.GraphOps.lineitemUndirected(s, dir, Graph.TriMod)
    val deg = Graph.undDegShared(s, dir).select(col("id").as("w"), col("dg"))
    val adj = und.select(col("a").as("w"), col("b").as("n"))
      .unionAll(und.select(col("b").as("w"), col("a").as("n")))
    val capped = adj
      .join(deg.where(col("dg").between(2, Graph.LpCnDegCap)), Seq("w"))
      .select(col("w"), col("n"),
        round(lit(1e6) / log(col("dg"))).cast("long").as("wt"))
      .localCheckpoint(true)
    val wedges = capped.as("x").join(capped.as("y"),
        col("x.w") === col("y.w") && col("x.n") < col("y.n"))
      .select((shiftleft(col("x.n"), 32) + col("y.n")).as("uv"),
        col("x.wt"))
    // A: the shipped two-buffer aggregate.
    def aggA: DataFrame = wedges
      .groupBy(col("uv"))
      .agg(count(lit(1)).as("cn"), sum(col("wt")).as("aa_fp"))
    // B: packed single sum, decoded to the same columns.
    val C = 1L << 42
    def aggB: DataFrame = wedges
      .select(col("uv"), (lit(C) + col("wt")).as("enc"))
      .groupBy(col("uv"))
      .agg(sum(col("enc")).as("s"))
      .select(col("uv"), shiftright(col("s"), 42).as("cn"),
        col("s").bitwiseAND(lit(C - 1)).as("aa_fp"))

    // ---- equality gate before any timing ----
    val mismatch = aggA.as("a").join(aggB.as("b"), Seq("uv"), "full")
      .where(col("a.cn") =!= col("b.cn") ||
        col("a.aa_fp") =!= col("b.aa_fp") ||
        col("a.cn").isNull || col("b.cn").isNull)
      .count()
    println(s"[ab] packed-vs-shipped mismatches = $mismatch (must be 0)")
    require(mismatch == 0L)
    val maxDeg = deg.agg(max(col("dg"))).head().getLong(0)
    println(s"[ab] max degree = $maxDeg (packing exact iff < ${1L << 21})")
    require(maxDeg < (1L << 21), s"max degree $maxDeg overflows the 21-bit packing")

    def scoped(p: Int)(f: => Unit): Unit = {
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      try { s.conf.set("spark.sql.shuffle.partitions", p.toString); f }
      finally s.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val acc = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.ArrayBuffer[Double]]
    def rec(k: String, v: Double): Unit =
      acc.getOrElseUpdate(k, scala.collection.mutable.ArrayBuffer()) += v
    // JIT warm pass for both shapes, untimed.
    noop(aggA); noop(aggB)
    for (r <- 1 to reps; p <- Seq(32, 64); v <- Seq("A", "B")) {
      val k = s"$v@$p"
      scoped(p) { rec(k, t(s"rep$r $k")(noop(if (v == "A") aggA else aggB))) }
    }
    println("[ab] ---- medians ----")
    acc.toSeq.sortBy(_._1).foreach { case (k, vs) =>
      val m = vs.sorted.apply(vs.length / 2)
      println(f"[ab] $k%-6s median ${m}%6.3f s  (${vs.map(x => f"$x%.2f").mkString(" ")})")
    }

    // ---- full fold+cuts composition (what lpShared pays after und/deg),
    // A vs B, at 32 vs 64, interleaved ----
    def fullFold(variant: String, p: Int): Unit = {
      val pairs0 = (if (variant == "A") aggA else aggB)
        .select(shiftright(col("uv"), 32).as("u"),
          col("uv").bitwiseAND(lit(0xFFFFFFFFL)).as("v"),
          col("cn"), col("aa_fp"))
        .join(und.select(col("a").as("u"), col("b").as("v")),
          Seq("u", "v"), "left_anti")
      val pairs = pairs0
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      scoped(p) {
        Graph.linkPredCnFinish(pairs, deg, Graph.LpCnTopN).count()
        Graph.adamicAdarFinish(pairs, Graph.LpCnTopN).count()
      }
      pairs.unpersist(false)
    }
    fullFold("A", 32) // untimed JIT warm for the cut path
    for (r <- 1 to reps; p <- Seq(32, 64); v <- Seq("A", "B")) {
      val k = s"fold $v@$p"
      rec(k, t(s"rep$r $k")(fullFold(v, p)))
    }
    println("[ab] ---- fold medians ----")
    acc.toSeq.filter(_._1.startsWith("fold")).sortBy(_._1).foreach {
      case (k, vs) =>
        val m = vs.sorted.apply(vs.length / 2)
        println(f"[ab] $k%-10s median ${m}%6.3f s  (${vs.map(x => f"$x%.2f").mkString(" ")})")
    }
    s.stop()
  }
}
