package graft.functions

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.text.TextOps
import graft.graph.Hashing

/** Property-based checks of the driver-side kernels (no SparkSession —
  * these pin the pure JVM logic the distributed operators call into).
  */
class KernelPropsSpec extends AnyFunSuite {

  private def check(prop: Prop, name: String): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, s"$name: $res")
  }

  test("TopKHeap eval == kth largest (duplicates counted), -Inf on short groups") {
    val gen = for {
      k <- Gen.choose(1, 8)
      xs <- Gen.listOf(Gen.choose(-100, 100).map(_ / 7.0))
    } yield (k, xs)
    check(Prop.forAll(gen) { case (k, xs) =>
      val h = new TopKHeap(k)
      xs.foreach(h.add)
      val got = if (h.size < k) Double.NegativeInfinity else h.heap(0)
      val want = if (xs.length < k) Double.NegativeInfinity
        else xs.sorted(Ordering[Double].reverse)(k - 1)
      got == want
    }, "kth-largest")
  }

  test("TopKHeap merge of any split == single-pass heap") {
    val gen = for {
      k <- Gen.choose(1, 6)
      xs <- Gen.listOf(Gen.choose(-1000, 1000).map(_ / 13.0))
      cut <- Gen.choose(0, xs.length)
    } yield (k, xs, cut)
    check(Prop.forAll(gen) { case (k, xs, cut) =>
      val single = new TopKHeap(k)
      xs.foreach(single.add)
      val a = new TopKHeap(k)
      val b = new TopKHeap(k)
      xs.take(cut).foreach(a.add)
      xs.drop(cut).foreach(b.add)
      var i = 0
      while (i < b.size) { a.add(b.heap(i)); i += 1 }
      a.heap.take(a.size).sorted.toSeq == single.heap.take(single.size).sorted.toSeq
    }, "merge-split")
  }

  test("charNgrams == naive sliding-window distinct on arbitrary strings") {
    val gen = Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', '.', 'é', '中')))
      .map(_.mkString)
    check(Prop.forAll(gen) { t =>
      val naive = t.toLowerCase(java.util.Locale.ROOT)
        .codePoints().toArray.map(_.toLong)
        .sliding(TextOps.NgramW).filter(_.length == TextOps.NgramW)
        .map(_.foldLeft(0L)((h, c) => (h * TextOps.CharMul + c) % Hashing.P))
        .toSeq.distinct
      TextOps.charNgrams(t).toSeq == naive
    }, "charNgrams")
  }

  test("shingles == naive token-3-gram distinct") {
    val word = Gen.listOfN(3, Gen.alphaLowerChar).map(_.mkString)
    val gen = Gen.listOf(word).map(_.mkString(" "))
    check(Prop.forAll(gen) { t =>
      val toks = t.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
      val hs = toks.map(TextOps.tokenHash)
      val naive = hs.sliding(TextOps.ShingleW).filter(_.length == TextOps.ShingleW)
        .map(w => ((w(0) * Hashing.TokMul + w(1)) % Hashing.P * Hashing.TokMul + w(2)) % Hashing.P)
        .toSeq.distinct
      TextOps.shingles(t).toSeq == naive
    }, "shingles")
  }

  test("bandRows == per-permutation min + fold, for both banding configs") {
    val gen = Gen.listOf(Gen.choose(0L, Hashing.P - 1)).map(_.toArray)
    def naive(fs: Array[Long], nBands: Int, rpb: Int): Seq[(Int, Long)] =
      if (fs.isEmpty) Seq.empty
      else {
        val mins = (0 until TextOps.K).map(j =>
          fs.map(x => (TextOps.As(j) * x + TextOps.Bs(j)) % Hashing.P).min)
        (0 until nBands).map { b =>
          val slice = (b * rpb until (b + 1) * rpb).map(mins)
          (b, slice.reduceLeft((acc, x) => (acc * Hashing.TokMul + x) % Hashing.P))
        }
      }
    check(Prop.forAll(gen) { fs =>
      TextOps.bandRows(fs).toSeq == naive(fs, TextOps.Bands, TextOps.RowsPerBand) &&
        TextOps.bandRows(fs, TextOps.NgramBands, TextOps.NgramRowsPerBand).toSeq ==
          naive(fs, TextOps.NgramBands, TextOps.NgramRowsPerBand)
    }, "bandRows")
  }

  test("VecDot eval == left-to-right fold; null on length mismatch") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.catalyst.expressions.Literal
    val gen = for {
      n <- Gen.choose(0, 64)
      a <- Gen.listOfN(n, Gen.choose(-1000, 1000).map(_ / 97.0))
      b <- Gen.listOfN(n, Gen.choose(-1000, 1000).map(_ / 97.0))
    } yield (a.toArray, b.toArray)
    val dot = VecDot(Literal(1.0), Literal(1.0)) // children unused by nullSafeEval
    check(Prop.forAll(gen) { case (a, b) =>
      val got = dot.nullSafeEval(ArrayData.toArrayData(a), ArrayData.toArrayData(b))
      val want = a.zip(b).foldLeft(0.0)((s, p) => s + p._1 * p._2)
      got == want &&
        dot.nullSafeEval(ArrayData.toArrayData(a :+ 1.0), ArrayData.toArrayData(b)) == null
    }, "vecDot")
  }
}
