package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

/** Pure-JVM property pin for the [[CentroidTopK.compute]] kernel: its
  * k-slot insertion ranking must equal the naive "score every centroid,
  * sort (score DESC, cell ASC), take k" model — including duplicated
  * centroid vectors (exact score ties) and zero-norm inputs (the
  * null-cosine → −2.0 contract). No Spark session needed, so hundreds
  * of cases run in milliseconds.
  */
class CentroidTopKPropertySpec extends AnyFunSuite {

  private def cases[T](g: Gen[T], n: Int): Seq[T] = {
    val seed0 = rng.Seed(1337L)
    Iterator.iterate((g.pureApply(Gen.Parameters.default, seed0), seed0.next)) {
      case (_, s) => (g.pureApply(Gen.Parameters.default, s), s.next)
    }.map(_._1).take(n).toSeq
  }

  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  private def modelScore(c: Array[Double], v: Array[Double]): Double = {
    if (c.length != v.length) return -2.0
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < c.length) { dot += c(i) * v(i); na += c(i) * c(i); nb += v(i) * v(i); i += 1 }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) -2.0 else round6(dot / denom)
  }

  private val genCase: Gen[(Array[Long], Array[Array[Double]], Array[Double], Int)] = for {
    dim <- Gen.choose(2, 5)
    nc <- Gen.choose(1, 7)
    coord = Gen.oneOf(Gen.choose(-5, 5).map(_.toDouble), Gen.const(0.0))
    cents <- Gen.listOfN(nc, Gen.listOfN(dim, coord).map(_.toArray))
    dupSome <- Gen.oneOf(true, false)
    v <- Gen.oneOf(
      Gen.listOfN(dim, coord).map(_.toArray),
      Gen.const(Array.fill(dim)(0.0)))           // zero-norm input
    k <- Gen.choose(1, 8)
  } yield {
    // duplicate the first centroid vector into the last slot sometimes —
    // forces exact score ties resolved by cell id
    val cs = if (dupSome && nc >= 2) cents.init :+ cents.head.clone() else cents
    (Array.tabulate(cs.size)(i => (i * 10 + 3).toLong), cs.toArray, v, k)
  }

  test("compute == sort-model on random centroids/vectors incl. ties and zero norms") {
    cases(genCase, 400).foreach { case (cells, vecs, v, k) =>
      val got = CentroidTopK.compute((cells, vecs.map(c => new GenericArrayData(c): ArrayData)),
        new GenericArrayData(v), aIsFloat = false, k)
      val gotSeq = (0 until got.numElements()).map { i =>
        val r = got.getStruct(i, 2); (r.getLong(0), r.getDouble(1))
      }
      val expect = cells.zip(vecs)
        .map { case (cell, c) => (cell, modelScore(c, v)) }
        .sortBy { case (cell, s) => (-s, cell) }
        .take(k).toSeq
      assert(gotSeq == expect,
        s"cells=${cells.toSeq} v=${v.toSeq} k=$k got=$gotSeq expect=$expect")
    }
  }
}
