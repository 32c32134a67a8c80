package graft.closure

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}
import graft.SparkSpec
import graft.meta.{Catalog, FkEdge, TableMeta}

/** The forget verb's ownership cone — [[ClosureExtractor]] under
  * [[TraversalPolicy.ownership]] — vs a naive in-memory model on random
  * ownership graphs: the cone must return EXACTLY the RK-reachable rows
  * (the model BFS over materialized edges), for random seed sets, shared
  * children (diamonds), and multi-level chains — and never a row
  * reachable only via a forward FK. Every cone runs in three regimes
  * that must agree: the driver-local fast path, the distributed fixpoint
  * (`fastPathBudget = 0`), and a fast path that aborts mid-run and hands
  * its last completed boundary to the distributed fixpoint.
  */
class ForgetCascadeSpec extends SparkSpec {
  import spark.implicits._

  /** The ownership cone's key sets, asserted equal across the regimes. */
  private def ownershipCone(cat: Catalog, load: String => DataFrame,
      seedTable: String, seed: DataFrame): Map[String, Set[Seq[Any]]] = {
    def extractor(budget: Long) = new ClosureExtractor(cat, load,
      TraversalPolicy.ownership(cat), fastPathBudget = budget)
    def run(budget: Long): Map[String, Set[Seq[Any]]] =
      extractor(budget).run(seedTable, seed)
        .map { case (t, df) => t -> df.collect().map(_.toSeq).toSet }
    val local = run(ClosureExtractor.FastPathBudget)
    val rows = extractor(ClosureExtractor.FastPathBudget)
      .fastPathRows(Seq(seedTable -> seed)).getOrElse(fail("fast path did not finish"))
    Seq(0L, rows / 2).foreach { budget =>
      val other = run(budget)
      assert(other == local, s"budget $budget of $rows:\n got=$other\n local=$local")
    }
    local
  }

  private def cases[T](g: Gen[T], n: Int): Seq[T] = {
    val seed0 = rng.Seed(4242L)
    Iterator.iterate((g.pureApply(Gen.Parameters.default, seed0), seed0.next)) {
      case (_, s) => (g.pureApply(Gen.Parameters.default, s), s.next)
    }.map(_._1).take(n).toSeq
  }

  // three-level ownership chain a ← b ← c plus a forward dim d (b → d):
  // forgetting a-rows must cascade through b to c and never touch d
  private val catalog = Catalog(
    tables = Map(
      "ta" -> TableMeta("ta", Seq("a_id")),
      "tb" -> TableMeta("tb", Seq("b_id")),
      "tc" -> TableMeta("tc", Seq("c_id")),
      "td" -> TableMeta("td", Seq("d_id"))),
    edges = Seq(
      FkEdge("b_a", "tb", "a_ref", "ta", "a_id"),
      FkEdge("c_b", "tc", "b_ref", "tb", "b_id"),
      FkEdge("b_d", "tb", "d_ref", "td", "d_id")))

  private val genCase = for {
    nA <- Gen.choose(2, 5)
    nB <- Gen.choose(3, 10)
    nC <- Gen.choose(3, 12)
    aRefs <- Gen.listOfN(nB, Gen.choose(1, nA))   // b rows pick an owner a
    bRefs <- Gen.listOfN(nC, Gen.choose(1, nB))   // c rows pick an owner b
    seeds <- Gen.someOf(1 to nA).suchThat(_.nonEmpty)
  } yield (nA, aRefs.map(_.toLong), bRefs.map(_.toLong), seeds.map(_.toLong).toSet)

  test("cascade == model RK-BFS on random ownership graphs; dims never touched") {
    cases(genCase, 8).zipWithIndex.foreach { case ((nA, aRefs, bRefs, seeds), ci) =>
      val ta = (1 to nA).map(_.toLong).toDF("a_id")
      val tb = aRefs.zipWithIndex
        .map { case (aRef, i) => (i + 1L, aRef, (i % 2) + 1L) }
        .toDF("b_id", "a_ref", "d_ref")
      val tc = bRefs.zipWithIndex
        .map { case (bRef, i) => (i + 1L, bRef) }.toDF("c_id", "b_ref")
      val td = Seq(1L, 2L).toDF("d_id")
      val load: String => DataFrame =
        Map("ta" -> ta, "tb" -> tb, "tc" -> tc, "td" -> td)

      val cone = ownershipCone(catalog, load,
        "ta", ta.filter(col("a_id").isin(seeds.toSeq: _*)))

      // naive model: b rows owned by seed a's; c rows owned by those b's
      val modelB = aRefs.zipWithIndex.collect {
        case (aRef, i) if seeds.contains(aRef) => i + 1L }.toSet
      val modelC = bRefs.zipWithIndex.collect {
        case (bRef, i) if modelB.contains(bRef) => i + 1L }.toSet

      def keys(t: String): Set[Long] =
        cone.getOrElse(t, Set.empty).map(_.head.asInstanceOf[Long])
      assert(keys("ta") == seeds, s"case $ci seeds")
      assert(keys("tb") == modelB, s"case $ci b cone")
      assert(keys("tc") == modelC, s"case $ci c cone")
      assert(!cone.contains("td"), s"case $ci: forward dim td must never enter the cone")
    }
  }

  test("child column named like the parent key resolves to the frontier, not itself") {
    // introspected catalogs don't guarantee per-table column prefixes: here
    // the child's own pk is ALSO named `id`, so an unqualified col("id") in
    // the semi-join condition would be ambiguous (or bind to the child's
    // column, semi-joining the child against itself and returning every row)
    val parent = Seq(1L, 2L, 3L).toDF("id")
    val child = Seq((10L, 1L), (11L, 1L), (12L, 3L)).toDF("id", "parent_id")
    val cat = Catalog(
      tables = Map("p" -> TableMeta("p", Seq("id")), "ch" -> TableMeta("ch", Seq("id"))),
      edges = Seq(FkEdge("ch_p", "ch", "parent_id", "p", "id")))
    val load: String => DataFrame = Map("p" -> parent, "ch" -> child)
    val cone = ownershipCone(cat, load, "p", parent.filter(col("id") === 1L))
    val childKeys = cone("ch").map(_.head)
    assert(childKeys == Set(10L, 11L), s"expected ch cone {10,11}, got $childKeys")
  }
}
