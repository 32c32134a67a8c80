package graft.closure

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Cast, In, InSet}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkSpec
import graft.meta.{Catalog, FkEdge, TableMeta}

/** Pins the fast path's probe predicate (`ClosureExtractor.inSet`): one
  * Catalyst `InSet` however many keys a probe carries — never an `In`
  * with a literal child per key, whose analysis alone costs the driver
  * about a second at tens of thousands of keys — still pushed into the
  * parquet scan, and selecting exactly the rows `isin` selects when the
  * key type and the column type differ in width.
  */
class ProbePredicateSpec extends SparkSpec {
  import spark.implicits._

  private def inSets(plan: LogicalPlan): Seq[InSet] =
    plan.flatMap(_.expressions.flatMap(_.collect { case s: InSet => s }))
  private def ins(plan: LogicalPlan): Seq[In] =
    plan.flatMap(_.expressions.flatMap(_.collect { case i: In => i }))

  test("a fast-path probe of 10k+ keys plans one InSet, pushed into the parquet scan") {
    val n = 12000
    val dir = Files.createTempDirectory("probe-pred").toString
    (1L to n).toDF("id").write.parquet(s"$dir/parent")
    (1L to n).map(i => (i + 100000L, i)).toDF("id", "parent_id")
      .write.parquet(s"$dir/child")
    val cat = Catalog(
      Map("parent" -> TableMeta("parent", Seq("id")),
        "child" -> TableMeta("child", Seq("id"))),
      edges = Seq(FkEdge("child_parent_fkey", "child", "parent_id", "parent", "id")))
    // every collect of the run, captured with its plans
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val parent = spark.read.parquet(s"$dir/parent")
      val out = new ClosureExtractor(cat,
          t => spark.read.parquet(s"$dir/$t"))
        .runAll(Seq("parent" -> parent))
      // the depth-0 reverse-key probe of all 12k parents finds every child
      assert(out("child").count() == n)
      // listener events are delivered asynchronously
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def probe: Option[QueryExecution] = {
        import scala.jdk.CollectionConverters._
        seen.asScala.find(qe => inSets(qe.optimizedPlan).exists(_.hset.size >= 10000))
      }
      while (probe.isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      val qe = probe.getOrElse(fail("no fast-path probe with 10k+ keys ran"))
      assert(inSets(qe.optimizedPlan).map(_.hset.size) == Seq(n),
        "one InSet carrying every key")
      assert(ins(qe.analyzed).isEmpty, "no literal-per-key In in the analyzed plan")
      val scan = qe.executedPlan.toString
      assert(scan.contains("PushedFilters: [") && scan.contains("In(parent_id,"),
        s"InSet not pushed into the scan:\n$scan")
    } finally {
      spark.listenerManager.unregister(listener)
      graft.io.SegmentLog.deleteRecursively(dir)
    }
  }

  private def sameRowsAsIsin(df: DataFrame, column: String, keys: Seq[Any]): Set[Int] = {
    val viaInSet = df.where(ClosureExtractor.inSet(df, column, keys))
    val got = viaInSet.select("tag").as[Int].collect().toSet
    assert(got == df.where(col(column).isin(keys: _*)).select("tag").as[Int].collect().toSet)
    // the filter stays on the bare column (no cast), so it still pushes down
    val plan = viaInSet.queryExecution.analyzed
    assert(inSets(plan).size == 1 && ins(plan).isEmpty)
    assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[Cast]))))
    got
  }

  test("an int column probed with bigint keys keeps the rows isin keeps") {
    val df = Seq((1, 10), (3, 30), (7, 70), (Int.MaxValue, 99)).toDF("k", "tag")
    // 5e9 is outside int range: the analyzer widens the column, so it can
    // match nothing, and InSet drops it rather than wrap it around
    assert(sameRowsAsIsin(df, "k",
      Seq[Any](1L, 3L, 5000000000L, Int.MaxValue.toLong, null)) == Set(10, 30, 99))
  }

  test("a bigint column probed with int keys keeps the rows isin keeps") {
    val df = Seq((1L, 10), (3L, 30), (5000000000L, 50)).toDF("k", "tag")
    assert(sameRowsAsIsin(df, "k", Seq[Any](1, 3, 7)) == Set(10, 30))
  }
}
