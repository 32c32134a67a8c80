package graft.engine

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import graft.SparkSpec
import graft.meta.{Catalog, FkEdge, TableMeta}

/** Pins the Spark jobs of a point extract that the driver-local fast path
  * finishes: one job per fast-path probe, every closure job under the
  * probe job group (so an abort can cancel it), and no write job at all —
  * the tables are written from the rows the probes already fetched, on
  * the driver. Job counts do not move with host noise, so these hold on
  * any machine.
  */
class ExtractJobsSpec extends SparkSpec {
  import spark.implicits._

  private final class Recorder(tag: String) extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val ended = new ConcurrentLinkedQueue[Int]()
    @volatile var marker = -1
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def is(k: String) = Option(e.properties).exists(_.getProperty(k) == tag)
      if (is(Recorder.Tag)) jobs.add(e)
      if (is(Recorder.Marker)) marker = e.jobId
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
  }
  private object Recorder {
    val Tag = "graft.spec.extract"
    val Marker = "graft.spec.marker"
  }

  test("a fast-path point extract runs one job per probe and writes from held rows") {
    val dir = Files.createTempDirectory("extract-jobs").toString
    // four files per table, so every scan has several partitions (a
    // global limit would scan one partition first, then the rest)
    (1L to 40L).map(i => (i, 10L * (1 + i % 3))).toDF("id", "nat_id")
      .repartition(4).write.parquet(s"$dir/cust")
    Seq(10L, 20L, 30L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartition(4).write.parquet(s"$dir/nat")
    (100L to 199L).map(i => (i, i % 40 + 1)).toDF("id", "cust_id")
      .repartition(4).write.parquet(s"$dir/ord")
    val cat = Catalog(
      Map("cust" -> TableMeta("cust", Seq("id")),
        "nat" -> TableMeta("nat", Seq("id")),
        "ord" -> TableMeta("ord", Seq("id"))),
      edges = Seq(
        FkEdge("cust_nat_fkey", "cust", "nat_id", "nat", "id"),
        FkEdge("ord_cust_fkey", "ord", "cust_id", "cust", "id")))
    // relations read once, up front: parquet schema inference runs jobs
    // of its own (graft.Tables memoizes its relations for the same reason)
    val tables = Seq("cust", "nat", "ord").map(t => t -> spark.read.parquet(s"$dir/$t")).toMap
    val engine = new Engine(spark, cat, tables)
    val tag = java.util.UUID.randomUUID().toString
    val rec = new Recorder(tag)
    val sc = spark.sparkContext
    sc.addSparkListener(rec)
    try {
      // pools the extract creates inherit the tag from this thread
      sc.setLocalProperty(Recorder.Tag, tag)
      val counts =
        try engine.extractTo("SELECT * FROM cust WHERE id IN (1, 2)", s"$dir/out")
        finally sc.setLocalProperty(Recorder.Tag, null)
      assert(counts == Map("cust" -> 2L, "nat" -> 2L, "ord" -> 4L))
      // the listener bus is FIFO: once a later marker job has ended,
      // every event of the extract has been delivered
      sc.setLocalProperty(Recorder.Marker, tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(Recorder.Marker, null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!(rec.marker >= 0 && rec.ended.contains(rec.marker)) &&
          System.nanoTime() < deadline)
        Thread.sleep(50)
      val jobs = rec.jobs.asScala.toSeq
      assert(jobs.forall(j => rec.ended.contains(j.jobId)), "listener events not drained")
      def prop(j: SparkListenerJobStart, k: String) = Option(j.properties.getProperty(k))
      val (closure, writes) = jobs.partition(j =>
        prop(j, "spark.jobGroup.id").exists(_.startsWith("graft-closure-fastpath-")))
      // the probes: seed keys, the seeds' rows, nat and ord from the
      // seeds, and ord's by-pk re-probe (its reverse probe filtered on
      // cust_id, not its pk) — one job each, one query execution each
      assert(closure.size == 5, s"closure jobs: ${closure.map(_.jobId)}")
      val perExecution = closure.groupBy(prop(_, "spark.sql.execution.id"))
      assert(perExecution.size == 5 && perExecution.keySet.forall(_.nonEmpty))
      // the tables are held rows, written from the driver: no job outside
      // the probe group, and one part file per table
      assert(writes.isEmpty, s"write jobs: ${writes.map(_.jobId)}")
      Seq("cust", "nat", "ord").foreach { t =>
        val parts = Files.list(java.nio.file.Paths.get(s"$dir/out/$t/data"))
        try assert(parts.iterator().asScala.count(_.getFileName.toString.startsWith("part-")) == 1, t)
        finally parts.close()
      }
    } finally {
      sc.removeSparkListener(rec)
      graft.io.SegmentLog.deleteRecursively(dir)
    }
  }
}
