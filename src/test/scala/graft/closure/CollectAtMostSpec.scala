package graft.closure

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pins `ClosureExtractor.collectAtMost`, the fast path's only driver
  * collect: it returns the whole result when it has at most `max` rows
  * and None otherwise, and however many partitions the scan has the
  * driver receives at most `max` + partitions rows. A per-partition cap
  * of `max`+1 would ship up to partitions × (`max`+1) rows of an
  * overflowing probe; task result sizes do not depend on the host, so
  * the bound is checked in bytes.
  */
class CollectAtMostSpec extends SparkSpec {
  private val partitions = 8

  // ids 100·p until 100·(p+1) sit in partition p; each row carries 1 KB
  // of hex that compresses little
  private lazy val wide: DataFrame = spark.range(0, 100L * partitions, 1, partitions)
    .withColumn("payload", concat((0 until 16).map(i =>
      sha2(concat(col("id").cast("string"), lit(s"-$i")), 256)): _*))

  /** `collectAtMost(df, max)`, the bytes its tasks sent the driver, and
    * its job count. */
  private def shipped(df: DataFrame, max: Long): (Option[Array[Row]], Long, Int) = {
    val group = s"collect-at-most-${java.util.UUID.randomUUID()}"
    val marker = group + "-marker"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
    val bytes = new AtomicLong
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => jobs.incrementAndGet(); e.stageIds.foreach(s => stages.add(s))
          case `marker` => drained.countDown()
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.resultSize)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "collectAtMost spec")
      val got = try ClosureExtractor.collectAtMost(df, max) finally sc.clearJobGroup()
      // the listener bus is FIFO: once a later job's start is delivered,
      // every task end of the probe has been
      sc.setJobGroup(marker, "drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener not drained")
      (got, bytes.get, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def ids(rows: Array[Row]): Seq[Long] = rows.map(_.getLong(0)).toSeq.sorted

  test("an overflowing probe over many partitions ships at most max + partitions rows") {
    val max = 100L
    // every partition holds 100 matching rows, past its share of 13
    val (got, bytes, jobs) = shipped(wide, max)
    assert(got.isEmpty && jobs == 1)
    // a 1 KB-payload row is more than 1000 bytes on the wire: capping each
    // partition at max+1 would ship 808 rows, above 800 KB
    assert(bytes < (max + partitions) * 1100, s"$bytes bytes shipped")
  }

  test("a skewed result that fits is returned whole, in a second job for the skewed partition") {
    // partition 0 holds 60 matches, past its share of 13; the others 2 each
    val df = wide.where(col("id") < 60 || col("id") % 100 < 2)
    val (got, bytes, jobs) = shipped(df, 100L)
    assert(jobs == 2)
    assert(got.map(ids).contains(df.select("id").collect().map(_.getLong(0)).toSeq.sorted))
    assert(got.get.map(_.getString(1)).toSeq.sorted ==
      df.select("payload").collect().map(_.getString(0)).toSeq.sorted)
    assert(bytes < (100L + partitions) * 1100, s"$bytes bytes shipped")
  }

  test("exactly max rows are returned; one more is None") {
    val inOnePartition = wide.where(col("id") < 100)
    assert(ClosureExtractor.collectAtMost(inOnePartition, 100L).map(ids)
      .contains((0L until 100L).toSeq))
    assert(ClosureExtractor.collectAtMost(inOnePartition, 99L).isEmpty)
    val spread = wide.where(col("id") % 100 < 12)
    assert(ClosureExtractor.collectAtMost(spread, 96L).map(_.length).contains(96))
    assert(ClosureExtractor.collectAtMost(spread, 95L).isEmpty)
    assert(ClosureExtractor.collectAtMost(wide.where(col("id") < 0), 0L).exists(_.isEmpty))
  }
}
