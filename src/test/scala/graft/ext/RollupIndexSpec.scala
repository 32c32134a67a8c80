package graft.ext

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** [[RollupIndex]] invariants: (1) incrementally-maintained == one-shot
  * == direct GROUP BY over raw events, exactly, for the exact-mergeable
  * measures; (2) the merged HLL user sketch estimates inside the exact
  * envelope; (3) a crash between staging and commit leaves the
  * previous state live.
  */
class RollupIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def events = graft.Tables(spark, dir, "events")
    .select("event_id", "ts", "user_id", "event_type", "value")

  private def exactRows(df: org.apache.spark.sql.DataFrame) = df
    .select(col("event_type"), col("day"), col("n"),
      col("sum_value").cast("double"))
    .orderBy("event_type", "day").collect().map(_.toSeq).toSeq

  test("append-by-batch == one-shot == direct aggregate; sketch in envelope") {
    val inc = Files.createTempDirectory("ridx-inc").toString
    RollupIndex.build(events.filter(col("event_id") % 3 === 0), inc)
    RollupIndex.append(events.filter(col("event_id") % 3 === 1), inc)
    RollupIndex.append(events.filter(col("event_id") % 3 === 2), inc)
    val one = Files.createTempDirectory("ridx-one").toString
    RollupIndex.build(events, one)

    val direct = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).as("sum_value"))
    val incRows = exactRows(RollupIndex.read(spark, inc))
    assert(incRows == exactRows(RollupIndex.read(spark, one)))
    assert(incRows == exactRows(direct) && incRows.nonEmpty)

    // merged sketch estimate vs exact distinct users per cell
    val est = RollupIndex.read(spark, inc)
      .select(col("event_type"), col("day"),
        expr("hll_sketch_estimate(users_sketch)").as("est"))
    val exact = events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(countDistinct("user_id").as("exact"))
    val joined = est.join(exact, Seq("event_type", "day")).collect()
    assert(joined.nonEmpty && joined.forall { r =>
      val (e, x) = (r.getAs[Long]("est").toDouble, r.getAs[Long]("exact"))
      math.abs(e - x) <= math.max(2.0, 0.1 * x)
    })
  }

  test("a crash before commit leaves the previous state fully live") {
    val d = Files.createTempDirectory("ridx-crash").toString
    RollupIndex.build(events.filter(col("event_id") % 2 === 0), d)
    val before = exactRows(RollupIndex.read(spark, d))
    // simulate a crashed append: stage a segment dir without committing
    val orphan = s"$d/rollup_index/seg-99"
    events.filter(col("event_id") % 2 === 1)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .write.parquet(orphan)
    assert(exactRows(RollupIndex.read(spark, d)) == before)
    // the next maintenance pass sweeps the orphan
    graft.io.SegmentLog.cleanup(s"$d/rollup_index")
    assert(!new java.io.File(orphan).exists())
    assert(exactRows(RollupIndex.read(spark, d)) == before)
  }
}
