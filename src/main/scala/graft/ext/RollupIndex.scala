package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained MATERIALIZED ROLLUP — the aggregation
  * counterpart of [[DedupIndex]]/[[AnnIndex]]/[[SearchIndex]]: the
  * events daily rollup kept as PER-BATCH PARTIAL AGGREGATES in
  * [[graft.io.SegmentLog]] segments, so each ingest batch aggregates
  * ONLY ITSELF (one map-side-combined pass over the batch) and a read
  * merges the tiny per-segment partials — raw events are never
  * re-touched after their batch commits. This is the segment
  * architecture a 100 TB event store runs (Druid/Pinot-style): query
  * cost is proportional to segments × cells, not history.
  *
  * Everything stored is MERGEABLE:
  *  - `n` (BIGINT) and `sum_value` (DECIMAL(18,4)) merge by exact SUM —
  *    order- and split-free, so append-by-batch == one-shot EXACTLY,
  *    which is what lets the registered `rollup_incremental` query be
  *    hash-checked against a plain GROUP BY oracle over the raw events;
  *  - distinct users cannot merge exactly, so the segment carries the
  *    MERGEABLE HLL sketch binary (`hll_sketch_agg`) and reads merge
  *    with `hll_union_agg` — the [[EventQueries.eventsSketchWeekly]]
  *    discipline applied to index maintenance; RollupIndexSpec pins the
  *    merged estimate inside the exact envelope.
  *
  * Maintenance is crash-safe via the shared segment-log commit
  * protocol: a batch's partials stage as an immutable `seg-<n>` dir and
  * flip live in one atomic manifest rename.
  */
object RollupIndex {

  import graft.io.SegmentLog

  private def root(dir: String) = s"$dir/rollup_index"

  private def state(dir: String): SegmentLog.State =
    SegmentLog.read(root(dir)).getOrElse(
      sys.error(s"no rollup index committed at ${root(dir)}"))

  /** One batch's partial aggregate: (event_type, day, n, sum_value,
    * users_sketch).
    */
  private def partial(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).as("sum_value"),
        expr("hll_sketch_agg(user_id, 14)").as("users_sketch"))

  private def writeSegment(events: DataFrame, dir: String, seg: String): Long = {
    val p = partial(events)
    p.coalesce(1).write.mode("overwrite").parquet(s"${root(dir)}/$seg")
    events.sparkSession.read.parquet(s"${root(dir)}/$seg").count()
  }

  /** One-shot build. Returns the segment's cell count. */
  def build(events: DataFrame, dir: String): Long = {
    val r = root(dir)
    val gen = SegmentLog.nextGen(SegmentLog.read(r))
    val seg = SegmentLog.segName(gen)
    val n = writeSegment(events, dir, seg)
    SegmentLog.commit(r, SegmentLog.State(gen, Seq(seg), Map.empty))
    SegmentLog.cleanup(r)
    n
  }

  /** Fold a NEW batch of events in: aggregate the batch alone, commit
    * its partials as a fresh segment. Batches may overlap in (type,
    * day) cells arbitrarily — merge-on-read makes the union exact.
    */
  def append(events: DataFrame, dir: String): Long = {
    val r = root(dir)
    val st = state(dir)
    val gen = SegmentLog.nextGen(Some(st))
    val seg = SegmentLog.segName(gen)
    val n = writeSegment(events, dir, seg)
    SegmentLog.commit(r, SegmentLog.State(gen, st.segments :+ seg, st.extras))
    n
  }

  /** The maintained rollup: merge every live segment's partials. Exact
    * for n/sum (SUM of partials), mergeable-sketch for distinct users.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    state(dir).segmentPaths(root(dir))
      .map(p => spark.read.parquet(p))
      .reduce(_.unionByName(_))
      .groupBy("event_type", "day")
      .agg(sum(col("n")).as("n"),
        sum(col("sum_value")).as("sum_value"),
        expr("hll_union_agg(users_sketch)").as("users_sketch"))

  /** Registered query: the rollup maintained INCREMENTALLY (build on
    * one batch, two appends) must hash-match the plain GROUP BY oracle
    * over the raw events — the merge-on-read exactness contract,
    * replayed from nothing each run (the [[DedupQueries
    * .dedupClustersIncremental]] pattern; production reads a committed
    * index). The mod-3 split scatters every (type, day) cell across
    * all three segments, so the query proves real cross-segment
    * merging, not disjoint concatenation.
    */
  def rollupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val events = graft.Tables(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val idxDir = java.nio.file.Files.createTempDirectory("graft-ridx-").toString
    try {
      build(events.filter(col("event_id") % 3 === 0), idxDir)
      append(events.filter(col("event_id") % 3 === 1), idxDir)
      append(events.filter(col("event_id") % 3 === 2), idxDir)
      read(spark, idxDir)
        .select(col("event_type"), col("day"), col("n"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("event_type", "day")
        .localCheckpoint(true)
    } finally SegmentLog.deleteRecursively(idxDir)
  }

  val rollupIncrementalSql: String =
    """SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY event_type, day""".stripMargin

  /** Registered query for [[graft.plans.RollupRewriteRule]] — the
    * MATERIALIZED-VIEW AUTO-REWRITE proven under the driver's oracle:
    * build the index, register the events→index mapping, then run the
    * PLAIN corpus aggregate (`events.groupBy(event_type, to_date(ts))
    * .agg(count, sum)`) with the rule active. The optimizer swaps the
    * corpus scan for the segment-partial merge; a `require` on the
    * optimized plan PROVES the events relation is gone (a silent
    * non-fire would still pass the oracle — the assert is what makes
    * this a rewrite test, not an aggregation test). The oracle replays
    * the ORIGINAL query over raw events in DuckDB, so the hash gate
    * certifies rewrite == original. Index built from nothing per run
    * (the replay-by-design pattern); production registers a mapping
    * once per maintenance cycle.
    */
  def rollupRewrite(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.{RollupRewrite, RollupRewriteRule}
    if (!spark.experimental.extraOptimizations.contains(RollupRewriteRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RollupRewriteRule
    val events = graft.Tables(spark, dir, "events")
    val idxDir = java.nio.file.Files.createTempDirectory("graft-mvidx-").toString
    try {
      build(events, idxDir)
      RollupRewrite.register(s"$dir/events.parquet", idxDir)
      val q = events
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).as("sum_value"))
      val scanned = q.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString).mkString(",")
            case _ => ""
          }
      }
      require(!scanned.exists(_.contains("events.parquet")),
        s"rollup rewrite did not fire; still scanning: $scanned")
      q.select(col("event_type"), col("day"), col("n"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("event_type", "day")
        .localCheckpoint(true)
    } finally {
      RollupRewrite.unregister(s"$dir/events.parquet")
      SegmentLog.deleteRecursively(idxDir)
    }
  }

  val all: Seq[(String, ((SparkSession, String) => DataFrame, String))] = Seq(
    "rollup_incremental" -> ((rollupIncremental _, rollupIncrementalSql)),
    "rollup_rewrite" -> ((rollupRewrite _, rollupIncrementalSql))
  )
}
