package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming forms of the event-time operators (SURVEY.md
  * §2.11). The reference is strictly batch; the driver testdata designates
  * `events` as the stream table, and these transforms are the
  * `readStream` duals of [[graft.ext.EventQueries]] — identical
  * expressions, so the batch oracle checks the semantics and
  * StreamingSpec checks the streaming execution (watermarks, append mode,
  * state cleanup).
  *
  * Scale: watermark + windowed aggregation is Spark's standard streaming
  * state layout — state keyed by (window, group key), dropped once the
  * watermark passes the window end. Sessionization uses session_window's
  * merging state. `dedupeWithinWatermark` bounds the dedup state to the
  * watermark horizon.
  */
object StreamingOps {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Tumbling 1-day counts per event type, 10-minute watermark. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Session windows per user (30-minute gap), 10-minute watermark. */
  def sessionize(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Exactly-once-ish dedup by event_id within the watermark horizon. */
  def dedupeWithinWatermark(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Daily mergeable HLL user sketches — the STREAMING half of
    * [[graft.ext.EventQueries.eventsSketchWeekly]]'s two-level rollup.
    * The stream maintains one bounded sketch binary per (day, event_type)
    * cell; any coarser window (week, month, ad-hoc range) is then a cheap
    * BATCH `hll_union_agg` over the stored sketches, never re-touching
    * the raw stream. Streaming can't stack two aggregations, and at
    * 100 TB you wouldn't want it to: persisting the daily level is what
    * makes every later rollup a merge instead of a re-shuffle of event
    * history. Same lgConfigK (14) as the batch form, and HLL state is
    * item-order-independent, so stream-built sketches estimate exactly
    * like batch-built ones (StreamingSpec pins streamed-daily →
    * batch-merged-weekly == eventsSketchWeekly).
    */
  def dailyUserSketches(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
      .select(col("w.start").as("day"), col("event_type"), col("sk"))

  /** The quantile sibling of [[dailyUserSketches]]: one bounded GK value
    * sketch per (day, event_type) maintained across micro-batches via
    * [[graft.functions.QuantileSketch.quantile_sketch_agg]]; weekly (or
    * any coarser) percentiles are then a batch `quantile_sketch_merge`
    * over the stored dailies — StreamingSpec pins the streamed-then-
    * merged path against the all-batch `events_quantile_weekly` values.
    */
  def dailyValueSketches(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(graft.functions.QuantileSketch
        .quantile_sketch_agg(col("value"), 0.01).as("sk"))
      .select(col("w.start").as("day"), col("event_type"), col("sk"))

  /** Stream-stream interval self-join (SURVEY.md §2.11): purchases joined
    * to the same user's clicks in the preceding hour — the streaming dual
    * of the batch `range_join` oracle query. Both sides carry watermarks
    * and the interval condition is two-sided, so Spark can bound the
    * buffered join state: clicks older than (watermark − 1 hour) are
    * dropped from state.
    */
  def clickAttribution(events: DataFrame): DataFrame =
    clickAttributionJoin(events, "inner")

  /** One definition of the attribution interval + watermarks for both
    * join types — the outer form is documented as the inner's dual, and
    * a shared body is what keeps them from diverging. */
  private def clickAttributionJoin(events: DataFrame, joinType: String): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("cts"),
        col("value").as("click_value"))
      .withWatermark("cts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("pts"))
      .withWatermark("pts", "10 minutes")
    purchases.join(clicks, expr(
      "c_user = user_id AND cts <= pts AND cts > pts - INTERVAL 1 HOUR"),
      joinType)
      .select(col("purchase_id"), col("user_id"), col("pts"), col("cts"),
        col("click_value"))
  }

  /** Stream-stream LEFT OUTER interval join — the harder eviction case:
    * an unmatched purchase can only be emitted as (purchase, null click)
    * once the watermark PROVES no matching click can still arrive, i.e.
    * after click-watermark passes `pts` (the interval's upper bound for
    * that row). Until then the row sits in state; with the two-sided
    * interval plus both watermarks the buffered state stays bounded
    * exactly as in the inner form. Zero-click purchases surviving with
    * null click columns is what the batch `range_join` LEFT JOIN oracle
    * checks — this is its streaming dual.
    */
  def clickAttributionOuter(events: DataFrame): DataFrame =
    clickAttributionJoin(events, "left_outer")

  /** Stream-static dimension join (§2.11): enrich the event stream with
    * the customer dimension. The static side is re-planned per
    * micro-batch (picking up dimension updates) and broadcast when small
    * — no streaming state at all, unlike stream-stream joins.
    */
  def enrichWithCustomers(events: DataFrame, customers: DataFrame): DataFrame =
    events.join(
      customers.select(col("c_custkey"), col("c_mktsegment")),
      events("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("c_mktsegment"))

  final case class SessionAcc(start: java.sql.Timestamp,
      end: java.sql.Timestamp, n: Long)
  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long)

  /** Custom sessionization via flatMapGroupsWithState (0..n emitted rows
    * per group per batch — the shape mapGroupsWithState can't express):
    * a session closes and is EMITTED either when a same-batch event
    * arrives past the gap, or when the event-time timeout fires after the
    * watermark passes `end + gap`. This is what `session_window` compiles
    * to under the hood; the explicit form is the extension point for
    * non-standard session semantics (caps, value-dependent gaps, ...).
    */
  def completedSessions(events: DataFrame, gapMinutes: Int = 30):
      org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    events.withWatermark("ts", "10 minutes")
      .selectExpr("user_id", "ts")
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, s.start, s.end, s.n))
          } else {
            val sorted = rows.map(_._2).toVector.sortBy(_.getTime)
            var emitted = Vector.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { t =>
              cur match {
                case Some(s) if t.getTime - s.end.getTime <= gapMs =>
                  cur = Some(s.copy(end = t, n = s.n + 1))
                case Some(s) =>
                  emitted :+= SessionOut(user, s.start, s.end, s.n)
                  cur = Some(SessionAcc(t, t, 1L))
                case None =>
                  cur = Some(SessionAcc(t, t, 1L))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end.getTime + gapMs)
            }
            emitted.iterator
          }
      }
  }

  final case class Scd2Open(event_type: String,
      valid_from: java.sql.Timestamp, n_events: Long)
  final case class Scd2Closed(user_id: Long, event_type: String,
      valid_from: java.sql.Timestamp, valid_to: java.sql.Timestamp,
      n_events: Long)

  /** Streaming SCD2 — the online form of
    * [[graft.ext.EventQueries.scd2State]] for a CDC-shaped stream: per
    * user, state holds the OPEN interval (current event_type, its
    * valid_from, run length); a state-changing event closes it — the
    * closed row is emitted with `valid_to` = the new state's start —
    * and opens the next. Same-state events just extend the run. The
    * open interval stays in state (it has no `valid_to` yet); the batch
    * form's NULL-open current rows are exactly the un-emitted state.
    *
    * Ordering contract: events are sorted by (ts, event_id) WITHIN a
    * batch, and batches are assumed in order per key — the same
    * in-order assumption as [[completedSessions]]; a production CDC
    * source provides it per key by construction (log offset order).
    * StreamingSpec pins streamed-closed == the batch form's non-NULL
    * rows across multi-batch delivery. State per key is O(1).
    */
  def scd2Stream(events: DataFrame): org.apache.spark.sql.Dataset[Scd2Closed] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "ts", "event_id", "event_type")
      .as[(Long, java.sql.Timestamp, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, String)],
         state: GroupState[Scd2Open]) =>
          val sorted = rows.toVector.sortBy(e => (e._2.getTime, e._3))
          var cur = state.getOption
          var closed = Vector.empty[Scd2Closed]
          sorted.foreach { case (_, ts, _, et) =>
            cur match {
              case Some(s) if s.event_type == et =>
                cur = Some(s.copy(n_events = s.n_events + 1))
              case Some(s) =>
                closed :+= Scd2Closed(user, s.event_type, s.valid_from, ts, s.n_events)
                cur = Some(Scd2Open(et, ts, 1L))
              case None =>
                cur = Some(Scd2Open(et, ts, 1L))
            }
          }
          cur.foreach(state.update)
          closed.iterator
      }
  }

  final case class UserActivity(user_id: Long, n_events: Long,
      total_value: Double, last_ts: java.sql.Timestamp)

  /** Custom keyed state via mapGroupsWithState (SURVEY.md §2.11): a
    * running per-user activity profile that survives across micro-batches
    * — the KeyValueGroupedDataset state tier for semantics windows can't
    * express. State per key is O(1); at 100 TB keys shard across the
    * cluster's state stores.
    */
  def userActivity(events: DataFrame): org.apache.spark.sql.Dataset[UserActivity] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "ts", "value")
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
         state: GroupState[UserActivity]) =>
          val prev = state.getOption.getOrElse(UserActivity(user, 0L, 0.0, null))
          val batch = rows.toSeq
          val next = UserActivity(
            user,
            prev.n_events + batch.size,
            prev.total_value + batch.map(_._3).sum,
            batch.map(_._2).maxByOption(_.getTime)
              .orElse(Option(prev.last_ts)).orNull)
          state.update(next)
          next
      }
  }

  final case class VecKeep(vec_id: Long, cell: Long, keep: Boolean)

  /** Streaming semantic dedup — the online form of
    * [[graft.ext.DedupQueries.semDedup]] for a live embedding-ingest
    * pipeline: cell assignment is the SAME stateless centroid-fold
    * projection (no shuffle), then state per cell holds every vector
    * seen so far and an arriving vector is dropped when it is within
    * `eps` of ANY earlier one in its cell — the batch drop rule with
    * arrival order (vec_id within a batch) standing in for the batch
    * form's centroid-similarity rank. Cross-batch: a vector arriving
    * in batch N is deduped against batches 1..N-1's state, which is
    * exactly the [[graft.ext.DedupQueries.dedupIncremental]] contract
    * at the embedding tier.
    *
    * Scale: state is keyed by cell and sharded across the cluster's
    * state stores; per-cell state is bounded the way the batch
    * operator's cells are (nlist grows with the corpus). Production
    * would cap per-cell state (drop-oldest or sketch) the same way
    * minhash caps buckets.
    */
  def semDedupStream(vecs: DataFrame, centroids: Seq[(Long, Seq[Double])],
      eps: Double): org.apache.spark.sql.Dataset[VecKeep] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = vecs.sparkSession
    import spark.implicits._
    // norms are stored WITH the state vectors (computed once on insert,
    // not per comparison), and rounding is BigDecimal HALF_UP at 6dp —
    // the same mode Spark's round() applies in the batch operator
    def norm(a: Seq[Double]): Double = {
      var n = 0.0; var i = 0
      while (i < a.length) { n += a(i) * a(i); i += 1 }
      math.sqrt(n)
    }
    def cos(a: Seq[Double], na: Double, b: Seq[Double], nb: Double): Double = {
      val d = na * nb
      if (d == 0.0) return -2.0
      var dot = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); i += 1 }
      java.math.BigDecimal.valueOf(dot / d)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    val centArr = typedLit(centroids.sortBy(_._1))
    vecs
      .withColumn("cell",
        graft.ext.SimilarityQueries.bestCellStruct(centArr, col("v")).getField("cell"))
      .select(col("vec_id").cast("long"), col("cell"), col("v"))
      .as[(Long, Long, Seq[Double])]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (cell: Long, rows: Iterator[(Long, Long, Seq[Double])],
         state: GroupState[Seq[(Seq[Double], Double)]]) =>
          var seen = state.getOption.getOrElse(Vector.empty[(Seq[Double], Double)])
            .toVector
          // vec_id order within the batch = deterministic arrival rank
          val out = rows.toVector.sortBy(_._1).map { case (id, _, v) =>
            val nv = norm(v)
            val dup = seen.exists { case (s, ns) => cos(s, ns, v, nv) >= eps }
            seen :+= ((v, nv)) // near-ANY-earlier (kept or not), the batch rule
            VecKeep(id, cell, keep = !dup)
          }
          state.update(seen)
          out.iterator
      }
  }

  /** Stream → JDBC upsert sink: every micro-batch runs through
    * [[graft.io.UpsertJdbcSink]] inside `foreachBatch` — the streaming
    * form of the reference's load verb. The conflict-skip insert makes
    * redelivered rows idempotent, which upgrades Structured Streaming's
    * at-least-once `foreachBatch` delivery to effectively-once in the
    * target table (the same reason the reference's ON CONFLICT DO NOTHING
    * load is safely re-runnable). Returns the started query; the caller
    * owns its lifecycle.
    */
  def upsertStream(
      events: DataFrame, url: String, props: java.util.Properties,
      table: String, pk: String,
      dialect: graft.io.UpsertDialect,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.io.UpsertJdbcSink.write(batch, url, props, table, pk, dialect = dialect)
      }
      .start()

  /** Streaming ingest dedup against the PERSISTED index — the
    * end-to-end production shape that ties the r6/r7 pieces together:
    * per micro-batch, (1) [[graft.ext.DedupIndex.dedupe]] runs the full
    * exact+near dedup of the batch against the index (the same
    * algorithm as the oracle-gated `dedup_incremental`), (2) survivors
    * append to `outDir` as parquet, (3) the WHOLE batch folds into the
    * index (near-ANY-earlier: dropped docs still block future
    * near-dups), (4) the batch's fingerprints FOLD into the Bloom
    * pre-gate artifact (capacity-compatible merge, O(batch) — never an
    * O(index) rebuild per micro-batch) so the next batch's
    * [[graft.ext.DedupIndex.prefilter]] sees them. Batches
    * are processed serially by Structured Streaming, so index
    * append/rebuild is race-free; the corpus text is never rescanned —
    * recurring cost is the batch pipeline plus two index shuffles
    * (the DedupIndex contract). Returns the started query.
    */
  def dedupIngestStream(docs: DataFrame, indexDir: String, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        def lap[T](tag: String)(f: => T): T =
          graft.SparkUtil.lap(s"b$bid ", tag)(f)
        if (!lap("isEmpty")(batch.isEmpty)) {
          val spark = batch.sparkSession
          // cap-consistent step: survivors of THIS batch plus docs a
          // bucket crossing the ≤64 cap just resurrected (see
          // DedupIndex.ingest) — the accumulated sink equals the
          // one-shot answer in every cap regime. maintainBloom folds the
          // batch's fingerprints into the Bloom pre-gate inside the same
          // call (O(batch) OR-merge off the batch frame ingest already
          // checkpointed — never an O(index) rebuild per micro-batch)
          // so the next batch's prefilter sees them.
          val emitted = lap("ingest")(graft.ext.DedupIndex.ingest(
            spark, batch, indexDir, maintainBloom = true))
          lap("sink-write")(emitted.write.mode("append").parquet(outDir))
        }
        () // foreachBatch wants Unit
      }
      .start()

  /** [[dedupIngestStream]] UNDER THE DRIVER GATE: replay the corpus's
    * "new" docs (`doc_id % 5 >= 3`, the oracle-gated `dedup_incremental`
    * split) through the real streaming pipeline — a genuine file-source
    * `readStream`, one parquet file per micro-batch — against an index
    * built on the "old" docs, then return the COMMITTED survivor
    * artifact. The DuckDB oracle is `dedup_incremental`'s: a green row
    * proves the streamed, per-batch, index-backed path lands on exactly
    * the one-shot batch answer (the StreamingSpec streamed==batch pin,
    * promoted from spec-only to the hard correctness signal).
    *
    * Batch order is data-defined, not scheduler-defined: the greedy
    * first-wins rule needs doc_id-ordered batches, so the two batch
    * files get explicit ascending modification times and the source
    * reads `maxFilesPerTrigger=1` (FileStreamSource orders by mtime).
    * All row data stays distributed — the driver only moves file paths.
    */
  /** Stage a DataFrame as ONE parquet file with a pinned mtime under
    * `inDir` — FileStreamSource orders files by modification time, so
    * replay callers get a deterministic micro-batch order with
    * `maxFilesPerTrigger=1`. Only file paths move through the driver.
    */
  private def writeReplayBatch(tmp: java.nio.file.Path, inDir: String)(
      b: DataFrame, name: String, mtime: Long): Unit = {
    val staged = s"$tmp/stage-$name"
    b.coalesce(1).write.parquet(staged)
    val src = new java.io.File(staged).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    val dst = new java.io.File(s"$inDir/$name.parquet")
    dst.getParentFile.mkdirs()
    java.nio.file.Files.move(src.toPath, dst.toPath)
    dst.setLastModified(mtime)
  }

  /** Replay STAGING is one-time per (JVM, dir): the micro-batch input
    * files (and the dedup replay's pristine index) depend only on the
    * immutable testdata dir, so re-invocations — the bench's
    * median-of-3, a verify after a bench — reuse the staged tree and
    * pay only the STREAM execution, which is the recurring production
    * cost the row exists to measure. The staged tree is removed by a
    * JVM shutdown hook; per-run state (checkpoints, sinks, mutated
    * index copies) still lives in a fresh temp dir deleted per run.
    */
  private val stagedReplayMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stagedTree(key: String)(build: java.nio.file.Path => Unit): String =
    stagedReplayMemo.computeIfAbsent(key, _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-stream-stage-")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        graft.io.SegmentLog.deleteRecursively(tmp.toString)))
      build(tmp)
      tmp.toString
    })

  /** The staged two-batch events input for `dir`. The split point is
    * (min+max)/2 of the timeline — one pass of min/max, not a
    * sort-based exact percentile: ANY interior split exercises the
    * cross-batch state merge the replays exist to prove, and the
    * streamed result is split-invariant by the state-store contract
    * (that invariance is exactly what the hash gate then checks).
    */
  private def stagedEventsInput(spark: SparkSession, dir: String): String =
    stagedTree(s"events:$dir") { tmp =>
      val events = graft.Tables(spark, dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
      val r = events.agg(
        min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      // empty corpus: min/max aggregate to NULL — split at 0 and stage
      // two empty batch files rather than NPE on getLong; the replay
      // then streams an empty input to an empty (still valid) result
      val mid = if (r.isNullAt(0)) 0L else (r.getLong(0) + r.getLong(1)) / 2
      val writeBatch = writeReplayBatch(tmp, s"$tmp/in") _
      writeBatch(events.filter(expr(s"unix_micros(ts) <= $mid")), "b1", 1000000L)
      writeBatch(events.filter(expr(s"unix_micros(ts) > $mid")), "b2", 2000000L)
    } + "/in"

  /** Replays carry toy-sized per-key state; 32 state-store partitions
    * would spend the wall-clock on store open/commit per partition per
    * micro-batch. Each replay starts from a FRESH checkpoint, so the
    * partition count is free to differ from the session's batch
    * setting — state-store layout is pinned per checkpoint, not per
    * session. No-data micro-batches are disabled: their only effect is
    * watermark-driven state EVICTION and append-mode flushing, and none
    * of the four replays depends on either — the aggregations run in
    * complete mode (every data batch re-emits the full aggregate) and
    * the interval join is INNER (matches emit eagerly at the data batch
    * that completes them; the trailing no-data batch emitted nothing
    * and cost a full stream-stream join planning round — measured ~45%
    * of the attribution replay's wall). The narrowed setting lives on an ISOLATED child session
    * (`newSession`: same SparkContext, cluster, and builder-time
    * options — timezone, nanosAsLong — but a fresh runtime SQLConf and
    * temp-view catalog), so the caller's session conf is never mutated
    * and concurrent queries on it can never observe the replay
    * setting; the child's fresh catalog also means the memory-sink
    * view name needs no pre-drop. Results are partition-invariant
    * (exact decimal partials, hash-gate sorts).
    */
  private def withReplaySession[T](spark: SparkSession)(f: SparkSession => T): T = {
    val s = spark.newSession()
    // newSession() inherits builder-time/shared conf but NOT runtime
    // `spark.conf.set` overrides on the caller's session. Copy the
    // determinism-relevant keys explicitly so a replay can never
    // silently diverge from the session whose results it must
    // hash-match (today these are builder-time everywhere in this
    // repo; this guards the day one is flipped at runtime).
    Seq("spark.sql.session.timeZone",
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.ansi.enabled")
      .foreach(k => spark.conf.getOption(k).foreach(s.conf.set(k, _)))
    s.conf.set("spark.sql.shuffle.partitions", "2")
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    // AQE re-plans every exchange at runtime to coalesce/re-balance
    // partitions — pure driver latency here, paid per micro-batch,
    // with nothing to buy: the replay pins 2 shuffle partitions over
    // KB-scale per-key state, so there is nothing to coalesce and no
    // skew to split. Results are partition-layout-invariant (exact
    // decimal partials, hash-gate sorts), so this changes wall time
    // only. A production ingest with large, variable batches keeps
    // AQE on — the setting is per-pipeline (this isolated child
    // session), never the caller's.
    s.conf.set("spark.sql.adaptive.enabled", "false")
    f(s)
  }

  def streamDedupReplay(spark: SparkSession, dir: String): DataFrame = {
    // one-time staging: the two id-ranged batch files (same split as
    // DedupIndexSpec, mtimes 1s apart to pin the file source's batch
    // order) plus the PRISTINE old-docs index — production's recurring
    // state is "index already exists", so re-invocations measure the
    // streaming ingest, not the index rebuild
    val staged = stagedTree(s"docs:$dir") { tmp =>
      val docs = graft.Tables(spark, dir, "documents").select("doc_id", "text")
      graft.ext.DedupIndex.build(docs.filter(col("doc_id") % 5 < 3), s"$tmp/idx0")
      graft.ext.DedupIndex.writeBloom(spark, s"$tmp/idx0")
      val newDocs = docs.filter(col("doc_id") % 5 >= 3)
      val r = newDocs.agg(min(col("doc_id")), max(col("doc_id"))).head()
      // same empty-input guard as stagedEventsInput: NULL min/max → 0
      val mid = if (r.isNullAt(0)) 0L else (r.getLong(0) + r.getLong(1)) / 2
      val writeBatch = writeReplayBatch(tmp, s"$tmp/in") _
      writeBatch(newDocs.filter(col("doc_id") <= mid), "b1", 1000000L)
      writeBatch(newDocs.filter(col("doc_id") > mid), "b2", 2000000L)
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-ingest-")
    val (idxDir, outDir, ckpt) = (s"$tmp/index", s"$tmp/out", s"$tmp/ckpt")
    val prof = sys.env.contains("GRAFT_STREAM_PROF")
    def lap[T](tag: String)(f: => T): T = graft.SparkUtil.lap("", tag)(f)
    // the ingest MUTATES the index (appends each batch), so each run
    // works on a file-copy of the pristine staged one — segment-log
    // pointers are root-relative, so a copied tree is a valid index
    lap("copy-index")(
      graft.io.SegmentLog.copyRecursively(s"$staged/idx0", idxDir))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    withReplaySession(spark) { s =>
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$staged/in")
      val q = dedupIngestStream(stream, idxDir, outDir, ckpt)
      try lap("stream")(q.processAllAvailable()) finally {
        if (prof) q.recentProgress.foreach(p => System.err.println(
          s"[stream-prof] batch=${p.batchId} durationMs=${p.durationMs}"))
        q.stop()
      }
      // eager checkpoint of the (tiny) survivor ids, then drop the
      // per-run tree — repeated bench/verify invocations must not leak
      // an index copy + checkpoint dir per run
      try lap("final-read")(
        s.read.parquet(outDir).select("doc_id").orderBy("doc_id")
          .localCheckpoint(true))
      finally graft.io.SegmentLog.deleteRecursively(tmp.toString)
    }
  }

  /** Streaming MAINTENANCE of the materialized rollup
    * ([[graft.ext.RollupIndex]]): each micro-batch folds in as one
    * partial-aggregate segment — the cost is the batch's own
    * aggregation, never a history re-scan, and foreachBatch's serial
    * execution satisfies the segment log's single-writer contract.
    * At-least-once delivery caveat: a batch REPLAYED after a crash
    * between the segment commit and the checkpoint write would fold
    * twice; production pairs this with the batch-id-named segment
    * guard (commit records the epoch, replays of a committed epoch
    * skip) — here StreamingSpec pins the clean-run streamed == batch
    * equality, the same contract the dedup ingest pipeline documents.
    */
  def rollupIngestStream(events: DataFrame, indexDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) { graft.ext.RollupIndex.fold(batch, indexDir); () }
      }
      .start()

  /** The SECOND driver-gated streaming path (next to
    * [[streamDedupReplay]]): the registered `stream_events_tumbling`
    * query replays the REAL [[tumblingCounts]] pipeline — file-source
    * readStream over mtime-ordered micro-batches of the events corpus,
    * watermarked tumbling aggregation — and must hash-match the batch
    * oracle. Complete output mode into a memory sink: the watermark
    * never has to "flush" trailing windows (append mode would hold the
    * final day's windows open forever on a bounded replay), and the
    * sink materializes only the AGGREGATE — window × type rows, bounded
    * by the calendar at any corpus size — never event rows. The two
    * batch files split mid-timeline with pinned mtimes, so windows
    * straddling the split must merge state across micro-batches —
    * exactly what the streaming state store exists to get right.
    * Determinism: decimal partial sums merge exactly, so batch
    * boundaries can't perturb `sum_value`.
    */
  def streamTumblingReplay(spark: SparkSession, dir: String): DataFrame = {
    val inDir = stagedEventsInput(spark, dir)
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-tumble-")
    withReplaySession(spark) { s =>
      val stream = s.readStream.schema(eventSchemaNoProps)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = tumblingCounts(stream).writeStream
        .outputMode("complete")
        .format("memory").queryName("graft_stream_tumbling")
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      // eager checkpoint of the bounded aggregate, then drop the
      // per-run checkpoint tree
      try s.table("graft_stream_tumbling")
        .orderBy("window_start", "event_type").localCheckpoint(true)
      finally graft.io.SegmentLog.deleteRecursively(tmp.toString)
    }
  }

  /** Schema of the staged replay input (the events table minus the
    * `props` payload the replays never touch). */
  private val eventSchemaNoProps: StructType =
    StructType(eventSchema.fields.filterNot(_.name == "props"))

  /** The THIRD driver-gated streaming path: the registered
    * `stream_events_session` query replays SESSION-WINDOW aggregation —
    * the hardest streaming state shape, because sessions are not fixed
    * calendar cells: the state store must MERGE windows when a later
    * micro-batch's event falls inside (or bridges) an earlier batch's
    * session. The corpus splits mid-timeline exactly as
    * [[streamTumblingReplay]], so every session straddling the split
    * exercises that merge; the result must hash-match the batch
    * `events_session` oracle (gaps-and-islands SQL). Complete mode into
    * a memory sink for the same reason as the tumbling replay: a bounded
    * replay's watermark never passes the final sessions' end, so append
    * mode would hold them open; the sink materializes only the session
    * aggregate (users × sessions rows), never event rows. Decimal
    * partial sums keep `sum_value` exact across the batch boundary.
    */
  def streamSessionReplay(spark: SparkSession, dir: String): DataFrame = {
    val inDir = stagedEventsInput(spark, dir)
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-session-")
    withReplaySession(spark) { s =>
      val stream = s.readStream.schema(eventSchemaNoProps)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val agg = stream
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"), col("sum_value"))
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory").queryName("graft_stream_session")
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      try s.table("graft_stream_session")
        .orderBy("user_id", "session_start").localCheckpoint(true)
      finally graft.io.SegmentLog.deleteRecursively(tmp.toString)
    }
  }

  /** The FOURTH driver-gated streaming path: STREAM-STREAM interval
    * join. [[clickAttribution]] (purchases ⋈ same-user clicks in the
    * preceding hour, both sides watermarked, two-sided interval so the
    * buffered state stays bounded) replays over the mid-timeline
    * micro-batch split — a batch-2 purchase matching a batch-1 click
    * exercises exactly the cross-batch state retention the watermark
    * math must get right: clicks are only evicted once the watermark
    * proves no future purchase's 1-hour window can reach them. Inner
    * join rows emit eagerly (append mode needs no final-watermark
    * flush), the memory sink holds matched pairs, and the registered
    * result is the per-purchase batch rollup of those pairs — hash-
    * checked against an inner-join DuckDB replay of the same interval
    * semantics. Zero-click purchases are the LEFT-OUTER form's concern
    * ([[clickAttributionOuter]], StreamingSpec); the inner gate pins
    * the matched set.
    */
  def streamAttributionReplay(spark: SparkSession, dir: String): DataFrame = {
    val inDir = stagedEventsInput(spark, dir)
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-attr-")
    withReplaySession(spark) { s =>
      val stream = s.readStream.schema(eventSchemaNoProps)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = clickAttribution(stream).writeStream
        .outputMode("append")
        .format("memory").queryName("graft_stream_attr")
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      try s.table("graft_stream_attr")
        .groupBy(col("purchase_id"))
        .agg(count(lit(1)).as("n_clicks"),
          sum(col("click_value").cast("decimal(18,4)")).cast("double")
            .as("click_value"))
        .orderBy("purchase_id").localCheckpoint(true)
      finally graft.io.SegmentLog.deleteRecursively(tmp.toString)
    }
  }

  /** Stream → JSON table artifact: the streaming form of the export sink
    * ([[graft.io.JsonTableIO.write]]), via Spark's native file sink —
    * its `_spark_metadata` commit log gives EXACTLY-once file visibility
    * across restarts (a replayed batch re-commits the same file set), so
    * no foreachBatch bookkeeping is needed for the data itself. The
    * manifest cannot ride along per-batch without double-counting on
    * recovery; [[graft.io.JsonTableIO.finalizeManifest]] stamps it once
    * the stream is stopped (or at any quiescent point). Readers of a
    * live, un-finalized artifact see committed part files only.
    */
  def artifactStream(rows: DataFrame, outDir: String, table: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .format("json")
      .option("path", s"$outDir/$table/data")
      .option("checkpointLocation", checkpointDir)
      .start()
}
