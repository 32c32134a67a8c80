package graft.ext

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The persisted form of [[DedupQueries.dedupIncremental]]'s "old side":
  * a parquet index of (doc_id, fp, sig) that recurring ingest dedupes
  * each new batch against WITHOUT rescanning the corpus — the dedup
  * analogue of the closure's previous-artifact `preSeen` keys made
  * concrete. Lifecycle:
  *
  * {{{
  * DedupIndex.build(corpusDocs, dir)                 // once
  * val kept = DedupIndex.ingest(spark, batch, dir)   // per batch: survivors,
  *                                                   // WHOLE batch folded in
  * }}}
  *
  * The fold takes the whole batch, not just survivors: the drop rule is
  * near-ANY-earlier (kept or not — a dropped doc still blocks a later
  * doc that is near it but not near its keeper), so the index must
  * remember everything seen or batch-by-batch ingest would drift from
  * the one-shot result. Same contract as the batch rule in
  * [[DedupQueries.semDedup]] and the paper it follows.
  *
  * `ingest` runs [[DedupQueries.dedupIncrementalParts]] — the SAME
  * algorithm as the oracle-gated `dedup_incremental` query, with the
  * index standing in for the old rows (DedupIndexSpec proves that
  * batch-by-batch ingest equals the one-shot split). PRECISION CAVEAT: the core's ≤64 LSH bucket cap (the
  * minhashPairs skew guard) skips the near rule for oversized buckets,
  * and bucket population differs between a growing index and the
  * one-shot frame — so the batch-by-batch == one-shot equality is exact
  * while buckets stay under the cap (true at spec scale) and an
  * approximation past it, like every capped LSH dedup.
  *
  * 100 TB posture: the recurring cost is the batch fpSig pipeline ONCE
  * (narrow localCheckpoint, as in the registered query) plus one fp
  * shuffle and one (band, bucket) shuffle — the exact and near rules
  * each read the index through one column-pruned scan, and the
  * corpus text is never rescanned. The index carries ~50 bytes/doc
  * (hex fp + 8 longs): ~500 GB of parquet at 10B docs. Production
  * layouts bucket it by `fp` and keep a second copy bucketed by band
  * bucket.
  *
  * Maintenance is CRASH-SAFE via [[graft.io.SegmentLog]]: each
  * build/append/ingest stages an immutable `seg-<n>` parquet dir, each
  * ingest also a versioned `pending-g<n>` extra, and visibility flips
  * with one atomic manifest replace — a reader (or the next micro-batch
  * of [[graft.streaming.StreamingOps.dedupIngestStream]]) never sees a
  * half-written segment or pending set; a crash mid-stage leaves
  * orphans that the post-commit cleanup sweeps. Index doc_ids MUST
  * precede batch doc_ids (ingest order) for the greedy first-wins rule
  * to be well-defined.
  */
object DedupIndex {

  import graft.io.SegmentLog

  private def root(dir: String) = s"$dir/dedup_index"

  private def state(dir: String): SegmentLog.State =
    SegmentLog.read(root(dir)).getOrElse(
      sys.error(s"no dedup index committed at ${root(dir)}"))

  /** The committed index rows, as the union of live segments. */
  def rows(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(state(dir).segmentPaths(root(dir)): _*)

  /** Build the index from scratch over raw documents (doc_id, text):
    * stage one fresh segment, commit it as the ONLY live one (extras are
    * dropped — a pending set was judged against the superseded corpus,
    * and cleanup sweeps extras older indexes carry). Returns the
    * indexed row count — read from the written parquet footers
    * (metadata-only), never by recomputing fpSig.
    */
  def build(docs: DataFrame, dir: String): Long = {
    val r = root(dir)
    val gen = SegmentLog.nextGen(SegmentLog.read(r))
    val seg = SegmentLog.segName(gen)
    // seed=true marks the original corpus: resurrection re-checks need
    // "older than doc m" = seed ∨ smaller doc_id, and seed rows are
    // older than every ingested row whatever their ids
    DedupQueries.fpSig(docs).withColumn("seed", lit(true))
      .write.mode("overwrite").parquet(s"$r/$seg")
    SegmentLog.commit(r, SegmentLog.State(gen, Seq(seg), Map.empty))
    SegmentLog.cleanup(r)
    docs.sparkSession.read.parquet(s"$r/$seg").count()
  }

  /** Fold an ingested batch (ALL of it — see the class note) into the
    * index as a new segment. Returns the batch's indexed row count.
    */
  def append(docs: DataFrame, dir: String): Long = {
    val r = root(dir)
    val st = state(dir)
    val gen = SegmentLog.nextGen(Some(st))
    val seg = SegmentLog.segName(gen)
    DedupQueries.fpSig(docs).withColumn("seed", lit(false))
      .write.mode("overwrite").parquet(s"$r/$seg")
    val n = docs.sparkSession.read.parquet(s"$r/$seg").count()
    SegmentLog.commit(r,
      SegmentLog.State(gen, st.segments :+ seg, st.extras))
    n
  }

  /** Rewrite all live segments as ONE — the maintenance pass that stops
    * per-batch ingest from accumulating a long segment list (each
    * segment is a separate column-pruned scan at read time). The
    * `pending` extra survives: compaction changes the file layout, not
    * the doc set its verdicts rest on. Same commit discipline — readers
    * stay on the old segments until the flip.
    */
  def compact(spark: SparkSession, dir: String): Long = {
    val r = root(dir)
    val st = state(dir)
    val gen = SegmentLog.nextGen(Some(st))
    val seg = SegmentLog.segName(gen)
    rows(spark, dir).write.mode("overwrite").parquet(s"$r/$seg")
    SegmentLog.commit(r, SegmentLog.State(gen, Seq(seg), st.extras))
    SegmentLog.cleanup(r)
    spark.read.parquet(s"$r/$seg").count()
  }

  /** CAP-CONSISTENT streaming ingest step: dedupe `batch` against the
    * index, fold the whole batch in, and RESURRECT previously dropped
    * docs whose drop causes this batch retracts — returning every
    * (doc_id, text) row the survivor sink must emit now (batch
    * survivors plus resurrections). Makes batch-by-batch ingest equal
    * the one-shot answer in EVERY cap regime, not just the sub-cap one:
    *
    * The near rule's ≤64 bucket cap means a one-shot evaluation over
    * the FINAL corpus skips buckets the incremental evaluation saw
    * while small. Per doc m the drop predicate is a pure function of
    * m's buckets' capped populations, and — given the id-ordered ingest
    * contract — later batches only ever add NEWER members to a bucket,
    * so m's cause set can only SHRINK over time, and only at the moment
    * a bucket CROSSES the cap. So: near-dropped-but-exact-clean docs
    * persist in a `pending` extra (exact drops are permanent — fp sets
    * only grow); each batch computes which touched buckets crossed
    * (index-side population in [2,64], merged past 64) and re-checks
    * exactly the pending docs in those buckets against the post-append
    * populations of ALL their buckets (is_old := seed, so ingested
    * neighbours rank by doc_id as the one-shot frame does). A candidate
    * with no remaining cause is emitted and leaves pending. Steady
    * state (no bucket crosses — the designed regime) pays one
    * per-touched-bucket count on top of the dedupe scan; the re-check
    * pipeline runs only when a crossing actually strands candidates,
    * and the pending set is rewritten only when it changes (a
    * resurrection, or a new near-only drop) — otherwise the new segment
    * commits beside the current `pending` pointer, or beside none.
    */
  def ingest(spark: SparkSession, batch: DataFrame, dir: String): DataFrame = {
    val r = root(dir)
    val st = state(dir)
    val gen = SegmentLog.nextGen(Some(st))
    val seg = SegmentLog.segName(gen)
    val pen = SegmentLog.extraName("pending", gen)
    val idx = rows(spark, dir)
    // the batch's md5-per-shingle pipeline runs ONCE into a narrow
    // checkpoint; text rides along for the emit/pending rows
    val b = DedupQueries.fpSig(batch)
      .join(batch.select("doc_id", "text"), Seq("doc_id"))
      .select("doc_id", "text", "fp", "sig")
      .localCheckpoint(false)
    val pendingOld = st.extras.get("pending")
      .map(_ => spark.read.parquet(st.extraPath(r, "pending")))
      .getOrElse(spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), b.schema))
    // resolved BEFORE the bucket frame is built: the crossing check only
    // ever runs with a non-empty pending set, so this single small-read
    // count decides whether that second consumer exists at all
    val mayCross = st.extras.contains("pending") &&
      !pendingOld.isEmpty
    val unioned =
      idx.select(col("doc_id"), lit(true).as("is_old"), col("fp"), col("sig"))
        .unionByName(b.select(col("doc_id"), lit(false).as("is_old"),
          col("fp"), col("sig")))
    // ONE band-explode + (band,bucket) shuffle of idx∪batch feeds BOTH
    // the near rule and the cap-crossing check below — the crossing
    // check used to pay its own full bandsOf(idx) scan per batch, an
    // O(index) term the ingest contract forbids. Checkpointed (i.e.
    // materialized rather than streamed through) only when the crossing
    // check will actually read it a second time — with an empty pending
    // set the near rule stays the single consumer and no per-batch
    // bucket materialization is paid.
    val buckets = {
      val raw = DedupQueries.bucketMembers(unioned)
      if (mayCross) raw.localCheckpoint(false) else raw
    }
    val (survivors, nearOnly) = DedupQueries.dedupIncrementalParts(
      unioned, DedupQueries.nearDroppedFromBuckets(buckets))
    b.select("doc_id", "fp", "sig").withColumn("seed", lit(false))
      .write.mode("overwrite").parquet(s"$r/$seg")
    def bandsOf(df: DataFrame) = DedupQueries.bandedKeys(
      df.filter(col("sig").isNotNull).select("doc_id", "sig"))
    // None when nothing can have been resurrected
    val resurrected: Option[DataFrame] =
      if (mayCross) {
        // a bucket "crossed" iff its index-side population was cap-legal
        // ([2,64]) and the batch pushed the union past the cap; tot > 64
        // with oc ≤ 64 implies the batch touched it, so no separate
        // touched-bucket semi-join is needed
        val crossed = buckets
          .select(col("band"), col("bucket"),
            expr("size(filter(ds, m -> m.is_old))").as("oc"),
            size(col("ds")).as("tot"))
          .filter(col("oc").between(2, 64) && col("tot") > 64)
          .select("band", "bucket")
          .localCheckpoint(false)
        // steady state (no bucket crossed — the designed regime) exits
        // here for the cost of one count over the shared bucket frame;
        // the pending-candidate pipeline below runs only when a crossing
        // can actually strand candidates
        if (crossed.isEmpty) None
        else {
        val candidates = pendingOld.join(
            bandsOf(pendingOld).join(crossed, Seq("band", "bucket"), "left_semi")
              .select("doc_id").distinct(),
            Seq("doc_id"), "left_semi")
          .localCheckpoint(false)
        if (candidates.isEmpty) None
        else {
          val newIdx = idx.unionByName(
            b.select("doc_id", "fp", "sig").withColumn("seed", lit(false)))
          // every current member of every candidate bucket, so each
          // candidate's FULL cause set is re-evaluated at the true
          // capped populations; foreign buckets these members drag in
          // are partial, but only candidate verdicts are read
          val candBuckets = bandsOf(candidates).select("band", "bucket").distinct()
          val reFrame = newIdx.join(
              bandsOf(newIdx).join(candBuckets, Seq("band", "bucket"), "left_semi")
                .select("doc_id").distinct(),
              Seq("doc_id"), "left_semi")
            .select(col("doc_id"), col("seed").as("is_old"), col("fp"), col("sig"))
          // eager: the emit rows and the pending rewrite read it after
          // a rewrite's cleanup deletes the old pending file, and its
          // emptiness decides whether the pending set changed
          Some(candidates.join(DedupQueries.nearDroppedIds(reFrame),
            Seq("doc_id"), "left_anti").localCheckpoint(true))
            .filterNot(_.isEmpty)
        }
        }
      } else None
    // ONE eager job: the batch rows the exact rule keeps, flagged by
    // the near rule — survivors emit, near-only rows join the pending
    // set — with the near-only count observed on the way, so an
    // unchanged pending set is known without another job
    val nearOnlyRows = Observation(s"graft_dedup_near_only_$gen")
    val kept = b.join(survivors, Seq("doc_id"), "left_semi").withColumn("near", lit(false))
      .unionByName(b.join(nearOnly, Seq("doc_id"), "left_semi").withColumn("near", lit(true)))
      .observe(nearOnlyRows, count(when(col("near"), 1)).as("n"))
      .localCheckpoint(true)
    val survived = kept.filter(!col("near")).select("doc_id", "text")
    val emitted = resurrected
      .fold(survived)(res => survived.unionByName(res.select("doc_id", "text")))
    // the pending set changes only when a doc was resurrected or the
    // batch adds a near-only row; otherwise the segment commits beside
    // the current pointer, or beside none
    val extras =
      if (resurrected.isEmpty && nearOnlyRows.get("n") == 0L) st.extras
      else {
        resurrected
          .fold(pendingOld)(res => pendingOld.join(res.select("doc_id"), Seq("doc_id"), "left_anti"))
          .unionByName(kept.filter(col("near")).select("doc_id", "text", "fp", "sig"))
          .select("doc_id", "text", "fp", "sig")
          .write.mode("overwrite").parquet(s"$r/$pen")
        st.extras + ("pending" -> pen)
      }
    SegmentLog.commit(r, SegmentLog.State(gen, st.segments :+ seg, extras))
    SegmentLog.cleanup(r)
    if (mayCross) graft.SparkUtil.release(buckets)
    graft.SparkUtil.release(b)
    emitted
  }
}
