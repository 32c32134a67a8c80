package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The persisted form of [[DedupQueries.dedupIncremental]]'s "old side":
  * a parquet index of (doc_id, fp, sig) that recurring ingest dedupes
  * each new batch against WITHOUT rescanning the corpus — the dedup
  * analogue of the closure's previous-artifact `preSeen` keys made
  * concrete. Lifecycle:
  *
  * {{{
  * DedupIndex.build(corpusDocs, dir)          // once
  * val kept = DedupIndex.dedupe(batch, dir)   // per batch: survivors
  * DedupIndex.append(batch, dir)              // fold the WHOLE batch in
  * }}}
  *
  * `append` takes the whole batch, not just survivors: the drop rule is
  * near-ANY-earlier (kept or not — a dropped doc still blocks a later
  * doc that is near it but not near its keeper), so the index must
  * remember everything seen or batch-by-batch ingest would drift from
  * the one-shot result. Same contract as the batch rule in
  * [[DedupQueries.semDedup]] and the paper it follows.
  *
  * `dedupe` runs [[DedupQueries.dedupIncrementalCore]] — the SAME
  * algorithm as the oracle-gated `dedup_incremental` query, with the
  * index standing in for the old rows (DedupIndexSpec proves
  * survivor-set equality, and that batch-by-batch ingest equals the
  * one-shot split). PRECISION CAVEAT: the core's ≤64 LSH bucket cap (the
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
  * build/append stages an immutable `seg-<n>` parquet dir, each Bloom
  * rebuild a versioned `bloom-g<n>` file, and visibility flips with one
  * atomic manifest replace — a reader (or the next micro-batch of
  * [[graft.streaming.StreamingOps.dedupIngestStream]]) never sees a
  * half-written segment or a truncated sketch; a crash mid-stage leaves
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
    * dropped — a Bloom sketch derived from a superseded corpus could
    * yield false negatives, breaking the pre-gate's one-sided-error
    * contract). Returns the indexed row count — read from the written
    * parquet footers (metadata-only), never by recomputing fpSig.
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
    * segment is a separate column-pruned scan at read time). The Bloom
    * extra survives: compaction changes the file layout, not the
    * fingerprint set it summarizes. Same commit discipline — readers
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

  /** Derive (or re-derive) the index's Bloom sketch artifact from the
    * persisted fingerprints — ONE column-pruned fp scan of the index,
    * distributed tree-aggregation build, sketch bytes staged as a fresh
    * `bloom-g<n>` through the Hadoop FileSystem API (object-store
    * portable) and committed by manifest flip.
    *
    * The sketch is sized for a CAPACITY — a power of two ≥ 2× the
    * current fingerprint count (floor 4096, overridable for specs) —
    * and the artifact records (capacity, count) in a 16-byte header
    * before the filter bytes. Sizing to capacity instead of the exact
    * count is what makes APPENDS mergeable ([[growBloom]]): a batch
    * filter built with the same (capacity, fpp) parameters is
    * bit-compatible, so per-batch maintenance is O(batch); the ≤1% fp
    * rate holds while count ≤ capacity, and the overflow rebuild
    * re-sizes to the grown corpus. Returns the indexed fingerprint
    * count the sketch covers.
    */
  def writeBloom(spark: SparkSession, dir: String, capacity: Long = 0L): Long = {
    val st = state(dir)
    val fps = rows(spark, dir).select("fp")
    val n = fps.count()
    val cap = if (capacity > 0) capacity
      else java.lang.Long.highestOneBit(
        math.max(math.max(2 * n, 4096L) * 2 - 1, 1L))
    val bf = fps.stat.bloomFilter("fp", cap, 0.01)
    commitBloom(spark, dir, st, bf, cap, n)
    n
  }

  /** Fold NEW fingerprints into the committed sketch WITHOUT rescanning
    * the index — the per-batch maintenance shape the streaming ingest
    * needs (O(batch), not O(index-so-far) per micro-batch). The batch
    * filter is built distributed with the sketch's own (capacity, fpp)
    * parameters — bit-compatible by construction — and OR-merged on the
    * driver. A fold that would push the count past capacity rebuilds
    * at a larger capacity AND merges the batch in, preserving both the
    * fp-rate guarantee and the no-false-negative contract. Works for
    * both call orders: commit-then-fold (as [[growBloomLatest]] does)
    * and fold-before-commit — the overflow rebuild's count header is
    * `max(committed rescan, old count + batch)`, so it never
    * understates sketch contents whichever order the caller used.
    * Returns the recorded covered count.
    */
  def growBloom(spark: SparkSession, dir: String, newFps: DataFrame,
      newN: Long): Long = {
    val st = state(dir)
    if (!st.extras.contains("bloom")) return writeBloom(spark, dir)
    // legacy/corrupt artifact: the index ROWS are authoritative, so
    // recover instead of failing the whole ingest on a pre-header bloom
    // file — (0, 0, null) routes into the overflow rebuild below, which
    // rebuilds from the committed rows AND OR-merges the batch filter,
    // so the no-false-negative contract holds through recovery for both
    // commit-then-fold and fold-before-commit callers
    val meta = loadBloomMetaRecovering(spark, dir)
    val (cap, n, bf) = meta
      .getOrElse((0L, 0L, null: org.apache.spark.util.sketch.BloomFilter))
    if (n + newN > cap) {
      // overflow: re-size AND keep the batch, regardless of whether the
      // caller has committed it as a segment yet. A plain writeBloom here
      // rebuilds from committed rows only, so a fold-before-append caller
      // would silently lose newFps from the sketch — false NEGATIVES,
      // breaking the one-sided-error contract [[prefilter]] depends on.
      // Rebuild from the committed index, then OR-merge the batch filter:
      // bitwise-idempotent if the batch was already committed (the rescan
      // covered it — the [[growBloomLatest]] order), additive if not. The
      // recorded count is the committed rescan count — exact for the
      // documented commit-then-fold order; a contract-violating
      // fold-before-append caller undercounts by at most its one batch,
      // well inside the ≥2× capacity slack, and never loses bits.
      val fps = rows(spark, dir).select("fp")
      val covered = fps.count()
      val newCap = java.lang.Long.highestOneBit(
        math.max(math.max(2 * math.max(covered, n + newN), 4096L) * 2 - 1, 1L))
      val rebuilt = fps.stat.bloomFilter("fp", newCap, 0.01)
      rebuilt.mergeInPlace(newFps.stat.bloomFilter("fp", newCap, 0.01))
      // count header = max(covered, n + newN): for a fold-before-commit
      // caller the batch's bits WERE merged in but its rows aren't in
      // `covered` yet — recording bare `covered` would undercount sketch
      // contents and fire the next overflow guard one batch late, eroding
      // the ≤1% fp-rate margin near capacity. On legacy RECOVERY the old
      // header is unknown (n = 0), so count covered + newN outright —
      // possibly one batch high for a commit-then-fold caller, which only
      // brings the next resize forward (the safe side of the guarantee)
      val counted =
        if (meta.isEmpty) covered + newN else math.max(covered, n + newN)
      commitBloom(spark, dir, state(dir), rebuilt, newCap, counted)
      counted
    }
    else {
      bf.mergeInPlace(newFps.stat.bloomFilter("fp", cap, 0.01))
      commitBloom(spark, dir, state(dir), bf, cap, n + newN)
      n + newN
    }
  }

  /** [[growBloom]] over the LATEST live segment — the streaming-ingest
    * convenience: [[ingest]] has just committed the batch as the
    * newest segment, so its fp rows and footer count are exactly the
    * fold input.
    */
  def growBloomLatest(spark: SparkSession, dir: String): Long = {
    val st = state(dir)
    val segPath = s"${root(dir)}/${st.segments.last}"
    val fps = spark.read.parquet(segPath).select("fp")
    growBloom(spark, dir, fps, spark.read.parquet(segPath).count())
  }

  private def commitBloom(spark: SparkSession, dir: String,
      st: SegmentLog.State, bf: org.apache.spark.util.sketch.BloomFilter,
      cap: Long, count: Long): Unit = {
    val r = root(dir)
    val gen = SegmentLog.nextGen(Some(st))
    val name = SegmentLog.extraName("bloom", gen)
    val p = new org.apache.hadoop.fs.Path(s"$r/$name")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try { out.writeLong(BloomMagic); out.writeLong(cap); out.writeLong(count); bf.writeTo(out) }
    finally out.close()
    SegmentLog.commit(r,
      SegmentLog.State(gen, st.segments, st.extras + ("bloom" -> name)))
    SegmentLog.cleanup(r)
  }

  /** Load the committed sketch artifact (driver-side: the serialized
    * bits are the broadcast payload, ~1.2 MB per million fingerprints
    * at 1% fp). A legacy/corrupt artifact is rebuilt in place from the
    * committed fingerprint rows (they are authoritative) rather than
    * hard-failing the read path on a format bump.
    */
  def loadBloom(spark: SparkSession, dir: String): org.apache.spark.util.sketch.BloomFilter =
    loadBloomMetaRecovering(spark, dir) match {
      case Some((_, _, bf)) => bf
      case None => writeBloom(spark, dir); loadBloomMeta(spark, dir)._3
    }

  /** [[loadBloomMeta]] that reports an unreadable (legacy-format or
    * corrupt) artifact as None instead of throwing, so maintenance
    * paths can rebuild from the authoritative index rows. A MISSING
    * artifact still throws — that's a caller-order bug
    * ([[writeBloom]] never ran), not a format migration.
    */
  private def loadBloomMetaRecovering(spark: SparkSession, dir: String):
      Option[(Long, Long, org.apache.spark.util.sketch.BloomFilter)] = {
    require(state(dir).extras.contains("bloom"),
      s"no bloom sketch committed at ${root(dir)} — run writeBloom first")
    try Some(loadBloomMeta(spark, dir))
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The sketch plus its (capacity, covered count) header. */
  def loadBloomMeta(spark: SparkSession, dir: String):
      (Long, Long, org.apache.spark.util.sketch.BloomFilter) = {
    val st = state(dir)
    require(st.extras.contains("bloom"),
      s"no bloom sketch committed at ${root(dir)} — run writeBloom first")
    val p = new org.apache.hadoop.fs.Path(st.extraPath(root(dir), "bloom"))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    try {
      val magic = in.readLong()
      // a legacy (pre-header or headerless) artifact would otherwise
      // misparse its first 16 bytes as (cap, count) and die inside
      // BloomFilter.readFrom with an opaque version error; the magic
      // check turns that into an actionable message. A legacy file's
      // first long is a power-of-two capacity (or Spark's small
      // version int in a long's high bytes) — never the magic.
      require(magic == BloomMagic,
        s"bloom sketch at $p is not in the current format " +
        s"(magic=0x${magic.toHexString}, want 0x${BloomMagic.toHexString}) — " +
        "legacy or corrupt artifact; rerun writeBloom to rebuild it")
      val cap = in.readLong(); val n = in.readLong()
      (cap, n, org.apache.spark.util.sketch.BloomFilter.readFrom(in))
    } finally in.close()
  }

  /** Format tag for the bloom artifact: "GRAFTBL" + version byte 0x01.
    * Written before the (capacity, count) header so a reader can tell a
    * current artifact from a legacy/corrupt one instead of misparsing.
    */
  val BloomMagic: Long = 0x47524146_54424C01L

  /** EXACT-rule pre-gate: flag each batch doc whose content fingerprint
    * the index has probably seen, as a pure projection through the
    * broadcast sketch — no index scan, no shuffle. No false negatives,
    * so `likely_seen = false` rows are definitively exact-fresh and can
    * skip the fp join in [[dedupe]]; flagged rows still take the exact
    * path (1% are false positives), and the NEAR rule's banded pipeline
    * is untouched either way. This is the [[DedupQueries.dedupBloom]]
    * shape wired to the persisted lifecycle.
    */
  def prefilter(spark: SparkSession, batch: DataFrame, dir: String): DataFrame = {
    val bf = loadBloom(spark, dir)
    batch
      .withColumn("fp", DedupQueries.contentFp(col("text")))
      .withColumn("likely_seen",
        graft.functions.BloomMightContain.might_contain(spark, bf, col("fp")))
      .select("doc_id", "fp", "likely_seen")
  }

  /** Surviving doc_ids of `batch` after dedup against the index AND
    * earlier batch docs (greedy first-wins by doc_id).
    */
  def dedupe(spark: SparkSession, batch: DataFrame, dir: String): DataFrame = {
    val idx = rows(spark, dir)
      .withColumn("is_old", lit(true))
    // the batch's md5-per-shingle pipeline runs ONCE into a narrow
    // checkpoint — the core's three consumers would otherwise re-run it
    // (the duplicate-subtree trap dedupIncremental documents); the index
    // side stays a plain parquet scan, column-pruned per consumer
    val b = DedupQueries.fpSig(batch)
      .withColumn("is_old", lit(false))
      .select("doc_id", "is_old", "fp", "sig")
      .localCheckpoint(false)
    DedupQueries.dedupIncrementalCore(
        idx.select("doc_id", "is_old", "fp", "sig").unionByName(b))
      .orderBy("doc_id")
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
    * pipeline runs only when a crossing actually strands candidates.
    */
  def ingest(spark: SparkSession, batch: DataFrame, dir: String,
      maintainBloom: Boolean = false): DataFrame = {
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
    val resurrected: DataFrame =
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
        if (crossed.isEmpty) pendingOld.limit(0)
        else {
        val candidates = pendingOld.join(
            bandsOf(pendingOld).join(crossed, Seq("band", "bucket"), "left_semi")
              .select("doc_id").distinct(),
            Seq("doc_id"), "left_semi")
          .localCheckpoint(false)
        if (candidates.isEmpty) candidates
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
          candidates.join(DedupQueries.nearDroppedIds(reFrame),
            Seq("doc_id"), "left_anti")
        }
        }
      } else pendingOld.limit(0)
    // eager: the emit rows read the OLD pending file, which the commit
    // below supersedes and cleanup deletes
    val emitted = b.join(survivors, Seq("doc_id"), "left_semi")
      .select("doc_id", "text")
      .unionByName(resurrected.select("doc_id", "text"))
      .localCheckpoint(true)
    pendingOld.join(resurrected.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(b.join(nearOnly, Seq("doc_id"), "left_semi"))
      .select("doc_id", "text", "fp", "sig")
      .write.mode("overwrite").parquet(s"$r/$pen")
    SegmentLog.commit(r, SegmentLog.State(gen, st.segments :+ seg,
      st.extras + ("pending" -> pen)))
    SegmentLog.cleanup(r)
    // per-batch sketch maintenance, folded in HERE so the fingerprints
    // come from the already-checkpointed batch frame instead of a
    // re-read of the just-written segment (growBloomLatest's shape);
    // runs after the commit above, so the commit-then-fold contract
    // growBloom documents holds
    if (maintainBloom)
      growBloom(spark, dir, b.select("fp"), b.count())
    if (mayCross) graft.SparkUtil.release(buckets)
    graft.SparkUtil.release(b)
    emitted
  }
}
