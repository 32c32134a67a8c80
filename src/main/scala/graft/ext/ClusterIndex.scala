package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted near-dup CLUSTER ASSIGNMENTS — the [[DedupIndex]] pattern
  * applied to [[DedupQueries.dedupClusters]]' output. The CC fixpoint is
  * the most expensive dedup stage at corpus scale; before this artifact
  * every consumer (`split_leakage_safe`, `corpus_curation`) re-ran the
  * whole signature → LSH-candidate → label-propagation pipeline per
  * invocation. Now it is computed ONCE and read many times, and new
  * batches fold in INCREMENTALLY without rescanning the corpus text.
  *
  * Two parquet artifacts under `indexDir`:
  *  - `bands`: (doc_id, band, bucket) LSH keys for every doc seen — what
  *    a new batch joins against to find cross-batch candidates (4 rows ×
  *    ~30 bytes per doc; production layouts bucket it by (band, bucket));
  *  - `clusters`: (doc_id, cluster_id) for every doc with ≥1 candidate
  *    edge, cluster_id = min doc_id of the connected component — exactly
  *    [[DedupQueries.dedupClusters]]' contract, and ClusterIndexSpec plus
  *    the oracle-gated `dedup_clusters_persisted` query pin the equality.
  *
  * `append` cost is proportional to the DELTA, not the corpus: the batch
  * signature pipeline, one semi-join that narrows the persisted bands to
  * buckets a new doc touches, pair generation inside those buckets, and a
  * CC fixpoint over (delta pairs ∪ star edges of the touched clusters).
  * Star edges (member → representative) preserve each touched cluster's
  * connectivity in one hop, so merges that a bridging batch doc causes —
  * including merges of two OLD clusters — relabel correctly, while every
  * untouched cluster's rows are carried over without being read into the
  * fixpoint. At 100 TB the recurring cost is the batch scan plus joins
  * sized by the touched-bucket fringe.
  *
  * CAP CONSISTENCY: the ≤64 bucket cap — the LSH skew guard — is
  * RE-EVALUATED on append. The one-shot form drops an over-cap bucket
  * whole; an appended batch that pushes a previously small bucket past
  * the cap therefore RETRACTS that bucket's earlier edges: every
  * cluster holding one of the bucket's pre-batch members is rebuilt
  * from its members' CURRENT re-derived edge set (pairs regenerated in
  * every bucket any member touches, cap applied to the current
  * population) instead of carried by star edges — star edges assert
  * "all old members stay connected", which is exactly what retraction
  * breaks. Clusters touched only by NEW pairs keep the cheap star-edge
  * path. This makes batch-by-batch == one-shot EXACTLY in every cap
  * regime (an sf1 rehearsal's 10×-replica corpus included), not
  * just the sub-cap one; the re-derivation cost is proportional to the
  * overflowed buckets' cluster fringe — zero when no bucket crosses,
  * which is the steady-state ingest case. Correctness of the
  * member-member restriction: a current edge from a rebuilt member to
  * any OLD doc outside the rebuilt set would imply those two docs
  * already shared an under-cap bucket at some earlier append (bucket
  * populations only grow, so the pair was generated then) and hence
  * the same old cluster — contradiction; edges to BATCH docs are in
  * the delta pairs by construction.
  *
  * Maintenance is CRASH-SAFE via [[graft.io.SegmentLog]]: band batches
  * are immutable `seg-<n>` dirs, the assignments table a versioned
  * `clusters-g<n>` rewrite, and — crucially — an append's TWO updates
  * (new band segment + rewritten assignments) flip in ONE atomic
  * manifest commit, so a reader can never pair new bands with old
  * clusters or vice versa. A crash mid-stage leaves the previous state
  * fully live plus orphan dirs the post-commit cleanup sweeps.
  */
object ClusterIndex {

  import graft.io.SegmentLog

  private def state(indexDir: String): SegmentLog.State =
    SegmentLog.read(indexDir).getOrElse(
      sys.error(s"no cluster index committed at $indexDir"))

  /** One-shot build over raw (doc_id, text) documents. Returns the
    * clustered row count.
    */
  def build(docs: DataFrame, indexDir: String): Long = {
    val spark = docs.sparkSession
    val gen = SegmentLog.nextGen(SegmentLog.read(indexDir))
    val seg = SegmentLog.segName(gen)
    val cl = SegmentLog.extraName("clusters", gen)
    DedupQueries.bandedKeys(DedupQueries.sigsOf(docs))
      .write.mode("overwrite").parquet(s"$indexDir/$seg")
    // clusters are derived from the STAGED bands (one column-pruned
    // read-back), so the two artifacts cannot drift and the expensive
    // signature pipeline runs exactly once
    val labels = DedupQueries.ccLabels(
      pairsFromBands(spark.read.parquet(s"$indexDir/$seg")))
    labels.write.mode("overwrite").parquet(s"$indexDir/$cl")
    graft.SparkUtil.release(labels)
    SegmentLog.commit(indexDir,
      SegmentLog.State(gen, Seq(seg), Map("clusters" -> cl)))
    SegmentLog.cleanup(indexDir)
    spark.read.parquet(s"$indexDir/$cl").count()
  }

  /** The committed assignments: (doc_id, cluster_id). */
  def load(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(state(indexDir).extraPath(indexDir, "clusters"))

  /** Fold a new batch of raw (doc_id, text) documents into the index.
    * Unlike [[DedupIndex]]'s greedy first-wins rule, min-label CC is
    * ingest-order-INDEPENDENT: batches may arrive in any doc_id order
    * and (cap caveat aside) the merged assignment equals the one-shot.
    * Returns the clustered row count after the merge.
    */
  def append(batch: DataFrame, indexDir: String): Long = {
    val spark = batch.sparkSession
    val st = state(indexDir)
    val gen = SegmentLog.nextGen(Some(st))
    val seg = SegmentLog.segName(gen)
    val cl = SegmentLog.extraName("clusters", gen)
    // narrow checkpoint: the batch bands feed three consumers (touched-
    // bucket keys, candidate union, the staged segment write) — without
    // it the md5-per-shingle pipeline re-runs per consumer
    val newBands = DedupQueries.bandedKeys(DedupQueries.sigsOf(batch))
      .localCheckpoint(false)
    val oldBands = spark.read.parquet(st.segmentPaths(indexDir): _*)
    // only buckets a new doc touches can yield a NEW pair — or cross
    // the cap; everything else in the persisted bands is skipped by the
    // semi-joins (at scale this is the index pruned to the batch's
    // fringe, not a corpus scan). The touched old rows feed three
    // consumers (delta pairs, overflow counts, retracted members), so
    // they checkpoint once.
    val touched = newBands.select("band", "bucket").distinct()
    val touchedOld = oldBands.join(touched, Seq("band", "bucket"), "left_semi")
      .localCheckpoint(false)
    val delta = pairsFromBands(touchedOld.unionByName(newBands))
      .localCheckpoint(false)
    val oldClusters = spark.read.parquet(st.extraPath(indexDir, "clusters"))
    // CAP RETRACTION (see class note): buckets this batch pushes past
    // the cap had yielded edges while small that the one-shot form
    // never generates — every cluster holding one of their PRE-BATCH
    // members must be rebuilt from re-derived current edges
    val overflowed = touchedOld.groupBy("band", "bucket")
      .agg(count(lit(1)).as("oc"))
      .join(newBands.groupBy("band", "bucket").agg(count(lit(1)).as("nc")),
        Seq("band", "bucket"))
      .filter(col("oc").between(2, 64) && col("oc") + col("nc") > 64)
      .select("band", "bucket")
    val retractedDocs = touchedOld
      .join(overflowed, Seq("band", "bucket"), "left_semi")
      .select("doc_id").distinct()
    val rebuildCids = oldClusters.join(retractedDocs, Seq("doc_id"), "left_semi")
      .select("cluster_id").distinct().localCheckpoint(false)
    val rebuildMembers = oldClusters
      .join(rebuildCids, Seq("cluster_id"), "left_semi")
      .select("doc_id").localCheckpoint(false)
    // exact current-edge subgraph of the rebuilt clusters: regenerate
    // pairs in EVERY bucket a rebuilt member touches (cap on the
    // current merged population — unchanged buckets reproduce exactly
    // the pairs they yielded originally), restricted to member-member
    // (closed by the class-note argument; member↔batch edges ride in
    // `delta`)
    val allBands = oldBands.unionByName(newBands)
    val rbBuckets = allBands.join(rebuildMembers, Seq("doc_id"), "left_semi")
      .select("band", "bucket").distinct()
    val rbPairs = pairsFromBands(
        allBands.join(rbBuckets, Seq("band", "bucket"), "left_semi"))
      .join(rebuildMembers.withColumnRenamed("doc_id", "doc_a"),
        Seq("doc_a"), "left_semi")
      .join(rebuildMembers.withColumnRenamed("doc_id", "doc_b"),
        Seq("doc_b"), "left_semi")
    // clusters touched by NEW pairs only (no retraction): their old
    // edges are all still valid, so star edges member→rep carry their
    // full membership in one hop (a batch doc can still bridge two of
    // them — the fixpoint below handles merges)
    val deltaNodes = delta.select(col("doc_a").as("doc_id"))
      .union(delta.select(col("doc_b"))).distinct()
    val starCids = oldClusters.join(deltaNodes, Seq("doc_id"), "left_semi")
      .select("cluster_id").distinct()
      .join(rebuildCids, Seq("cluster_id"), "left_anti")
      .localCheckpoint(false)
    val starEdges = oldClusters.join(starCids, Seq("cluster_id"), "left_semi")
      .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
    val relabeled = DedupQueries.ccLabels(
      delta.unionByName(starEdges).unionByName(rbPairs))
    val replacedCids = starCids.unionByName(rebuildCids)
    val untouched = oldClusters.join(replacedCids, Seq("cluster_id"), "left_anti")
    // the rewrite goes to a FRESH clusters-g<n> (the old generation it
    // reads stays untouched until the commit below supersedes it — no
    // read-under-overwrite hazard, no eager materialization needed).
    // Canonical (doc_id, cluster_id) order: the key-join put cluster_id
    // first on the untouched side, and the parquet layout must not
    // drift across appends
    untouched.unionByName(relabeled).select("doc_id", "cluster_id")
      .write.mode("overwrite").parquet(s"$indexDir/$cl")
    newBands.write.mode("overwrite").parquet(s"$indexDir/$seg")
    // ONE commit flips assignments + the new band segment together
    SegmentLog.commit(indexDir,
      SegmentLog.State(gen, st.segments :+ seg, Map("clusters" -> cl)))
    SegmentLog.cleanup(indexDir)
    Seq(newBands, touchedOld, delta, rebuildCids, rebuildMembers, starCids)
      .foreach(graft.SparkUtil.release)
    spark.read.parquet(s"$indexDir/$cl").count()
  }

  /** Merge all band segments into one (assignments untouched — they are
    * already a single generation). Restores one scan for the append
    * path's old-bands side after many ingest batches.
    */
  def compact(spark: SparkSession, indexDir: String): Long = {
    val st = state(indexDir)
    val gen = SegmentLog.nextGen(Some(st))
    val seg = SegmentLog.segName(gen)
    spark.read.parquet(st.segmentPaths(indexDir): _*)
      .write.mode("overwrite").parquet(s"$indexDir/$seg")
    SegmentLog.commit(indexDir,
      SegmentLog.State(gen, Seq(seg), st.extras))
    SegmentLog.cleanup(indexDir)
    spark.read.parquet(s"$indexDir/$seg").count()
  }

  /** Candidate pairs from a (doc_id, band, bucket) frame: one
    * (band, bucket) shuffle, pairs generated inside the bucket exactly
    * as [[DedupQueries.minhashPairsCore]] (same ≤64 skew cap, i &lt; j
    * combinations so doc_a &lt; doc_b), minus the est_jaccard column the
    * CC consumer never reads.
    */
  private def pairsFromBands(bands: DataFrame): DataFrame = bands
    .groupBy("band", "bucket")
    .agg(expr("array_sort(collect_list(doc_id))").as("ds"))
    .filter(size(col("ds")).between(2, 64))
    .select(explode(expr(
      """flatten(transform(ds, (a, i) ->
           transform(slice(ds, i + 2, size(ds)), b ->
             named_struct('doc_a', a, 'doc_b', b))))""")).as("p"))
    .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))

  /** Compute-once-read-many entry point for the registered queries: the
    * first consumer of a corpus dir in this JVM builds the index into a
    * derived location (rebuilt per JVM — a code change can never read a
    * stale on-disk index), every later consumer reads the parquet. This
    * is what lets `split_leakage_safe` / `corpus_curation` /
    * `dedup_clusters_persisted` share ONE CC fixpoint per session
    * instead of each re-running it.
    */
  def forCorpus(spark: SparkSession, dir: String): DataFrame =
    load(spark, graft.SparkUtil.oncePerJvm("cluster-index", dir) { d =>
      build(graft.Tables(spark, dir, "documents").select("doc_id", "text"), d)
      ()
    })
}
