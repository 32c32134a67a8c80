package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The persisted form of `ann_ivf`'s cell layout: embeddings written as
  * parquet PARTITIONED BY their IVF cell, so a probe query reads only
  * its `nprobe` cells' files — the partition-pruning path SCALE.md
  * promises, made concrete (the similarity analogue of [[DedupIndex]]).
  *
  * {{{
  * AnnIndex.build(vecs, cents, dir)                 // once / per retrain
  * AnnIndex.search(spark, dir, cents, probes, 2, 5) // per query batch
  * }}}
  *
  * `build` assigns cells with the SAME nearest-centroid projection as
  * the registered query ([[SimilarityQueries.assignCellStruct]] — zero
  * corpus exchange) and writes
  * `cell=<id>/part-*.parquet`. `search` turns each query's probe list
  * into a `cell IN (...)` partition filter: Spark prunes the non-probed
  * directories at PLANNING time, so the scan touches nprobe/nlist of
  * the files (AnnIndexSpec pins both the pruned file count and result
  * equality with the in-memory `ann_ivf` form).
  *
  * 100 TB posture: nlist grows with the corpus (thousands of cells →
  * file groups of a few GB); a probe reads nprobe cells ≈ nprobe/nlist
  * of the bytes. New vectors fold in INCREMENTALLY as cell-partitioned
  * segments committed through [[graft.io.SegmentLog]] (cell assignment
  * is per-row given fixed centroids, so append == rebuild exactly —
  * AnnIndexSpec pins it); retraining centroids is a rebuild, which the
  * same manifest flip makes an atomic swap. Scoring stays the codegen'd
  * [[graft.functions.CosineSimilarity]]; the probe set broadcasts.
  */
object AnnIndex {

  import graft.io.SegmentLog

  private def root(dir: String) = s"$dir/ann_index"

  private def state(dir: String): SegmentLog.State =
    SegmentLog.read(root(dir)).getOrElse(
      sys.error(s"no ann index committed at ${root(dir)}"))

  /** The committed vectors across segments. Each segment is read under
    * its own root (cell partition discovery is per-segment; a single
    * multi-root read would reject the seg-N dirs as non-k=v); the union
    * is narrow and `cell` filters push into every scan, so multi-segment
    * pruning behaves like single-root pruning.
    */
  def rows(spark: SparkSession, dir: String): DataFrame =
    readIndex(spark, dir)

  private def readIndex(spark: SparkSession, dir: String): DataFrame =
    state(dir).segmentPaths(root(dir))
      .map(p => spark.read.parquet(p))
      .reduce(_.unionByName(_))

  private def writeSegment(vecs: DataFrame, cents: Seq[(Long, Seq[Double])],
      dir: String, seg: String): Long = {
    vecs
      .withColumn("cell",
        SimilarityQueries.assignCellStruct(vecs.sparkSession, cents, col("v"))
          .getField("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(s"${root(dir)}/$seg")
    vecs.sparkSession.read.parquet(s"${root(dir)}/$seg").count()
  }

  /** Partition the corpus by its assigned cell. `vecs`: (vec_id, v).
    * Assignment is [[SimilarityQueries.assignCellStruct]]: the centroids
    * ride an executor broadcast, a pure projection with zero corpus
    * exchange.
    */
  def build(vecs: DataFrame, cents: Seq[(Long, Seq[Double])], dir: String): Long = {
    val r = root(dir)
    val gen = SegmentLog.nextGen(SegmentLog.read(r))
    val seg = SegmentLog.segName(gen)
    val n = writeSegment(vecs, cents, dir, seg)
    SegmentLog.commit(r, SegmentLog.State(gen, Seq(seg), Map.empty))
    SegmentLog.cleanup(r)
    n
  }

  /** Fold a new vector batch into the index as a fresh cell-partitioned
    * segment — MUST use the same centroids the index was built with
    * (retrained centroids change assignments: rebuild instead). Returns
    * the batch's indexed row count.
    */
  def append(vecs: DataFrame, cents: Seq[(Long, Seq[Double])], dir: String): Long = {
    val r = root(dir)
    val st = state(dir)
    val gen = SegmentLog.nextGen(Some(st))
    val seg = SegmentLog.segName(gen)
    val n = writeSegment(vecs, cents, dir, seg)
    SegmentLog.commit(r, SegmentLog.State(gen, st.segments :+ seg, st.extras))
    n
  }

  /** Merge all live segments into one cell-partitioned segment — after
    * many appends, each cell's rows are scattered across every segment
    * (nsegments × nprobe files per probe); compaction restores one file
    * group per cell. Atomic, like every segment-log maintenance op.
    */
  def compact(spark: SparkSession, dir: String): Long = {
    val r = root(dir)
    val st = state(dir)
    val gen = SegmentLog.nextGen(Some(st))
    val seg = SegmentLog.segName(gen)
    readIndex(spark, dir)
      .write.partitionBy("cell").mode("overwrite").parquet(s"$r/$seg")
    SegmentLog.commit(r, SegmentLog.State(gen, Seq(seg), st.extras))
    SegmentLog.cleanup(r)
    spark.read.parquet(s"$r/$seg").count()
  }

  /** Top-k cosine results per probe query, reading ONLY the probed
    * cells' partitions. `probes`: (query_id, qv); probe cells per query
    * come from the same top-nprobe list as `ann_ivf` ([[SimilarityQueries.topProbeCells]]).
    */
  def search(spark: SparkSession, dir: String, cents: Seq[(Long, Seq[Double])],
      probes: DataFrame, nprobe: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // general top-nprobe per query, ordered score DESC / cell ASC — the
    // same probe list as ann_ivf, valid for any nprobe
    val probed = probes
      .select(col("query_id"), col("qv"),
        explode(SimilarityQueries.topProbeCells(spark, cents, col("qv"),
          nprobe)).as("cell"))
    // bounded driver-side collect: |queries| × nprobe cell ids — the
    // partition filter must be a LITERAL for planning-time pruning
    val cells = probed.select("cell").distinct()
      .collect().map(_.getLong(0)).toSeq
    val base = readIndex(spark, dir)
      .filter(col("cell").isin(cells: _*))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), asc("vec_id"))
    base.join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(SimilarityQueries.cosineExpr("qv", "v"), 6))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      // partition-column type inference reads cell back as INT; the
      // in-memory form carries LONG — pin the wider type
      .select(col("query_id"), col("rank"), col("vec_id"),
        col("cell").cast("long").as("cell"), col("cos"))
      .orderBy("query_id", "rank")
  }
}
