package graft.ext

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** [[DedupIndex]] must agree exactly with the oracle-gated
  * `dedup_incremental` query (same split, same survivors), and
  * batch-by-batch ingest through the index must equal the one-shot
  * result — the property that makes a recurring pipeline trustworthy.
  * (Both equalities are exact while LSH buckets stay under the core's
  * ≤64 skew cap — true at this scale; past the cap the near rule is an
  * approximation in BOTH paths, see the DedupIndex precision caveat.)
  */
class DedupIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("index-based dedupe equals the one-scan oracle-gated query") {
    val docs = graft.Tables(spark, dir, "documents").select("doc_id", "text")
    val idxDir = Files.createTempDirectory("dedup-idx").toString
    val nOld = DedupIndex.build(docs.filter(col("doc_id") % 5 < 3), idxDir)
    assert(nOld > 0)
    val survivors = DedupIndex
      .ingest(spark, docs.filter(col("doc_id") % 5 >= 3), idxDir)
      .collect().map(_.getLong(0)).toSeq.sorted
    val oracle = DedupQueries.dedupIncremental(spark, dir)
      .collect().map(_.getLong(0)).toSeq
    assert(survivors == oracle)
  }

  test("batch-by-batch ingest equals the one-shot split") {
    // ingest the "new" docs as two id-ordered batches; greedy first-wins
    // by doc_id makes sequential == one-shot exactly when batches respect
    // id order (the documented ingest-order contract)
    val docs = graft.Tables(spark, dir, "documents").select("doc_id", "text")
    val newDocs = docs.filter(col("doc_id") % 5 >= 3)
    val mid = newDocs.agg(expr("percentile(doc_id, 0.5)")).head().getDouble(0)
    val (b1, b2) = (newDocs.filter(col("doc_id") <= mid),
      newDocs.filter(col("doc_id") > mid))

    val idxDir = Files.createTempDirectory("dedup-idx2").toString
    DedupIndex.build(docs.filter(col("doc_id") % 5 < 3), idxDir)
    // ingest folds the WHOLE batch in (dropped docs still block later ones)
    val s1 = DedupIndex.ingest(spark, b1, idxDir)
      .collect().map(_.getLong(0)).toSeq.sorted
    val s2 = DedupIndex.ingest(spark, b2, idxDir)
      .collect().map(_.getLong(0)).toSeq.sorted

    val oneShot = DedupQueries.dedupIncremental(spark, dir)
      .collect().map(_.getLong(0)).toSeq
    assert((s1 ++ s2) == oneShot)

    // compaction folds the three segments into one; the index rows and
    // the pending extra ingest committed both survive it
    val root = s"$idxDir/dedup_index"
    val rowsBefore = DedupIndex.rows(spark, idxDir)
      .collect().map(_.toSeq).toSet
    val pendingBefore = graft.io.SegmentLog.read(root).get.extras("pending")
    DedupIndex.compact(spark, idxDir)
    val st = graft.io.SegmentLog.read(root).get
    assert(st.segments.size == 1 && st.extras == Map("pending" -> pendingBefore))
    assert(DedupIndex.rows(spark, idxDir).collect().map(_.toSeq).toSet == rowsBefore)
    // the pending pointer still resolves to a readable pending set
    assert(spark.read.parquet(st.extraPath(root, "pending")).columns.toSeq ==
      Seq("doc_id", "text", "fp", "sig"))
  }

  test("ingest resurrects pending docs when a batch pushes a bucket past the cap") {
    import spark.implicits._
    // deterministic over-cap construction: a 5-word base repeated k
    // times has the SAME 3-shingle SET for every k ≥ 2 (the windows are
    // the base's five rotations), so every doc gets an identical
    // MinHash signature — one LSH bucket per band holding ALL docs —
    // while distinct k gives each doc a distinct fingerprint (exact
    // rule clean). 30 seed docs + batch1's 20 leave the bucket at 50
    // (under the ≤64 cap → all 20 near-dropped, pending); batch2's 20
    // push it to 70 — the one-shot form skips the over-cap bucket, so
    // ALL 40 ingested docs are one-shot survivors: batch2's survive on
    // the spot and batch1's must RESURRECT.
    val base = "alpha beta gamma delta epsilon"
    def doc(i: Long) = i -> Seq.fill(2 + i.toInt)(base).mkString(" ")
    def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    val seeds = (1L to 30L).map(doc)
    val b1 = (31L to 50L).map(doc)
    val b2 = (51L to 70L).map(doc)

    val idxDir = Files.createTempDirectory("didx-resurrect").toString
    DedupIndex.build(df(seeds), idxDir)
    val e1 = DedupIndex.ingest(spark, df(b1), idxDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(e1.isEmpty, s"under-cap batch must fully near-drop: $e1")
    val e2 = DedupIndex.ingest(spark, df(b2), idxDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(e2 == (31L to 70L).toSet,
      s"crossing batch must emit itself AND resurrect batch1: $e2")

    // accumulated emissions equal the one-shot evaluation of the full
    // frame (seeds old, everything ingested new)
    val frame = df(seeds).withColumn("is_old", lit(true))
      .unionByName(df(b1 ++ b2).withColumn("is_old", lit(false)))
    val oneShot = DedupQueries.dedupIncrementalCore(
        DedupQueries.fpSig(frame.select("doc_id", "text"))
          .join(frame.select("doc_id", "is_old"), Seq("doc_id"))
          .select("doc_id", "is_old", "fp", "sig"))
      .collect().map(_.getLong(0)).toSet
    assert((e1 ++ e2) == oneShot)

    // and a third, non-crossing batch behaves (bucket already over cap:
    // no near causes, distinct fps → all survive; nothing re-resurrects)
    val root = s"$idxDir/dedup_index"
    val pendingBefore = graft.io.SegmentLog.read(root).get.extras.get("pending")
    val b3 = (71L to 75L).map(doc)
    val e3 = DedupIndex.ingest(spark, df(b3), idxDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(e3 == (71L to 75L).toSet)
    // it leaves the pending set as it was: its segment commits beside
    // the same pointer, with no rewrite
    val st = graft.io.SegmentLog.read(root).get
    assert(st.segments.size == 4 && st.extras.get("pending") == pendingBefore)
  }
}
