package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The one-sided-error contract of [[DedupQueries.dedupBloom]] and the
  * [[graft.functions.BloomMightContain]] broadcast expression: zero
  * false negatives (structural — a true duplicate always flags), and a
  * false-positive rate in the neighbourhood of the builder's fpp.
  */
class BloomDedupSpec extends SparkSpec {

  test("dedup_bloom: no false negatives, bounded false positives") {
    val rows = DedupQueries.dedupBloomRaw(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getBoolean(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    // structural: every actual duplicate must be flagged (assert_true in
    // the query would have aborted otherwise — re-check the rows anyway)
    assert(rows.forall { case (_, likely, actually) => !actually || likely })
    // false positives: among genuinely-new docs, flags should stay near
    // the 1% build fpp; 10% is a generous ceiling that still catches a
    // broken hash path (which would flag ~everything or ~nothing)
    val newDocs = rows.filter(!_._3)
    val fp = newDocs.count(_._2).toDouble / math.max(newDocs.size, 1)
    assert(fp <= 0.10, s"false-positive rate $fp exceeds ceiling")
  }

  test("BloomMightContain agrees with the sketch on members and codegen path runs") {
    import spark.implicits._
    val members = (1 to 1000).map(i => s"member-$i")
    val bf = members.toDF("s").stat.bloomFilter("s", 1000, 0.01)
    val probe = ((1 to 1000).map(i => (s"member-$i", true)) ++
      (1 to 1000).map(i => (s"absent-$i", false))).toDF("s", "expected")
    val got = probe.withColumn("hit",
        graft.functions.BloomMightContain.might_contain(spark, bf, col("s")))
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2)))
    // all members hit (no false negatives)
    assert(got.filter(_._2).forall(_._3))
    // absent strings mostly miss (≤10% false positives at fpp=1%)
    val absent = got.filter(!_._2)
    assert(absent.count(_._3).toDouble / absent.size <= 0.10)
  }

  test("DedupIndex bloom artifact: persisted sketch pre-gates exact dups across rebuilds") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("idxbloom").toString
    try {
      val corpus = Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta"))
        .toDF("doc_id", "text")
      DedupIndex.build(corpus, dir)
      assert(DedupIndex.writeBloom(spark, dir) == 2L)
      // batch: one exact dup of doc 1, one fresh doc
      val batch = Seq((10L, "alpha beta gamma delta"), (11L, "iota kappa lambda mu"))
        .toDF("doc_id", "text")
      def fpOf(text: String): String = Seq(text).toDF("text")
        .select(DedupQueries.contentFp(col("text"))).head().getString(0)
      val (_, _, bf) = DedupIndex.loadBloomMeta(spark, dir)
      assert(bf.mightContain(fpOf("alpha beta gamma delta")),
        "exact dup must flag (no false negatives)")
      // append the batch, rebuild the sketch: the formerly-fresh doc now flags
      DedupIndex.append(batch, dir)
      assert(DedupIndex.writeBloom(spark, dir) == 4L)
      val (_, _, bf2) = DedupIndex.loadBloomMeta(spark, dir)
      assert(bf2.mightContain(fpOf("iota kappa lambda mu")),
        "appended doc's fp must flag after rebuild")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("growBloom folds a batch without index rescan; overflow rebuilds") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("idxgrow").toString
    try {
      val corpus = Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta"))
        .toDF("doc_id", "text")
      DedupIndex.build(corpus, dir)
      // tiny explicit capacity so the overflow path is reachable
      assert(DedupIndex.writeBloom(spark, dir, capacity = 4L) == 2L)
      val (cap0, n0, _) = DedupIndex.loadBloomMeta(spark, dir)
      assert(cap0 == 4L && n0 == 2L)
      // fold one batch (2 docs): fits capacity → O(batch) merge
      val b1 = Seq((10L, "iota kappa lambda mu"), (11L, "nu xi omicron pi"))
        .toDF("doc_id", "text")
      DedupIndex.ingest(spark, b1, dir, maintainBloom = true)
      val (cap1, n1, bf1) = DedupIndex.loadBloomMeta(spark, dir)
      assert(cap1 == 4L && n1 == 4L)
      // merged sketch sees BOTH old and folded fingerprints (no false
      // negatives — the pre-gate's one-sided-error contract)
      val fps = DedupIndex.rows(spark, dir).select("fp").collect()
        .map(_.getString(0))
      assert(fps.length == 4 && fps.forall(bf1.mightContainString))
      // next fold overflows the 4-capacity → transparent rebuild at the
      // auto capacity, still covering everything
      val b2 = Seq((20L, "rho sigma tau upsilon")).toDF("doc_id", "text")
      DedupIndex.ingest(spark, b2, dir, maintainBloom = true)
      val (cap2, n2, bf2) = DedupIndex.loadBloomMeta(spark, dir)
      assert(cap2 >= 4096L && n2 == 5L, s"cap=$cap2 n=$n2")
      val fps2 = DedupIndex.rows(spark, dir).select("fp").collect()
        .map(_.getString(0))
      assert(fps2.length == 5 && fps2.forall(bf2.mightContainString))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("growBloom overflow keeps an UNCOMMITTED batch's bits (no false negatives)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("idxgrowpre").toString
    try {
      val corpus = Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta"))
        .toDF("doc_id", "text")
      DedupIndex.build(corpus, dir)
      assert(DedupIndex.writeBloom(spark, dir, capacity = 4L) == 2L)
      // fold-BEFORE-append call order: the batch is not a segment yet and
      // the fold overflows the 4-capacity. The rebuild must still carry
      // the batch's fingerprints — a committed-rows-only rebuild would
      // reintroduce false negatives and break the sketch's contract.
      val batch = Seq((10L, "iota kappa lambda mu"), (11L, "nu xi omicron pi"),
        (12L, "rho sigma tau upsilon")).toDF("doc_id", "text")
      val batchFps = DedupQueries.fpSig(batch).select("fp").collect()
        .map(_.getString(0))
      DedupIndex.growBloom(spark, dir, DedupQueries.fpSig(batch).select("fp"), 3L)
      val (cap, n, bf) = DedupIndex.loadBloomMeta(spark, dir)
      assert(cap >= 4096L, s"overflow must re-size, cap=$cap")
      // count header = max(committed rescan, old count + batch): the
      // batch's bits WERE merged in, so a bare rescan count (2) would
      // understate sketch contents and fire the next overflow guard one
      // batch late, eroding the fp-rate margin near capacity
      assert(n == 5L, s"count header must cover the merged batch, got $n")
      assert(batchFps.forall(bf.mightContainString),
        "uncommitted batch fps must be in the rebuilt sketch")
      val oldFps = DedupIndex.rows(spark, dir).select("fp").collect()
        .map(_.getString(0))
      assert(oldFps.forall(bf.mightContainString))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("legacy headerless bloom artifact fails with an actionable message") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("idxlegacy").toString
    try {
      val corpus = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
      DedupIndex.build(corpus, dir)
      DedupIndex.writeBloom(spark, dir)
      // overwrite the committed artifact with the pre-r15 layout:
      // (cap, count) longs then filter bytes, NO magic — a reader
      // misparsing this used to die deep inside BloomFilter.readFrom
      val bloomFile = new java.io.File(s"$dir/dedup_index").listFiles()
        .filter(_.getName.startsWith("bloom-g")).maxBy(_.getName)
      val bf = (1L to 10L).toDF("k").stat.bloomFilter("k", 16L, 0.01)
      val out = new java.io.DataOutputStream(
        new java.io.FileOutputStream(bloomFile))
      try { out.writeLong(16L); out.writeLong(10L); bf.writeTo(out) }
      finally out.close()
      // drop the Hadoop local-FS checksum sidecar — it describes the
      // replaced bytes and would fail the read before the format check
      new java.io.File(bloomFile.getParentFile, s".${bloomFile.getName}.crc").delete()
      val e = intercept[IllegalArgumentException] {
        DedupIndex.loadBloomMeta(spark, dir)
      }
      assert(e.getMessage.contains("writeBloom"),
        s"message must name the fix, got: ${e.getMessage}")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("growBloom recovers from a legacy artifact without losing batch bits") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("idxlegacygrow").toString
    try {
      val corpus = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
      DedupIndex.build(corpus, dir)
      DedupIndex.writeBloom(spark, dir)
      // corrupt the artifact into the pre-header layout
      val bloomFile = new java.io.File(s"$dir/dedup_index").listFiles()
        .filter(_.getName.startsWith("bloom-g")).maxBy(_.getName)
      val bf0 = (1L to 10L).toDF("k").stat.bloomFilter("k", 16L, 0.01)
      val out = new java.io.DataOutputStream(
        new java.io.FileOutputStream(bloomFile))
      try { out.writeLong(16L); out.writeLong(10L); bf0.writeTo(out) }
      finally out.close()
      new java.io.File(bloomFile.getParentFile, s".${bloomFile.getName}.crc").delete()
      // a fold against the unreadable artifact must rebuild from the
      // committed rows AND OR-merge the (uncommitted) batch — the
      // no-false-negative contract holds straight through recovery
      val batch = Seq((10L, "iota kappa lambda mu")).toDF("doc_id", "text")
      val batchFps = DedupQueries.fpSig(batch).select("fp").collect()
        .map(_.getString(0))
      DedupIndex.growBloom(spark, dir, DedupQueries.fpSig(batch).select("fp"), 1L)
      val (_, n, bf) = DedupIndex.loadBloomMeta(spark, dir)
      assert(n == 2L, s"recovered header must count rows + merged batch, got $n")
      val all = DedupIndex.rows(spark, dir).select("fp").collect()
        .map(_.getString(0)) ++ batchFps
      assert(all.forall(bf.mightContainString),
        "recovered sketch must cover committed rows AND the folded batch")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("BloomMightContain supports long keys and nulls") {
    import spark.implicits._
    val bf = (1L to 500L).toDF("k").stat.bloomFilter("k", 500, 0.01)
    val got = Seq[java.lang.Long](7L, 100000L, null).toDF("k")
      .withColumn("hit",
        graft.functions.BloomMightContain.might_contain(spark, bf, col("k")))
      .collect()
    assert(got(0).getBoolean(1))            // member hits
    assert(got.exists(_.isNullAt(1)) || !got(2).getBoolean(1)) // null in → null out
    assert(got(2).isNullAt(1))
  }
}
