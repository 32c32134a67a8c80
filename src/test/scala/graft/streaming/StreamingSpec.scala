package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Top-level so the generated encoder is Janino-visible — a local case
  * class forces interpreter fallback and noisy codegen warnings in the
  * test log.
  */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

/** Drives the streaming operators with a MemoryStream and checks they
  * agree with their batch duals (the oracle-checked EventQueries forms).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private def events = Seq(
    Ev(1, ts(0), 1, "click", 1.0, "{}"),
    Ev(2, ts(5), 1, "click", 2.0, "{}"),
    Ev(3, ts(50), 1, "view", 3.0, "{}"),   // > 30 min gap -> new session
    Ev(4, ts(10), 2, "click", 4.0, "{}"),
    Ev(2, ts(5), 1, "click", 2.0, "{}"))   // duplicate event_id

  test("tumbling window counts match the batch form") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingOps.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("complete").start()
    try {
      mem.addData(events: _*)
      q.processAllAvailable()
      val got = spark.table("tumbling")
        .orderBy("window_start", "event_type")
        .collect().map(r => (r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(got.toSeq == Seq(("click", 4L, 9.0), ("view", 1L, 3.0)))
    } finally q.stop()
  }

  test("stream-stream interval join attributes clicks to purchases") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingOps.clickAttribution(mem.toDF())
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      mem.addData(
        Ev(1, ts(0), 1, "click", 1.0, "{}"),     // within the hour
        Ev(2, ts(20), 1, "click", 2.0, "{}"),    // within the hour
        Ev(3, ts(25), 2, "click", 4.0, "{}"),    // other user
        Ev(4, ts(30), 1, "purchase", 99.0, "{}"),
        Ev(5, ts(31), 1, "click", 8.0, "{}"))    // AFTER the purchase
      q.processAllAvailable()
      val got = spark.table("attrib")
        .orderBy("cts")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
      assert(got.toSeq == Seq((4L, 1L, 1.0), (4L, 1L, 2.0)))
    } finally q.stop()
  }

  test("streaming ingest dedup: survivors match batch-by-batch index dedupe, state persists") {
    implicit val sqlCtx = spark.sqlContext
    case class Doc(doc_id: Long, text: String)
    val idxDir = java.nio.file.Files.createTempDirectory("ingidx").toString
    val outDir = java.nio.file.Files.createTempDirectory("ingout").toString
    val ckDir = java.nio.file.Files.createTempDirectory("ingck").toString
    try {
      import spark.implicits._
      // seed corpus: two docs
      graft.ext.DedupIndex.build(
        Seq((1L, "the quick brown fox jumps over dogs"),
            (2L, "pack my box with five dozen jugs")).toDF("doc_id", "text"), idxDir)
      val mem = MemoryStream[(Long, String)]
      val q = StreamingOps.dedupIngestStream(
        mem.toDF().toDF("doc_id", "text"), idxDir, outDir, ckDir)
      try {
        // batch 1: exact dup of doc 1 (dropped) + one fresh doc (kept)
        mem.addData((10L, "the quick brown fox jumps over dogs"),
          (11L, "a completely different new document here"))
        q.processAllAvailable()
        // batch 2: exact dup of the BATCH-1 fresh doc → cross-batch
        // state must drop it; plus another fresh doc
        mem.addData((20L, "a completely different new document here"),
          (21L, "yet another unrelated body of text entirely"))
        q.processAllAvailable()
        val kept = spark.read.parquet(outDir)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        assert(kept == Set(11L, 21L), s"got $kept")
        // the index remembered everything (2 seed + 4 streamed), read
        // through the committed segment-log state
        assert(graft.ext.DedupIndex.rows(spark, idxDir).count() == 6L)
      } finally q.stop()
    } finally {
      import scala.reflect.io.Directory
      Seq(idxDir, outDir, ckDir).foreach(p =>
        new Directory(new java.io.File(p)).deleteRecursively())
    }
  }

  test("file-source stream over real events parquet produces batch-equal counts") {
    // copy a real slice to a temp dir (stream sources need a directory)
    val dir = java.nio.file.Files.createTempDirectory("evstream").toString
    val batch = graft.Tables(spark, "/root/testdata/sf0.001", "events")
    batch.write.mode("overwrite").parquet(dir)
    val q = StreamingOps.tumblingCounts(
        spark.readStream.schema(StreamingOps.eventSchema).parquet(dir))
      .writeStream.format("memory").queryName("filestream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("filestream")
        .agg(sum("n")).collect()(0).getLong(0)
      assert(streamed == batch.count())
    } finally q.stop()
  }
}
