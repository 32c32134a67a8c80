package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The distributed BPE trainer that the `bpe_train_merges` gate runs
  * must produce exactly the merge sequence of the classic sequential
  * algorithm (Sennrich et al.): same pair counts over the word-frequency
  * table, same tie order, same greedy left-to-right within-word merge.
  */
class BpeSpec extends SparkSpec {

  /** Reference implementation on a driver-side word-count map. */
  private def referenceBpe(words: Map[String, Long], merges: Int): Seq[(String, String)] = {
    var vocab: Map[List[String], Long] =
      words.groupMapReduce(w => w._1.map(_.toString).toList)(_._2)(_ + _)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var continueLoop = true
    while (out.size < merges && continueLoop) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, n) <- vocab; Seq(a, b) <- syms.sliding(2) if syms.size >= 2)
        counts((a, b)) = counts.getOrElse((a, b), 0L) + n
      if (counts.isEmpty) continueLoop = false
      else {
        val (pair, _) = counts.toSeq
          .sortBy { case ((a, b), n) => (-n, a, b) }.head
        out += pair
        val (a, b) = pair
        vocab = vocab.groupMapReduce { case (syms, _) =>
          // greedy left-to-right non-overlapping merge
          val acc = scala.collection.mutable.ListBuffer.empty[String]
          for (s <- syms) {
            if (acc.nonEmpty && acc.last == a && s == b)
              acc(acc.size - 1) = a + b
            else acc += s
          }
          acc.toList
        }(_._2)(_ + _)
      }
    }
    out.toSeq
  }

  /** The merge pairs the `bpe_train_merges` gate trains on `docs`
    * (its fixed 8 rounds), written as a documents table under a fresh
    * dir so the gate's per-dir memo trains on exactly these rows. */
  private def gateMerges(docs: org.apache.spark.sql.DataFrame): Seq[(String, String)] = {
    val dir = java.nio.file.Files.createTempDirectory("bpe-gate-").toString
    try {
      docs.write.parquet(s"$dir/documents.parquet")
      TextQueries.bpeTrainMerges(spark, dir).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
    } finally graft.io.SegmentLog.deleteRecursively(dir)
  }

  private def wordCounts(docs: org.apache.spark.sql.DataFrame): Map[String, Long] =
    docs.select(explode(expr("filter(split(lower(text), ' +'), w -> w != '')")).as("w"))
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("distributed trainer == reference on a crafted corpus") {
    import spark.implicits._
    val docs = Seq(
      "low lower lowest low low",
      "new newer newest new",
      "wider wide wide low").toDF("text")
    val want = referenceBpe(wordCounts(docs), 8)
    val got = gateMerges(docs)
    assert(got == want, s"got $got\nwant $want")
    assert(got.size == 8)
  }

  test("distributed trainer == reference on real testdata") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("text")
    val want = referenceBpe(wordCounts(docs), 8)
    val got = gateMerges(docs)
    assert(got == want, s"got $got\nwant $want")
  }

  test("merge exhaustion stops early instead of looping") {
    import spark.implicits._
    val docs = Seq("a b c").toDF("text") // single-char words: no pairs
    assert(gateMerges(docs) == Seq.empty)
  }
}
