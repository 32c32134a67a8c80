package graft.ext

import graft.SparkSpec

/** The bigram-LM perplexity filter must actually DISCRIMINATE: the
  * synthetic corpus's vocabulary is near-uniform, so these tests plant
  * engineered fluent/gibberish fixtures (the `pii_redact` precedent) and
  * pin that in-domain text scores strictly lower than out-of-domain and
  * shuffled text — the property the CCNet cutoff relies on.
  */
class LmPerplexitySpec extends SparkSpec {

  import spark.implicits._

  // a tiny "language": highly regular bigram structure
  private val fluent = Seq.tabulate(20) { i =>
    val s = Seq("the", "cat", "sat", "on", "the", "mat", "and", "the",
      "dog", "ran", "to", "the", "cat").mkString(" ")
    (i.toLong, s, "en")
  }
  // same unigram vocabulary, adversarially scrambled bigrams
  private val gibberish = Seq.tabulate(5) { i =>
    val s = Seq("cat", "the", "mat", "dog", "sat", "and", "ran", "on",
      "the", "to", "dog", "mat", "cat").mkString(" ")
    (100L + i, s, "xx")
  }
  // out-of-vocabulary text: every word unseen by the LM
  private val oov = Seq((200L, "zqx wvu ponm lkj hgf zqx wvu", "xx"))

  private def score(rows: Seq[(Long, String, String)], cutoff: Double = 3.42) =
    TextQueries.lmPerplexityCore(
      rows.toDF("doc_id", "text", "lang"), trainLang = "en", keepCutoff = cutoff)
      .collect()
      .map(r => r.getLong(0) -> (r.getDouble(3), r.getBoolean(5)))
      .toMap

  test("in-domain text scores strictly below scrambled and OOV text") {
    val s = score(fluent ++ gibberish ++ oov)
    val fl = fluent.map(f => s(f._1)._1)
    val gb = gibberish.map(g => s(g._1)._1)
    val ov = oov.map(o => s(o._1)._1)
    assert(fl.max < gb.min,
      s"fluent max ${fl.max} not below gibberish min ${gb.min}")
    // NOTE no ordering is asserted BETWEEN gibberish and OOV: add-k
    // gives an unseen context the uniform 1/V, which for a small vocab
    // is CHEAPER than a frequent-context/unseen-next-word surprise
    // (≈ln(2·c1/k + V)) — correct backoff-free bigram-LM behavior, not
    // a defect. Both regimes must still sit above every fluent doc.
    assert(fl.max < ov.min,
      s"fluent max ${fl.max} not below OOV min ${ov.min}")
  }

  test("keep cutoff between the two regimes separates them exactly") {
    val all = fluent ++ gibberish
    val raw = score(all)
    val mid = (fluent.map(f => raw(f._1)._1).max +
      gibberish.map(g => raw(g._1)._1).min) / 2
    val s = score(all, cutoff = mid)
    assert(fluent.forall(f => s(f._1)._2), "a fluent doc was dropped")
    assert(gibberish.forall(g => !s(g._1)._2), "a gibberish doc was kept")
  }

  test("docs with fewer than two tokens drop out of the score") {
    val s = score(fluent ++ Seq((300L, "single", "en"), (301L, "", "en")))
    assert(!s.contains(300L) && !s.contains(301L))
    assert(s.size == fluent.size)
  }

  test("persisted LmModel scores identically to the inline query") {
    val lmDir = java.nio.file.Files.createTempDirectory("lm-spec").toString
    val docs = (fluent ++ gibberish ++ oov).toDF("doc_id", "text", "lang")
    LmModel.train(docs, "en", lmDir)
    val persisted = LmModel.score(docs, lmDir, 3.42)
      .collect().map(r => (r.getLong(0), r.getDouble(3), r.getBoolean(5))).toSet
    val inline = TextQueries.lmPerplexityCore(docs, "en", 3.42)
      .collect().map(r => (r.getLong(0), r.getDouble(3), r.getBoolean(5))).toSet
    assert(persisted == inline)
    // retrain swaps atomically to a new generation, old files swept
    LmModel.train(docs, "xx", lmDir)
    val names = java.nio.file.Files.list(java.nio.file.Paths.get(s"$lmDir/lm_model"))
      .iterator()
    val left = Iterator.continually(names).takeWhile(_.hasNext)
      .map(_.next().getFileName.toString).toSet
    assert(left.contains("uni-g2") && !left.contains("uni-g1"))
    graft.io.SegmentLog.deleteRecursively(lmDir)
  }

  test("per-doc sums are fold-order independent (decimal-summed nll)") {
    val one = score(fluent ++ gibberish)
    val repartitioned = TextQueries.lmPerplexityCore(
      (fluent ++ gibberish).toDF("doc_id", "text", "lang").repartition(7),
      trainLang = "en", keepCutoff = 3.42)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(one.keySet == repartitioned.keySet)
    one.foreach { case (id, (nll, _)) =>
      assert(nll == repartitioned(id), s"doc $id drifted across partitionings")
    }
  }
}
