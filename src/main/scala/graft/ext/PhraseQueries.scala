package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables

/** Phrase-level corpus analysis beside [[TextQueries]]' token tier:
  * ROUGE-N overlap scoring (the summarization-eval metric repurposed as
  * an intra-source template/boilerplate readout) and RAKE keyword
  * extraction (the degree/frequency co-occurrence scorer beside
  * [[TextQueries]]' TextRank).
  *
  * Same cross-engine determinism rules as the rest of the ext tier:
  * counts and degree sums are exact integers, every ratio is a scaled
  * integer division with defined truncation (`div` / DuckDB `//`), and
  * the tokenizer is the house `split(text, ' ')` so Spark and the
  * DuckDB oracle see identical grams.
  */
object PhraseQueries {

  /** ROUGE-1/ROUGE-2 of every document against its source's EXEMPLAR
    * (lowest-doc_id) document — the clipped-count n-gram overlap
    * (Lin 2004) aggregated per source: high mean ROUGE against the
    * exemplar is the template/boilerplate signature [[TextQueries]]'
    * boilerplate_detect reads from exact line repeats, here measured
    * as a graded score. Per pair (a = exemplar as reference, b as
    * candidate): overlap = Σ_g min(cnt_a(g), cnt_b(g)), recall =
    * overlap/|grams(a)|, precision = overlap/|grams(b)| — each carried
    * as exact ppm with defined truncation, then source-averaged with
    * one more exact div.
    *
    * Scale: the exemplar-gram table is bounded (one exemplar doc per
    * source, sources a bounded category set) and BROADCAST, so the
    * overlap join is map-side on (source, gram) — one pass over the
    * corpus gram table, no shuffle of a pair table, no window, no
    * sort anywhere; every division is per-row. (A first form joined
    * pair→grams on the doc keys; with a small shared vocabulary a
    * cost-based oracle engine can reorder that into a gram-only join —
    * quadratic. The (source, gram) keying is immune by construction.)
    */
  def rougePairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("ws"))
      .localCheckpoint(true)
    val ex = docs.groupBy("source").agg(min("doc_id").as("a"))
    // Grams are keyed by their 60-bit md5 prefix ([[graft.functions
    // .ShingleHashes]], the native-hasher discipline): the joined
    // window hashes natively inside codegen (the bigram HOF form paid
    // an interpreted lambda + concat per position), and the
    // per-(doc, gram) aggregates + the (source, gram) overlap join
    // shuffle 8-byte longs instead of gram strings. The DuckDB oracle
    // mirrors the identical digest, so any 60-bit collision merges the
    // same clipped counts on both engines.
    def grams(base: DataFrame, n: Int): DataFrame =
      base.select(col("doc_id"), col("source"),
        explode(graft.functions.ShingleHashes.shingle_hashes(col("ws"), n)).as("g"))
        .groupBy("doc_id", "source", "g").agg(count(lit(1)).as("c"))
    // bounded exemplar-gram tables built from the EXEMPLAR DOCS (one per
    // source), not from the corpus gram table — so the corpus-wide
    // explode+aggregate has exactly ONE consumer per n and streams
    // straight into its overlap join, instead of being persisted to
    // serve a second (tiny) projection (the persist serialized two
    // corpus-scale gram tables per run for a KB-sized benefit)
    val exDocs = docs.as("d").join(broadcast(ex.as("x")),
        col("d.doc_id") === col("x.a") && col("d.source") === col("x.source"))
      .select(col("d.doc_id"), col("d.source"), col("d.ws"))
    def overlap(n: Int, out: String): DataFrame = {
      val base = if (n == 1) docs else docs.filter(size(col("ws")) >= n)
      grams(base, n)
        .join(broadcast(grams(exDocs, n)
          .select(col("source"), col("g"), col("c").as("ce"))),
          Seq("source", "g"))
        .groupBy(col("doc_id").as("b"))
        .agg(sum(least(col("c"), col("ce"))).as(out))
    }
    val tot = docs.select(col("doc_id"),
      size(col("ws")).cast("long").as("t1"),
      greatest(size(col("ws")) - 1, lit(0)).cast("long").as("t2"))
    docs.select(col("doc_id").as("b"), col("source"))
      .join(broadcast(ex), Seq("source"))
      .filter(col("b") =!= col("a"))
      .join(overlap(1, "ov1"), Seq("b"), "left")
      .join(overlap(2, "ov2"), Seq("b"), "left")
      .join(broadcast(tot.join(ex, tot("doc_id") === ex("a"))
        .select(col("source"), col("t1").as("t1a"), col("t2").as("t2a"))),
        Seq("source"))
      .join(tot.select(col("doc_id").as("b"), col("t1").as("t1b"),
        col("t2").as("t2b")), Seq("b"))
      .select(col("source"),
        expr("coalesce(ov1, 0) * 1000000 div greatest(t1a, 1)").as("r1r"),
        expr("coalesce(ov1, 0) * 1000000 div greatest(t1b, 1)").as("r1p"),
        expr("coalesce(ov2, 0) * 1000000 div greatest(t2a, 1)").as("r2r"),
        expr("coalesce(ov2, 0) * 1000000 div greatest(t2b, 1)").as("r2p"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_pairs"), sum("r1r").as("s1r"),
        sum("r1p").as("s1p"), sum("r2r").as("s2r"), sum("r2p").as("s2p"))
      .select(col("source"), col("n_pairs"),
        (expr("s1r div n_pairs") / 1e6).as("rouge1_recall"),
        (expr("s1p div n_pairs") / 1e6).as("rouge1_precision"),
        (expr("s2r div n_pairs") / 1e6).as("rouge2_recall"),
        (expr("s2p div n_pairs") / 1e6).as("rouge2_precision"))
      .orderBy("source")
  }

  val rougePairsSql: String =
    """WITH docs AS MATERIALIZED (
      |  SELECT doc_id, source, string_split(text, ' ') AS ws
      |  FROM documents),
      |ex AS MATERIALIZED (
      |  SELECT source, MIN(doc_id) AS a FROM docs GROUP BY source),
      |uni AS MATERIALIZED (
      |  SELECT doc_id, source,
      |    CAST(('0x' || substr(md5(g0), 1, 15)) AS BIGINT) AS g,
      |    CAST(COUNT(*) AS BIGINT) AS c FROM (
      |    SELECT doc_id, source, unnest(ws) AS g0 FROM docs)
      |  GROUP BY 1, 2, 3),
      |bi AS MATERIALIZED (
      |  SELECT doc_id, source,
      |    CAST(('0x' || substr(md5(g0), 1, 15)) AS BIGINT) AS g,
      |    CAST(COUNT(*) AS BIGINT) AS c FROM (
      |    SELECT doc_id, source, unnest(list_transform(range(1, len(ws)),
      |      i -> ws[i] || ' ' || ws[i + 1])) AS g0
      |    FROM docs WHERE len(ws) >= 2) GROUP BY 1, 2, 3),
      |exu AS MATERIALIZED (
      |  SELECT u.source, u.g, u.c AS ce
      |  FROM uni u JOIN ex ON ex.a = u.doc_id AND ex.source = u.source),
      |exb AS MATERIALIZED (
      |  SELECT b.source, b.g, b.c AS ce
      |  FROM bi b JOIN ex ON ex.a = b.doc_id AND ex.source = b.source),
      |o1 AS (
      |  SELECT u.doc_id AS b, CAST(SUM(LEAST(u.c, e.ce)) AS BIGINT) AS ov
      |  FROM uni u JOIN exu e ON e.source = u.source AND e.g = u.g
      |  GROUP BY 1),
      |o2 AS (
      |  SELECT b.doc_id AS b, CAST(SUM(LEAST(b.c, e.ce)) AS BIGINT) AS ov
      |  FROM bi b JOIN exb e ON e.source = b.source AND e.g = b.g
      |  GROUP BY 1),
      |tot AS MATERIALIZED (
      |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS t1,
      |    CAST(GREATEST(len(ws) - 1, 0) AS BIGINT) AS t2
      |  FROM docs),
      |toa AS (
      |  SELECT ex.source, t.t1 AS t1a, t.t2 AS t2a
      |  FROM tot t JOIN ex ON ex.a = t.doc_id),
      |per AS (
      |  SELECT d.source,
      |    COALESCE(o1.ov, 0) * 1000000 // GREATEST(toa.t1a, 1) AS r1r,
      |    COALESCE(o1.ov, 0) * 1000000 // GREATEST(tb.t1, 1) AS r1p,
      |    COALESCE(o2.ov, 0) * 1000000 // GREATEST(toa.t2a, 1) AS r2r,
      |    COALESCE(o2.ov, 0) * 1000000 // GREATEST(tb.t2, 1) AS r2p
      |  FROM docs d
      |  JOIN ex ON ex.source = d.source AND d.doc_id <> ex.a
      |  LEFT JOIN o1 ON o1.b = d.doc_id
      |  LEFT JOIN o2 ON o2.b = d.doc_id
      |  JOIN toa ON toa.source = d.source
      |  JOIN tot tb ON tb.doc_id = d.doc_id)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  (SUM(r1r) // COUNT(*)) / 1e6 AS rouge1_recall,
      |  (SUM(r1p) // COUNT(*)) / 1e6 AS rouge1_precision,
      |  (SUM(r2r) // COUNT(*)) / 1e6 AS rouge2_recall,
      |  (SUM(r2p) // COUNT(*)) / 1e6 AS rouge2_precision
      |FROM per GROUP BY source
      |ORDER BY source""".stripMargin

  /** RAKE keyword extraction (Rose et al. 2010) — candidate phrases are
    * maximal stopword-free token runs (≤4 words); a word scores
    * deg/freq where deg sums the lengths of every phrase occurrence
    * containing it and freq counts its phrase occurrences; a phrase
    * scores the sum of its member words' scores. Word scores are exact
    * ppm integers (deg·10⁶ div freq), phrase scores exact sums of
    * those, so the top-15 ranking (score, support, phrase tiebreak) is
    * deterministic across engines. The TF-free degree weighting is
    * what distinguishes RAKE from [[TextQueries]]' TextRank
    * (co-occurrence power iteration) and TF-IDF tiers.
    *
    * Scale: tokens explode once; the segment id is a per-document
    * running count (window partitioned by doc — frame bounded by
    * document length); word and phrase scores are two hash
    * aggregations; the final top-15 is orderBy+limit (TakeOrdered,
    * never a global sort).
    */
  def rakeKeywords(spark: SparkSession, dir: String): DataFrame = {
    val stops = TextQueries.stopEn
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .withColumnRenamed("col", "w")
      .withColumn("is_stop", col("w").isin(stops: _*))
    val phrases = toks
      .withColumn("seg", sum(col("is_stop").cast("long")).over(w))
      .filter(!col("is_stop"))
      .groupBy("doc_id", "seg")
      .agg(concat_ws(" ", expr(
        "transform(sort_array(collect_list(struct(pos, w))), s -> s.w)"))
        .as("phrase"),
        count(lit(1)).as("plen"))
      .filter(col("plen") <= 4)
      .persist(StorageLevel.MEMORY_AND_DISK)
    phrases.count()
    val wscore = phrases
      .select(col("plen"), explode(split(col("phrase"), " ")).as("w"))
      .groupBy("w")
      .agg(sum("plen").as("deg"), count(lit(1)).as("freq"))
      .withColumn("score_ppm", expr("deg * 1000000 div freq"))
    phrases.groupBy("phrase").agg(count(lit(1)).as("n_occurrences"))
      .select(col("phrase"), col("n_occurrences"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(wscore.select("w", "score_ppm"), Seq("w"))
      .groupBy("phrase", "n_occurrences")
      .agg(sum("score_ppm").as("sc"))
      .orderBy(desc("sc"), desc("n_occurrences"), asc("phrase"))
      .limit(15)
      .select(col("phrase"), col("n_occurrences"),
        (col("sc") / 1e6).as("rake_score"))
  }

  val rakeKeywordsSql: String = {
    val stop = TextQueries.stopEnSql
    s"""WITH docs AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |toks AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
       |    i -> {'pos': i, 'w': ws[i]})) AS t
       |  FROM docs),
       |flat AS (SELECT doc_id, t.pos AS pos, t.w AS w FROM toks),
       |seg AS (
       |  SELECT doc_id, pos, w,
       |    SUM(CASE WHEN list_contains($stop, w) THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS seg,
       |    list_contains($stop, w) AS is_stop
       |  FROM flat),
       |phrases AS (
       |  SELECT doc_id, seg,
       |    string_agg(w, ' ' ORDER BY pos) AS phrase,
       |    CAST(COUNT(*) AS BIGINT) AS plen
       |  FROM seg WHERE NOT is_stop
       |  GROUP BY doc_id, seg
       |  HAVING COUNT(*) <= 4),
       |wscore AS (
       |  SELECT w, SUM(plen) * 1000000 // COUNT(*) AS score_ppm FROM (
       |    SELECT plen, unnest(string_split(phrase, ' ')) AS w
       |    FROM phrases)
       |  GROUP BY w),
       |dphrase AS (
       |  SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences
       |  FROM phrases GROUP BY phrase),
       |scored AS (
       |  SELECT d.phrase, d.n_occurrences,
       |    CAST(SUM(s.score_ppm) AS BIGINT) AS sc
       |  FROM (SELECT phrase, n_occurrences,
       |          unnest(string_split(phrase, ' ')) AS w
       |        FROM dphrase) d
       |  JOIN wscore s USING (w)
       |  GROUP BY d.phrase, d.n_occurrences)
       |SELECT phrase, n_occurrences, sc / 1e6 AS rake_score
       |FROM scored
       |ORDER BY sc DESC, n_occurrences DESC, phrase
       |LIMIT 15""".stripMargin
  }

  /** DUNNING G² (log-likelihood-ratio) COLLOCATIONS — the
    * significance-tested bigram association beside [[TextQueries]]'
    * raw-PMI token_pmi: G² = 2·Σ O·ln(O/E) over the 2×2 contingency of
    * (first word = x) × (second word = y) among all bigram events,
    * which unlike PMI does not over-reward rare pairs (Dunning 1993).
    * Carried in the floor-6dp ln-micros idiom over exact HUGEINT-class
    * counts (the theil_decomp discipline): each cell contributes
    * O·(lnm(O·N) − lnm(row·col)), truncations defined identically in
    * both engines, so the top-20 ranking hashes exactly. Support
    * threshold ≥5 keeps ln well-conditioned.
    *
    * Scale: one bigram explode + count (the corpus-scale stage), two
    * margin rollups joined back on their word keys (co-partitioned),
    * one broadcast total; scoring is per-row scalar math and the
    * top-20 is orderBy+limit (TakeOrdered).
    */
  def ngramLlr(spark: SparkSession, dir: String): DataFrame = {
    def lnm(e: String) =
      s"CAST(FLOOR(LN(CAST($e AS DOUBLE)) * 1000000) AS BIGINT)"
    val bi = Tables(spark, dir, "documents")
      .select(split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> struct(ws[i - 1] AS x, ws[i] AS y))"))
        .as("b"))
      .select(col("b.x").as("x"), col("b.y").as("y"))
      .groupBy("x", "y")
      .agg(count(lit(1)).cast("decimal(38,0)").as("c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    bi.count()
    val r1 = bi.groupBy("x").agg(sum("c").as("rx"))
    val c2 = bi.groupBy("y").agg(sum("c").as("cy"))
    val tot = bi.agg(sum("c").as("nn"))
    bi.filter(col("c") >= 5)
      .join(r1, Seq("x")).join(c2, Seq("y"))
      .crossJoin(broadcast(tot))
      .withColumn("o12", expr("rx - c"))
      .withColumn("o21", expr("cy - c"))
      .withColumn("o22", expr("nn - rx - cy + c"))
      .withColumn("g2m", expr(
        s"""2 * (c * (${lnm("c * nn")} - ${lnm("rx * cy")})
           + CASE WHEN o12 > 0 THEN
               o12 * (${lnm("o12 * nn")} - ${lnm("rx * (nn - cy)")})
             ELSE 0 END
           + CASE WHEN o21 > 0 THEN
               o21 * (${lnm("o21 * nn")} - ${lnm("(nn - rx) * cy")})
             ELSE 0 END
           + CASE WHEN o22 > 0 THEN
               o22 * (${lnm("o22 * nn")} - ${lnm("(nn - rx) * (nn - cy)")})
             ELSE 0 END)"""))
      .orderBy(desc("g2m"), asc("x"), asc("y"))
      .limit(20)
      .select(concat_ws(" ", col("x"), col("y")).as("bigram"),
        col("c").cast("long").as("n_xy"),
        (col("g2m") / 1e6).as("g2"))
  }

  val ngramLlrSql: String = {
    def lnm(e: String) =
      s"CAST(FLOOR(LN(CAST($e AS DOUBLE)) * 1000000) AS BIGINT)"
    s"""WITH bi AS (
       |  SELECT b.x AS x, b.y AS y, CAST(COUNT(*) AS HUGEINT) AS c
       |  FROM (
       |    SELECT unnest(list_transform(range(1, len(ws)),
       |      i -> {'x': ws[i], 'y': ws[i + 1]})) AS b
       |    FROM (SELECT string_split(text, ' ') AS ws FROM documents)
       |    WHERE len(ws) >= 2)
       |  GROUP BY 1, 2),
       |r1 AS (SELECT x, SUM(c) AS rx FROM bi GROUP BY x),
       |c2 AS (SELECT y, SUM(c) AS cy FROM bi GROUP BY y),
       |tot AS (SELECT SUM(c) AS nn FROM bi),
       |cand AS (
       |  SELECT bi.x, bi.y, bi.c, r1.rx, c2.cy, tot.nn,
       |    r1.rx - bi.c AS o12, c2.cy - bi.c AS o21,
       |    tot.nn - r1.rx - c2.cy + bi.c AS o22
       |  FROM bi JOIN r1 USING (x) JOIN c2 USING (y) CROSS JOIN tot
       |  WHERE bi.c >= 5),
       |scored AS (
       |  SELECT x, y, c,
       |    2 * (c * (${lnm("c * nn")} - ${lnm("rx * cy")})
       |      + CASE WHEN o12 > 0 THEN
       |          o12 * (${lnm("o12 * nn")} - ${lnm("rx * (nn - cy)")})
       |        ELSE 0 END
       |      + CASE WHEN o21 > 0 THEN
       |          o21 * (${lnm("o21 * nn")} - ${lnm("(nn - rx) * cy")})
       |        ELSE 0 END
       |      + CASE WHEN o22 > 0 THEN
       |          o22 * (${lnm("o22 * nn")} - ${lnm("(nn - rx) * (nn - cy)")})
       |        ELSE 0 END) AS g2m
       |  FROM cand)
       |SELECT x || ' ' || y AS bigram, CAST(c AS BIGINT) AS n_xy,
       |  g2m / 1e6 AS g2
       |FROM scored
       |ORDER BY g2m DESC, x, y
       |LIMIT 20""".stripMargin
  }

  /** JENSEN–SHANNON DIVERGENCE of every source's unigram distribution
    * against the corpus distribution — the information-theoretic
    * sibling of drift_psi's binned index: symmetric, bounded [0, ln 2],
    * and defined even where one side has zero mass (where KL alone
    * blows up). Exact-integer carried: with p = cp/Np, q = cq/Nq and
    * m = (p+q)/2, the log ratios are ln of INTEGER ratios —
    * p/m = 2·cp·Nq / (cp·Nq + cq·Np) — so each term is
    * count · (lnm(2·count·N_other) − lnm(cp·Nq + cq·Np)) in the
    * floor-6dp ln-micros idiom, summed exactly and divided once per
    * side (defined truncation). A source whose distribution equals the
    * corpus's scores EXACTLY 0 (every ratio is ln 1 = 0 before any
    * truncation).
    *
    * Scale: one token explode + (source, word) count (the corpus
    * stage); the margin grid is vocabulary × sources (sources a
    * bounded category set broadcast onto the vocabulary rollup —
    * Heaps-sublinear rows); scoring is per-row scalar math and the
    * output is one row per source.
    */
  def jsdSources(spark: SparkSession, dir: String): DataFrame = {
    def lnm(e: String) =
      s"CAST(FLOOR(LN(CAST($e AS DOUBLE)) * 1000000) AS BIGINT)"
    val cp = Tables(spark, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy("source", "w")
      .agg(count(lit(1)).cast("decimal(38,0)").as("cp"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    cp.count()
    val np = cp.groupBy("source").agg(sum("cp").as("np"))
    val cq = cp.groupBy("w").agg(sum("cp").as("cq"))
    val nq = cp.agg(sum("cp").as("nqv"))
    cq.crossJoin(broadcast(np))
      .join(cp, Seq("source", "w"), "left")
      .withColumn("cp0", coalesce(col("cp"), lit(0).cast("decimal(38,0)")))
      .crossJoin(broadcast(nq))
      .withColumn("tp", expr(
        s"""CASE WHEN cp0 > 0 THEN
             cp0 * (${lnm("2 * cp0 * nqv")} - ${lnm("cp0 * nqv + cq * np")})
           ELSE 0 END"""))
      .withColumn("tq", expr(
        s"cq * (${lnm("2 * cq * np")} - ${lnm("cp0 * nqv + cq * np")})"))
      .groupBy("source", "np", "nqv")
      .agg(sum("tp").as("sp"), sum("tq").as("sq"),
        sum(expr("CASE WHEN cp0 > 0 THEN 1 ELSE 0 END")).as("vocab"))
      .select(col("source"), col("np").cast("long").as("n_tokens"),
        col("vocab").cast("long").as("n_vocab"),
        (expr("(sp div np + sq div nqv) div 2") / 1e6).as("jsd"))
      .orderBy("source")
  }

  val jsdSourcesSql: String = {
    def lnm(e: String) =
      s"CAST(FLOOR(LN(CAST($e AS DOUBLE)) * 1000000) AS BIGINT)"
    s"""WITH cp AS MATERIALIZED (
       |  SELECT source, w, CAST(COUNT(*) AS HUGEINT) AS cp FROM (
       |    SELECT source, unnest(string_split(text, ' ')) AS w
       |    FROM documents)
       |  GROUP BY 1, 2),
       |np AS (SELECT source, SUM(cp) AS np FROM cp GROUP BY 1),
       |cq AS (SELECT w, SUM(cp) AS cq FROM cp GROUP BY 1),
       |nq AS (SELECT SUM(cp) AS nqv FROM cp),
       |g AS (
       |  SELECT np.source, np.np, cq.cq, nq.nqv,
       |    COALESCE(cp.cp, 0) AS cp0
       |  FROM cq CROSS JOIN np CROSS JOIN nq
       |  LEFT JOIN cp ON cp.source = np.source AND cp.w = cq.w),
       |t AS (
       |  SELECT source, np, nqv,
       |    CASE WHEN cp0 > 0 THEN
       |      cp0 * (${lnm("2 * cp0 * nqv")} - ${lnm("cp0 * nqv + cq * np")})
       |    ELSE 0 END AS tp,
       |    cq * (${lnm("2 * cq * np")} - ${lnm("cp0 * nqv + cq * np")})
       |      AS tq,
       |    CASE WHEN cp0 > 0 THEN 1 ELSE 0 END AS invocab
       |  FROM g)
       |SELECT source, CAST(np AS BIGINT) AS n_tokens,
       |  CAST(SUM(invocab) AS BIGINT) AS n_vocab,
       |  ((SUM(tp) // np + SUM(tq) // nqv) // 2) / 1e6 AS jsd
       |FROM t GROUP BY source, np, nqv
       |ORDER BY source""".stripMargin
  }

  def all: Seq[(String, ((SparkSession, String) => DataFrame, String))] =
    Seq(
      "rouge_pairs" -> ((rougePairs _, rougePairsSql)),
      "rake_keywords" -> ((rakeKeywords _, rakeKeywordsSql)),
      "ngram_llr" -> ((ngramLlr _, ngramLlrSql)),
      "jsd_sources" -> ((jsdSources _, jsdSourcesSql)))
}
