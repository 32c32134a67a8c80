package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication operators over `documents` / `embeddings` (SURVEY.md §2
  * ext tier). Scale notes per operator:
  *
  *  - exact: one hash-shuffle on the content hash — the canonical 100 TB
  *    dedup (map-side partial agg, AQE-coalesced).
  *  - minhash: per-doc signatures are a narrow projection; the LSH band
  *    bucket JOIN is an equi-join on (band, bucket) — candidate pairs only,
  *    never O(n²). Skew guard: enormous buckets mean enormous near-dup
  *    clusters; production adds a bucket-size cap.
  *  - simhash: narrow projection to a 60-bit signature (cross-engine
  *    md5-hex → int hash), Hamming-ball candidate join via prefix bands.
  *  - jaccard: candidate blocking on distinct-word-count (±2) as an
  *    equi-join over exploded size buckets, exact Jaccard verify after.
  *  - embedding: cosine near-dup with SRP-LSH band candidates (the
  *    [[SimilarityQueries]] hyperplane signature), exact-cosine verify —
  *    never a blocked self-join of the corpus.
  *
  * Cross-engine hashing: every hash is an md5 hex STRING — identical in
  * Spark and DuckDB, min/ordering lexicographic. xxhash64 would be faster
  * but is Spark-only; at 100 TB swap `md5(...)` for `xxhash64(...)` and
  * drop the oracle.
  */
object DedupQueries {

  /** THE canonical exact-content fingerprint — one definition shared by
    * every exact-dedup consumer (dedupExact, fpSig/DedupIndex,
    * dedupBloom). A Bloom probe's no-false-negative contract depends on
    * the probe and the indexed fp being the SAME expression; an inline copy that drifted (e.g. to
    * incorporate text_normalize) would silently pass true duplicates as
    * fresh.
    */
  private[graft] def contentFp(text: Column): Column = md5(lower(trim(text)))

  /** Exact dedup: group by content hash, keep the smallest doc_id
    * (deterministic first-wins, ≙ ref A3 with a defined order).
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "documents")
      .groupBy(contentFp(col("text")).as("content_fp"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_doc_id")
  }

  val dedupExactSql: String =
    """SELECT md5(lower(trim(text))) AS content_fp,
      |  MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY 1
      |ORDER BY keep_doc_id""".stripMargin

  /** MinHash signatures (k=8) over word 3-gram shingles + LSH banding
    * (4 bands × 2 rows): pairs sharing ≥1 band bucket, with the estimated
    * Jaccard (matching signature fraction).
    *
    * One md5 per shingle, then k affine rehashes `(a_i·h + b_i) mod p`
    * (classic universal-hash family) — 8× fewer digests than salting the
    * digest per hash function, and numeric mins instead of string mins.
    */
  private val K = 8
  private val P = 2147483647L // 2^31 − 1
  private def affine(i: Int): (Long, Long) = (2 * i + 3L, 104729L * (i + 1))

  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    minhashPairsCore(spark, dir).orderBy("doc_a", "doc_b")

  /** The MinHash signature pipeline over raw (doc_id, text) rows —
    * shared by [[minhashPairsCore]] and [[ClusterIndex]] so the
    * persisted band artifact and the from-scratch pair generation are
    * the same signatures by construction. Repartitions BEFORE the
    * signature stage: the parquet scan is 1–2 partitions and the
    * md5-per-shingle projection is the hot loop.
    */
  private[ext] def sigsOf(raw: DataFrame): DataFrame = {
    // native ShingleHashes: one pass over the word array per doc (the
    // HOF form paid an interpreted lambda + slice + concat + md5 hex
    // render PER SHINGLE); the DuckDB oracle keeps the spelled-out
    // idiom — bit-equal by Md5FnSpec/ShingleSpec
    raw
      .repartition(col("doc_id"))
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 3)
      .withColumn("hs", transform(
        graft.functions.ShingleHashes.shingle_hashes(col("words"), 3),
        h => h % 2147483647L))
      .withColumn("sig", graft.functions.MinhashSig.minhash_sig(col("hs"), K))
      .select("doc_id", "sig")
  }

  /** (doc_id, band, bucket) LSH keys of a signature frame — the row
    * layout [[ClusterIndex]] persists (4 rows/doc, two longs rendered
    * into the bucket string). Same band/bucket construction as the
    * inline explode in [[minhashPairsCore]].
    */
  private[ext] def bandedKeys(sigs: DataFrame): DataFrame = sigs
    .select(col("doc_id"),
      explode(expr(s"transform(sequence(0, ${K / 2 - 1}), " +
        "b -> struct(b AS band, concat(cast(sig[b*2] AS string), '|', cast(sig[b*2+1] AS string)) AS bucket))")).as("bb"))
    .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))

  /** The distinct candidate pairs without the presentation sort —
    * [[dedupClusters]] consumes these as graph edges.
    */
  private def minhashPairsCore(spark: SparkSession, dir: String): DataFrame = {
    val docs = sigsOf(Tables(spark, dir, "documents"))
    // ONE groupBy(band, bucket) shuffle gathers each bucket's members and
    // the pairs are generated inside the bucket — no self-join, so the
    // expensive md5-per-shingle signature pipeline above is computed
    // exactly once (a banded-vs-banded self-join plans the whole subtree
    // twice; ReuseExchange does NOT fire when one copy hides under a
    // BroadcastExchange, measured at 2× the bench cost).
    //
    // The size cap doubles as the LSH skew guard AND the memory bound for
    // collect_list: a bucket of n docs emits O(n²) pairs — one giant
    // near-dup cluster would quadratically dominate the whole job. Capped
    // buckets (>64 members, ≤2016 pairs) are dropped whole; max observed
    // bucket here is 11, so the cap is invisible at test scale and load-
    // bearing at 100 TB. (jaccard_pairs shows the complementary guard:
    // star-edge pairing that keeps big clusters at O(n).)
    docs.select(
      col("doc_id"), col("sig"),
      explode(expr(s"transform(sequence(0, ${K / 2 - 1}), " +
        "b -> struct(b AS band, concat(cast(sig[b*2] AS string), '|', cast(sig[b*2+1] AS string)) AS bucket))")).as("bb"))
      .groupBy(col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      // array_sort on struct<doc_id, sig> orders by doc_id, so i < j
      // combinations give doc_a < doc_b by construction
      .agg(expr("array_sort(collect_list(struct(doc_id, sig)))").as("ds"))
      .filter(size(col("ds")).between(2, 64))
      .select(explode(expr(
        """flatten(transform(ds, (a, i) ->
             transform(slice(ds, i + 2, size(ds)), b ->
               named_struct('doc_a', a.doc_id, 'doc_b', b.doc_id,
                 'est_jaccard',
                 cast(size(filter(sequence(0, 7), k -> a.sig[k] = b.sig[k])) AS double) / 8.0))))""")).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.est_jaccard").as("est_jaccard"))
      .distinct() // the same pair can collide in several bands
  }

  /** Shared CTE chain (docs → sigs → banded) for the minhash oracles
    * (also composed into the corpus-curation oracle). */
  private[ext] val minhashSqlCtes: String = {
    val sigs = (0 until K).map { i =>
      val (a, b) = affine(i)
      s"list_min(list_transform(hs, h -> ($a * h + $b) % $P))"
    }.mkString(", ")
    s"""docs AS (
      |  SELECT doc_id,
      |    list_transform(range(1, len(string_split(text, ' ')) - 1),
      |      i -> CAST(('0x' || substr(md5(array_to_string(string_split(text, ' ')[i:i+2], ' ')), 1, 15)) AS BIGINT) % $P) AS hs
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sigs AS (SELECT doc_id, [$sigs] AS sig FROM docs),
      |banded0 AS (
      |  SELECT doc_id, sig, b.band,
      |    CAST(sig[b.band*2 + 1] AS VARCHAR) || '|' || CAST(sig[b.band*2 + 2] AS VARCHAR) AS bucket
      |  FROM sigs CROSS JOIN (SELECT unnest(range(0, ${K / 2})) AS band) b),
      |banded AS (
      |  SELECT * FROM (SELECT doc_id, sig, band, bucket,
      |    COUNT(*) OVER (PARTITION BY band, bucket) AS bsz FROM banded0)
      |  WHERE bsz <= 64)""".stripMargin
  }

  val minhashPairsSql: String =
    s"""WITH $minhashSqlCtes
      |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  len(list_filter(range(1, ${K + 1}), i -> a.sig[i] = b.sig[i])) / 8.0 AS est_jaccard
      |FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
      |  AND a.doc_id < b.doc_id
      |ORDER BY doc_a, doc_b""".stripMargin

  /** DEDUP-QUALITY EVALUATION — candidate precision/recall of the LSH
    * banding against EXACT-duplicate ground truth (identical text →
    * identical md5): the dedup sibling of
    * [[SimilarityQueries.annRecallReport]]. Recall measures what the
    * pipeline's own guards cost — a dropped capped bucket or a <3-word
    * doc outside the shingle pipeline turns an exact-dup pair into a
    * miss, which is exactly the number an operator running the 64-cap
    * at 100 TB needs to watch; precision measures banding selectivity
    * (an exact-dup candidate is trivially correct; the rest are
    * near-dup candidates scored 0 here by construction).
    *
    * Scale: truth-pair COUNTS come off the md5 group sizes
    * (Σ g(g−1)/2 — no truth pair is ever materialized); the candidate
    * side is the shared capped banding (never all-pairs); the hit test
    * is two doc_id equi-joins on the candidate stream.
    */
  def dedupEval(spark: SparkSession, dir: String): DataFrame = {
    val hashes = Tables(spark, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("h"))
    val truth = hashes.groupBy("h")
      .agg(count(lit(1)).cast("decimal(38,0)").as("g"))
      .agg(sum(expr("g * (g - 1) div 2").cast("decimal(38,0)"))
        .as("n_truth"))
    minhashPairsCore(spark, dir)
      .join(hashes.select(col("doc_id").as("doc_a"), col("h").as("ha")),
        Seq("doc_a"))
      .join(hashes.select(col("doc_id").as("doc_b"), col("h").as("hb")),
        Seq("doc_b"))
      .agg(count(lit(1)).as("n_pred"),
        sum(when(col("ha") === col("hb"), 1L).otherwise(0L)).as("n_hit"))
      .crossJoin(broadcast(truth))
      .select(col("n_pred"), col("n_hit"),
        col("n_truth").cast("long").as("n_truth"),
        (expr("n_hit * 1000000 div greatest(n_pred, 1)") / 1e6)
          .as("precision"),
        (expr("n_hit * 1000000 div greatest(n_truth, 1)") / 1e6)
          .as("recall"))
  }

  val dedupEvalSql: String =
    s"""WITH $minhashSqlCtes,
      |pred AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM banded a JOIN banded b ON a.band = b.band
      |    AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
      |h AS (SELECT doc_id, md5(text) AS h FROM documents),
      |tt AS (
      |  SELECT CAST(SUM(g * (g - 1) // 2) AS HUGEINT) AS n_truth
      |  FROM (SELECT CAST(COUNT(*) AS HUGEINT) AS g FROM h GROUP BY h)),
      |hits AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pred,
      |    CAST(SUM(CASE WHEN ha.h = hb.h THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_hit
      |  FROM pred
      |  JOIN h ha ON ha.doc_id = pred.doc_a
      |  JOIN h hb ON hb.doc_id = pred.doc_b)
      |SELECT n_pred, n_hit, CAST(n_truth AS BIGINT) AS n_truth,
      |  (n_hit * 1000000 // GREATEST(n_pred, 1)) / 1e6 AS precision,
      |  (n_hit * 1000000 // GREATEST(n_truth, 1)) / 1e6 AS recall
      |FROM hits CROSS JOIN tt""".stripMargin

  /** FELLEGI–SUNTER record-linkage scoring (JASA 1969) — the
    * probabilistic-ER decision model over the LSH-blocked candidate
    * pairs: each pair gets an AGREEMENT PATTERN over five comparison
    * fields (language, source, length band, 20-char prefix, MinHash
    * Jaccard ≥ ½) and the pattern's log-odds score Σ log₂(m/u) with
    * per-field match/unmatch probabilities. The output is the classic
    * FS readout: the agreement-pattern HISTOGRAM with its score and
    * the match / possible / non-match decision per pattern — ≤ 2⁵
    * rows whatever the corpus size. The m/u weights are fixed model
    * constants (in production they come from EM or labeled pairs), so
    * every score is an exact integer-micros sum; nothing here floats.
    *
    * Scale: candidates come from the shared banded-bucket pipeline
    * (bucket cap 64 — never all-pairs); the two feature lookups are
    * doc_id equi-joins; the histogram is a bounded aggregation.
    */
  def fsLinkage(spark: SparkSession, dir: String): DataFrame = {
    val feats = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        expr("CAST(FLOOR(n_chars / 100) AS BIGINT)").as("lenband"),
        substring(col("text"), 1, 20).as("prefix"))
    val pairs = minhashPairsCore(spark, dir)
    val scored = pairs
      .join(feats.select(col("doc_id").as("doc_a"), col("lang").as("la"),
        col("source").as("sa"), col("lenband").as("ba"),
        col("prefix").as("pa")), Seq("doc_a"))
      .join(feats.select(col("doc_id").as("doc_b"), col("lang").as("lb"),
        col("source").as("sb"), col("lenband").as("bb"),
        col("prefix").as("pb")), Seq("doc_b"))
      .select(
        when(col("la") === col("lb"), 1L).otherwise(0L).as("g1"),
        when(col("sa") === col("sb"), 1L).otherwise(0L).as("g2"),
        when(col("ba") === col("bb"), 1L).otherwise(0L).as("g3"),
        when(col("pa") === col("pb"), 1L).otherwise(0L).as("g4"),
        when(col("est_jaccard") >= 0.5, 1L).otherwise(0L).as("g5"))
      // log₂(m/u) agreement / log₂((1−m)/(1−u)) disagreement weights,
      // floor-6dp micros of the fixed model constants:
      //   lang (.95/.40), source (.90/.25), lenband (.85/.10),
      //   prefix (.80/.05), jaccard≥½ (.80/.20)
      .withColumn("score_micros",
        expr("""CASE WHEN g1 = 1 THEN 1247927 ELSE -3584963 END +
                CASE WHEN g2 = 1 THEN 1847996 ELSE -2906891 END +
                CASE WHEN g3 = 1 THEN 3087462 ELSE -2584963 END +
                CASE WHEN g4 = 1 THEN 4000000 ELSE -2247928 END +
                CASE WHEN g5 = 1 THEN 2000000 ELSE -1584963 END"""))
    scored
      .groupBy(concat(col("g1"), col("g2"), col("g3"), col("g4"),
        col("g5")).as("pattern"), col("score_micros"))
      .agg(count(lit(1)).as("n_pairs"))
      .select(col("pattern"), col("n_pairs"),
        (col("score_micros") / 1e6).as("score"),
        expr("""CASE WHEN score_micros >= 4000000 THEN 'match'
                WHEN score_micros >= 0 THEN 'possible'
                ELSE 'non_match' END""").as("decision"))
      .orderBy(desc("score"), asc("pattern"))
  }

  val fsLinkageSql: String =
    s"""WITH $minhashSqlCtes,
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    len(list_filter(range(1, ${K + 1}), i -> a.sig[i] = b.sig[i])) / 8.0
      |      AS est_jaccard
      |  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
      |    AND a.doc_id < b.doc_id),
      |f AS (
      |  SELECT doc_id, lang, source,
      |    CAST(FLOOR(n_chars / 100) AS BIGINT) AS lenband,
      |    substr(text, 1, 20) AS prefix
      |  FROM documents),
      |g AS (
      |  SELECT
      |    CASE WHEN fa.lang = fb.lang THEN 1 ELSE 0 END AS g1,
      |    CASE WHEN fa.source = fb.source THEN 1 ELSE 0 END AS g2,
      |    CASE WHEN fa.lenband = fb.lenband THEN 1 ELSE 0 END AS g3,
      |    CASE WHEN fa.prefix = fb.prefix THEN 1 ELSE 0 END AS g4,
      |    CASE WHEN p.est_jaccard >= 0.5 THEN 1 ELSE 0 END AS g5
      |  FROM pairs p
      |  JOIN f fa ON fa.doc_id = p.doc_a
      |  JOIN f fb ON fb.doc_id = p.doc_b),
      |s AS (
      |  SELECT *,
      |    (CASE WHEN g1 = 1 THEN 1247927 ELSE -3584963 END +
      |     CASE WHEN g2 = 1 THEN 1847996 ELSE -2906891 END +
      |     CASE WHEN g3 = 1 THEN 3087462 ELSE -2584963 END +
      |     CASE WHEN g4 = 1 THEN 4000000 ELSE -2247928 END +
      |     CASE WHEN g5 = 1 THEN 2000000 ELSE -1584963 END) AS score_micros
      |  FROM g)
      |SELECT CAST(g1 AS VARCHAR) || CAST(g2 AS VARCHAR) ||
      |    CAST(g3 AS VARCHAR) || CAST(g4 AS VARCHAR) ||
      |    CAST(g5 AS VARCHAR) AS pattern,
      |  COUNT(*) AS n_pairs,
      |  score_micros / 1e6 AS score,
      |  CASE WHEN score_micros >= 4000000 THEN 'match'
      |  WHEN score_micros >= 0 THEN 'possible'
      |  ELSE 'non_match' END AS decision
      |FROM s
      |GROUP BY g1, g2, g3, g4, g5, score_micros
      |ORDER BY score DESC, pattern""".stripMargin

  /** Near-dup CLUSTERS: connected components over the LSH candidate-pair
    * graph — the union-find step that turns pairs into dedup decisions
    * (keep cluster_id, drop the rest). Distributed min-label propagation:
    * every node starts labelled with itself; each round every node takes
    * the min label among itself and its neighbours; fixpoint when the
    * label sum stops falling (labels are monotone non-increasing, so the
    * sum is a correct and cheap convergence test — no per-row diff join).
    *
    * 100 TB shape: rounds = graph diameter, and the star-edge candidate
    * generation keeps components star-like (diameter ≤ ~2×bands), so the
    * loop converges in a handful of label-shuffles regardless of corpus
    * size — the same reason Kiveris et al.'s large-star/small-star CC
    * terminates fast on short graphs. Labels are (id, lab) longs only.
    *
    * Every round's labels are EAGERLY localCheckpoint'ed, and the edge set
    * once up front: an iterative loop that merely persists leaves the
    * LOGICAL plan growing ~3× per round (persist substitutes the cache at
    * physical planning, but analysis still walks the whole accumulated
    * tree — measured 7s of pure Catalyst time by round 4 on a 1k-row label
    * table). Checkpointing makes each round's plan a leaf; previous
    * rounds' blocks are released immediately via [[graft.SparkUtil]].
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    ccLabels(minhashPairsCore(spark, dir).select("doc_a", "doc_b"))
      .orderBy("doc_id")

  /** The label-propagation loop alone, over any (doc_a, doc_b) edge
    * frame — shared by [[dedupClusters]] (edges = the full LSH candidate
    * pairs) and [[ClusterIndex.append]] (edges = the delta pairs plus
    * the touched clusters' star edges), so incremental maintenance runs
    * the SAME fixpoint as the oracle-gated from-scratch form. Returns
    * (doc_id, cluster_id) unsorted; docs with no edge are absent.
    */
  private[ext] def ccLabels(pairsIn: DataFrame): DataFrame = {
    // checkpoint the pairs BEFORE mirroring them: both union branches
    // below read the pair set, and an un-materialized subtree would run
    // the whole signature pipeline once per branch. The mirrored union
    // over the leaf is narrow (no shuffle), so edges needs no checkpoint
    // of its own. Checkpoints are LAZY: the label-sum action below forces
    // pairs AND the initial labels in ONE job (an eager checkpoint would
    // be its own job — two jobs per round instead of one).
    val pairs = pairsIn.localCheckpoint(false)
    val edges = pairs
      .union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst")
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lab", col("id"))
      .localCheckpoint(false)
    // coalesce: sum over an EMPTY label set is null (no candidate pairs
    // at all — every doc unique or every bucket capped), and the loop
    // must return an empty cluster set, not NPE. One job returns both the
    // convergence sum and the exact label count (the broadcast decider).
    def labelStats(df: DataFrame): (Long, Long) = {
      val r = df.agg(coalesce(sum("lab"), lit(0L)), count(lit(1))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    var (labSum, nLabels) = labelStats(labels)
    def hinted(df: DataFrame): DataFrame =
      if (nLabels <= graft.SparkUtil.BroadcastRowLimit) broadcast(df) else df
    var converged = false
    while (!converged) {
      // two hops per round, both against the previous round's CHECKPOINT
      // (a self-join on the un-materialized neighbor-min would compute
      // that subtree twice — the duplicate-subplan trap minhashPairs
      // had): lab'(x) = lab_old(min over closed neighborhood of lab_old).
      // Every label is itself a node id of the same component, so the
      // composition join always hits and stays within the component;
      // monotone because lab_old(y) <= y.
      val next = edges
        .join(hinted(labels.withColumnRenamed("id", "src")), Seq("src"))
        .select(col("dst").as("id"), col("lab"))
        .union(labels)
        .groupBy("id").agg(min("lab").as("lab1"))
        .join(hinted(labels.select(col("id").as("lab1"), col("lab").as("lab2"))), Seq("lab1"))
        .select(col("id"), col("lab2").as("lab"))
        .localCheckpoint(false) // forced by the stats — one job per round
      val (nextSum, nextN) = labelStats(next)
      graft.SparkUtil.release(labels)
      labels = next
      converged = nextSum == labSum
      labSum = nextSum
      nLabels = nextN
    }
    graft.SparkUtil.release(pairs)
    labels.select(col("id").as("doc_id"), col("lab").as("cluster_id"))
  }

  /** Leakage-safe train/valid/test split: fold assignment keyed by the
    * near-dup CLUSTER representative, not the document — near-duplicate
    * documents land in the SAME fold by construction, so eval can't be
    * contaminated by a training doc's near-copy (the classic benchmark
    * leak `train_test_split`'s per-doc hash cannot prevent; cf. the
    * Lee et al. dedup paper's test-set overlap findings). Docs outside
    * any cluster are their own representative. Fold = md5 hash bucket
    * of the rep (8/1/1) — deterministic, replayed exactly by the
    * oracle's recursive-CTE CC + the same bucket arithmetic.
    */
  def splitLeakageSafe(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents").select("doc_id")
    // assignments come from the PERSISTED index (one CC fixpoint per
    // session, shared with corpus_curation), not an inline recompute —
    // at 100 TB the fixpoint is the most expensive dedup stage and fold
    // assignment must not pay it again
    val reps = ClusterIndex.forCorpus(spark, dir)
    docs.join(reps, Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("bucket", expr(
        "cast(conv(substring(md5(concat('split:', cast(rep AS string))), 1, 15), 16, 10) AS bigint) % 10"))
      .withColumn("fold",
        when(col("bucket") < 8, "train")
          .when(col("bucket") === 8, "valid")
          .otherwise("test"))
      .select("doc_id", "rep", "fold")
      .orderBy("doc_id")
  }

  // lazy: declared above ccSqlCtes in the file — a strict val would
  // interpolate null at object init (the CTE chain lives below for
  // narrative order next to the cluster definition it wraps)
  lazy val splitLeakageSafeSql: String =
    s"""WITH RECURSIVE $ccSqlCtes,
      |assigned AS (
      |  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS rep
      |  FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id),
      |bucketed AS (
      |  SELECT doc_id, rep,
      |    CAST(('0x' || substr(md5('split:' || CAST(rep AS VARCHAR)), 1, 15))
      |      AS BIGINT) % 10 AS bucket
      |  FROM assigned)
      |SELECT doc_id, rep,
      |  CASE WHEN bucket < 8 THEN 'train'
      |       WHEN bucket = 8 THEN 'valid'
      |       ELSE 'test' END AS fold
      |FROM bucketed
      |ORDER BY doc_id""".stripMargin

  /** Connected-components-over-LSH-candidates CTE chain ending in
    * `clusters(doc_id, cluster_id)` — shared by the dedup_clusters and
    * corpus_curation oracles so the cluster definition cannot drift.
    */
  private[ext] val ccSqlCtes: String =
    s"""$minhashSqlCtes,
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
      |    AND a.doc_id < b.doc_id),
      |und AS (
      |  SELECT doc_a AS s, doc_b AS t FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(s, t) AS (
      |  SELECT s, t FROM und
      |  UNION
      |  SELECT r.s, u.t FROM reach r JOIN und u ON r.t = u.s),
      |clusters AS (
      |  SELECT s AS doc_id, LEAST(s, MIN(t)) AS cluster_id
      |  FROM reach GROUP BY s)""".stripMargin

  val dedupClustersSql: String =
    s"""WITH RECURSIVE $ccSqlCtes
      |SELECT doc_id, cluster_id FROM clusters
      |ORDER BY doc_id""".stripMargin

  /** SimHash: 60-bit signature per document (bitwise majority vote over
    * per-word 60-bit hashes, words with multiplicity). The signature
    * projection is shared with [[simhashPairs]].
    *
    * Written as ONE nested expression where every expensive subtree (the
    * md5-per-word array, the vote fold) appears only as an ARRAY ARGUMENT
    * — evaluated once — never referenced from inside an N-invocation
    * lambda. The previous hs → bits → simhash60 column chain had each
    * column referenced exactly once, so CollapseProject inlined the whole
    * pipeline and `bits[i]` inside the final fold re-evaluated the full
    * md5 pipeline per bit: ~360k md5/row, ~180 s for 500 docs (bench's
    * `count()` prunes projections, so only Verify's write exposed it).
    * Single-pass form: one md5 per word, one 60-wide vote fold, linear.
    */
  private def simhashSigs(spark: SparkSession, dir: String): DataFrame = {
    // native codegen'd expression (graft.functions.SimHash60): one md5 +
    // one fused vote loop per word inside whole-stage codegen. The HOF
    // formulation (kept verbatim in the DuckDB oracle) evaluates one
    // interpreted lambda per word per bit — ~10× slower, and an earlier
    // variant tripped the CollapseProject single-reference trap (see
    // graft memory / commit f617c62). repartition first: the local scan
    // is 1–2 partitions and the hash loop is the hot path; on a cluster
    // the scan is already wide and this is a cheap narrow shuffle.
    Tables(spark, dir, "documents")
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        graft.functions.SimHash60.simhash60(col("text")).as("simhash60"))
  }

  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashSigs(spark, dir).orderBy("doc_id")

  /** Shared CTE chain producing `sh(doc_id, simhash60)` for the simhash
    * oracles. */
  private[ext] val simhashSqlCtes: String =
    """h AS (
      |  SELECT doc_id,
      |    list_transform(string_split(text, ' '),
      |      w -> CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT)) AS hs
      |  FROM documents),
      |b AS (
      |  SELECT doc_id,
      |    list_transform(range(0, 60), i ->
      |      CASE WHEN list_sum(list_transform(hs, h -> ((h >> i) & 1) * 2 - 1)) > 0
      |      THEN 1 ELSE 0 END) AS bits
      |  FROM h),
      |sh AS (
      |  SELECT doc_id,
      |    CAST(list_sum(list_transform(range(0, 60),
      |      i -> bits[i + 1] * (CAST(1 AS BIGINT) << i))) AS BIGINT) AS simhash60
      |  FROM b)""".stripMargin

  val simhashSql: String =
    s"""WITH $simhashSqlCtes
      |SELECT doc_id, simhash60 FROM sh
      |ORDER BY doc_id""".stripMargin

  /** SimHash near-dup pairs: Hamming distance ≤ 3 over the 60-bit
    * signatures. Candidates come from banding by PIGEONHOLE: split the 60
    * bits into 4 bands of 15 — any two signatures within Hamming 3 agree
    * exactly on at least one band, so CANDIDATE recall is 1.0 by
    * construction (unlike MinHash banding's probabilistic recall). Within
    * a bucket each member then pairs only with the bucket representative
    * (the [[jaccardPairs]] star-edge guard): exact-duplicate clusters
    * share whole signatures, so an all-pairs bucket join would be
    * quadratic in the largest cluster — star edges keep it linear. The
    * EMITTED pairs are therefore union-find edges, not an exhaustive
    * enumeration: a qualifying pair whose shared bucket has a distant
    * representative yields two failing representative edges instead (the
    * same documented tradeoff as [[jaccardPairs]]; exhaustive needs the
    * minhash collect_list+cap form). The verify is one xor+popcount per
    * candidate — cheap enough that no explode-fusing is needed.
    */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // persist: the signature projection (md5 per word) feeds banding AND
    // both verify joins — same 3×-recompute trap jaccardPairs had.
    // (doc_id, long) is as narrow as a cache gets.
    val sigs = simhashSigs(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sigs.count()
    val banded = sigs.select(col("doc_id"),
      explode(expr("transform(sequence(0, 3), " +
        "b -> struct(b AS band, shiftright(simhash60, b * 15) & 32767 AS key))")).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.key"))
    val cand = banded
      .withColumn("doc_a", min(col("doc_id"))
        .over(Window.partitionBy(col("band"), col("key"))))
      .select(col("doc_a"), col("doc_id").as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .distinct()
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("simhash60").as("sig_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("simhash60").as("sig_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("cast(bit_count(sig_a ^ sig_b) AS int)").as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy("doc_a", "doc_b")
  }

  val simhashPairsSql: String =
    s"""WITH $simhashSqlCtes,
      |banded AS (
      |  SELECT doc_id, bd.band,
      |    (simhash60 >> (bd.band * 15)) & 32767 AS key
      |  FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bd),
      |star AS (
      |  SELECT MIN(doc_id) OVER (PARTITION BY band, key) AS doc_a,
      |    doc_id AS doc_b
      |  FROM banded),
      |cand AS (SELECT DISTINCT doc_a, doc_b FROM star WHERE doc_a < doc_b)
      |SELECT c.doc_a, c.doc_b,
      |  CAST(bit_count(xor(a.simhash60, b.simhash60)) AS INT) AS hamming
      |FROM cand c
      |JOIN sh a ON a.doc_id = c.doc_a
      |JOIN sh b ON b.doc_id = c.doc_b
      |WHERE bit_count(xor(a.simhash60, b.simhash60)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Word-set Jaccard near-dup pairs (threshold 0.8): MinHash band
    * buckets generate the candidates, an exact word-set Jaccard verifies
    * them. This is the 100 TB shape, in two respects:
    *
    *  - candidates come from LSH band buckets, never from an all-pairs or
    *    size-blocked join (a variant blocked on word-count ±2: ~90
    *    distinct bucket values → O(n²/90) candidates, quadratic in corpus
    *    size);
    *  - WITHIN a bucket, each member pairs only with the bucket
    *    REPRESENTATIVE (min doc_id) — star edges, O(bucket) not
    *    O(bucket²). This testdata is the cautionary tale: one near-dup
    *    cluster holds ~63% of the corpus, so all-pairs banding emits
    *    ~2.9M verified pairs (~2 min in BOTH Spark and DuckDB, measured);
    *    star edges emit ~4k in ~2 s. Union-find over star edges across
    *    bands still recovers the dedup clusters, which is what pairs are
    *    for; members similar to the cluster but not to its representative
    *    are the documented recall tradeoff, on top of banding recall
    *    1 − (1 − 0.8²)⁴ ≈ 0.983 at J = 0.8.
    *
    * MinHash here runs over the WORD set itself (not 3-gram shingles as
    * in [[minhashPairs]]) so band-collision probability tracks the word
    * Jaccard being verified. The oracle replays the identical candidate
    * generation, so the gate stays exact.
    */
  def jaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // words → 60-bit hashes: long-array intersections are ~an order of
    // magnitude cheaper than string-array ones, and the md5-based hash is
    // engine-portable so the oracle sees identical sets (a collision
    // would merge the same words in both engines — result still equal)
    // persist: `docs` feeds three plan branches (the sketch/banding
    // pipeline and both verify joins) — without it the scan + md5-per-word
    // projection is computed 3×, linear waste in corpus size. The eager
    // count materializes the cache in one deterministic pass before the
    // three reader stages race; (doc_id, array<long>) is narrow, and
    // MEMORY_AND_DISK spills rather than OOMs at scale. Bench/Verify
    // release it via clearCache after the query.
    val docs = Tables(spark, dir, "documents")
      .repartition(col("doc_id"))
      .select(col("doc_id"), graft.functions.ShingleHashes.shingle_hashes(
        split(col("text"), " "), 1, distinct = true).as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs.count()
    val sketch = docs
      .withColumn("hs", expr(s"transform(w, h -> h % $P)"))
      .withColumn("sig", graft.functions.MinhashSig.minhash_sig(col("hs"), K))
    val banded = sketch.select(col("doc_id"),
      explode(expr(s"transform(sequence(0, ${K / 2 - 1}), " +
        "b -> struct(b AS band, concat(cast(sig[b*2] AS string), '|', cast(sig[b*2+1] AS string)) AS bucket))")).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
    // star edges: min-per-bucket window (one shuffle on the
    // high-cardinality bucket key), then dedup pairs across bands BEFORE
    // the array-verify so each pair is verified once; two hash joins pull
    // the word sets back in (doc-id keys — skew-safe).
    val cand = banded
      .withColumn("doc_a", min(col("doc_id"))
        .over(Window.partitionBy(col("band"), col("bucket"))))
      .select(col("doc_a"), col("doc_id").as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .distinct()
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("w").as("w_a")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("w").as("w_b")), Seq("doc_b"))
      // |A∪B| = |A| + |B| − |A∩B|: one array op per pair, not two.
      // The threshold filter is fused into a generator (explode of a 0/1-
      // element array): a plain .filter(jaccard >= 0.8) would be pushed
      // below the projection and re-evaluate array_intersect per row.
      .withColumn("ni", size(array_intersect(col("w_a"), col("w_b"))))
      .select(col("doc_a"), col("doc_b"),
        explode(expr(
          """filter(array(round(cast(ni AS double) / (size(w_a) + size(w_b) - ni), 6)),
               j -> j >= 0.8)""")).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  val jaccardPairsSql: String = {
    val sigs = (0 until K).map { i =>
      val (a, b) = affine(i)
      s"list_min(list_transform(hs, h -> ($a * h + $b) % $P))"
    }.mkString(", ")
    s"""WITH d AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(string_split(text, ' '),
      |      w -> CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT))) AS w
      |  FROM documents),
      |sigs AS (
      |  SELECT doc_id, [$sigs] AS sig
      |  FROM (SELECT doc_id, list_transform(w, h -> h % $P) AS hs FROM d)),
      |banded AS (
      |  SELECT doc_id, b.band,
      |    CAST(sig[b.band*2 + 1] AS VARCHAR) || '|' || CAST(sig[b.band*2 + 2] AS VARCHAR) AS bucket
      |  FROM sigs CROSS JOIN (SELECT unnest(range(0, ${K / 2})) AS band) b),
      |star AS (
      |  SELECT MIN(doc_id) OVER (PARTITION BY band, bucket) AS doc_a,
      |    doc_id AS doc_b
      |  FROM banded),
      |cand AS (SELECT DISTINCT doc_a, doc_b FROM star WHERE doc_a < doc_b),
      |p AS (
      |  SELECT doc_a, doc_b, len(list_intersect(da.w, db.w)) AS ni,
      |    len(da.w) AS nw_a, len(db.w) AS nw_b
      |  FROM cand
      |  JOIN d da ON da.doc_id = cand.doc_a
      |  JOIN d db ON db.doc_id = cand.doc_b)
      |SELECT doc_a, doc_b,
      |  ROUND(CAST(ni AS DOUBLE) / (nw_a + nw_b - ni), 6) AS jaccard
      |FROM p
      |WHERE ROUND(CAST(ni AS DOUBLE) / (nw_a + nw_b - ni), 6) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Embedding cosine near-dup pairs, threshold 0.35 (data-dependent demo
    * knob; max pairwise cosine in the synthetic set is ~0.44).
    *
    * Candidates come from SRP-LSH banding (the 16 deterministic
    * hyperplanes of [[SimilarityQueries.embedLshPairs]], 4 bands × 4
    * bits), with EXHAUSTIVE in-bucket pairing under the minhash-style
    * bucket cap (≤64 members ⇒ ≤2016 pairs per bucket) — this operator
    * emits every colliding pair with its exact cosine, where
    * `embed_lsh_pairs` emits only star edges for union-find connectivity.
    * Exact cosine ≥ 0.35 verifies each candidate.
    *
    * 100 TB shape: ONE corpus scan into a persisted (vec_id, v, sig)
    * projection, one groupBy(band, key) shuffle for candidates, verify
    * joins back on vec_id — never an all-pairs or blocked self-join of
    * the corpus. (An earlier form blocked on the 10-value `label` column
    * and broadcast the whole corpus side: O(n²/cells) compare volume and
    * an unbounded broadcast — kept as a spec fixture in EmbedDupSpec to
    * document recall, never registered.)
    */
  def embedDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .repartition(col("vec_id"))
      .withColumn("sig", expr(SimilarityQueries.srpSigExprSql))
      .select("vec_id", "v", "sig")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    e.count()
    val cand = e.select(col("vec_id"),
        explode(expr("transform(sequence(0, 3), " +
          "b -> struct(b AS band, shiftright(sig, b * 4) & 15 AS key))")).as("bb"))
      .groupBy(col("bb.band").as("band"), col("bb.key").as("key"))
      .agg(expr("array_sort(collect_list(vec_id))").as("vs"))
      .filter(size(col("vs")).between(2, 64))
      .select(explode(expr(
        """flatten(transform(vs, (a, i) ->
             transform(slice(vs, i + 2, size(vs)), b ->
               named_struct('vec_a', a, 'vec_b', b))))""")).as("p"))
      .select(col("p.vec_a").as("vec_a"), col("p.vec_b").as("vec_b"))
      .distinct() // the same pair can collide in several bands
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("v").as("v_a")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("v").as("v_b")), Seq("vec_b"))
      // explode-fused threshold: keeps the cosine evaluated once per pair
      // (a pushed-down filter would compute it twice; see jaccardPairs)
      .withColumn("cos0", SimilarityQueries.cosineExpr("v_a", "v_b"))
      .select(col("vec_a"), col("vec_b"),
        explode(expr("filter(array(round(cos0, 6)), c -> c >= 0.35)")).as("cos"))
      .orderBy("vec_a", "vec_b")
  }

  // srpSigSqlCtes is pre-stripped — concatenate (see embedLshPairsSql note)
  val embedDupPairsSql: String =
    s"WITH ${SimilarityQueries.srpSigSqlCtes},\n" +
    s"""banded0 AS (
      |  SELECT vec_id, b.band, (sig >> (b.band * 4)) & 15 AS key
      |  FROM sg CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b),
      |banded AS (
      |  SELECT * FROM (SELECT vec_id, band, key,
      |    COUNT(*) OVER (PARTITION BY band, key) AS bsz FROM banded0)
      |  WHERE bsz BETWEEN 2 AND 64),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)
      |SELECT c.vec_a, c.vec_b,
      |  ROUND(list_cosine_similarity(ea.v, eb.v), 6) AS cos
      |FROM cand c
      |JOIN e ea ON ea.vec_id = c.vec_a
      |JOIN e eb ON eb.vec_id = c.vec_b
      |WHERE ROUND(list_cosine_similarity(ea.v, eb.v), 6) >= 0.35
      |ORDER BY vec_a, vec_b""".stripMargin

  /** SemDeDup (Abbas et al., arXiv:2303.09540): semantic dedup via
    * embedding clustering + within-cluster cosine pruning — the dedup
    * modality that catches paraphrases and re-renderings exact/minhash/
    * simhash all miss, because it compares meaning vectors, not surface
    * n-grams.
    *
    * Stages: (1) every vector joins its nearest of 16 deterministic
    * centroids via [[SimilarityQueries.assignCellStruct]] — a pure
    * projection, zero shuffles over the corpus (production swaps
    * k-means centroids, same dataflow); (2) within each cell, rank
    * members by centroid-similarity ASC (the paper keeps the
    * LOW-similarity example of a duplicate group — cluster-atypical
    * points carry the most information) and drop any member whose cosine
    * to an EARLIER-ranked member is ≥ eps. The drop rule is the paper's:
    * near ANY earlier point, kept or not — a plain rank-ordered
    * exists-join, no iterative union-find needed.
    *
    * 100 TB shape: ONE exchange on `cell` serves both the rank window and
    * the within-cell pair join (the persisted ranked projection is read
    * twice with identical partitioning). Per-cell pairwise compare is
    * O(c²) in cell size — bounded, because nlist grows WITH the corpus
    * (the paper runs 50k clusters for 100M points, keeping cells in the
    * low thousands); an oversized cell would get the minhash bucket cap.
    */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = SimilarityQueries.vecs(spark, dir)
    // eps is a data-dependent demo knob, like embedDupPairs' threshold
    semDedupCore(base, SimilarityQueries.centroidLit(base, 16), eps = 0.35)
  }

  /** The assignment→rank→prune pipeline over any `(vec_id, v)` base and
    * centroid set — SemDedupSpec drives it with crafted fixtures (the
    * chain fixture that pins the near-ANY-earlier drop rule) and with
    * spark.ml-trained KMeans centroids (the production path).
    */
  private[ext] def semDedupCore(base: DataFrame, cents: Seq[(Long, Seq[Double])],
      eps: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = base
      .withColumn("bc",
        SimilarityQueries.assignCellStruct(base.sparkSession, cents, col("v")))
      .select(col("vec_id"), col("v"),
        col("bc.cell").as("cell"), col("bc.best").as("cent_sim"))
    val ranked = assigned
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("cell")).orderBy(asc("cent_sim"), asc("vec_id"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ranked.count()
    val dropped = ranked.select(col("vec_id"), col("cell"),
        col("rnk").as("rnk_b"), col("v").as("v_b"))
      .join(ranked.select(col("cell"), col("rnk").as("rnk_a"), col("v").as("v_a")),
        Seq("cell"))
      .filter(col("rnk_a") < col("rnk_b"))
      .filter(round(SimilarityQueries.cosineExpr("v_a", "v_b"), 6) >= eps)
      .select(col("vec_id")).distinct()
    ranked
      .join(dropped.withColumn("hit", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("cent_sim"),
        when(col("hit").isNotNull, lit(0)).otherwise(lit(1)).as("keep"))
      .orderBy("vec_id")
  }

  val semDedupSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
      |assigned AS (
      |  SELECT vec_id, v, cell, cs FROM (
      |    SELECT e.vec_id, e.v, c.cent_id AS cell,
      |      COALESCE(ROUND(list_cosine_similarity(c.cv, e.v), 6), -2.0) AS cs,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY COALESCE(ROUND(list_cosine_similarity(c.cv, e.v), 6), -2.0) DESC,
      |          c.cent_id) AS arn
      |    FROM e CROSS JOIN c)
      |  WHERE arn = 1),
      |ranked AS (
      |  SELECT vec_id, v, cell, cs,
      |    ROW_NUMBER() OVER (PARTITION BY cell ORDER BY cs ASC, vec_id) AS rnk
      |  FROM assigned),
      |dropped AS (
      |  SELECT DISTINCT b.vec_id
      |  FROM ranked a JOIN ranked b ON a.cell = b.cell AND a.rnk < b.rnk
      |  WHERE COALESCE(ROUND(list_cosine_similarity(a.v, b.v), 6), -2.0) >= 0.35)
      |SELECT r.vec_id, r.cell, r.cs AS cent_sim,
      |  CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS keep
      |FROM ranked r LEFT JOIN dropped d ON d.vec_id = r.vec_id
      |ORDER BY r.vec_id""".stripMargin

  /** Span-level exact-substring dedup (the Lee et al. "Deduplicating
    * Training Data" modality): per document, how many of its distinct
    * word 5-gram spans also occur in ANOTHER document. Doc-level dedup
    * misses templated boilerplate shared across otherwise-distinct pages;
    * this finds it at span granularity.
    *
    * Scale shape: a LINEAR two-shuffle pipeline, never a self-join of the
    * corpus against itself. Shingles are distinct per doc, so a plain
    * `count(*)` window over the span hash IS the cross-doc occurrence
    * count — one shuffle on the hash annotates every span with it, one
    * more on doc_id folds spans back into per-doc totals. No persist, no
    * join-backs: each shingle is hashed exactly once and flows straight
    * through. (A collect_list-per-hash formulation would bound-break on
    * boilerplate spans shared by millions of docs; the window count is
    * O(1) state per row.)
    */
  def dupSpans(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables(spark, dir, "documents")
      .repartition(col("doc_id"))
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 5)
      .select(col("doc_id"), explode(
        graft.functions.ShingleHashes.shingle_hashes(col("words"), 5,
          distinct = true)).as("sh"))
      .withColumn("nd", count(lit(1)).over(Window.partitionBy("sh")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      .select(col("doc_id"), col("n_dup_spans"),
        // exact integer-micros rounding (qualityClassifier tie discipline)
        expr("(2 * n_dup_spans * 1000000 + n_spans) div (2 * n_spans) / 1e6")
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  val dupSpansSql: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 3),
      |      i -> CAST(('0x' || substr(md5(array_to_string(string_split(text, ' ')[i:i+4], ' ')), 1, 15)) AS BIGINT)))) AS sh
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 5),
      |d AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY sh) AS nd FROM sh)
      |SELECT doc_id,
      |  CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
      |  (2 * SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 1000000 + COUNT(*))
      |    // (2 * COUNT(*)) / 1e6 AS dup_frac
      |FROM d
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** MAXIMAL REPEATED SPANS — the distributed stand-in for the
    * suffix-array exact-substring pass of Lee et al. 2021
    * ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499 §4.1, the ExactSubstr dedup), completing the
    * family beside [[dupSpans]]' per-window duplicate FRACTION: where
    * dup_spans answers "how much of this doc is duplicated",
    * lrs_spans answers "WHERE, and how LONG are the repeats" — the
    * maximal-span geometry the suffix-array emits, which is what you
    * need to CUT the duplicated text out rather than drop the doc.
    *
    * Algorithm: every token position contributes its 5-gram window
    * hash (positions kept, unlike dup_spans' per-doc distinct); a
    * window repeated anywhere in the corpus (count ≥ 2 over all
    * positions — self-repeats included, matching suffix-array
    * semantics) marks its position duplicated; per doc, maximal RUNS
    * of consecutive duplicated positions stitch into spans of token
    * length (run + 4) — exactly the maximal repeated substrings of
    * length ≥ 5 a suffix array reports, modulo the standard windowed
    * caveat that adjacent windows may match DIFFERENT partners (the
    * span is then a cover of overlapping repeats; Lee et al.'s
    * pipeline merges those too). Gaps-and-islands does the stitching:
    * island id = pos − row_number() within the doc.
    *
    * Scale: the corpus-wide stage is ONE window count keyed by hash
    * (huge key space — no skew beyond genuine boilerplate, and a
    * boilerplate hash's partition carries counts, not text); the
    * stitching windows are PARTITIONED by doc_id (never global); no
    * driver-side state. A 100 TB corpus adds positions linearly and
    * nothing quadratic exists anywhere.
    */
  def lrsSpans(spark: SparkSession, dir: String): DataFrame =
    lrsSpansOn(Tables(spark, dir, "documents"))

  /** The windowed span-stitching core over any (doc_id, text) frame —
    * extracted so LrsSpansSpec can pin the span geometry on crafted
    * documents with known repeats.
    */
  private[ext] def lrsSpansOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = docs
      .repartition(col("doc_id"))
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 5)
      .select(col("doc_id"), posexplode(
        graft.functions.ShingleHashes.shingle_hashes(col("words"), 5)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("h"))
    val dup = pos
      .withColumn("c", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("c") >= 2)
      .select("doc_id", "pos")
    val spans = dup
      .withColumn("g", col("pos") - row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy("doc_id", "g")
      .agg((max("pos") - min("pos") + 5).as("span_len"))
    spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        max("span_len").as("max_span"),
        sum("span_len").as("dup_tokens"))
      .orderBy("doc_id")
  }

  val lrsSpansSql: String =
    """WITH w AS (
      |  SELECT doc_id, u.pos AS pos, u.h AS h FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(1, len(ws) - 3),
      |        i -> struct_pack(pos := CAST(i AS BIGINT),
      |               h := CAST(('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 15)) AS BIGINT)))) AS u
      |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |    WHERE len(ws) >= 5)),
      |dup AS (
      |  SELECT doc_id, pos FROM (
      |    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY h) AS c FROM w)
      |  WHERE c >= 2),
      |isl AS (
      |  SELECT doc_id, pos,
      |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS g
      |  FROM dup),
      |sp AS (
      |  SELECT doc_id, CAST(MAX(pos) - MIN(pos) + 5 AS BIGINT) AS span_len
      |  FROM isl GROUP BY doc_id, g)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
      |  CAST(MAX(span_len) AS BIGINT) AS max_span,
      |  CAST(SUM(span_len) AS BIGINT) AS dup_tokens
      |FROM sp
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** APPLY THE CUT that [[lrsSpans]] detects — the second half of the
    * Lee-et-al. ExactSubstr pipeline (arXiv:2107.06499 §4.1 removes
    * all-but-one occurrence of every repeated substring; detection
    * alone doesn't shrink the corpus): emit each affected document's
    * CLEANED text with non-canonical repeated spans deleted.
    *
    * Keeper rule (deterministic, corpus-order-free): a span's identity
    * is its FIRST window's hash; the canonical occurrence of a hash is
    * the lexicographically minimal (doc_id, pos) among all its
    * positions; a span survives iff its (doc_id, start) IS that
    * canonical occurrence — every other copy is cut. (A hash whose
    * canonical occurrence sits MID-island starts no span, so all spans
    * of that identity are cut — the covering island text survives via
    * its own identity if it is canonical; this is the defined
    * semantics, same spirit as ExactSubstr's arbitrary-but-fixed
    * keeper.) A token is removed iff any removed span covers it.
    *
    * Scale: [[lrsSpans]]' two corpus stages plus one hash-keyed
    * canonical aggregate (computed on the duplicated positions only —
    * every occurrence of a duplicated hash is itself a duplicated
    * position, so nothing is lost) and a doc-keyed reconstruction join;
    * the words projection and the window stream each checkpoint once
    * (three consumers each — the minhashPairs duplicate-subtree trap).
    */
  def lrsDedup(spark: SparkSession, dir: String): DataFrame =
    lrsDedupOn(Tables(spark, dir, "documents"))

  private[ext] def lrsDedupOn(docsIn: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = docsIn.repartition(col("doc_id"))
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), col("words"),
        size(col("words")).cast("long").as("n"))
      .localCheckpoint(false)
    val pos = docs.filter(col("n") >= 5)
      .select(col("doc_id"), posexplode(
        graft.functions.ShingleHashes.shingle_hashes(col("words"), 5)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("h"))
    val dup = pos
      .withColumn("c", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("c") >= 2).select("doc_id", "pos", "h")
      .localCheckpoint(false)
    val spans = dup
      .withColumn("g", col("pos") - row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy("doc_id", "g")
      .agg(min("pos").as("s"), (max("pos") + 4).as("e"),
        expr("min_by(h, pos)").as("fh"))
    val canon = dup.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("cn"))
      .select(col("h").as("fh"),
        col("cn.doc_id").as("cdoc"), col("cn.pos").as("cpos"))
    val removed = spans.join(canon, Seq("fh"))
      .filter(!(col("doc_id") === col("cdoc") && col("s") === col("cpos")))
      .groupBy("doc_id")
      .agg(expr("array_sort(collect_list(struct(s, e)))").as("ranges"))
    docs.join(removed, Seq("doc_id"))
      .withColumn("kept", expr(
        """filter(sequence(1, n), j ->
             NOT exists(ranges, r -> j >= r.s AND j <= r.e))"""))
      .select(col("doc_id"), col("n").as("n_tokens"),
        (col("n") - size(col("kept"))).cast("long").as("n_removed"),
        expr("concat_ws(' ', transform(kept, j -> words[cast(j AS int) - 1]))")
          .as("clean_text"))
      .orderBy("doc_id")
  }

  val lrsDedupSql: String =
    """WITH docs AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, u.pos AS pos, u.h AS h FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(1, len(ws) - 3),
      |        i -> struct_pack(pos := CAST(i AS BIGINT),
      |               h := CAST(('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 15)) AS BIGINT)))) AS u
      |    FROM docs WHERE n >= 5)),
      |dup AS (
      |  SELECT doc_id, pos, h FROM (
      |    SELECT doc_id, pos, h, COUNT(*) OVER (PARTITION BY h) AS c FROM w)
      |  WHERE c >= 2),
      |isl AS (
      |  SELECT doc_id, pos, h,
      |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS g
      |  FROM dup),
      |sp AS (
      |  SELECT doc_id, MIN(pos) AS s, CAST(MAX(pos) + 4 AS BIGINT) AS e,
      |    arg_min(h, pos) AS fh
      |  FROM isl GROUP BY doc_id, g),
      |canon AS (
      |  SELECT h AS fh, doc_id AS cdoc, pos AS cpos FROM (
      |    SELECT h, doc_id, pos,
      |      ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      |    FROM dup) WHERE rn = 1),
      |rem AS (
      |  SELECT sp.doc_id,
      |    list(struct_pack(s := sp.s, e := sp.e) ORDER BY sp.s) AS ranges
      |  FROM sp JOIN canon ON canon.fh = sp.fh
      |  WHERE NOT (sp.doc_id = canon.cdoc AND sp.s = canon.cpos)
      |  GROUP BY sp.doc_id),
      |k AS (
      |  SELECT d.doc_id, d.n, d.ws,
      |    list_filter(range(1, d.n + 1), j ->
      |      len(list_filter(r.ranges, rr -> j >= rr.s AND j <= rr.e)) = 0)
      |      AS kept
      |  FROM docs d JOIN rem r USING (doc_id))
      |SELECT doc_id, n AS n_tokens,
      |  CAST(n - len(kept) AS BIGINT) AS n_removed,
      |  -- a fully-removed doc yields the empty string, as Spark's
      |  -- concat_ws does (DuckDB's array_to_string returns NULL there)
      |  COALESCE(array_to_string(list_transform(kept, j -> ws[CAST(j AS INT)]),
      |    ' '), '') AS clean_text
      |FROM k
      |ORDER BY doc_id""".stripMargin

  /** CONTENT-DEFINED CHUNKING dedup — the byte-level, SHIFT-RESISTANT
    * complement to [[dupSpans]]' word-5-gram spans: chunk boundaries are
    * cut wherever the hash of the trailing w=8-char window satisfies
    * `h % 64 == 0` (expected chunk ≈ 64 chars), so a boundary depends
    * only on LOCAL content — insert a byte at the front of a document
    * and every downstream chunk still re-aligns at the same windows,
    * where fixed-offset chunking ([[graft.ext.TextQueries]]
    * `chunk_overlap`) would shift every chunk and miss every duplicate.
    * This is the storage-dedup idea (LBFS/rsync lineage) applied to
    * corpus text; emitted are the cross-document duplicated chunks —
    * the "boilerplate blocks" a byte-level pass catches that
    * word-shingles may straddle.
    *
    * Scale: boundary detection + chunk carving is a pure per-doc
    * projection (each position hashes its OWN window — embarrassingly
    * parallel, no sequential rolling state to thread through a
    * distributed scan, which is what makes the windowed form the
    * distributed-friendly CDC variant); the only exchange is the
    * groupBy on chunk fingerprint, with `HAVING n_occ >= 2` pruning in
    * the partial aggregate and top-50 as TakeOrdered.
    */
  /** (doc_id, chunk) rows of the content-defined carving — shared by
    * [[cdcChunks]] and CdcSpec's shift-resistance pin. */
  private[ext] def cdcCarve(docs: DataFrame): DataFrame = {
    // cut positions: window END positions whose window-hash ≡ 0 (mod 64),
    // interior only; the doc end always closes the final chunk. The
    // native CdcEnds expression is bit-equal to the HOF form the DuckDB
    // oracle runs (filter(sequence(w, len), i -> i < len AND
    // conv(substring(md5(substring(text, i-w+1, w)), 1, 15), 16, 10)
    // % mod = 0) || [len]) at ~5× the throughput — the HOF paid an
    // interpreted lambda + hex render + string conv per CHARACTER
    // position (CdcSpec pins expression == HOF on random strings).
    docs
      .withColumn("ends", graft.functions.CdcEnds.cdc_ends(col("text")))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(ends) - 1),
          |  j -> substring(text,
          |    (CASE WHEN j = 0 THEN 0 ELSE ends[j - 1] END) + 1,
          |    ends[j] - CASE WHEN j = 0 THEN 0 ELSE ends[j - 1] END))"""
          .stripMargin)).as("chunk"))
  }

  def cdcChunks(spark: SparkSession, dir: String): DataFrame = {
    cdcCarve(Tables(spark, dir, "documents").repartition(col("doc_id")))
      .select(col("doc_id"), md5(col("chunk")).as("chunk_fp"),
        length(col("chunk")).cast("long").as("chunk_len"))
      .groupBy("chunk_fp", "chunk_len")
      .agg(countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .orderBy(desc("n_occ"), asc("chunk_fp")).limit(50)
  }

  val cdcChunksSql: String =
    """WITH c AS (
      |  SELECT doc_id, text, LENGTH(text) AS len,
      |    list_filter(range(8, LENGTH(text) + 1),
      |      i -> i < LENGTH(text) AND
      |        CAST(('0x' || substr(md5(substr(text, i - 7, 8)), 1, 15))
      |          AS BIGINT) % 64 = 0) || [CAST(LENGTH(text) AS BIGINT)] AS ends
      |  FROM documents),
      |chunks AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(ends) + 1),
      |      j -> substr(text,
      |        CAST((CASE WHEN j = 1 THEN 0 ELSE ends[j - 1] END) + 1 AS INT),
      |        CAST(ends[j] - CASE WHEN j = 1 THEN 0 ELSE ends[j - 1] END AS INT))))
      |      AS chunk
      |  FROM c)
      |SELECT md5(chunk) AS chunk_fp, CAST(LENGTH(chunk) AS BIGINT) AS chunk_len,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) AS BIGINT) AS n_occ
      |FROM chunks
      |GROUP BY chunk_fp, chunk_len
      |HAVING COUNT(*) >= 2
      |ORDER BY n_occ DESC, chunk_fp LIMIT 50""".stripMargin

  /** Incremental dedup — the recurring-ingest form of [[dedupExact]] +
    * [[minhashPairs]]: NEW documents (doc_id % 5 >= 3 stands in for
    * "this batch") are deduplicated against the ALREADY-INGESTED corpus
    * (doc_id % 5 < 3) and against earlier docs of their own batch;
    * returns the surviving new doc_ids. Drop rules (greedy by id, the
    * standard first-wins approximation):
    *
    *  - exact: an old doc shares the content fingerprint, or a
    *    smaller-id new doc does;
    *  - near: an old or smaller-id new doc shares an LSH band bucket
    *    with ≥4/8 matching MinHash components (est. Jaccard ≥ 0.5).
    *
    * 100 TB shape: ONE scan computes fingerprints and signatures; in
    * production the old side is the PERSISTED fingerprint set and band
    * index (appended per batch — the dedup analogue of the closure's
    * preSeen), so the recurring cost is one fp-hash shuffle and one
    * (band,bucket) shuffle of the BATCH against the index — the corpus
    * is never rescanned. Here both sides come from one documents scan
    * so the DuckDB oracle can replay everything; the bucket cap (≤64)
    * is the same skew guard as [[minhashPairs]].
    */
  /** The (doc_id, fp, sig) projection both the one-scan incremental
    * query and the [[DedupIndex]] artifact compute — ONE definition so
    * index-based dedup is equal to the oracle-gated form by
    * construction. `sig` is properly null (not [null×8]) for <3-word
    * docs: CaseWhen only evaluates the matched branch, and a null sig
    * row is filtered before banding so short docs cannot collide into a
    * "null bucket".
    */
  private[ext] def fpSig(docs: DataFrame): DataFrame = {
    // native ShingleHashes per doc (oracle keeps the spelled-out md5
    // idiom — bit-equal by Md5FnSpec/ShingleSpec); a pure Column
    // expression, so streaming-child-session callers need no registry
    docs
      .withColumn("fp", contentFp(col("text")))
      .withColumn("words", split(col("text"), " "))
      .withColumn("hs", when(size(col("words")) >= 3, transform(
        graft.functions.ShingleHashes.shingle_hashes(col("words"), 3),
        h => h % 2147483647L)))
      .withColumn("sig", when(col("hs").isNotNull,
        graft.functions.MinhashSig.minhash_sig(col("hs"), K)))
      .select(col("doc_id"), col("fp"), col("sig"))
  }

  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    // ONE documents scan feeds all three consumers (exact rule, near
    // rule, final projection) through a NARROW lazy checkpoint —
    // (doc_id, bool, fp, 8-long sig) per doc. Without it the plan scans
    // parquet and re-runs the md5-per-shingle pipeline once per
    // consumer (the duplicate-subtree trap minhashPairs documents).
    val docs = fpSig(
        Tables(spark, dir, "documents").repartition(col("doc_id")))
      .withColumn("is_old", col("doc_id") % 5 < 3)
      .select("doc_id", "is_old", "fp", "sig")
      .localCheckpoint(false)
    dedupIncrementalCore(docs).orderBy("doc_id")
  }

  /** Greedy first-wins dedup of the `is_old = false` rows against old
    * rows and earlier new rows, over any (doc_id, is_old, fp, sig)
    * frame — the registered one-scan query; [[DedupIndex.ingest]]
    * runs the same algorithm through [[dedupIncrementalParts]] with the
    * persisted index as the old side.
    */
  private[ext] def dedupIncrementalCore(docs: DataFrame): DataFrame =
    dedupIncrementalParts(docs)._1

  /** [[dedupIncrementalCore]] with the drop CAUSE exposed:
    * (survivors, near-only-dropped) — the second frame holds new docs
    * that pass the exact rule but lose to a near neighbour. The split
    * matters for cap-consistent ingest ([[DedupIndex.ingest]]): an
    * exact drop is permanent (fingerprint sets only grow), but a near
    * drop's causes live in ≤64-member buckets that a later batch can
    * push PAST the cap — at which point the one-shot form would skip
    * the bucket and keep the doc, so the near-only-dropped set is
    * exactly the resurrection candidate pool the ingest path persists.
    */
  private[ext] def dedupIncrementalParts(docs: DataFrame): (DataFrame, DataFrame) =
    dedupIncrementalParts(docs, nearDroppedIds(docs))

  /** [[dedupIncrementalParts]] with the near-dropped id set supplied by
    * the caller — [[DedupIndex.ingest]] derives it from a SHARED banded
    * bucket frame ([[bucketMembers]]) that its cap-crossing check also
    * reads, so the index's sig column is band-exploded and shuffled once
    * per batch instead of once per consumer.
    */
  private[ext] def dedupIncrementalParts(docs: DataFrame,
      near: DataFrame): (DataFrame, DataFrame) = {
    // exact rule, one fp shuffle: per fingerprint, does an old doc
    // carry it, and which new doc is first?
    val fpKeep = docs.groupBy("fp").agg(
      max(when(col("is_old"), 1).otherwise(0)).as("fp_has_old"),
      min(when(!col("is_old"), col("doc_id"))).as("fp_first_new"))
    // both returned frames read these subtrees; lazy checkpoints keep a
    // two-consumer caller (ingest) from running the banded pipeline and
    // the fp aggregate twice, and cost nothing when only one side is
    // consumed (the registered one-shot query)
    val exactPass = docs.filter(!col("is_old"))
      .join(fpKeep, Seq("fp"))
      .filter(col("fp_has_old") === 0 && col("doc_id") === col("fp_first_new"))
      .select("doc_id")
      .localCheckpoint(false)
    (exactPass.join(near, Seq("doc_id"), "left_anti"),
      exactPass.join(near, Seq("doc_id"), "left_semi"))
  }

  /** The NEAR rule alone over any (doc_id, is_old, sig) frame: one
    * (band,bucket) shuffle, members gathered inside the bucket exactly
    * as minhashPairs (no self-join); a new member is dropped on any
    * qualifying older neighbour; buckets past the ≤64 cap are skipped
    * whole. Shared by [[dedupIncrementalParts]] and
    * [[DedupIndex.ingest]]'s resurrection re-check so both paths apply
    * the identical drop predicate. Returns dropped doc_ids, lazily
    * checkpointed (every caller consumes it at least twice).
    */
  private[ext] def nearDroppedIds(docs: DataFrame): DataFrame =
    nearDroppedFromBuckets(bucketMembers(docs))

  /** The (band, bucket) → gathered-members frame the near rule and the
    * ingest cap-crossing check both read: one band-explode + one
    * (band, bucket) shuffle over any (doc_id, is_old, sig) frame. NOT
    * checkpointed here — a single-consumer caller (the registered
    * one-shot query) streams through it; [[DedupIndex.ingest]]
    * checkpoints it only when its crossing check will read it twice.
    */
  private[ext] def bucketMembers(docs: DataFrame): DataFrame =
    docs.filter(col("sig").isNotNull)
      .select(
        col("doc_id"), col("is_old"), col("sig"),
        explode(expr(s"transform(sequence(0, ${K / 2 - 1}), " +
          "b -> struct(b AS band, concat(cast(sig[b*2] AS string), '|', cast(sig[b*2+1] AS string)) AS bucket))")).as("bb"))
      .groupBy(col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .agg(expr("collect_list(struct(doc_id, is_old, sig))").as("ds"))

  private[ext] def nearDroppedFromBuckets(buckets: DataFrame): DataFrame =
    buckets
      .filter(size(col("ds")).between(2, 64))
      .select(explode(expr(
        """transform(
             filter(ds, m -> NOT m.is_old AND
               exists(ds, o -> (o.is_old OR o.doc_id < m.doc_id) AND
                 size(filter(sequence(0, 7), k -> o.sig[k] = m.sig[k])) >= 4)),
             m -> m.doc_id)""")).as("doc_id"))
      .distinct()
      .localCheckpoint(false)

  val dedupIncrementalSql: String =
    s"""WITH $minhashSqlCtes,
      |fps AS (SELECT doc_id, doc_id % 5 < 3 AS is_old,
      |    md5(lower(trim(text))) AS fp FROM documents),
      |near_drop AS (
      |  SELECT DISTINCT a.doc_id
      |  FROM banded a JOIN fps fa ON a.doc_id = fa.doc_id AND NOT fa.is_old
      |  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
      |  JOIN fps fb ON b.doc_id = fb.doc_id
      |  WHERE (fb.is_old OR b.doc_id < a.doc_id)
      |    AND len(list_filter(range(1, ${K + 1}), i -> a.sig[i] = b.sig[i])) >= 4)
      |SELECT f.doc_id AS doc_id
      |FROM fps f
      |WHERE NOT f.is_old
      |  AND NOT EXISTS (SELECT 1 FROM fps o WHERE o.fp = f.fp
      |    AND (o.is_old OR o.doc_id < f.doc_id))
      |  AND f.doc_id NOT IN (SELECT doc_id FROM near_drop)
      |ORDER BY doc_id""".stripMargin

  /** Bloom-filter membership pre-filter for incremental dedup — the
    * shape that replaces [[dedupIncremental]]'s exact fp join once the
    * corpus fingerprint set outgrows a broadcast: the old side collapses
    * to a mergeable Bloom sketch (built DISTRIBUTED via
    * `df.stat.bloomFilter`'s tree-aggregation, ~1.2 GB at 10⁹ items /
    * 1% fp — broadcastable where the raw fingerprints are not), and the
    * batch-side membership test becomes a pure projection through the
    * broadcast-variable [[graft.functions.BloomMightContain]]
    * expression. Error is ONE-SIDED by construction: no false negatives
    * (a true duplicate always flags), bounded false positives (a
    * genuinely-new doc occasionally dropped) — the conservative
    * direction for dedup. The registered query rides the EXACT join
    * along at test scale (`actually_seen` — the very join the bloom
    * avoids in production) and `assert_true`s the no-false-negative
    * contract per row; the bloom bits are engine-specific, so the
    * REGISTERED form is the deterministic ENVELOPE — doc_id/fp/exact
    * membership plus the asserted `no_false_negative` boolean, with the
    * bloom verdict itself exposed only in [[dedupBloomRaw]]
    * (unregistered). BloomDedupSpec bounds the false-positive rate.
    */
  def dedupBloom(spark: SparkSession, dir: String): DataFrame =
    dedupBloomRaw(spark, dir)
      .withColumn("no_false_negative", !(col("actually_seen") && !col("likely_seen")))
      .select("doc_id", "fp", "actually_seen", "no_false_negative")

  val dedupBloomSql: String =
    """WITH docs AS (
      |  SELECT doc_id, md5(lower(trim(text))) AS fp, (doc_id % 5 < 3) AS is_old
      |  FROM documents)
      |SELECT d.doc_id, d.fp,
      |  d.fp IN (SELECT fp FROM docs WHERE is_old) AS actually_seen,
      |  TRUE AS no_false_negative
      |FROM docs d WHERE NOT d.is_old
      |ORDER BY d.doc_id""".stripMargin

  /** Raw form with the engine-specific bloom verdict (unregistered). */
  def dedupBloomRaw(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .withColumn("fp", contentFp(col("text")))
      .withColumn("is_old", col("doc_id") % 5 < 3)
      .select("doc_id", "fp", "is_old")
    val old = docs.filter(col("is_old"))
    // bounded driver-side metadata: one count to size the filter, then
    // the distributed sketch build (two jobs total, both corpus-scale
    // aggregations, nothing corpus-sized ever on the driver)
    val nOld = old.count()
    val bf = old.stat.bloomFilter("fp", math.max(nOld, 1L), 0.01)
    val oldFps = old.select(col("fp")).distinct()
      .withColumn("seen", lit(true))
    docs.filter(!col("is_old"))
      .withColumn("likely_seen",
        graft.functions.BloomMightContain.might_contain(spark, bf, col("fp")))
      .join(oldFps, Seq("fp"), "left")
      .withColumn("actually_seen", coalesce(col("seen"), lit(false)))
      .filter(expr(
        "assert_true(NOT (actually_seen AND NOT likely_seen), 'bloom false negative') IS NULL"))
      .select(col("doc_id"), col("fp"), col("likely_seen"), col("actually_seen"))
      .orderBy("doc_id")
  }

  /** Cross-SOURCE contamination matrix: near-dup candidate pairs rolled
    * up by the (unordered) source pair of their endpoints — the
    * provenance diagnostic a curation pipeline runs before choosing
    * per-source dedup policy (a crawl snapshot duplicating a curated
    * corpus is a different problem from intra-crawl boilerplate).
    * Scale shape: the pair set is LSH-bounded (banding + bucket cap),
    * two doc_id hash-joins pull in the 2-column source projection, and
    * the rollup is |sources|² rows.
    */
  def dedupCrossSource(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables(spark, dir, "documents").select("doc_id", "source")
    minhashPairsCore(spark, dir).select("doc_a", "doc_b")
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  val dedupCrossSourceSql: String =
    s"""WITH $minhashSqlCtes,
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
      |    AND a.doc_id < b.doc_id)
      |SELECT LEAST(da.source, db.source) AS source_a,
      |  GREATEST(da.source, db.source) AS source_b,
      |  COUNT(*) AS n_pairs
      |FROM pairs
      |JOIN documents da ON da.doc_id = pairs.doc_a
      |JOIN documents db ON db.doc_id = pairs.doc_b
      |GROUP BY 1, 2
      |ORDER BY source_a, source_b""".stripMargin

  /** The persisted [[ClusterIndex]] assignments under the driver gate:
    * same oracle as `dedup_clusters`, so a green row proves
    * build → parquet → load == the from-scratch fixpoint.
    */
  def dedupClustersPersisted(spark: SparkSession, dir: String): DataFrame =
    ClusterIndex.forCorpus(spark, dir).orderBy("doc_id")

  /** Incremental maintenance under the driver gate: build the index on
    * two-thirds of the corpus, [[ClusterIndex.append]] the rest, and
    * return the merged assignments — against the ONE-SHOT oracle. A
    * green row proves batch-by-batch == from-scratch on real data
    * (including old-cluster merges a bridging batch doc causes); the
    * mod-3 split deliberately interleaves doc_ids to exercise the
    * order-independence of min-label CC. Builds into a fresh throwaway
    * dir per invocation: the shared [[ClusterIndex.forCorpus]] location
    * must never hold a partial index.
    */
  def dedupClustersIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    // The BASE index (docs with doc_id % 3 < 2) is production's
    // PRE-EXISTING state — an incremental pipeline's defining property
    // is that the prior corpus is already indexed. Staged once per
    // (JVM, dir) like the streaming replays' pristine index, so
    // re-invocations (the bench's separated passes, a verify after a
    // bench) pay only the RECURRING cost the row exists to measure:
    // a file copy (append MUTATES the index), the append of the new
    // third, and the assignment read.
    val staged = graft.SparkUtil.oncePerJvm("cidx-base", dir) { out =>
      ClusterIndex.build(docs.filter(col("doc_id") % 3 < 2), out)
    }
    val idxDir = java.nio.file.Files.createTempDirectory("graft-cidx-").toString
    try {
      graft.io.SegmentLog.copyRecursively(staged, idxDir)
      ClusterIndex.append(docs.filter(col("doc_id") % 3 === 2), idxDir)
      // eager checkpoint so the throwaway index can be deleted NOW — a
      // bench/verify loop re-invoking this query must not leak one
      // index tree per run (the result is assignment rows, tiny)
      ClusterIndex.load(spark, idxDir).orderBy("doc_id").localCheckpoint(true)
    } finally graft.io.SegmentLog.deleteRecursively(idxDir)
  }

  /** Fuzzy ENTITY record linkage (typo-tolerant dedup of catalog
    * strings): near-identical part names paired by Levenshtein distance
    * — the classic record-linkage modality the text-shingle tiers don't
    * cover (edit distance catches single-character typos that change
    * every shingle). Two scale decisions: (1) matching runs on the
    * DISTINCT names, never on corpus rows — entity vocabularies are
    * bounded (brands, vendors, cities) even when the fact table is
    * 100 TB, and the per-name row count rides along for the merge
    * decision; (2) candidates come from a BLOCKING key (the name's noun
    * token) so the comparison is per-block quadratic, never a global
    * self-join — swap in phonetic keys or q-gram buckets for messier
    * vocabularies, same shape. Levenshtein is exact integer arithmetic
    * in both engines.
    */
  def fuzzyDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables(spark, dir, "part")
      .groupBy(col("p_name")).agg(count(lit(1)).as("n_rows"))
      .select(col("p_name"),
        split(col("p_name"), " ").getItem(0).as("adj"),
        split(col("p_name"), " ").getItem(1).as("noun"),
        col("n_rows"))
    val a = names.select(col("p_name").as("name_a"), col("adj").as("adj_a"),
      col("noun"), col("n_rows").as("rows_a"))
    val b = names.select(col("p_name").as("name_b"), col("adj").as("adj_b"),
      col("noun"), col("n_rows").as("rows_b"))
    a.join(b, Seq("noun"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("lev", levenshtein(col("adj_a"), col("adj_b")).cast("long"))
      .filter(col("lev") <= 2)
      .select(col("name_a"), col("name_b"), col("lev"),
        col("rows_a"), col("rows_b"))
      .orderBy("name_a", "name_b")
  }

  val fuzzyDupPairsSql: String =
    """WITH names AS (
      |  SELECT p_name, string_split(p_name, ' ')[1] AS adj,
      |    string_split(p_name, ' ')[2] AS noun, COUNT(*) AS n_rows
      |  FROM part GROUP BY p_name),
      |pairs AS (
      |  SELECT a.p_name AS name_a, b.p_name AS name_b,
      |    CAST(levenshtein(a.adj, b.adj) AS BIGINT) AS lev,
      |    a.n_rows AS rows_a, b.n_rows AS rows_b
      |  FROM names a JOIN names b
      |    ON a.noun = b.noun AND a.p_name < b.p_name)
      |SELECT name_a, name_b, lev, rows_a, rows_b FROM pairs
      |WHERE lev <= 2
      |ORDER BY name_a, name_b""".stripMargin

  /** [[fuzzyDupPairs]]' corpus-scale sibling: LSH over character
    * q-grams instead of a hand-picked blocking key. The blocked form
    * assumes the SECOND token is typo-free — a typo in the blocking
    * key itself ("old bolt" vs "old blot") lands the pair in different
    * blocks and it is silently lost, and messier vocabularies (vendor
    * strings, addresses) have no clean blocking column at all. Here
    * candidates come from MinHash-LSH over the name's character
    * 3-gram set — the K=8 affine family of [[minhashPairs]] over md5 gram
    * hashes, banded 8×1 (each signature component its own bucket)
    * rather than [[minhashPairs]]' 4×2: two edits on a ~10-char name
    * can kill 6 of its ~8 grams, so pair Jaccard runs as low as
    * ~0.3 and the document banding's J² per band would miss it;
    * single-row bands give P(candidate) = 1−(1−J)⁸ ≈ 0.94 even at
    * J = 0.3 (measured 24/24 of the brute-force lev ≤ 2 pairs at
    * sf0.01, vs 15/24 under 4×2 — DedupClustersSpec pins full recall
    * on the fixed vocabulary). The looser buckets are exactly what
    * the 64-member skew cap is for. Verification is exact Levenshtein
    * ≤ 2 on candidates only; same one-groupBy in-bucket pair
    * generation (no self-join) — per-bucket quadratic, never global:
    * the 100 TB shape.
    */
  def fuzzyDupPairsLsh(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Md5Prefix60.register(spark)
    val names = Tables(spark, dir, "part")
      .groupBy(col("p_name")).agg(count(lit(1)).as("n_rows"))
      .filter(length(col("p_name")) >= 3)
      .repartition(col("p_name"))
      .withColumn("hs", expr(
        s"""transform(sequence(1, length(p_name) - 2),
             i -> md5h60(substring(p_name, i, 3)) % $P)"""))
      .withColumn("sig", graft.functions.MinhashSig.minhash_sig(col("hs"), K))
      .select("p_name", "n_rows", "sig")
    names.select(col("p_name"), col("n_rows"),
        explode(expr(s"transform(sequence(0, ${K - 1}), " +
          "b -> struct(b AS band, cast(sig[b] AS string) AS bucket))")).as("bb"))
      .groupBy(col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .agg(expr("array_sort(collect_list(struct(p_name, n_rows)))").as("ds"))
      .filter(size(col("ds")).between(2, 64))
      .select(explode(expr(
        """flatten(transform(ds, (a, i) ->
             transform(slice(ds, i + 2, size(ds)), b ->
               named_struct('name_a', a.p_name, 'name_b', b.p_name,
                 'rows_a', a.n_rows, 'rows_b', b.n_rows))))""")).as("p"))
      .select(col("p.name_a").as("name_a"), col("p.name_b").as("name_b"),
        col("p.rows_a").as("rows_a"), col("p.rows_b").as("rows_b"))
      .distinct() // the same pair can collide in several bands
      .withColumn("lev", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("lev") <= 2)
      .select("name_a", "name_b", "lev", "rows_a", "rows_b")
      .orderBy("name_a", "name_b")
  }

  val fuzzyDupPairsLshSql: String = {
    val sigs = (0 until K).map { i =>
      val (a, b) = affine(i)
      s"list_min(list_transform(hs, h -> ($a * h + $b) % $P))"
    }.mkString(", ")
    s"""WITH names AS (
      |  SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_rows
      |  FROM part GROUP BY p_name),
      |grams AS (
      |  SELECT p_name, n_rows,
      |    list_transform(range(1, length(p_name) - 1),
      |      i -> CAST(('0x' || substr(md5(substr(p_name, CAST(i AS INT), 3)), 1, 15)) AS BIGINT) % $P) AS hs
      |  FROM names WHERE length(p_name) >= 3),
      |sigs AS (SELECT p_name, n_rows, [$sigs] AS sig FROM grams),
      |banded0 AS (
      |  SELECT p_name, n_rows, b.band,
      |    CAST(sig[b.band + 1] AS VARCHAR) AS bucket
      |  FROM sigs CROSS JOIN (SELECT unnest(range(0, $K)) AS band) b),
      |banded AS (
      |  SELECT * FROM (SELECT p_name, n_rows, band, bucket,
      |    COUNT(*) OVER (PARTITION BY band, bucket) AS bsz FROM banded0)
      |  WHERE bsz <= 64),
      |cand AS (
      |  SELECT DISTINCT a.p_name AS name_a, b.p_name AS name_b,
      |    a.n_rows AS rows_a, b.n_rows AS rows_b
      |  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
      |    AND a.p_name < b.p_name)
      |SELECT name_a, name_b,
      |  CAST(levenshtein(name_a, name_b) AS BIGINT) AS lev,
      |  rows_a, rows_b
      |FROM cand
      |WHERE levenshtein(name_a, name_b) <= 2
      |ORDER BY name_a, name_b""".stripMargin
  }

  /** ASYMMETRIC CONTAINMENT pairs — the near-dup modality Jaccard
    * structurally misses: when a short document is QUOTED WHOLE inside
    * a much longer one, |A∩B|/|A∪B| is diluted by the length gap while
    * containment |A∩B|/|A| stays ~1 (Broder's original resemblance vs
    * containment split). Runs on distinct 5-word shingle sets (the
    * [[graft.ext.CurationQueries.decontaminate]] shingle): candidates
    * from a df-capped shingle inverted index (a shingle in >50 docs is
    * boilerplate — quadratic fanout, no identity signal), then BOTH
    * directional containments + Jaccard exactly, integer micros. ONE
    * shingle projection persisted feeds the index's both sides and the
    * per-doc set sizes. Top-50 by the larger containment, fully
    * tie-broken.
    */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = Tables(spark, dir, "documents")
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 5)
      .select(col("doc_id"), explode(
        graft.functions.ShingleHashes.shingle_hashes(col("words"), 5,
          distinct = true)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    val capped = sh
      .withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
      .filter(col("df") <= 50)
      .select("doc_id", "sh")
    val pairs = capped.as("a").join(capped.as("b"), Seq("sh"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(sizes.select(col("doc_id").as("doc1"), col("nsh").as("n1")), Seq("doc1"))
      .join(sizes.select(col("doc_id").as("doc2"), col("nsh").as("n2")), Seq("doc2"))
      .select(col("doc1"), col("doc2"), col("n1"), col("n2"), col("shared"),
        expr("(2 * shared * 1000000 + n1) div (2 * n1) / 1e6").as("contain_1"),
        expr("(2 * shared * 1000000 + n2) div (2 * n2) / 1e6").as("contain_2"),
        expr("""(2 * shared * 1000000 + (n1 + n2 - shared))
                div (2 * (n1 + n2 - shared)) / 1e6""").as("jaccard"))
      .withColumn("max_contain", greatest(col("contain_1"), col("contain_2")))
      .orderBy(desc("max_contain"), asc("doc1"), asc("doc2")).limit(50)
  }

  val containmentPairsSql: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(
      |      range(1, len(string_split(text, ' ')) - 3),
      |      i -> CAST(('0x' || substr(md5(array_to_string(string_split(text, ' ')[i:i+4], ' ')), 1, 15)) AS BIGINT))))
      |      AS sh
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 5),
      |sizes AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nsh
      |  FROM sh GROUP BY doc_id),
      |capped AS (
      |  SELECT doc_id, sh FROM (
      |    SELECT doc_id, sh, COUNT(*) OVER (PARTITION BY sh) AS df
      |    FROM sh) WHERE df <= 50),
      |pairs AS (
      |  SELECT a.doc_id AS doc1, b.doc_id AS doc2,
      |    CAST(COUNT(*) AS BIGINT) AS shared
      |  FROM capped a JOIN capped b
      |    ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc1, doc2, n1, n2, shared,
      |  (2 * shared * 1000000 + n1) // (2 * n1) / 1e6 AS contain_1,
      |  (2 * shared * 1000000 + n2) // (2 * n2) / 1e6 AS contain_2,
      |  (2 * shared * 1000000 + (n1 + n2 - shared))
      |    // (2 * (n1 + n2 - shared)) / 1e6 AS jaccard,
      |  GREATEST((2 * shared * 1000000 + n1) // (2 * n1) / 1e6,
      |           (2 * shared * 1000000 + n2) // (2 * n2) / 1e6)
      |    AS max_contain
      |FROM pairs
      |JOIN (SELECT doc_id AS doc1, nsh AS n1 FROM sizes) s1 USING (doc1)
      |JOIN (SELECT doc_id AS doc2, nsh AS n2 FROM sizes) s2 USING (doc2)
      |ORDER BY max_contain DESC, doc1, doc2
      |LIMIT 50""".stripMargin

  /** NEAR-DUP CLUSTER SIZE PROFILE — the shape report over the
    * [[ClusterIndex]] assignments that tells an operator what kind of
    * duplication the corpus actually has: many tiny clusters (crawl
    * noise — dedup cheaply), or a few giant ones (template/boilerplate
    * — investigate before deleting half the corpus). Sizes bucket into
    * power-of-two bins via binary-string length (the
    * [[GraphQueries.degreeDist]] rule — never FLOOR(LOG2)); singleton
    * "clusters" (unclustered docs) are excluded so the profile is
    * about DUPLICATION, with the doc mass per bin alongside. Reads the
    * persisted index — the CC fixpoint never recomputes here; the
    * oracle replays the full recursive-CTE pipeline and must land on
    * the identical histogram.
    */
  def dedupClusterProfile(spark: SparkSession, dir: String): DataFrame = {
    ClusterIndex.forCorpus(spark, dir)
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("size"))
      .filter(col("size") >= 2)
      .withColumn("log2_size_bin",
        (length(bin(col("size"))) - 1).cast("long"))
      .groupBy("log2_size_bin")
      .agg(count(lit(1)).as("n_clusters"), sum("size").as("n_docs"),
        min("size").as("min_size"), max("size").as("max_size"))
      .orderBy("log2_size_bin")
  }

  val dedupClusterProfileSql: String =
    s"""WITH RECURSIVE $ccSqlCtes,
      |sizes AS (
      |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS size
      |  FROM clusters GROUP BY 1)
      |SELECT CAST(length(bin(size)) - 1 AS BIGINT) AS log2_size_bin,
      |  CAST(COUNT(*) AS BIGINT) AS n_clusters,
      |  CAST(SUM(size) AS BIGINT) AS n_docs,
      |  CAST(MIN(size) AS BIGINT) AS min_size,
      |  CAST(MAX(size) AS BIGINT) AS max_size
      |FROM sizes
      |WHERE size >= 2
      |GROUP BY 1
      |ORDER BY log2_size_bin""".stripMargin

  val all: Seq[(String, ((SparkSession, String) => DataFrame, String))] = Seq(
    "dedup_bloom" -> ((dedupBloom _, dedupBloomSql)),
    "fuzzy_dup_pairs" -> ((fuzzyDupPairs _, fuzzyDupPairsSql)),
    "fuzzy_dup_pairs_lsh" -> ((fuzzyDupPairsLsh _, fuzzyDupPairsLshSql)),
    "containment_pairs" -> ((containmentPairs _, containmentPairsSql)),
    "dedup_cluster_profile" -> ((dedupClusterProfile _, dedupClusterProfileSql)),
    "dedup_clusters_persisted" -> ((dedupClustersPersisted _, dedupClustersSql)),
    "dedup_clusters_incremental" -> ((dedupClustersIncremental _, dedupClustersSql)),
    "dedup_exact" -> ((dedupExact _, dedupExactSql)),
    "minhash_pairs" -> ((minhashPairs _, minhashPairsSql)),
    "dedup_eval" -> ((dedupEval _, dedupEvalSql)),
    "fs_linkage" -> ((fsLinkage _, fsLinkageSql)),
    "dedup_cross_source" -> ((dedupCrossSource _, dedupCrossSourceSql)),
    "dedup_clusters" -> ((dedupClusters _, dedupClustersSql)),
    "simhash" -> ((simhash _, simhashSql)),
    "simhash_pairs" -> ((simhashPairs _, simhashPairsSql)),
    "jaccard_pairs" -> ((jaccardPairs _, jaccardPairsSql)),
    "dup_spans" -> ((dupSpans _, dupSpansSql)),
    "lrs_spans" -> ((lrsSpans _, lrsSpansSql)),
    "lrs_dedup" -> ((lrsDedup _, lrsDedupSql)),
    "cdc_chunks" -> ((cdcChunks _, cdcChunksSql)),
    "embed_dup_pairs" -> ((embedDupPairs _, embedDupPairsSql)),
    "semdedup" -> ((semDedup _, semDedupSql)),
    "dedup_incremental" -> ((dedupIncremental _, dedupIncrementalSql)),
    // the streaming ingest pipeline replayed against the SAME oracle —
    // survivors of the committed artifact must equal the one-shot form
    "stream_dedup_ingest" ->
      ((graft.streaming.StreamingOps.streamDedupReplay _, dedupIncrementalSql)),
    "split_leakage_safe" -> ((splitLeakageSafe _, splitLeakageSafeSql))
  )
}
