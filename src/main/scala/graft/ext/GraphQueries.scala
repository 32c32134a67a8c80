package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Graph analytics over catalog-derived graphs (SURVEY.md §2 ext tier) —
  * the operator family next to the dedup tier's connected components:
  * iterative whole-graph metrics expressed as joins + aggregations, the
  * shape Pregel-style engines compile to anyway.
  *
  * PageRank is run in EXACT INTEGER arithmetic so the DuckDB oracle can
  * replay every iteration bit-for-bit (the same discipline as
  * [[KMeans]]): ranks are scaled to 10¹² "mass units", per-edge
  * contributions are integer division `rank div degree` (the dropped
  * remainder is part of the operator's defined semantics, not error),
  * and the damping update is the rational `(15·S + 85·Σ) div 100` —
  * no float ever enters, so sums are order-free and ties in the final
  * ranking resolve identically on both engines.
  */
object GraphQueries {

  private val RankScale = 1000000000000L // 10^12 mass units per node
  private val Iters = 3

  /** PageRank over the bipartite part↔supplier supply graph (distinct
    * `(l_partkey, l_suppkey)` pairs, both directions, so every node has
    * in-edges and the dangling-mass term vanishes). Node ids share one
    * space: parts are even (2·partkey), suppliers odd (2·suppkey+1).
    *
    * Scale shape: the edge list is built ONCE, joined with its
    * source-degree table, repartitioned on `s` and persisted — the
    * cached hash partitioning serves the rank join every iteration
    * without re-exchanging the edges (only the small rank table moves).
    * Each round is one join + one map-side-combined groupBy(t) — the
    * canonical distributed PageRank step; rank state never collects to
    * the driver. Output: top-20 nodes by rank, fully tie-broken.
    */
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    val e0 = Tables(spark, dir, "lineitem")
      .select((col("l_partkey").cast("long") * 2).as("s"),
        (col("l_suppkey").cast("long") * 2 + 1).as("t"))
      .distinct()
    pageRankOn(e0)
  }

  /** The iterative core over a distinct directed edge list `(s, t)`,
    * symmetrized before ranking (see [[pageRank]] for the semantics).
    */
  private[ext] def pageRankOn(e0: DataFrame): DataFrame = {
    // the symmetrized edge list feeds deg, ed AND (through deg) the
    // initial rank table — checkpoint it once so the corpus-side
    // distinct runs a single time instead of once per consumer subplan
    // (one materialization of a reused intermediate, the same budget
    // persist() would pay, minus the repeated upstream scans)
    val e = e0.unionByName(e0.select(col("t").as("s"), col("s").as("t")))
      .localCheckpoint(true)
    val deg = e.groupBy("s").agg(count(lit(1)).as("deg"))
    val ed = e.join(deg, "s").repartition(col("s")).persist()
    try {
      val init = deg.select(col("s").as("node"), lit(RankScale).as("rank"))
      val ranks = (1 to Iters).foldLeft(init) { (r, _) =>
        ed.join(r.withColumnRenamed("node", "s"), "s")
          .select(col("t"), expr("rank div deg").as("contrib"))
          .groupBy("t")
          .agg(expr(s"(15 * ${RankScale}L + 85 * sum(contrib)) div 100").as("rank"))
          .select(col("t").as("node"), col("rank"))
      }
      // global top-k plans as TakeOrdered, never a total-order exchange
      val out = ranks.orderBy(desc("rank"), asc("node")).limit(20)
        .localCheckpoint()
      out
    } finally ed.unpersist()
  }

  private def rankIterSql(i: Int): String =
    s"""r$i AS (SELECT e.t AS node,
       |    CAST((15 * $RankScale + 85 * SUM(r${i - 1}.rank // d.deg)) // 100 AS BIGINT) AS rank
       |  FROM e JOIN r${i - 1} ON e.s = r${i - 1}.node JOIN d ON e.s = d.node
       |  GROUP BY e.t),""".stripMargin

  val pageRankSql: String = {
    val rounds = (1 to Iters).map(rankIterSql).mkString("\n")
    s"""WITH e0 AS (SELECT DISTINCT CAST(l_partkey AS BIGINT) * 2 AS s,
       |                   CAST(l_suppkey AS BIGINT) * 2 + 1 AS t FROM lineitem),
       |e AS (SELECT s, t FROM e0 UNION ALL SELECT t AS s, s AS t FROM e0),
       |d AS (SELECT s AS node, COUNT(*) AS deg FROM e GROUP BY s),
       |r0 AS (SELECT node, CAST($RankScale AS BIGINT) AS rank FROM d),
       |$rounds
       |fin AS (SELECT node, rank FROM r$Iters)
       |SELECT node, rank FROM fin ORDER BY rank DESC, node LIMIT 20""".stripMargin
  }

  /** PERSONALIZED PageRank over the same supply graph: the teleport
    * mass lands ONLY on a seed set (nation-0's suppliers) instead of
    * uniformly, so ranks measure proximity TO THE SEEDS — the
    * "similar items / local influence" query PageRank's global
    * centrality can't answer (Page et al.'s personalization vector;
    * the standard recommender/graph-retrieval form). Same exact
    * integer discipline as [[pageRank]]: per-node update is
    * `(15·tp + 85·Σ contrib) div 100` with `tp = 10¹²` for seeds and
    * `0` elsewhere, so non-seed rank is pure propagated mass and every
    * iteration replays bit-for-bit in the oracle.
    *
    * Scale shape: identical to [[pageRank]] — edges build once, hold
    * their `s`-partitioning across rounds, only rank tables move; the
    * teleport table is node-keyed and persists co-partitioned with the
    * per-round aggregate's key so the post-aggregation join never
    * re-exchanges the big side. Seeds are a FILTER, never a collected
    * list — a 10⁹-node seed set works the same way.
    */
  def personalizedPageRank(spark: SparkSession, dir: String): DataFrame = {
    val e0 = Tables(spark, dir, "lineitem")
      .select((col("l_partkey").cast("long") * 2).as("s"),
        (col("l_suppkey").cast("long") * 2 + 1).as("t"))
      .distinct()
    val seeds = Tables(spark, dir, "supplier")
      .filter(col("s_nationkey") === 0)
      .select((col("s_suppkey").cast("long") * 2 + 1).as("node"))
      .distinct()
    pprOn(e0, seeds)
  }

  /** The personalized iterative core over a directed edge list `(s, t)`
    * (symmetrized) and a seed node frame — extracted so
    * GraphQueriesSpec can pin it against a reference loop.
    */
  private[ext] def pprOn(e0: DataFrame, seeds: DataFrame): DataFrame = {
    // same single-materialization discipline as [[pageRankOn]]: e feeds
    // deg, ed and (through deg) the teleport table
    val e = e0.unionByName(e0.select(col("t").as("s"), col("s").as("t")))
      .localCheckpoint(true)
    val deg = e.groupBy("s").agg(count(lit(1)).as("deg"))
    val tele = deg.select(col("s").as("node"))
      .join(seeds.withColumn("is_seed", lit(true)), Seq("node"), "left")
      .select(col("node"),
        when(col("is_seed"), lit(RankScale)).otherwise(lit(0L)).as("tp"))
      .localCheckpoint(true) // node-sized; feeds init AND the edge build
    // the teleport mass rides the EDGE table (tp of the TARGET, constant
    // per t, folded back out with max() in the round aggregate), so each
    // round is ONE join + ONE map-side-combined aggregate — the exact
    // [[pageRankOn]] step shape. The first form joined tele AFTER the
    // aggregation, re-shuffling the rank table a second time per round —
    // a whole extra exchange per iteration for a value that never changes.
    val ed = e.join(deg, "s")
      .join(tele.select(col("node").as("t"), col("tp")), Seq("t"))
      .repartition(col("s")).persist()
    try {
      val init = tele.select(col("node"), col("tp").as("rank"))
      val ranks = (1 to Iters).foldLeft(init) { (r, _) =>
        ed.join(r.withColumnRenamed("node", "s"), "s")
          .select(col("t"), col("tp"), expr("rank div deg").as("contrib"))
          .groupBy("t")
          .agg(expr("(15 * max(tp) + 85 * sum(contrib)) div 100").as("rank"))
          .select(col("t").as("node"), col("rank"))
      }
      ranks.filter(col("rank") > 0)
        .orderBy(desc("rank"), asc("node")).limit(20)
        .localCheckpoint()
    } finally ed.unpersist()
  }

  private def pprIterSql(i: Int): String =
    s"""r$i AS (SELECT x.node,
       |    CAST((15 * tp.tp + 85 * x.csum) // 100 AS BIGINT) AS rank
       |  FROM (SELECT e.t AS node,
       |          CAST(SUM(r${i - 1}.rank // d.deg) AS BIGINT) AS csum
       |        FROM e JOIN r${i - 1} ON e.s = r${i - 1}.node
       |        JOIN d ON e.s = d.node
       |        GROUP BY e.t) x
       |  JOIN tp ON tp.node = x.node),""".stripMargin

  val personalizedPageRankSql: String = {
    val rounds = (1 to Iters).map(pprIterSql).mkString("\n")
    s"""WITH e0 AS (SELECT DISTINCT CAST(l_partkey AS BIGINT) * 2 AS s,
       |                   CAST(l_suppkey AS BIGINT) * 2 + 1 AS t FROM lineitem),
       |e AS (SELECT s, t FROM e0 UNION ALL SELECT t AS s, s AS t FROM e0),
       |d AS (SELECT s AS node, COUNT(*) AS deg FROM e GROUP BY s),
       |seeds AS (SELECT DISTINCT CAST(s_suppkey AS BIGINT) * 2 + 1 AS node
       |          FROM supplier WHERE s_nationkey = 0),
       |tp AS (SELECT d.node,
       |    CASE WHEN seeds.node IS NOT NULL
       |         THEN CAST($RankScale AS BIGINT) ELSE 0 END AS tp
       |  FROM d LEFT JOIN seeds ON seeds.node = d.node),
       |r0 AS (SELECT node, tp AS rank FROM tp),
       |$rounds
       |fin AS (SELECT node, rank FROM r$Iters WHERE rank > 0)
       |SELECT node, rank FROM fin ORDER BY rank DESC, node LIMIT 20""".stripMargin
  }

  /** Per-part contributor cap for co-supply pair generation — the
    * 64-cap discipline of minhash_pairs applied to the supply graph:
    * pair fanout is quadratic in suppliers-per-part, so ONE promiscuous
    * hub part on an unbounded corpus would dominate the whole job.
    * Parts over the cap are dropped WHOLE (like over-cap LSH buckets):
    * a part supplied by hundreds of suppliers contributes a
    * near-complete clique of weight-1 noise edges — the least backbone
    * signal per pair. Max observed fanout is 52 at sf0.1, so the cap is
    * invisible at test scale and load-bearing at 100 TB. Mirrored
    * exactly in the DuckDB oracles ([[coSupplyPairsSql]]).
    */
  private[ext] val CoSupplyPartCap = 256

  /** Weighted co-supply edge list (u < v, w = shared-part count) — the
    * shared corpus-side stage of [[triangles]], [[linkPrediction]],
    * [[msfBackbone]], and [[kTruss]]. The [[CoSupplyPartCap]] skew
    * guard is a semi-join against under-cap parts applied BEFORE the
    * pair-generating self-join, so per-part fanout is bounded where it
    * is born while the pair pipeline itself stays the whole-stage-
    * codegen'd join (an in-group collect_list+explode form was measured
    * ~50% slower here at sf0.1: ObjectHashAggregate plus per-pair
    * struct allocation lose to the codegen'd join on this fanout).
    * NOT persisted, on measurement (r7): caching the sp projection
    * regressed triangles 4.5 s → 30+ s at sf0.1 — the InMemoryRelation
    * starves AQE's runtime re-planning of the self-join.
    */
  private def coSupplyEdges(spark: SparkSession, dir: String): DataFrame = {
    val sp = Tables(spark, dir, "lineitem")
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s")).distinct()
    val eligible = sp.groupBy("p").agg(count(lit(1)).as("n"))
      .filter(col("n") <= CoSupplyPartCap).select("p")
    val spc = sp.join(eligible, Seq("p"), "left_semi")
    spc.as("a").join(spc.as("b"), Seq("p"))
      .filter(col("a.s") < col("b.s"))
      .groupBy(col("a.s").as("u"), col("b.s").as("v"))
      .agg(count(lit(1)).as("w"))
  }

  /** Oracle-side mirror of [[coSupplyEdges]]: the same weighted pairs
    * with the same whole-part cap, as a `FROM sp`-shaped subquery (the
    * oracle keeps the readable self-join form; the cap join is what
    * must match bit-for-bit).
    */
  private val coSupplyPairsSql: String =
    s"""SELECT a.s AS u, b.s AS v, CAST(COUNT(*) AS BIGINT) AS w
       |    FROM sp a
       |    JOIN sp b ON a.p = b.p AND a.s < b.s
       |    JOIN (SELECT p FROM sp GROUP BY p
       |          HAVING COUNT(*) <= $CoSupplyPartCap) pc ON pc.p = a.p
       |    GROUP BY 1, 2""".stripMargin

  /** EXACT TRIANGLE COUNTING over the supplier CO-SUPPLY BACKBONE
    * (suppliers adjacent iff they supply a common part — the bipartite
    * supply graph itself has no triangles), with per-supplier
    * participation counts: the clustering/community signal next to
    * [[pageRank]]'s centrality.
    *
    * Two scale decisions:
    *  - the raw co-supply graph is near-COMPLETE on dense catalogs
    *    (at sf0.1 every supplier pair shares a part — C(1000,2) edges,
    *    ~1.7·10⁸ degenerate triangles), so the analyzed graph is the
    *    STRONGEST-M BACKBONE: the top 2000 edges by shared-part count
    *    (TakeOrdered with the (w DESC, u, v) total order — the
    *    corpus-scale stage is the capped [[coSupplyEdges]] pair-weight
    *    aggregation, linear in distinct (part, supplier)
    *    co-occurrences);
    *  - counting runs the DEGREE-ORDERED node-iterator — the form that
    *    survives skew: each edge is oriented from its (degree, id)-
    *    smaller endpoint, two out-edges of a node propose a wedge, and
    *    a semi-join against the oriented edges closes it. Orientation
    *    bounds out-degree by O(√m) (arboricity), so wedge fanout is
    *    Σ out-deg², polynomially below the naive Σ deg² a celebrity
    *    node causes. Every triangle is generated exactly once (by its
    *    (deg,id)-minimal vertex). Pure integers end to end; bit-exact
    *    DuckDB replay.
    */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    // strongest-M backbone of the capped weighted co-supply graph, u < v.
    // EAGERLY checkpointed ([[linkPrediction]]'s discipline): the
    // backbone is bounded metadata (≤2000 rows) but its PLAN carries the
    // whole corpus-side aggregation, and [[trianglesOn]] references its
    // input from four consumers — un-checkpointed, the backbone subplan
    // repeats per consumer (a ~960-node physical plan; TakeOrdered is
    // not an exchange, so runtime stage reuse cannot dedupe past it) and
    // the corpus stage re-executes each time (measured 4.5 → ~2 s).
    val und = coSupplyEdges(spark, dir)
      .orderBy(desc("w"), asc("u"), asc("v")).limit(2000)
      .select("u", "v")
      .localCheckpoint(true)
    trianglesOn(und)
      .withColumnRenamed("node", "supplier")
      .orderBy(desc("n_triangles"), asc("supplier")).limit(10)
  }

  /** The degree-ordered iterator core over an arbitrary undirected edge
    * list `(u, v)` with `u < v`, no duplicates: per-node triangle
    * participation counts. Extracted so GraphQueriesSpec can pin it
    * against brute-force enumeration on random graphs.
    */
  private[ext] def trianglesOn(und: DataFrame): DataFrame = {
    val deg = und.select(col("u").as("n")).unionAll(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // orient from (deg, id)-smaller to larger. Checkpointed: the wedge
    // join and the closing semi-join reference this frame FOUR times —
    // same size bound as its input (≤ the backbone edge count), so the
    // cut is plan width, not data
    val oriented = und
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("a"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("b"))
      .localCheckpoint(true)
    val wedges = oriented.select(col("a"), col("b").as("x"))
      .join(oriented.select(col("a"), col("b").as("y")), Seq("a"))
      .filter(col("x") < col("y"))
    val tris = wedges.join(
      oriented.select(col("a").as("x"), col("b").as("y"))
        .unionAll(oriented.select(col("b").as("x"), col("a").as("y"))),
      Seq("x", "y"), "left_semi")
    tris.select(explode(array(col("a"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  val trianglesSql: String =
    s"""WITH sp AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
      |und AS (
      |  SELECT u, v FROM (
      |    $coSupplyPairsSql)
      |  ORDER BY w DESC, u, v LIMIT 2000),
      |deg AS (
      |  SELECT n, COUNT(*) AS d FROM (
      |    SELECT u AS n FROM und UNION ALL SELECT v FROM und) GROUP BY n),
      |o AS (
      |  SELECT CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND u < v) THEN u ELSE v END AS a,
      |         CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND u < v) THEN v ELSE u END AS b
      |  FROM und
      |  JOIN deg d1 ON d1.n = und.u
      |  JOIN deg d2 ON d2.n = und.v),
      |w AS (
      |  SELECT e1.a, e1.b AS x, e2.b AS y
      |  FROM o e1 JOIN o e2 ON e1.a = e2.a AND e1.b < e2.b),
      |tri AS (
      |  SELECT w.a, w.x, w.y FROM w
      |  WHERE EXISTS (SELECT 1 FROM o
      |    WHERE (o.a = w.x AND o.b = w.y) OR (o.a = w.y AND o.b = w.x))),
      |m AS (
      |  SELECT unnest([a, x, y]) AS supplier FROM tri)
      |SELECT supplier, COUNT(*) AS n_triangles
      |FROM m GROUP BY supplier
      |ORDER BY n_triangles DESC, supplier LIMIT 10""".stripMargin

  private val MaxHops = 3

  /** BREADTH-FIRST HOP DISTANCE from a seed set — the reachability
    * metric next to [[pageRank]]'s centrality and [[triangles]]'
    * clustering: minimum hops from nation-0's suppliers to every node
    * of the symmetrized part↔supplier supply graph (same shared node
    * encoding as [[pageRank]]), capped at [[MaxHops]].
    *
    * The distributed form is frontier BFS, the shape every Pregel BFS
    * compiles to: per round ONE join of the (persisted, pre-partitioned)
    * edge list against the current frontier + a distinct, then an
    * anti-join against the seen-set so each node is labeled with its
    * FIRST (= minimal) hop — the [[graft.closure.ClosureExtractor]]
    * traversal discipline applied to an analytics graph. Edges are
    * repartitioned on the join key once and reused every round; the
    * frontier is localCheckpointed per round to cut the growing lineage.
    * Output is the tiny per-hop profile (node counts + id range), never
    * the node set itself.
    */
  def bfsHops(spark: SparkSession, dir: String): DataFrame = {
    val e0 = Tables(spark, dir, "lineitem")
      .select((col("l_partkey").cast("long") * 2).as("s"),
        (col("l_suppkey").cast("long") * 2 + 1).as("t"))
      .distinct()
    val e = e0.unionByName(e0.select(col("t").as("s"), col("s").as("t")))
    val seeds = Tables(spark, dir, "supplier")
      .filter(col("s_nationkey") === 0)
      .select((col("s_suppkey").cast("long") * 2 + 1).as("node"))
    bfsHopsOn(e, seeds, MaxHops)
      .groupBy("hop")
      .agg(count(lit(1)).as("n_nodes"),
        min(col("node")).as("min_node"), max(col("node")).as("max_node"))
      .orderBy("hop")
      .localCheckpoint(true)
  }

  /** The frontier-BFS core over a DIRECTED edge list `(s, t)` and a
    * seed frame `(node)`: `(node, hop)` with each node's MINIMUM hop
    * from any seed, capped at `maxHops`. Extracted so GraphQueriesSpec
    * can pin it against brute-force BFS on random graphs.
    */
  private[ext] def bfsHopsOn(e0: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame = {
    // localCheckpoint cuts the lineage: its blocks live only on the
    // executor that computed them and are lost with it, so on a cluster
    // a lost executor fails this query instead of recomputing the edge
    // list (local mode has no such loss; lpaOn's edge list shares it)
    val e = e0.repartition(col("s")).localCheckpoint(true)
    try {
      var seen = seeds.select(col("node"), lit(0).as("hop"))
        .distinct().localCheckpoint(true)
      var frontier = seen
      var hop = 0
      while (hop < maxHops && !frontier.isEmpty) {
        hop += 1
        val next = e.join(frontier.select(col("node").as("s")), Seq("s"), "left_semi")
          .select(col("t").as("node")).distinct()
          .join(seen, Seq("node"), "left_anti")
          .select(col("node"), lit(hop).as("hop"))
          .localCheckpoint(true)
        seen = seen.unionByName(next).localCheckpoint(true)
        frontier = next
      }
      seen
    } finally graft.SparkUtil.release(e)
  }

  val bfsHopsSql: String =
    s"""WITH RECURSIVE
       |e0 AS (SELECT DISTINCT CAST(l_partkey AS BIGINT) * 2 AS s,
       |              CAST(l_suppkey AS BIGINT) * 2 + 1 AS t FROM lineitem),
       |e AS (SELECT s, t FROM e0 UNION ALL SELECT t AS s, s AS t FROM e0),
       |bfs(node, hop) AS (
       |  SELECT CAST(s_suppkey AS BIGINT) * 2 + 1 AS node, 0 AS hop
       |  FROM supplier WHERE s_nationkey = 0
       |  UNION
       |  SELECT e.t, b.hop + 1 FROM bfs b JOIN e ON e.s = b.node
       |  WHERE b.hop < $MaxHops),
       |mh AS (SELECT node, MIN(hop) AS hop FROM bfs GROUP BY node)
       |SELECT hop, COUNT(*) AS n_nodes,
       |  MIN(node) AS min_node, MAX(node) AS max_node
       |FROM mh GROUP BY hop ORDER BY hop""".stripMargin

  private val LpaRounds = 2

  /** SYNCHRONOUS LABEL PROPAGATION (Raghavan et al. 2007) over the
    * symmetrized part↔supplier supply graph — the community-detection
    * member of the graph family (centrality = [[pageRank]], clustering
    * = [[triangles]], reachability = [[bfsHops]]). Every node starts
    * as its own label; each round it adopts the MOST FREQUENT label
    * among its neighbors, ties broken by smallest label — the
    * deterministic variant (classic LPA breaks ties randomly and
    * doesn't replay; [[LpaRounds]] fixed rounds make both engines
    * bit-identical, the integer-PageRank discipline).
    *
    * Scale shape per round: one join of the label table against the
    * (pre-partitioned, persisted) edge list, one map-side-combined
    * count per (node, neighbor-label), and the same `min(struct(-cnt,
    * label))` single-pass argmax [[graft.queries.OlapQueries.modeAgg]]
    * uses — never a window over the corpus. Labels never collect to
    * the driver; output is the top-20 community profile.
    */
  def labelPropagation(spark: SparkSession, dir: String): DataFrame = {
    val e0 = Tables(spark, dir, "lineitem")
      .select((col("l_partkey").cast("long") * 2).as("s"),
        (col("l_suppkey").cast("long") * 2 + 1).as("t"))
      .distinct()
    val e = e0.unionByName(e0.select(col("t").as("s"), col("s").as("t")))
    lpaOn(e, LpaRounds)
      .groupBy("label")
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"))
      .orderBy(desc("n_nodes"), asc("label")).limit(20)
      .localCheckpoint(true)
  }

  /** The synchronous-LPA core over a DIRECTED (pre-symmetrized) edge
    * list `(s, t)`: `(node, label)` after `rounds` deterministic
    * most-frequent-neighbor-label updates (ties → smallest label).
    * Extracted so GraphQueriesSpec can pin it against a brute-force
    * replica on random graphs.
    */
  private[ext] def lpaOn(e0: DataFrame, rounds: Int): DataFrame = {
    val e = e0.repartition(col("s")).localCheckpoint(true)
    try {
      val init = e.select(col("s").as("node")).distinct()
        .select(col("node"), col("node").as("label"))
      val fin = (1 to rounds).foldLeft(init) { (l, _) =>
        e.join(l.select(col("node").as("t"), col("label")), Seq("t"))
          .groupBy(col("s").as("node"), col("label"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy("node")
          .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l"))).as("m"))
          .select(col("node"), col("m.l").as("label"))
      }
      // single-chain lineage (each round feeds exactly one consumer), so
      // no per-round checkpoint: one job runs the whole unrolled plan.
      // A long-horizon LPA (tens of rounds) would checkpoint every ~5
      // rounds to bound the plan — at LpaRounds=2 that's pure overhead.
      fin.localCheckpoint(true)
    } finally graft.SparkUtil.release(e)
  }

  private def lpaRoundSql(i: Int): String =
    s"""c$i AS (SELECT e.s AS node, l.label, COUNT(*) AS cnt
       |  FROM e JOIN l${i - 1} l ON l.node = e.t GROUP BY 1, 2),
       |l$i AS (SELECT node, label FROM (
       |    SELECT node, label, ROW_NUMBER() OVER
       |      (PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM c$i)
       |  WHERE rn = 1),""".stripMargin

  val labelPropagationSql: String = {
    val rounds = (1 to LpaRounds).map(lpaRoundSql).mkString("\n")
    s"""WITH e0 AS (SELECT DISTINCT CAST(l_partkey AS BIGINT) * 2 AS s,
       |                   CAST(l_suppkey AS BIGINT) * 2 + 1 AS t FROM lineitem),
       |e AS (SELECT s, t FROM e0 UNION ALL SELECT t AS s, s AS t FROM e0),
       |l0 AS (SELECT DISTINCT s AS node, s AS label FROM e),
       |$rounds
       |fin AS (SELECT node, label FROM l$LpaRounds)
       |SELECT label, COUNT(*) AS n_nodes, MIN(node) AS min_node
       |FROM fin GROUP BY label
       |ORDER BY n_nodes DESC, label LIMIT 20""".stripMargin
  }

  private val CostRounds = 3

  /** BOUNDED-HOP MIN-COST ROUTE (Bellman-Ford, k synchronous rounds) —
    * the WEIGHTED member of the graph family next to [[bfsHops]]'
    * unweighted reachability: edge weight = the minimum line quantity
    * ever shipped on that (part, supplier) link (an exact BIGINT, so
    * every path cost is order-free integer arithmetic), seeds =
    * nation-0 suppliers at cost 0, and k relaxation rounds give each
    * node its cheapest route of ≤ k edges. The DuckDB oracle is an
    * INDEPENDENT formulation — hop-bounded recursive path enumeration
    * + MIN per node — so a hash match proves the distributed
    * relaxation == exhaustive path search on the bounded radius.
    *
    * Scale shape per round (identical to [[pageRankOn]]): the weighted
    * edge list is built once, pre-partitioned on `s` and persisted;
    * each round joins the (node-sized) distance table against it and
    * folds with one map-side-combined `min` — the frontier never
    * enumerates paths, which is why relaxation, not path recursion, is
    * the 100 TB form.
    */
  def minCostRoute(spark: SparkSession, dir: String): DataFrame = {
    val ew = Tables(spark, dir, "lineitem")
      .groupBy((col("l_partkey").cast("long") * 2).as("s"),
        (col("l_suppkey").cast("long") * 2 + 1).as("t"))
      .agg(min(col("l_quantity").cast("long")).as("w"))
    val e = ew.unionByName(
      ew.select(col("t").as("s"), col("s").as("t"), col("w")))
    val seeds = Tables(spark, dir, "supplier")
      .filter(col("s_nationkey") === 0)
      .select((col("s_suppkey").cast("long") * 2 + 1).as("node"))
    minCostOn(e, seeds, CostRounds)
      .orderBy(asc("cost"), asc("node")).limit(20)
      .localCheckpoint(true)
  }

  /** The relaxation core over a weighted directed edge list `(s, t, w)`
    * — extracted so GraphQueriesSpec can pin it against brute-force
    * path enumeration on random graphs. */
  private[ext] def minCostOn(e0: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    val e = e0.repartition(col("s")).persist()
    try {
      var dist = seeds.select(col("node"), lit(0L).as("cost"))
        .distinct().localCheckpoint(true)
      for (_ <- 1 to rounds) {
        val relaxed = e
          .join(dist.select(col("node").as("s"), col("cost")), Seq("s"))
          .select(col("t").as("node"), (col("cost") + col("w")).as("cost"))
        dist = dist.unionByName(relaxed)
          .groupBy("node").agg(min("cost").as("cost"))
          .localCheckpoint(true)
      }
      dist
    } finally e.unpersist()
  }

  val minCostRouteSql: String =
    s"""WITH RECURSIVE
       |ew AS (SELECT CAST(l_partkey AS BIGINT) * 2 AS s,
       |              CAST(l_suppkey AS BIGINT) * 2 + 1 AS t,
       |              MIN(CAST(l_quantity AS BIGINT)) AS w
       |       FROM lineitem GROUP BY 1, 2),
       |e AS (SELECT s, t, w FROM ew UNION ALL SELECT t, s, w FROM ew),
       |p(node, cost, hop) AS (
       |  SELECT CAST(s_suppkey AS BIGINT) * 2 + 1, CAST(0 AS BIGINT), 0
       |  FROM supplier WHERE s_nationkey = 0
       |  UNION
       |  SELECT e.t, p.cost + e.w, p.hop + 1
       |  FROM p JOIN e ON e.s = p.node WHERE p.hop < $CostRounds),
       |md AS (SELECT node, MIN(cost) AS cost FROM p GROUP BY node)
       |SELECT node, cost FROM md
       |ORDER BY cost, node LIMIT 20""".stripMargin

  /** DEGREE DISTRIBUTION of the supply graph — the profiling pass run
    * BEFORE any of the iterative algorithms above (a near-complete or
    * power-law graph changes which of them is even feasible — see
    * [[triangles]]' backbone note): per-node degrees bucketed into
    * power-of-two bins, with an exact DEGREE-ASSORTATIVITY coefficient
    * (Pearson r of endpoint degrees over directed edges, Newman 2002)
    * as a ride-along scalar column. log₂ bins are
    * computed STRUCTURALLY — `length(bin(deg)) − 1`, the binary-string
    * length, never FLOOR(LOG2(x)) whose double can land an ulp below
    * an exact power — and r's four moment sums are exact
    * DECIMAL(38,0)/HUGEINT with IEEE-exact sqrt at the end (sqrt IS
    * correctly rounded, unlike ln/exp), rounded at 6dp.
    *
    * Scale: one fact distinct + one degree aggregate; bins and moments
    * are map-side-combined folds. Nothing iterative.
    */
  def degreeDist(spark: SparkSession, dir: String): DataFrame = {
    val e0 = Tables(spark, dir, "lineitem")
      .select((col("l_partkey").cast("long") * 2).as("s"),
        (col("l_suppkey").cast("long") * 2 + 1).as("t"))
      .distinct()
    // e feeds the degree aggregate AND the assortativity edge join;
    // deg feeds bins plus BOTH sides of that join — checkpoint each once
    // (the old persist() left the degree aggregate re-derived per
    // consumer and the cache entry dangling past the query's lifetime)
    val e = e0.unionByName(e0.select(col("t").as("s"), col("s").as("t")))
      .localCheckpoint(true)
    val deg = e.groupBy("s").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val bins = deg
      .withColumn("b", (length(bin(col("deg"))) - 1).cast("long"))
      .groupBy("b")
      .agg(count(lit(1)).as("n_nodes"),
        min("deg").as("min_deg"), max("deg").as("max_deg"))
    // assortativity over directed edges: x = deg(s), y = deg(t)
    val dd = e
      .join(deg.select(col("s"), col("deg").as("x")), Seq("s"))
      .join(deg.select(col("s").as("t"), col("deg").as("y")), Seq("t"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("m"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
      .select(round(
        (col("m") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double"))
            * sqrt((col("m") * col("syy") - col("sy") * col("sy")).cast("double"))),
        6).as("assortativity"))
    bins.crossJoin(broadcast(dd))
      .select(col("b").as("log2_degree_bin"), col("n_nodes"),
        col("min_deg"), col("max_deg"), col("assortativity"))
      .orderBy("log2_degree_bin")
  }

  val degreeDistSql: String =
    """WITH e0 AS (SELECT DISTINCT CAST(l_partkey AS BIGINT) * 2 AS s,
      |                   CAST(l_suppkey AS BIGINT) * 2 + 1 AS t FROM lineitem),
      |e AS (SELECT s, t FROM e0 UNION ALL SELECT t AS s, s AS t FROM e0),
      |deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY s),
      |bins AS (
      |  SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS b,
      |    CAST(COUNT(*) AS BIGINT) AS n_nodes,
      |    CAST(MIN(deg) AS BIGINT) AS min_deg,
      |    CAST(MAX(deg) AS BIGINT) AS max_deg
      |  FROM deg GROUP BY 1),
      |mom AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS m,
      |    CAST(SUM(dx.deg) AS HUGEINT) AS sx,
      |    CAST(SUM(dy.deg) AS HUGEINT) AS sy,
      |    CAST(SUM(CAST(dx.deg AS HUGEINT) * dy.deg) AS HUGEINT) AS sxy,
      |    CAST(SUM(CAST(dx.deg AS HUGEINT) * dx.deg) AS HUGEINT) AS sxx,
      |    CAST(SUM(CAST(dy.deg AS HUGEINT) * dy.deg) AS HUGEINT) AS syy
      |  FROM e
      |  JOIN deg dx ON dx.s = e.s
      |  JOIN deg dy ON dy.s = e.t),
      |a AS (
      |  SELECT ROUND(
      |    CAST(m * sxy - sx * sy AS DOUBLE)
      |      / (SQRT(CAST(m * sxx - sx * sx AS DOUBLE))
      |         * SQRT(CAST(m * syy - sy * sy AS DOUBLE))), 6)
      |    AS assortativity
      |  FROM mom)
      |SELECT b AS log2_degree_bin, n_nodes, min_deg, max_deg, assortativity
      |FROM bins CROSS JOIN a
      |ORDER BY log2_degree_bin""".stripMargin

  private val CoreK = 8
  private val PeelRounds = 3

  /** BOUNDED-ROUND k-CORE PEELING (k = [[CoreK]], [[PeelRounds]]
    * synchronous rounds) — the density/cohesion member of the graph
    * family: repeatedly drop nodes whose degree IN THE SURVIVING
    * SUBGRAPH is < k; what survives all peels is (an over-approximation
    * converging to) the k-core, the standard "dense engagement core"
    * cut. Fixed synchronous rounds are the deterministic, replayable
    * form (the [[labelPropagation]] discipline — classic peeling is
    * sequential and order-dependent); the output's per-round profile
    * carries `n_nodes` so convergence is VISIBLE (equal consecutive
    * rows ⇒ the true k-core was reached).
    *
    * Scale shape per round: two semi-joins of the (pre-partitioned,
    * persisted) edge list against the (node-sized) survivor set + one
    * map-side-combined degree count — never an induced-subgraph
    * materialization. Pure integers.
    */
  def kcorePeel(spark: SparkSession, dir: String): DataFrame = {
    val e0 = Tables(spark, dir, "lineitem")
      .select((col("l_partkey").cast("long") * 2).as("s"),
        (col("l_suppkey").cast("long") * 2 + 1).as("t"))
      .distinct()
    val e = e0.unionByName(e0.select(col("t").as("s"), col("s").as("t")))
      .repartition(col("s")).persist()
    try {
      var surv = e.select(col("s").as("node")).distinct()
        .localCheckpoint(true)
      val profile = scala.collection.mutable.ArrayBuffer[DataFrame]()
      def prof(round: Int, sv: DataFrame): DataFrame =
        sv.agg(count(lit(1)).as("n_nodes"),
            sum(when(col("node") % 2 === 0, 1L).otherwise(0L)).as("n_parts"),
            sum(col("node") % 2).as("n_suppliers"))
          .select(lit(round.toLong).as("round"), col("n_nodes"),
            col("n_parts"), col("n_suppliers"))
      profile += prof(0, surv)
      for (r <- 1 to PeelRounds) {
        val deg = e
          .join(surv.select(col("node").as("s")), Seq("s"), "left_semi")
          .join(surv.select(col("node").as("t")), Seq("t"), "left_semi")
          .groupBy(col("s").as("node")).agg(count(lit(1)).as("deg"))
        surv = deg.filter(col("deg") >= CoreK).select("node")
          .localCheckpoint(true)
        profile += prof(r, surv)
      }
      profile.reduce(_ unionByName _).orderBy("round")
    } finally e.unpersist()
  }

  val kcorePeelSql: String = {
    def round(i: Int): String =
      s"""d$i AS (SELECT e.s AS node, COUNT(*) AS deg FROM e
         |  WHERE EXISTS (SELECT 1 FROM s${i - 1} WHERE s${i - 1}.node = e.s)
         |    AND EXISTS (SELECT 1 FROM s${i - 1} WHERE s${i - 1}.node = e.t)
         |  GROUP BY e.s),
         |s$i AS (SELECT node FROM d$i WHERE deg >= $CoreK),""".stripMargin
    val rounds = (1 to PeelRounds).map(round).mkString("\n")
    val profs = (0 to PeelRounds).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS round,
         |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |  CAST(SUM(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_parts,
         |  CAST(SUM(node % 2) AS BIGINT) AS n_suppliers
         |FROM s$i""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH e0 AS (SELECT DISTINCT CAST(l_partkey AS BIGINT) * 2 AS s,
       |                   CAST(l_suppkey AS BIGINT) * 2 + 1 AS t FROM lineitem),
       |e AS (SELECT s, t FROM e0 UNION ALL SELECT t AS s, s AS t FROM e0),
       |s0 AS (SELECT DISTINCT s AS node FROM e),
       |$rounds
       |z AS (SELECT 1)
       |$profs
       |ORDER BY round""".stripMargin
  }

  private val HitsRounds = 2

  /** HITS HUBS & AUTHORITIES (Kleinberg 1999) on the DIRECTED
    * part→supplier supply graph — the two-sided centrality PageRank's
    * single score can't express: a part is a strong HUB when it is
    * sourced from many strong suppliers, a supplier a strong AUTHORITY
    * when many strong hub-parts flow through it (mutual
    * reinforcement). [[HitsRounds]] synchronous rounds in EXACT
    * integers: authority = Σ in-neighbor hubs, hub = Σ out-neighbor
    * authorities, each side renormalized to max 10⁶ by the signed
    * integer division ([[graft.ext.SimilarityQueries]] pca_power's
    * discipline — scores are nonneg so it's one `div`); the max rides
    * a 1-row broadcast. Output: top-10 hubs and top-10 authorities,
    * two TakeOrdered legs unioned.
    *
    * Scale shape per round: one join of the (pre-partitioned,
    * persisted) edge list against the node-sized score table per side
    * — identical to [[pageRankOn]]'s step.
    */
  def hitsScores(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "lineitem")
      .select(col("l_partkey").cast("long").as("p"),
        col("l_suppkey").cast("long").as("s"))
      .distinct()
      .repartition(col("p")).persist()
    try {
      var hub = e.select(col("p")).distinct()
        .select(col("p"), lit(1000000L).as("h"))
        .localCheckpoint(true)
      var auth: DataFrame = null
      for (_ <- 1 to HitsRounds) {
        // per side: the raw-score aggregate feeds both the 1-row max
        // and the renormalized projection inside ONE checkpoint job.
        // persist() lets the two consumers share ONE physical tower:
        // whichever of the broadcast-max subquery and the renormalized
        // projection runs second reads the cached node-scale aggregate
        // instead of re-running the edge join + aggregate (guide §2.4:
        // two consumers of one subtree share one computation); Spark
        // does not fix their order, and either order dedups. Unpersisted
        // right after the eager checkpoint — nothing leaks past the
        // round. (A driver-scalar variant with collect round-trips
        // re-measured +0.8 s in r16; this form keeps the single-job
        // round shape.)
        val a0 = e.join(hub, Seq("p"))
          .groupBy("s").agg(sum("h").as("a")).persist()
        val amax = a0.agg(max("a").as("mx"))
        auth = a0.crossJoin(broadcast(amax))
          .select(col("s"),
            expr("(cast(a AS decimal(38,0)) * 1000000) div mx").as("a"))
          .localCheckpoint(true)
        a0.unpersist()
        val h0 = e.join(auth, Seq("s"))
          .groupBy("p").agg(sum("a").as("h")).persist()
        val hmax = h0.agg(max("h").as("mx"))
        hub = h0.crossJoin(broadcast(hmax))
          .select(col("p"),
            expr("(cast(h AS decimal(38,0)) * 1000000) div mx").as("h"))
          .localCheckpoint(true)
        h0.unpersist()
      }
      val topH = hub.select(lit("hub").as("role"), col("p").as("node"),
          (col("h") / 1e6).as("score"))
        .orderBy(desc("score"), asc("node")).limit(10)
      val topA = auth.select(lit("authority").as("role"),
          col("s").as("node"), (col("a") / 1e6).as("score"))
        .orderBy(desc("score"), asc("node")).limit(10)
      topH.unionByName(topA).orderBy(col("role"), desc("score"), asc("node"))
        .localCheckpoint(true)
    } finally e.unpersist()
  }

  val hitsScoresSql: String = {
    def round(i: Int): String =
      s"""a${i}0 AS (SELECT e.s, CAST(SUM(h${i - 1}.h) AS BIGINT) AS a
         |  FROM e JOIN h${i - 1} ON h${i - 1}.p = e.p GROUP BY e.s),
         |a$i AS (SELECT s, CAST((CAST(a AS HUGEINT) * 1000000)
         |    // (SELECT MAX(a) FROM a${i}0) AS BIGINT) AS a FROM a${i}0),
         |h${i}0 AS (SELECT e.p, CAST(SUM(a$i.a) AS BIGINT) AS h
         |  FROM e JOIN a$i ON a$i.s = e.s GROUP BY e.p),
         |h$i AS (SELECT p, CAST((CAST(h AS HUGEINT) * 1000000)
         |    // (SELECT MAX(h) FROM h${i}0) AS BIGINT) AS h FROM h${i}0),""".stripMargin
    val rounds = (1 to HitsRounds).map(round).mkString("\n")
    s"""WITH e AS (SELECT DISTINCT CAST(l_partkey AS BIGINT) AS p,
       |                  CAST(l_suppkey AS BIGINT) AS s FROM lineitem),
       |h0 AS (SELECT DISTINCT p, CAST(1000000 AS BIGINT) AS h FROM e),
       |$rounds
       |z AS (SELECT 1),
       |toph AS (
       |  SELECT 'hub' AS role, p AS node,
       |    CAST(h AS BIGINT) / 1e6 AS score
       |  FROM h$HitsRounds ORDER BY score DESC, node LIMIT 10),
       |topa AS (
       |  SELECT 'authority' AS role, s AS node,
       |    CAST(a AS BIGINT) / 1e6 AS score
       |  FROM a$HitsRounds ORDER BY score DESC, node LIMIT 10)
       |SELECT * FROM toph
       |UNION ALL
       |SELECT * FROM topa
       |ORDER BY role, score DESC, node""".stripMargin
  }

  /** LINK PREDICTION by Adamic–Adar over the co-supply backbone — the
    * classic common-neighbor score (Adamic & Adar 2003): for an UNLINKED
    * supplier pair (a, b), Σ over their common neighbors z of
    * 1/ln(deg z) — common neighbors weighted inversely by how
    * promiscuous they are. The top-scored non-edges are "suppliers that
    * don't yet co-supply a part but sit in the same dense
    * neighborhood" — the recommendation/anomaly readout of supply
    * graphs. Same strongest-2000 backbone as [[triangles]]; the
    * backbone is EAGERLY checkpointed (2 000 rows) so its corpus-side
    * aggregation runs once however many times the pipeline references
    * it. Wedge enumeration is per-z quadratic over backbone adjacency
    * (bounded by the edge cap, the [[triangles]] argument); the
    * contribution 10⁶/ln(deg) is half-up integer micros over
    * floor-6dp ln micros — exact BIGINT sums, bit-identical replay.
    * deg=1 nodes never form a wedge; their division guards to NULL
    * rather than divide by ln(1)=0.
    */
  def linkPrediction(spark: SparkSession, dir: String): DataFrame = {
    val und = coSupplyEdges(spark, dir)
      .orderBy(desc("w"), asc("u"), asc("v")).limit(2000)
      .select("u", "v")
      .localCheckpoint(true)
    adamicAdarOn(und)
      .orderBy(desc("aa_micros"), asc("a"), asc("b")).limit(20)
      .select(col("a"), col("b"), col("n_common"),
        (col("aa_micros") / 1e6).as("aa_score"))
  }

  /** Adamic–Adar scores of every UNLINKED pair with ≥1 common neighbor,
    * over an undirected edge list `(u, v)` with `u < v`, no duplicates:
    * `(a, b, n_common, aa_micros)`. Extracted so GraphQueriesSpec can
    * pin it against brute-force enumeration on crafted graphs. */
  private[ext] def adamicAdarOn(und: DataFrame): DataFrame = {
    val adj = und.select(col("u").as("z"), col("v").as("nb"))
      .unionAll(und.select(col("v").as("z"), col("u").as("nb")))
    val deg = adj.groupBy("z").agg(count(lit(1)).as("d"))
      .withColumn("lnm",
        expr("CAST(FLOOR(LN(CAST(d AS DOUBLE)) * 1000000) AS BIGINT)"))
      .withColumn("contrib", expr(
        "CASE WHEN lnm > 0 THEN (2 * 1000000000000 + lnm) div (2 * lnm) END"))
      .select("z", "contrib")
    val wedges = adj
      .join(adj.select(col("z"), col("nb").as("nb2")), Seq("z"))
      .filter(col("nb") < col("nb2"))
      .join(deg, Seq("z"))
    wedges
      .groupBy(col("nb").as("a"), col("nb2").as("b"))
      .agg(count(lit(1)).as("n_common"), sum("contrib").as("aa_micros"))
      .join(und.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti")
  }

  val linkPredictionSql: String =
    s"""WITH sp AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
      |und AS (
      |  SELECT u, v FROM (
      |    $coSupplyPairsSql)
      |  ORDER BY w DESC, u, v LIMIT 2000),
      |adj AS (
      |  SELECT u AS z, v AS nb FROM und
      |  UNION ALL SELECT v, u FROM und),
      |deg AS (
      |  SELECT z,
      |    CASE WHEN CAST(FLOOR(LN(CAST(COUNT(*) AS DOUBLE)) * 1000000)
      |              AS BIGINT) > 0
      |      THEN (2 * 1000000000000
      |              + CAST(FLOOR(LN(CAST(COUNT(*) AS DOUBLE)) * 1000000)
      |                AS BIGINT))
      |           // (2 * CAST(FLOOR(LN(CAST(COUNT(*) AS DOUBLE)) * 1000000)
      |                AS BIGINT))
      |    END AS contrib
      |  FROM adj GROUP BY z),
      |wedges AS (
      |  SELECT a1.nb AS a, a2.nb AS b, d.contrib
      |  FROM adj a1
      |  JOIN adj a2 ON a1.z = a2.z AND a1.nb < a2.nb
      |  JOIN deg d ON d.z = a1.z),
      |aa AS (
      |  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_common,
      |    CAST(SUM(contrib) AS BIGINT) AS aa_micros
      |  FROM wedges GROUP BY a, b),
      |unlinked AS (
      |  SELECT aa.* FROM aa
      |  WHERE NOT EXISTS (SELECT 1 FROM und
      |                    WHERE und.u = aa.a AND und.v = aa.b))
      |SELECT a, b, n_common, aa_micros / 1e6 AS aa_score
      |FROM unlinked
      |ORDER BY aa_micros DESC, a, b LIMIT 20""".stripMargin

  /** GRID DBSCAN — density clustering in the distributed-friendly
    * grid formulation (cells of fixed ε-width stand in for the ε-ball;
    * the GriDBSCAN/NG-DBSCAN lineage): bucket (extended price,
    * quantity) into a 2-D grid, mark cells whose density clears a
    * RELATIVE threshold (≥ 1.15× the average cell count, as the exact
    * cross-multiply `20·n·#cells ≥ 23·total` — scale-invariant where a
    * fixed minPts silently flips core↔noise between sf0.01 and sf1),
    * and connect core cells through their 8-neighborhood with the SAME
    * min-label CC fixpoint as `dedup_clusters`
    * ([[DedupQueries.ccLabels]]). Output is the bounded cell-cluster
    * table: id (= min cell key), cell/point counts, bounding box.
    *
    * Scale: ONE corpus aggregate to the value-grid-bounded cell table
    * (the ks_drift/classifier_auc grid argument — the price×quantity
    * grid is capped by the VALUE RANGES, not the corpus); everything
    * after runs on cells. Neighbor edges come from an 8-row broadcast
    * offset table, never a cell self-join. The oracle replays the
    * fixpoint as a recursive min-label CTE.
    */
  def dbscanGrid(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables(spark, dir, "lineitem")
      .select(expr("CAST(l_extendedprice * 100 AS BIGINT) div 500000").as("cx"),
        expr("CAST(l_quantity AS BIGINT) div 5").as("cy"))
      .groupBy("cx", "cy").agg(count(lit(1)).as("n"))
    val tot = cells.agg(sum("n").as("tot"), count(lit(1)).as("nc"))
    val core = cells.crossJoin(broadcast(tot))
      .filter(col("n") * col("nc") * 20 >= col("tot") * 23)
      .select(col("cx"), col("cy"), col("n"),
        (col("cx") * 1024 + col("cy")).as("k"))
      .localCheckpoint(false) // feeds both edge sides + the final agg
    val offs = Seq((-1L, -1L), (-1L, 0L), (-1L, 1L), (0L, -1L),
      (0L, 1L), (1L, -1L), (1L, 0L), (1L, 1L))
    import spark.implicits._
    val offDf = offs.toDF("dx", "dy")
    val edges = core.select(col("k").as("src"), col("cx"), col("cy"))
      .crossJoin(broadcast(offDf))
      .select(col("src"), (col("cx") + col("dx")).as("nx"),
        (col("cy") + col("dy")).as("ny"))
      .join(core.select(col("k").as("dst"), col("cx").as("nx"),
        col("cy").as("ny")), Seq("nx", "ny"))
      .filter(col("src") < col("dst"))
      .select(col("src").as("doc_a"), col("dst").as("doc_b"))
    val labels = DedupQueries.ccLabels(edges)
      .withColumnRenamed("doc_id", "k")
    core
      .join(labels, Seq("k"), "left")
      // a core cell with no core neighbor is its own (singleton) cluster
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("k")))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_cells"), sum("n").as("n_points"),
        min("cx").as("min_cx"), max("cx").as("max_cx"),
        min("cy").as("min_cy"), max("cy").as("max_cy"))
      .orderBy("cluster_id")
  }

  val dbscanGridSql: String =
    """WITH RECURSIVE cells AS (
      |  SELECT CAST(l_extendedprice * 100 AS BIGINT) // 500000 AS cx,
      |    CAST(l_quantity AS BIGINT) // 5 AS cy,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM lineitem GROUP BY 1, 2),
      |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot,
      |             CAST(COUNT(*) AS BIGINT) AS nc FROM cells),
      |core AS (
      |  SELECT cx, cy, n, cx * 1024 + cy AS k FROM cells CROSS JOIN t
      |  WHERE n * nc * 20 >= tot * 23),
      |e0 AS (
      |  SELECT a.k AS src, b.k AS dst FROM core a JOIN core b
      |  ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1 AND a.k != b.k),
      |lab AS (
      |  SELECT k AS cell, k AS lab FROM core
      |  UNION
      |  SELECT e0.dst, lab.lab FROM lab JOIN e0 ON e0.src = lab.cell),
      |cl AS (SELECT cell, MIN(lab) AS cluster_id FROM lab GROUP BY cell)
      |SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_cells,
      |  CAST(SUM(n) AS BIGINT) AS n_points,
      |  MIN(cx) AS min_cx, MAX(cx) AS max_cx,
      |  MIN(cy) AS min_cy, MAX(cy) AS max_cy
      |FROM cl JOIN core ON core.k = cl.cell
      |GROUP BY cluster_id
      |ORDER BY cluster_id""".stripMargin

  /** MAXIMUM SPANNING FOREST of the co-supply backbone — the classic
    * network-skeleton extraction: keep, per connected component, the
    * strongest acyclic subset of co-supply edges (the tree a supply
    * analyst draws when the full weighted graph is unreadable). The
    * total order (w DESC, u, v) fully breaks ties, so the MSF is
    * UNIQUE — which is what lets two different algorithms be the
    * implementation and the oracle: the engine runs Kruskal with
    * union-find over the LITERAL-BOUNDED backbone (top-500 edges by
    * weight — driver-side metadata, the [[graft.ext.EventQueries]]
    * holt_winters calendar-fold class), the DuckDB oracle replays
    * BORŮVKA (10 unrolled best-exit-edge rounds, each with a
    * reachability-closure component labeling — 2¹⁰ ≥ the ≤1000
    * backbone nodes). Same total order ⇒ bit-identical forests.
    *
    * Scale: the corpus-side stage is the distinct-(part,supplier)
    * projection, the co-occurrence aggregation, and the TakeOrdered
    * cap — all distributed; only the ≤500-row backbone reaches the
    * driver. At a larger cap, swap the driver Kruskal for Borůvka
    * rounds over [[DedupQueries.ccLabels]] (the fixpoint primitive
    * already exists) — the oracle's algorithm IS that shape.
    */
  def msfBackbone(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val backbone = coSupplyEdges(spark, dir)
      .orderBy(desc("w"), asc("u"), asc("v")).limit(500)
    // ≤500 rows of literal-bounded metadata → driver Kruskal
    kruskalMsf(backbone.as[(Long, Long, Long)].collect().toSeq)
      .toDF("u", "v", "w", "tree_id")
      .orderBy(desc("w"), asc("u"), asc("v"))
  }

  /** Kruskal max-spanning-forest core under the (w DESC, u, v) total
    * order, labeling each kept edge with its final component's min
    * node id. Extracted so GraphQueriesSpec can pin it against an
    * independent Borůvka reference (the oracle's algorithm) on random
    * graphs. */
  private[ext] def kruskalMsf(esIn: Seq[(Long, Long, Long)])
      : Seq[(Long, Long, Long, Long)] = {
    val es = esIn.sortBy { case (u, v, w) => (-w, u, v) }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val kept = es.filter { case (u, v, _) =>
      val (ru, rv) = (find(u), find(v))
      // union by MIN id: each set's root stays its minimum member, so
      // find() doubles as the deterministic tree label
      if (ru == rv) false
      else { parent(math.max(ru, rv)) = math.min(ru, rv); true }
    }
    kept.map { case (u, v, w) => (u, v, w, find(u)) }
  }

  val msfBackboneSql: String = {
    val rounds = (1 to 10).map { r =>
      val prev = s"sel_${r - 1}"
      // every per-round CTE is MATERIALIZED: each sel_r is referenced
      // three times by round r+1, and an inlining planner would
      // otherwise re-evaluate the whole chain 3^R times
      s"""und_$r AS MATERIALIZED (
         |  SELECT u AS s, v AS t FROM $prev
         |  UNION ALL SELECT v, u FROM $prev),
         |reach_$r(s, t) AS (
         |  SELECT s, t FROM und_$r
         |  UNION
         |  SELECT x.s, y.t FROM reach_$r x JOIN und_$r y ON x.t = y.s),
         |comp_$r AS MATERIALIZED (
         |  SELECT n.id, LEAST(n.id, COALESCE(MIN(rc.t), n.id)) AS comp
         |  FROM nodes n LEFT JOIN reach_$r rc ON rc.s = n.id
         |  GROUP BY n.id),
         |out_$r AS MATERIALIZED (
         |  SELECT e.u, e.v, e.w, cu.comp AS cu, cv.comp AS cv
         |  FROM backbone e
         |  JOIN comp_$r cu ON cu.id = e.u
         |  JOIN comp_$r cv ON cv.id = e.v
         |  WHERE cu.comp <> cv.comp),
         |best_$r AS MATERIALIZED (
         |  SELECT u, v, w FROM (
         |    SELECT u, v, w,
         |      ROW_NUMBER() OVER (PARTITION BY comp
         |        ORDER BY w DESC, u, v) AS rn
         |    FROM (SELECT cu AS comp, u, v, w FROM out_$r
         |          UNION ALL SELECT cv, u, v, w FROM out_$r))
         |  WHERE rn = 1),
         |sel_$r AS MATERIALIZED (
         |  SELECT DISTINCT u, v, w FROM
         |    (SELECT u, v, w FROM $prev
         |     UNION ALL SELECT u, v, w FROM best_$r))""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE sp AS MATERIALIZED (
       |  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
       |backbone AS MATERIALIZED (
       |  SELECT u, v, w FROM (
       |    $coSupplyPairsSql)
       |  ORDER BY w DESC, u, v LIMIT 500),
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT u AS id FROM backbone
       |  UNION SELECT DISTINCT v FROM backbone),
       |sel_0 AS (SELECT u, v, w FROM backbone WHERE FALSE),
       |$rounds,
       |undf AS (
       |  SELECT u AS s, v AS t FROM sel_10
       |  UNION ALL SELECT v, u FROM sel_10),
       |reachf(s, t) AS (
       |  SELECT s, t FROM undf
       |  UNION
       |  SELECT x.s, y.t FROM reachf x JOIN undf y ON x.t = y.s),
       |compf AS (
       |  SELECT s AS id, LEAST(s, MIN(t)) AS comp FROM reachf GROUP BY s)
       |SELECT e.u, e.v, e.w, c.comp AS tree_id
       |FROM sel_10 e JOIN compf c ON c.id = e.u
       |ORDER BY e.w DESC, e.u, e.v""".stripMargin
  }

  /** K-TRUSS peeling (k=4) of the strongest-2000 co-supply backbone —
    * the EDGE-support sibling of [[kcorePeel]]'s node-degree peel: each
    * round recomputes per-edge triangle support |N(u) ∩ N(v)| on the
    * surviving subgraph and drops edges supporting fewer than k−2 = 2
    * triangles, a strictly stronger cohesion filter than k-core (every
    * k-truss is inside a (k−1)-core). Fixed 4 peel rounds — like
    * [[pageRank]]'s fixed iterations, the round count is part of the
    * operator's defined semantics so the unrolled DuckDB oracle replays
    * it exactly. Output is the per-round (edges, nodes) profile.
    *
    * Scale: the backbone is LIMIT-bounded (2000 edges) after one
    * corpus-side co-supply aggregation — the same bounded-subgraph
    * discipline as [[triangles]]/[[msfBackbone]]. The peel itself runs
    * DRIVER-SIDE over those ≤2000 rows ([[msfBackbone]]'s
    * bounded-metadata argument: only the literal-capped backbone ever
    * leaves the cluster; the corpus-side stage stays fully
    * distributed). A first form ran the peel as four checkpointed
    * DataFrame join rounds — ~12 barrier stages over KB-scale frames,
    * ~3 s of pure scheduling at sf0.1 for work the driver does in
    * microseconds; at a larger cap the round shape to return to is
    * that join form (each round two bounded self-joins + one
    * aggregate), exactly as msf_backbone documents Borůvka.
    */
  def kTruss(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val backbone = coSupplyEdges(spark, dir)
      .orderBy(desc("w"), asc("u"), asc("v")).limit(2000)
      .select("u", "v").as[(Long, Long)].collect().toIndexedSeq
    kTrussProfile(backbone).toDF("round", "n_edges", "n_nodes")
      .orderBy("round")
  }

  /** The synchronous peel core over an undirected edge list (u < v, no
    * duplicates): per-round (round, n_edges, n_nodes) for 4 rounds of
    * "recompute support |N(u) ∩ N(v)| on the surviving subgraph, drop
    * edges with support < 2". Extracted so PhraseGraphSpec pins it
    * against an independent replica.
    */
  private[ext] def kTrussProfile(es0: IndexedSeq[(Long, Long)])
      : Seq[(Long, Long, Long)] = {
    def prof(i: Int, es: IndexedSeq[(Long, Long)]): (Long, Long, Long) = {
      val nodes = new scala.collection.mutable.HashSet[Long]
      es.foreach { case (u, v) => nodes += u; nodes += v }
      (i.toLong, es.size.toLong, nodes.size.toLong)
    }
    var es = es0
    val out = Seq.newBuilder[(Long, Long, Long)]
    out += prof(0, es)
    for (r <- 1 to 4) {
      val adj = new scala.collection.mutable.HashMap[
        Long, scala.collection.mutable.HashSet[Long]]
      es.foreach { case (u, v) =>
        adj.getOrElseUpdate(u, new scala.collection.mutable.HashSet) += v
        adj.getOrElseUpdate(v, new scala.collection.mutable.HashSet) += u
      }
      es = es.filter { case (u, v) =>
        val (a, b) =
          if (adj(u).size <= adj(v).size) (adj(u), adj(v)) else (adj(v), adj(u))
        a.count(b.contains) >= 2
      }
      out += prof(r, es)
    }
    out.result()
  }

  val kTrussSql: String = {
    def round(i: Int): String =
      s"""a$i AS MATERIALIZED (
         |  SELECT u, v FROM e$i UNION ALL SELECT v, u FROM e$i),
         |s$i AS MATERIALIZED (
         |  SELECT e.u, e.v, COUNT(*) AS sup
         |  FROM e$i e
         |  JOIN a$i n1 ON n1.u = e.u
         |  JOIN a$i n2 ON n2.u = e.v AND n2.v = n1.v
         |  GROUP BY e.u, e.v),
         |e${i + 1} AS MATERIALIZED (
         |  SELECT e.u, e.v FROM e$i e
         |  JOIN s$i s ON s.u = e.u AND s.v = e.v
         |  WHERE s.sup >= 2)""".stripMargin
    def prof(i: Int): String =
      s"""SELECT CAST($i AS BIGINT) AS round,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e$i) AS n_edges,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
         |    (SELECT u AS n FROM e$i UNION SELECT v FROM e$i)) AS n_nodes"""
        .stripMargin
    s"""WITH sp AS MATERIALIZED (
       |  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT u, v FROM (
       |    $coSupplyPairsSql)
       |  ORDER BY w DESC, u, v LIMIT 2000),
       |${(0 to 3).map(round).mkString(",\n")}
       |${(0 to 4).map(prof).mkString("\nUNION ALL\n")}
       |ORDER BY round""".stripMargin
  }

  def all: Seq[(String, ((SparkSession, String) => DataFrame, String))] = Seq(
    "k_truss" -> ((kTruss _, kTrussSql)),
    "min_cost_route" -> ((minCostRoute _, minCostRouteSql)),
    "msf_backbone" -> ((msfBackbone _, msfBackboneSql)),
    "pagerank_supply" -> ((pageRank _, pageRankSql)),
    "ppr_supply" -> ((personalizedPageRank _, personalizedPageRankSql)),
    "triangles_cosupply" -> ((triangles _, trianglesSql)),
    "graph_bfs_hops" -> ((bfsHops _, bfsHopsSql)),
    "label_propagation" -> ((labelPropagation _, labelPropagationSql)),
    "degree_dist" -> ((degreeDist _, degreeDistSql)),
    "kcore_peel" -> ((kcorePeel _, kcorePeelSql)),
    "hits_scores" -> ((hitsScores _, hitsScoresSql)),
    "link_prediction" -> ((linkPrediction _, linkPredictionSql)),
    "dbscan_grid" -> ((dbscanGrid _, dbscanGridSql))
  )
}
