package graft.closure

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.meta.{Catalog, FkEdge, TableMeta}

/** Pins the driver-local fast path (`ClosureExtractor.tryRunAllLocal`)
  * to the distributed BFS: same catalog/seeds/policy/preSeen must yield
  * IDENTICAL key sets, and `extractAll` IDENTICAL row multisets (the
  * fast path writes the rows it fetched, the distributed path semi-joins
  * the source), whether the traversal runs locally (default budget),
  * distributed (`fastPathBudget = 0`), or aborts mid-run and hands its
  * last completed iteration boundary to the distributed BFS.
  * The abort budget sweeps every collect point of each fixture — before
  * the first boundary (restart from the seeds), inside an iteration's
  * probes, and inside a fresh-key re-probe — so every handoff state the
  * fast path can produce is checked. This is what keeps the distributed
  * path — the 100 TB plan — covered now that every small-data test takes
  * the fast path by default, and what makes the fast path safe to take.
  */
class FastPathParitySpec extends SparkSpec {
  import spark.implicits._

  // the mover-shaped micro-fixture (FIXTURES.md §B): user↔project FK
  // cycle, nullable FKs, comment fan-in
  private lazy val user = Seq(
    (1L, "alice", Option(10L)),
    (2L, "bob", Option.empty[Long]),
    (3L, "carol", Option(30L)),
    (4L, "dave", Option.empty[Long])
  ).toDF("id", "username", "best_project_id")
  private lazy val project = Seq(
    (10L, 1L, "p-alice"), (20L, 2L, "p-bob"), (30L, 3L, "p-carol"),
    (40L, 4L, "p-dave")
  ).toDF("id", "owner_id", "title")
  private lazy val comment = Seq(
    (100L, 10L, 2L, "hi"), (101L, 20L, 1L, "yo"), (102L, 40L, 3L, "hm")
  ).toDF("id", "project_id", "author_id", "body")

  private val catalog = Catalog(
    tables = Map(
      "user" -> TableMeta("user", Seq("id")),
      "project" -> TableMeta("project", Seq("id")),
      "comment" -> TableMeta("comment", Seq("id"))),
    edges = Seq(
      FkEdge("user_best_project_fkey", "user", "best_project_id", "project", "id"),
      FkEdge("project_owner_fkey", "project", "owner_id", "user", "id"),
      FkEdge("comment_project_fkey", "comment", "project_id", "project", "id"),
      FkEdge("comment_author_fkey", "comment", "author_id", "user", "id")))

  private def tables: Map[String, DataFrame] =
    Map("user" -> user, "project" -> project, "comment" -> comment)

  /** `extractAll`'s tables: column names, and the row multiset as a
    * sorted list (duplicate rows count).
    */
  private def extracted(ex: ClosureExtractor, seeds: Seq[(String, DataFrame)],
      preSeen: Map[String, DataFrame]): Map[String, (Seq[String], Seq[Row])] =
    ex.extractAll(seeds, preSeen).map { case (t, df) =>
      t -> ((df.columns.toSeq, df.collect().toSeq.sortBy(_.toString)))
    }

  /** Key sets and extracted rows from every execution regime; asserts
    * they agree and returns the (shared) key sets keyed by table.
    */
  private def allRegimes(
      cat: Catalog, tbl: String => DataFrame, policy: TraversalPolicy,
      seeds: Seq[(String, DataFrame)],
      preSeen: Map[String, DataFrame] = Map.empty,
      configQueries: Seq[ConfigQuery] = Nil,
      runQuery: String => DataFrame = null): Map[String, Set[Seq[Any]]] = {
    def extractor(budget: Long) =
      new ClosureExtractor(cat, tbl, policy, configQueries, runQuery, budget)
    def run(budget: Long): Map[String, Set[Seq[Any]]] =
      extractor(budget).runAll(seeds, preSeen)
        .map { case (t, df) => t -> df.collect().map(_.toSeq).toSet }
    def rowsOf(budget: Long) = extracted(extractor(budget), seeds, preSeen)
    val fast = run(ClosureExtractor.FastPathBudget)
    val dist = run(0L)
    assert(fast == dist, s"fast != distributed:\n fast=$fast\n dist=$dist")
    val distRows = rowsOf(0L)
    assert(rowsOf(ClosureExtractor.FastPathBudget) == distRows,
      s"fast rows != distributed:\n dist=$distRows")
    // one budget per collect point: budget b aborts at the first collect
    // that takes the run past b rows, and `rows` is where it finishes
    val rows = extractor(ClosureExtractor.FastPathBudget)
      .fastPathRows(seeds, preSeen).getOrElse(fail("fast path did not finish"))
    (1L until rows).foreach { b =>
      val aborted = run(b)
      assert(aborted == dist,
        s"abort at budget $b of $rows != distributed:\n ab=$aborted\n dist=$dist")
      assert(rowsOf(b) == distRows, s"abort at budget $b of $rows: rows != distributed")
    }
    fast
  }

  test("parity across RK policies on the cyclic micro-fixture") {
    val every = catalog.tables.keySet
    val policies = Seq(
      TraversalPolicy(),
      TraversalPolicy(omitReferenceKeysFor = every),
      TraversalPolicy(referenceKeyAllowlist = Set("comment_project_fkey")),
      TraversalPolicy(omitReferenceKeysFor = every,
        referenceKeyAllowlist = Set("comment_author_fkey")),
      TraversalPolicy(omitReferenceKeysFor = Set("project")),
      TraversalPolicy.ownership(catalog))
    policies.foreach { p =>
      val out = allRegimes(catalog, tables(_), p,
        Seq("user" -> user.filter(col("id") === 1)))
      assert(out("user").nonEmpty, s"empty closure under $p")
    }
  }

  test("a mid-run abort hands its last completed boundary over") {
    val seeds = Seq("user" -> user.filter(col("id") === 1))
    def extractor(budget: Long) =
      new ClosureExtractor(catalog, tables(_), fastPathBudget = budget)
    val want = extractor(0L).runAll(seeds)
      .map { case (t, df) => t -> df.collect().map(_.toSeq).toSet }
    val rows = extractor(ClosureExtractor.FastPathBudget).fastPathRows(seeds).get
    val outcomes = (1L until rows).map(b =>
      extractor(b).tryRunAllLocal(seeds, Map.empty))
    // aborts inside the seed collect restart; later ones hand over
    assert(outcomes.contains(ClosureExtractor.LocalRestart))
    val handoffs = outcomes.collect { case h: ClosureExtractor.LocalHandoff => h }
    assert(handoffs.map(_.depth).distinct.size >= 2,
      s"handoff depths: ${handoffs.map(_.depth)}")
    handoffs.foreach { h =>
      def keys(m: Map[String, (DataFrame, Long)]) = m.map { case (t, (df, n)) =>
        val ks = df.collect().map(_.toSeq).toSet
        assert(ks.size == n, s"size of $t at depth ${h.depth}")
        t -> ks
      }
      val (done, fresh) = (keys(h.expanded), keys(h.frontier))
      // the two parts are disjoint result keys of the closure
      (done.keySet ++ fresh.keySet).foreach { t =>
        val (d, f) = (done.getOrElse(t, Set.empty), fresh.getOrElse(t, Set.empty))
        assert(d.intersect(f).isEmpty && (d ++ f).subsetOf(want(t)),
          s"$t at depth ${h.depth}: expanded=$d frontier=$f want=${want(t)}")
      }
      assert(fresh.nonEmpty, s"empty frontier handed over at depth ${h.depth}")
    }
  }

  test("parity with preSeen pruning and grown-data refire") {
    val allow = TraversalPolicy(referenceKeyAllowlist = Set("comment_project_fkey"))
    // baseline: closure of user 1 under the same policy (distributed
    // and fast agree per the previous test; use distributed as baseline)
    val baseline = new ClosureExtractor(catalog, tables(_), allow,
        fastPathBudget = 0L)
      .runAll(Seq("user" -> user.filter(col("id") === 1)))
    // grown data: a NEW comment on already-exported project 10
    val grownComment = comment.union(
      Seq((103L, 10L, 4L, "new")).toDF("id", "project_id", "author_id", "body"))
    val grown = tables + ("comment" -> grownComment)
    val out = allRegimes(catalog, grown(_), allow,
      Seq("user" -> user.filter(col("id").isin(1L, 3L))), baseline)
    // the appended comment must surface through the refire probe, and
    // user 1's old cone must be pruned out
    assert(out("comment").contains(Seq(103L)), s"refire missed: $out")
    assert(!out("user").contains(Seq(1L)), s"preSeen not pruned: $out")
  }

  test("parity with config queries (IN-list shape and per-tuple shape)") {
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "tag")
    val b = Seq((10L, 1L, "x"), (11L, 2L, "y"), (12L, 1L, "z")).toDF("id", "a_id", "tag")
    val cat = Catalog(
      Map("a" -> TableMeta("a", Seq("id")), "b" -> TableMeta("b", Seq("id"))),
      edges = Nil)
    a.createOrReplaceTempView("fpp_a")
    b.createOrReplaceTempView("fpp_b")
    val tbl = Map("a" -> a, "b" -> b)
    // IN-list-batchable `= {attr}` tail
    val inShape = allRegimes(cat, tbl(_), TraversalPolicy(),
      Seq("a" -> a),
      configQueries = Seq(ConfigQuery("a", "b",
        "SELECT * FROM fpp_b WHERE a_id = {id}")),
      runQuery = spark.sql)
    assert(inShape("b") == Set(Seq(10L), Seq(11L), Seq(12L)), s"$inShape")
    // non-batchable two-attr shape falls back to per-tuple substitution
    val perTuple = allRegimes(cat, tbl(_), TraversalPolicy(),
      Seq("a" -> a),
      configQueries = Seq(ConfigQuery("a", "b",
        "SELECT * FROM fpp_b WHERE a_id = {id} AND tag = '{tag}'")),
      runQuery = spark.sql)
    assert(perTuple("b") == Set(Seq(10L), Seq(11L)), s"$perTuple")
  }

  test("parity on duplicate-pk rows: composite pk probed on a pk column") {
    // fact has a COMPOSITE pk with a duplicate tuple whose two rows carry
    // DIFFERENT dim references — both must expand (the distributed
    // semi-join keeps the full row multiset; the fast path's probe on a
    // pk column returns both siblings)
    val ord = Seq((1L, "o")).toDF("id", "note")
    val fact = Seq((1L, 1L, 100L), (1L, 1L, 200L), (2L, 1L, 300L))
      .toDF("k1", "k2", "dim_id")
    val dim = Seq((100L, "a"), (200L, "b"), (300L, "c")).toDF("id", "name")
    val cat = Catalog(
      Map("ord" -> TableMeta("ord", Seq("id")),
        "fact" -> TableMeta("fact", Seq("k1", "k2")),
        "dim" -> TableMeta("dim", Seq("id"))),
      edges = Seq(
        FkEdge("fact_ord_fkey", "fact", "k1", "ord", "id"),
        FkEdge("fact_dim_fkey", "fact", "dim_id", "dim", "id")))
    val tbl = Map("ord" -> ord, "fact" -> fact, "dim" -> dim)
    val out = allRegimes(cat, tbl(_), TraversalPolicy(),
      Seq("ord" -> ord.filter(col("id") === 1)))
    assert(out("fact") == Set(Seq(1L, 1L)), s"$out")
    assert(out("dim") == Set(Seq(100L), Seq(200L)), s"$out")
  }

  test("parity on duplicate-pk rows: non-pk probe column forces the by-pk re-probe") {
    // evt id 5 is duplicated; only ONE sibling matches the reverse-probe
    // filter (user_id = 1), but BOTH siblings' ref_id values must expand
    // — the fast path must re-probe by pk rather than trust the filtered
    // row set (the distributed key-set semi-join gets this for free)
    val usr = Seq((1L, "u")).toDF("id", "name")
    val evt = Seq((5L, 1L, 100L), (5L, 2L, 200L), (6L, 2L, 300L))
      .toDF("id", "user_id", "ref_id")
    val ref = Seq((100L, "a"), (200L, "b"), (300L, "c")).toDF("id", "name")
    val cat = Catalog(
      Map("usr" -> TableMeta("usr", Seq("id")),
        "evt" -> TableMeta("evt", Seq("id")),
        "ref" -> TableMeta("ref", Seq("id"))),
      edges = Seq(
        FkEdge("evt_usr_fkey", "evt", "user_id", "usr", "id"),
        FkEdge("evt_ref_fkey", "evt", "ref_id", "ref", "id")))
    val tbl = Map("usr" -> usr, "evt" -> evt, "ref" -> ref)
    val out = allRegimes(cat, tbl(_), TraversalPolicy(),
      Seq("usr" -> usr.filter(col("id") === 1)))
    assert(out("evt") == Set(Seq(5L)), s"$out")
    assert(out("ref") == Set(Seq(100L), Seq(200L)), s"$out")
  }

  test("parity on composite-pk siblings reached by a non-pk probe and as seeds") {
    // line's pk (k1, k2) = (1, 1) is two rows with different payloads,
    // and (1, 2) shares their k1. usr 1's reverse probe on usr_id sees
    // only the "a" sibling, so the composite by-pk re-probe, which
    // filters on k1 alone, must keep "b" and drop "c". Seeding (2, 1)
    // runs the same re-probe for the seeds' rows: "d" and "e", not "f".
    val usr = Seq((1L, "u1"), (2L, "u2"), (3L, "u3")).toDF("id", "name")
    val line = Seq((1L, 1L, 1L, 100L, "a"), (1L, 1L, 2L, 200L, "b"),
      (1L, 2L, 2L, 300L, "c"), (2L, 1L, 3L, 100L, "d"), (2L, 1L, 3L, 400L, "e"),
      (2L, 2L, 3L, 400L, "f")).toDF("k1", "k2", "usr_id", "dim_id", "note")
    val dim = Seq(100L, 200L, 300L, 400L).map(i => (i, s"d$i")).toDF("id", "label")
    val cat = Catalog(
      Map("usr" -> TableMeta("usr", Seq("id")),
        "line" -> TableMeta("line", Seq("k1", "k2")),
        "dim" -> TableMeta("dim", Seq("id"))),
      edges = Seq(
        FkEdge("line_usr_fkey", "line", "usr_id", "usr", "id"),
        FkEdge("line_dim_fkey", "line", "dim_id", "dim", "id")))
    val tbl = Map("usr" -> usr, "line" -> line, "dim" -> dim)
    def notes(seeds: Seq[(String, DataFrame)]) =
      extracted(new ClosureExtractor(cat, tbl(_)), seeds, Map.empty)("line")._2
        .map(_.getAs[String]("note"))
    val fromUsr = Seq("usr" -> usr.filter(col("id") === 1))
    val out = allRegimes(cat, tbl(_), TraversalPolicy(), fromUsr)
    assert(out("line") == Set(Seq(1L, 1L)), s"$out")
    assert(out("dim") == Set(Seq(100L), Seq(200L)), s"$out")
    assert(notes(fromUsr) == Seq("a", "b"))
    val fromLine = Seq("line" -> line.filter(col("k1") === 2 && col("k2") === 1))
    val seeded = allRegimes(cat, tbl(_), TraversalPolicy(), fromLine)
    assert(seeded("dim") == Set(Seq(100L), Seq(400L)), s"$seeded")
    assert(notes(fromLine) == Seq("d", "e"))
  }

  test("parity on dangling FK values: the phantom key still probes children") {
    // b.ref = 99 has no a-row; the key itself still joins the closure
    // (distributed addKeys semantics), and allowlisted reverse edges
    // from it still probe — c row pointing at 99 must be found
    val a = Seq((1L, "x")).toDF("id", "v")
    val b = Seq((10L, 99L)).toDF("id", "a_ref")
    val c = Seq((20L, 99L), (21L, 1L)).toDF("id", "a_ref")
    val cat = Catalog(
      Map("a" -> TableMeta("a", Seq("id")), "b" -> TableMeta("b", Seq("id")),
        "c" -> TableMeta("c", Seq("id"))),
      edges = Seq(
        FkEdge("b_a_fkey", "b", "a_ref", "a", "id"),
        FkEdge("c_a_fkey", "c", "a_ref", "a", "id")))
    val tbl = Map("a" -> a, "b" -> b, "c" -> c)
    val out = allRegimes(cat, tbl(_),
      TraversalPolicy(referenceKeyAllowlist = Set("c_a_fkey")),
      Seq("b" -> b))
    assert(out("a") == Set(Seq(99L)), s"phantom key lost: $out")
    assert(out("c") == Set(Seq(20L)), s"phantom children lost: $out")
  }

  test("parity on duplicate-pk siblings whose payloads differ") {
    // item 5 and dim 7 are each two rows with DIFFERENT payloads. item is
    // reached by a reverse probe on a non-pk column that sees only one
    // 5-sibling (the by-pk re-probe must fetch the other), and dim by two
    // forward probes in the same iteration (each dim row is exported
    // once, from the first of them) — both siblings of each, once each,
    // as the semi-join exports them
    val ord = Seq((1L, "o1"), (2L, "o2")).toDF("id", "note")
    val item = Seq((5L, 1L, 7L, 7L, "red"), (5L, 2L, 8L, 7L, "blue"),
      (6L, 1L, 7L, 8L, "green")).toDF("id", "ord_id", "dim_a", "dim_b", "color")
    val dim = Seq((7L, "x"), (7L, "y"), (8L, "z")).toDF("id", "label")
    val cat = Catalog(
      Map("ord" -> TableMeta("ord", Seq("id")),
        "item" -> TableMeta("item", Seq("id")),
        "dim" -> TableMeta("dim", Seq("id"))),
      edges = Seq(
        FkEdge("item_ord_fkey", "item", "ord_id", "ord", "id"),
        FkEdge("item_dim_a_fkey", "item", "dim_a", "dim", "id"),
        FkEdge("item_dim_b_fkey", "item", "dim_b", "dim", "id")))
    val tbl = Map("ord" -> ord, "item" -> item, "dim" -> dim)
    val seeds = Seq("ord" -> ord.filter(col("id") === 1))
    val out = allRegimes(cat, tbl(_), TraversalPolicy(), seeds)
    assert(out("item") == Set(Seq(5L), Seq(6L)), s"$out")
    val rows = extracted(new ClosureExtractor(cat, tbl(_)), seeds, Map.empty)
    assert(rows("item")._2.map(_.getString(4)).sorted == Seq("blue", "green", "red"))
    assert(rows("dim")._2.map(_.getString(1)) == Seq("x", "y", "z"))
    assert(rows("ord")._2.map(_.getString(1)) == Seq("o1", "o2"))
  }

  test("whole rows round-trip every column type the semi-join exports") {
    import java.time.LocalDateTime
    import org.apache.spark.sql.types._
    // µs timestamps (session-UTC and zone-less), dates, decimals, nulls
    // and non-ASCII strings — the last also as a pk probed by value
    val typed = spark.createDataFrame(java.util.Arrays.asList(
      Row("ключ-1", java.sql.Timestamp.valueOf("2024-02-29 23:59:59.123456"),
        LocalDateTime.of(1999, 12, 31, 23, 59, 59, 987654000),
        java.sql.Date.valueOf("1970-01-01"), new java.math.BigDecimal("-1234.5678"),
        "héllo ☃ 日本"),
      Row("ключ-2", null, null, null, null, null),
      Row("ключ-3", java.sql.Timestamp.valueOf("1900-01-01 00:00:00.000001"),
        LocalDateTime.of(2100, 1, 1, 0, 0, 0, 1000),
        java.sql.Date.valueOf("1000-06-15"), new java.math.BigDecimal("0.0001"), "")),
      StructType(Seq(
        StructField("k", StringType), StructField("ts", TimestampType),
        StructField("ntz", TimestampNTZType), StructField("d", DateType),
        StructField("amt", DecimalType(12, 4)), StructField("s", StringType))))
    val ref = Seq((1L, "ключ-1"), (2L, "ключ-2"), (3L, "ключ-3"), (4L, "ключ-1"))
      .toDF("id", "typed_k")
    val cat = Catalog(
      Map("ref" -> TableMeta("ref", Seq("id")), "typed" -> TableMeta("typed", Seq("k"))),
      edges = Seq(FkEdge("ref_typed_fkey", "ref", "typed_k", "typed", "k")))
    val tbl = Map("ref" -> ref, "typed" -> typed)
    // typed rows arrive through the forward probe, and as seeds through
    // the by-pk row probe
    val seedSets = Seq(Seq("ref" -> ref), Seq("typed" -> typed.filter(col("k") =!= "ключ-2")))
    seedSets.foreach { seeds =>
      allRegimes(cat, tbl(_), TraversalPolicy(), seeds)
      val got = extracted(new ClosureExtractor(cat, tbl(_)), seeds, Map.empty)("typed")
      val want = seeds.head._1 match {
        case "ref" => typed.collect().toSeq
        case _ => typed.filter(col("k") =!= "ключ-2").collect().toSeq
      }
      assert(got == ((typed.columns.toSeq, want.sortBy(_.toString))), s"$got")
    }
  }
}
