package graft.closure

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.meta.{Catalog, FkEdge, TableMeta}

/** Closure semantics on the mover-shaped micro-fixture of
  * /root/repo/FIXTURES.md §B: user↔project FK cycle, nullable FKs
  * (null-skip per `/root/reference/etl/extractor.go:107-109`), RK gating
  * (depth-0 vs allowlist, `etl/extractor.go:40-50`).
  */
class ClosureSpec extends SparkSpec {
  import spark.implicits._

  // user(id, username, best_project_id -> project.id NULLABLE)  [cycle]
  // project(id, owner_id -> user.id)
  // comment(id, project_id -> project.id, author_id -> user.id)
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

  private def extractor(policy: TraversalPolicy) =
    new ClosureExtractor(catalog, tables(_), policy)

  // omit_reference_keys on every table
  private val omitAll = TraversalPolicy(omitReferenceKeysFor = catalog.tables.keySet)

  private def ids(df: DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  test("cycle-safe fixpoint terminates; forward FKs + null-skip") {
    // seed user 1: best_project 10 -> project 10 -> owner 1 (cycle, seen)
    val out = extractor(omitAll)
      .extract("user", user.filter(col("id") === 1))
    assert(ids(out("user")) == Set(1L))
    assert(ids(out("project")) == Set(10L))
    assert(!out.contains("comment"))
  }

  test("null FK values are skipped (ref extractor.go:107-109)") {
    val out = extractor(omitAll)
      .extract("user", user.filter(col("id") === 2))
    assert(ids(out("user")) == Set(2L))
    assert(!out.contains("project")) // best_project_id is null
  }

  test("depth-0 seed rows expand ALL reference keys") {
    // seed user 1: RKs at depth 0 = project.owner_id, comment.author_id
    val out = extractor(TraversalPolicy())
      .extract("user", user.filter(col("id") === 1))
    // project 10 via FK+RK(owner), comment 101 via RK(author_id=1)
    assert(ids(out("project")) == Set(10L, 20L)) // 20 via comment 101 FK
    assert(ids(out("comment")) == Set(101L))
    // comment 101 -> project 20 -> owner bob(2); bob's RKs NOT expanded (depth>0)
    assert(ids(out("user")) == Set(1L, 2L))
  }

  test("allowlisted reference keys expand at any depth (ref extractor.go:44-50)") {
    val out = extractor(TraversalPolicy(
        referenceKeyAllowlist = Set("comment_author_fkey")))
      .extract("user", user.filter(col("id") === 1))
    // bob (reached at depth>0) now also pulls his comments
    assert(ids(out("comment")) == Set(100L, 101L))
  }

  test("omitReferenceKeys suppresses all reverse expansion") {
    val out = extractor(omitAll)
      .extract("user", user.filter(col("id") === 3))
    assert(!out.contains("comment"))
    assert(ids(out("project")) == Set(30L))
  }

  test("closure output is FK-closed (no dangling FK)") {
    val out = extractor(TraversalPolicy(
        referenceKeyAllowlist = Set("comment_project_fkey", "comment_author_fkey")))
      .extract("user", user.filter(col("id") <= 2))
    for (edge <- catalog.edges if out.contains(edge.childTable)) {
      val dangling = out(edge.childTable)
        .select(col(edge.childCol).as("k")).where(col("k").isNotNull)
        .join(out.getOrElse(edge.parentTable, spark.emptyDataFrame.withColumn(edge.parentCol, lit(null)))
          .select(col(edge.parentCol).as("k")), Seq("k"), "left_anti")
      assert(dangling.isEmpty, s"dangling FK via ${edge.name}")
    }
  }

  test("empty seed yields empty closure (no crash)") {
    val out = extractor(TraversalPolicy())
      .extract("user", user.filter(col("id") === 999))
    assert(out.size == 1 && out("user").isEmpty)
  }

  test("deep chain crosses localCheckpoint boundaries and stays correct") {
    // 12-table FK chain t0 -> t1 -> ... -> t11: every iteration's frontier
    // is a lazy localCheckpoint leaf, so this drives 12 consecutive
    // checkpoint/force/release cycles; every table must still materialize
    // exactly its one reachable row, and the tracked checkpoint
    // intermediates must release cleanly after the fixpoint
    val n = 12
    val metas = (0 until n).map(i => s"t$i" -> TableMeta(s"t$i", Seq("id"))).toMap
    val edges = (0 until n - 1).map(i =>
      FkEdge(s"fk$i", s"t$i", "next_id", s"t${i + 1}", "id"))
    val dfs: String => DataFrame = { name =>
      val i = name.drop(1).toInt
      val next = if (i < n - 1) Option(100L + i + 1) else Option.empty[Long]
      Seq((100L + i, next)).toDF("id", "next_id")
    }
    val ex = new ClosureExtractor(Catalog(metas, edges), dfs)
    val out = ex.extract("t0", dfs("t0"))
    assert(out.keySet == (0 until n).map(i => s"t$i").toSet)
    assert(out.values.map(_.count()).toSeq == Seq.fill(n)(1L))
  }

  test("J3 string-typed {attr} batches to ONE quote-escaped IN-list query per iteration") {
    // bo'b exercises the ''-escape; c\arol the backslash escape (Spark
    // SQL's default parser treats \ as an escape inside string literals,
    // so an unescaped backslash corrupts or unbalances the literal)
    val users = Seq((1L, "alice"), (2L, "bo'b"), (3L, "c\\arol")).toDF("id", "username")
    val notes = Seq((500L, "alice"), (501L, "bo'b"), (502L, "c\\arol"), (503L, "dan"))
      .toDF("id", "author_name")
    notes.createOrReplaceTempView("note")
    val cat = Catalog(Map(
      "user" -> TableMeta("user", Seq("id")),
      "note" -> TableMeta("note", Seq("id"))), Nil)
    val sqls = scala.collection.mutable.ListBuffer.empty[String]
    val ex = new ClosureExtractor(cat,
      Map("user" -> users, "note" -> notes)(_), TraversalPolicy(),
      configQueries = Seq(ConfigQuery("user", "note",
        "SELECT * FROM note WHERE author_name = {username}")),
      runQuery = { sql => sqls += sql; spark.sql(sql) })
    val out = ex.extract("user", users)
    assert(ids(out("note")) == Set(500L, 501L, 502L))
    // the whole 3-user frontier ran as ONE query, the embedded quote
    // doubled and the backslash doubled (never one query per row — the
    // reference's N+1)
    assert(sqls.toList.length == 1)
    assert(sqls.head.contains(" IN ("))
    assert(sqls.head.contains("'bo''b'"))
    assert(sqls.head.contains("'c\\\\arol'"))
  }

  test("config query fires on a table reached only via forward chaining") {
    // a --fk--> b (acyclic, so b's keys arrive through the chain phase);
    // b carries a config query targeting c — the frontier filter must
    // keep b iterating even though its forward FKs are already chained,
    // or the J3 edge silently never runs
    val a = Seq((1L, 10L), (2L, 20L)).toDF("id", "b_id")
    val b = Seq((10L, "x"), (20L, "y"), (30L, "z")).toDF("id", "tag")
    val c = Seq((100L, "x"), (101L, "y"), (102L, "q")).toDF("id", "tag")
    c.createOrReplaceTempView("c_table")
    val cat = Catalog(Map(
      "a" -> TableMeta("a", Seq("id")),
      "b" -> TableMeta("b", Seq("id")),
      "c_table" -> TableMeta("c_table", Seq("id"))),
      Seq(FkEdge("a_b", "a", "b_id", "b", "id")))
    val ex = new ClosureExtractor(cat,
      Map("a" -> a, "b" -> b, "c_table" -> c)(_), TraversalPolicy(),
      configQueries = Seq(ConfigQuery("b", "c_table",
        "SELECT * FROM c_table WHERE tag = {tag}")),
      runQuery = spark.sql(_))
    val out = ex.extract("a", a.filter(col("id") === 1))
    assert(ids(out("b")) == Set(10L))
    // b=10 has tag 'x' -> config pulls c row 100 (and only it)
    assert(ids(out("c_table")) == Set(100L))
  }

  test("seed with multiple rows unions frontiers") {
    val out = extractor(omitAll)
      .extract("user", user.filter(col("id").isin(1, 3)))
    assert(ids(out("project")) == Set(10L, 30L))
  }

  test("incremental preSeen run returns exactly the delta (RK paths pruned)") {
    // previous export: closure of user 1 under the full policy
    //   = user {1,2}, project {10,20}, comment {101}
    val ex = extractor(TraversalPolicy())
    val prev = ex.runAll(Seq("user" -> user.filter(col("id") === 1)))
    // new run seeds users {1,3}; the full closure adds user 3's subgraph:
    //   user 3 -> project 30 (FK+RK owner), comment 102 (RK author)
    //   -> project 40 -> user 4
    val delta = ex.extractAll(
      Seq("user" -> user.filter(col("id").isin(1, 3))), prev)
      .map { case (t, df) => t -> ids(df) }.filter(_._2.nonEmpty)
    assert(delta == Map(
      "user" -> Set(3L, 4L),
      "project" -> Set(30L, 40L),
      "comment" -> Set(102L)), s"delta=$delta")
  }

  test("incremental preSeen run: config queries fire for the delta frontier and the old-key re-probe") {
    // same fixture as the forward-chaining J3 test; the previous export
    // covers a=1's subgraph. The incremental run executes the config
    // query TWICE: once re-probing the previously-exported b-keys
    // (appends can attach there — the REFIRE step) and once for the new
    // delta frontier — never per-row, and never for pruned FK levels
    val a = Seq((1L, 10L), (2L, 20L)).toDF("id", "b_id")
    val b = Seq((10L, "x"), (20L, "y"), (30L, "z")).toDF("id", "tag")
    val c = Seq((100L, "x"), (101L, "y"), (102L, "q")).toDF("id", "tag")
    c.createOrReplaceTempView("c_table")
    val cat = Catalog(Map(
      "a" -> TableMeta("a", Seq("id")),
      "b" -> TableMeta("b", Seq("id")),
      "c_table" -> TableMeta("c_table", Seq("id"))),
      Seq(FkEdge("a_b", "a", "b_id", "b", "id")))
    val sqls = scala.collection.mutable.ListBuffer.empty[String]
    val ex = new ClosureExtractor(cat,
      Map("a" -> a, "b" -> b, "c_table" -> c)(_), TraversalPolicy(),
      configQueries = Seq(ConfigQuery("b", "c_table",
        "SELECT * FROM c_table WHERE tag = {tag}")),
      runQuery = { sql => sqls += sql; spark.sql(sql) })
    val prev = ex.runAll(Seq("a" -> a.filter(col("id") === 1)))
    sqls.clear()
    val delta = ex.extractAll(Seq("a" -> a), prev)
      .map { case (t, df) => t -> ids(df) }.filter(_._2.nonEmpty)
    assert(delta == Map(
      "a" -> Set(2L), "b" -> Set(20L), "c_table" -> Set(101L)), s"delta=$delta")
    // two IN-list queries: the old-key re-probe ('x', whose hits are all
    // pruned as already exported) and the delta frontier ('y')
    assert(sqls.toList.length == 2, s"sqls=$sqls")
    assert(sqls.exists(s => s.contains("'x'") && !s.contains("'y'")), s"sqls=$sqls")
    assert(sqls.exists(s => s.contains("'y'") && !s.contains("'x'")), s"sqls=$sqls")
  }

  test("incremental run on grown data finds appended children of old keys (refire)") {
    // prev export: closure of user 1 with comment_author allowlisted
    //   = user {1,2}, project {10,20}, comment {100,101}
    val allow = TraversalPolicy(referenceKeyAllowlist = Set("comment_author_fkey"))
    val prev = extractor(allow).runAll(Seq("user" -> user.filter(col("id") === 1)))
    // append: comment 104 by user 2 — an OLD key reached at depth>0 in
    // the prev run. Pruning alone would silently lose it (user 2 never
    // re-enters the frontier); the refire step re-probes old keys'
    // allowlisted reverse edges against current data and finds it.
    // Comment 105 attaches to the seed itself (found via the seed's
    // unconditional depth-0 expansion).
    val grownComment = comment.unionByName(Seq(
      (104L, 20L, 2L, "new-by-old-author"),
      (105L, 10L, 1L, "new-by-seed")
    ).toDF("id", "project_id", "author_id", "body"))
    val grown: Map[String, DataFrame] =
      Map("user" -> user, "project" -> project, "comment" -> grownComment)
    val delta = new ClosureExtractor(catalog, grown(_), allow)
      .extractAll(Seq("user" -> user.filter(col("id") === 1)), prev)
      .map { case (t, df) => t -> ids(df) }.filter(_._2.nonEmpty)
    assert(delta == Map("comment" -> Set(104L, 105L)), s"delta=$delta")
  }

  test("incremental run: config re-probe of old keys finds appended target rows") {
    // prev run covers a=1 -> b=10 -> c_table 100 (tag 'x'). c_table then
    // GAINS row 103 tagged 'x' — it matches an already-exported b-row's
    // template, and no new seed exists. Only the old-key config re-probe
    // can find it.
    val a = Seq((1L, 10L)).toDF("id", "b_id")
    val b = Seq((10L, "x")).toDF("id", "tag")
    val c0 = Seq((100L, "x")).toDF("id", "tag")
    val c1 = Seq((100L, "x"), (103L, "x")).toDF("id", "tag")
    val cat = Catalog(Map(
      "a" -> TableMeta("a", Seq("id")),
      "b" -> TableMeta("b", Seq("id")),
      "c_table" -> TableMeta("c_table", Seq("id"))),
      Seq(FkEdge("a_b", "a", "b_id", "b", "id")))
    def ex(c: DataFrame) = {
      c.createOrReplaceTempView("c_table")
      new ClosureExtractor(cat, Map("a" -> a, "b" -> b, "c_table" -> c)(_),
        TraversalPolicy(),
        configQueries = Seq(ConfigQuery("b", "c_table",
          "SELECT * FROM c_table WHERE tag = {tag}")),
        runQuery = spark.sql(_))
    }
    val prev = ex(c0).runAll(Seq("a" -> a))
    val delta = ex(c1).extractAll(Seq("a" -> a), prev)
      .map { case (t, df) => t -> ids(df) }.filter(_._2.nonEmpty)
    assert(delta == Map("c_table" -> Set(103L)), s"delta=$delta")
  }

  test("a distributed closure scans a table once for its reverse key and forward FKs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
      SparkListenerJobStart, SparkListenerTaskEnd}
    // par 1's reverse key reaches 30 of item's 3000 rows, whose forward
    // FKs then reach sup: item's key projection serves both edges, so
    // its 3000 rows are read once (a second scan would read 6000)
    val dir = java.nio.file.Files.createTempDirectory("closure-scan-once").toString
    val itemRows = 3000L
    (1L to 100L).toDF("id").write.parquet(s"$dir/par")
    (1L to 5L).toDF("id").write.parquet(s"$dir/sup")
    (1L to itemRows).map(i => (i, i % 100 + 1, i / 100 % 5 + 1)).toDF("id", "par_id", "sup_id")
      .write.parquet(s"$dir/item")
    val cat = Catalog(
      Seq("par", "sup", "item").map(t => t -> TableMeta(t, Seq("id"))).toMap,
      Seq(FkEdge("item_par_fkey", "item", "par_id", "par", "id"),
        FkEdge("item_sup_fkey", "item", "sup_id", "sup", "id")))
    val tables = Seq("par", "sup", "item").map(t => t -> spark.read.parquet(s"$dir/$t")).toMap
    val ex = new ClosureExtractor(cat, tables(_), fastPathBudget = 0L)
    val (tag, marker) = ("graft.spec.scan-once", "graft.spec.scan-once.marker")
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val read = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    @volatile var markerJob = -1
    val rec = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def is(k: String) = Option(e.properties).exists(_.getProperty(k) == "on")
        if (is(tag)) e.stageIds.foreach(stages.add)
        if (is(marker)) markerJob = e.jobId
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => read.add((e.stageId, m.inputMetrics.recordsRead)))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(rec)
    try {
      sc.setLocalProperty(tag, "on")
      val keys =
        try ex.runAll(Seq("par" -> tables("par").filter(col("id") === 1)))
        finally sc.setLocalProperty(tag, null)
      // the listener bus is FIFO: once a later marker job has ended,
      // every event of the closure has been delivered
      sc.setLocalProperty(marker, "on")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(marker, null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!(markerJob >= 0 && ended.contains(markerJob)) && System.nanoTime() < deadline)
        Thread.sleep(50)
      import scala.jdk.CollectionConverters._
      val records = read.asScala.collect { case (st, n) if stages.contains(st) => n }.sum
      assert(records >= itemRows && records < itemRows * 3 / 2,
        s"closure input records: $records for a $itemRows-row item table")
      assert(keys.map { case (t, df) => t -> df.count() } ==
        Map("par" -> 1L, "item" -> 30L, "sup" -> 5L))
    } finally {
      sc.removeSparkListener(rec)
      graft.io.SegmentLog.deleteRecursively(dir)
    }
  }
}
