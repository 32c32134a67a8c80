package graft

import java.nio.file.Files
import java.sql.DriverManager
import graft.SparkSpec

/** Drives each CLI verb (`/root/reference/cmd/mover/main.go:70-93`
  * parity) against the sf0.001 testdata and a temp artifact dir,
  * including the jdbc load path into embedded Derby.
  */
class MainSpec extends SparkSpec {

  private val dsn = "/root/testdata/sf0.001"
  private def capture(cli: Main.Cli): (Int, Seq[String]) = {
    val buf = scala.collection.mutable.ListBuffer.empty[String]
    val rc = Main.run(spark, cli, buf += _)
    (rc, buf.toList)
  }

  test("flag parsing mirrors the reference surface") {
    val cli = Main.parse(Array("-action", "extract", "-query", "SELECT 1",
      "-path", "/tmp/x", "-dsn", dsn, "-verbose"))
    assert(cli == Main.Cli(action = "extract", query = "SELECT 1",
      path = "/tmp/x", dsn = dsn, verbose = true))
    assert(Main.parse(Array("-delta", "/tmp/prev", "-delta-full")) ==
      Main.Cli(delta = "/tmp/prev", deltaFull = true))
    intercept[IllegalArgumentException](Main.parse(Array("-nope", "x")))
  }

  test("-version short-circuits") {
    val (rc, out) = capture(Main.Cli(version = true))
    assert(rc == 0 && out.head.startsWith("graft version"))
  }

  test("missing args print usage with exit 2") {
    assert(capture(Main.Cli(action = "extract", dsn = dsn))._1 == 2)
    assert(capture(Main.Cli(action = "load", dsn = dsn))._1 == 2)
    assert(capture(Main.Cli(action = "describe", dsn = dsn))._1 == 2)
    assert(capture(Main.Cli(action = "wat", dsn = dsn))._1 == 2)
    // -delta-full without -delta must refuse, not silently full-extract
    assert(capture(Main.Cli(action = "extract", dsn = dsn,
      query = "SELECT * FROM customer", path = "/tmp/x",
      deltaFull = true))._1 == 2)
  }

  test("extract -> artifacts -> load round-trip (dir target)") {
    val conf = Files.createTempFile("graft-conf", ".json")
    Files.writeString(conf,
      """{"schema": [{"table_name": "customer", "omit_reference_keys": true,
        |  "columns": [{"name": "c_name", "replace": "Customer#{c_custkey}"}]}]}""".stripMargin)
    val outDir = Files.createTempDirectory("graft-cli").toString
    val (rc, out) = capture(Main.Cli(action = "extract", dsn = dsn,
      query = "SELECT * FROM customer WHERE c_custkey <= 3",
      path = outDir, conf = conf.toString))
    assert(rc == 0)
    // closure without reverse keys: customer + nation + region (custkeys
    // are not 1..N in the synthetic data — compute the expected count)
    val nSeed = Tables(spark, dsn, "customer").filter("c_custkey <= 3").count()
    assert(out.contains(s"customer: $nSeed rows"))
    assert(out.exists(_.startsWith("nation:")) && out.exists(_.startsWith("region:")))
    assert(Files.exists(java.nio.file.Paths.get(s"$outDir/customer/manifest.json")))

    val (rc2, out2) = capture(Main.Cli(action = "load", dsn = dsn, path = outDir))
    assert(rc2 == 0 && out2.contains(s"customer: $nSeed rows"))
  }

  test("compact verb collapses every table's artifact in place") {
    val outDir = Files.createTempDirectory("graft-cli-compact").toString
    val (rc, _) = capture(Main.Cli(action = "extract", dsn = dsn,
      query = "SELECT * FROM customer WHERE c_custkey <= 3", path = outDir))
    assert(rc == 0)
    val nSeed = Tables(spark, dsn, "customer").filter("c_custkey <= 3").count()
    val (rc2, out2) = capture(Main.Cli(action = "compact", path = outDir))
    assert(rc2 == 0)
    assert(out2.contains(s"customer: compacted ($nSeed rows)"))
    // artifact still loads after compaction
    val (rc3, out3) = capture(Main.Cli(action = "load", dsn = dsn, path = outDir))
    assert(rc3 == 0 && out3.contains(s"customer: $nSeed rows"))
  }

  test("compact flags: codec kept with -parts, -compression honored, envelope skipped") {
    val outDir = Files.createTempDirectory("graft-cli-compact2").toString
    val n = graft.io.JsonTableIO.write(
      Tables(spark, dsn, "region"), outDir, "region", Some("gzip"))
    // a mover-authored envelope (json.MarshalIndent(payload, "", "\t"))
    Files.writeString(java.nio.file.Paths.get(s"$outDir/nation.json"),
      "{\n\t\"table_name\": \"nation\",\n\t\"count\": 1,\n\t\"data\": [\n" +
        "\t\t{\n\t\t\t\"n_nationkey\": 0,\n\t\t\t\"n_name\": \"ALGERIA\",\n" +
        "\t\t\t\"n_regionkey\": 0\n\t\t}\n\t]\n}")
    def parts(t: String): Seq[String] = {
      import scala.jdk.CollectionConverters._
      // resolve through the manifest pointer — compact rotates generations
      val s = Files.list(graft.io.JsonTableIO.dataPath(outDir, t))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("part-")).toList
      finally s.close()
    }
    // dir-wide: the single-file envelope is skipped, not a crash half-way
    val (rc, out) = capture(Main.Cli(action = "compact", path = outDir))
    assert(rc == 0)
    assert(out.exists(_.startsWith("nation: skipped")))
    assert(out.contains(s"region: compacted ($n rows)"))
    // -parts without -compression: gzip artifact stays gzip
    val (rc2, _) = capture(Main.Cli(action = "compact", path = outDir,
      table = "region", parts = 2))
    assert(rc2 == 0)
    assert(parts("region").nonEmpty && parts("region").forall(_.endsWith(".gz")))
    // -compression without -parts: explicit codec is honored, not ignored
    val (rc3, _) = capture(Main.Cli(action = "compact", path = outDir,
      table = "region", compression = "none"))
    assert(rc3 == 0)
    assert(parts("region").nonEmpty && parts("region").forall(!_.endsWith(".gz")))
    // -table naming the envelope still fails loudly
    intercept[IllegalArgumentException](
      capture(Main.Cli(action = "compact", path = outDir, table = "nation")))
  }

  test("load with jdbc: dsn upserts into embedded Derby") {
    val conf = Files.createTempFile("graft-conf", ".json")
    Files.writeString(conf,
      """{"schema": [{"table_name": "customer", "omit_reference_keys": true}]}""")
    val outDir = Files.createTempDirectory("graft-cli-jdbc").toString
    assert(capture(Main.Cli(action = "extract", dsn = dsn,
      query = "SELECT * FROM customer WHERE c_custkey <= 3",
      path = outDir, conf = conf.toString))._1 == 0)

    val url = "jdbc:derby:memory:clidb;create=true"
    val c = DriverManager.getConnection(url)
    c.createStatement().execute(
      """CREATE TABLE "customer" ("c_custkey" BIGINT PRIMARY KEY,
        | "c_name" VARCHAR(64), "c_nationkey" INT, "c_acctbal" DOUBLE,
        | "c_mktsegment" VARCHAR(16))""".stripMargin)
    c.createStatement().execute(
      """CREATE TABLE "nation" ("n_nationkey" INT PRIMARY KEY,
        | "n_name" VARCHAR(32), "n_regionkey" INT)""".stripMargin)
    c.createStatement().execute(
      """CREATE TABLE "region" ("r_regionkey" INT PRIMARY KEY,
        | "r_name" VARCHAR(32))""".stripMargin)
    c.close()

    val (rc, out) = capture(Main.Cli(action = "load", dsn = url, path = outDir))
    assert(rc == 0 && out.count(_.endsWith("loaded")) == 3)
    val nSeed = Tables(spark, dsn, "customer").filter("c_custkey <= 3").count()
    val c2 = DriverManager.getConnection(url)
    val rs = c2.createStatement().executeQuery("""SELECT COUNT(*) FROM "customer"""")
    rs.next(); assert(rs.getLong(1) == nSeed)
    c2.close()
  }

  test("extract -delta exports only rows new since the previous export") {
    val prevDir = Files.createTempDirectory("graft-cli-prev").toString
    val deltaDir = Files.createTempDirectory("graft-cli-delta").toString
    val fullDir = Files.createTempDirectory("graft-cli-full").toString
    assert(capture(Main.Cli(action = "extract", dsn = dsn,
      query = "SELECT * FROM customer WHERE c_custkey <= 3",
      path = prevDir))._1 == 0)
    val (rc, _) = capture(Main.Cli(action = "extract", dsn = dsn,
      query = "SELECT * FROM customer WHERE c_custkey <= 5",
      path = deltaDir, delta = prevDir))
    assert(rc == 0)
    assert(capture(Main.Cli(action = "extract", dsn = dsn,
      query = "SELECT * FROM customer WHERE c_custkey <= 5",
      path = fullDir))._1 == 0)
    // additivity: for every table, previous + delta == a full re-extract
    // (closure monotonicity makes the two sides disjoint by pk, so the
    // manifest counts simply add). The incremental traversal omits
    // tables it never reached (their delta is empty by construction) —
    // cnt treats an absent table as zero.
    val tables = graft.io.JsonTableIO.listTables(fullDir)
    assert(tables.nonEmpty)
    def cnt(dir: String, t: String): Long =
      if (graft.io.JsonTableIO.listTables(dir).contains(t))
        graft.io.JsonTableIO.readManifest(dir, t).count
      else 0L
    tables.foreach { t =>
      assert(cnt(prevDir, t) + cnt(deltaDir, t) == cnt(fullDir, t),
        s"$t: prev=${cnt(prevDir, t)} + delta=${cnt(deltaDir, t)} != full=${cnt(fullDir, t)}")
    }
    // and the delta is strictly smaller than the full export somewhere
    assert(tables.map(cnt(deltaDir, _)).sum < tables.map(cnt(fullDir, _)).sum)

    // -delta-full (mutation-tolerant full re-closure + anti-join) agrees
    // with the incremental default on unchanged data, table by table
    val deltaFullDir = Files.createTempDirectory("graft-cli-deltafull").toString
    assert(capture(Main.Cli(action = "extract", dsn = dsn,
      query = "SELECT * FROM customer WHERE c_custkey <= 5",
      path = deltaFullDir, delta = prevDir, deltaFull = true))._1 == 0)
    tables.foreach { t =>
      assert(cnt(deltaFullDir, t) == cnt(deltaDir, t),
        s"$t: -delta-full=${cnt(deltaFullDir, t)} != incremental=${cnt(deltaDir, t)}")
    }

    // merge folds the delta back into the base: counts now equal the
    // full re-extract everywhere, closing the incremental lifecycle
    val (rcM, outM) = capture(
      Main.Cli(action = "merge", path = prevDir, delta = deltaDir))
    assert(rcM == 0 && outM.exists(_.contains("merged")))
    tables.foreach { t =>
      assert(graft.io.JsonTableIO.readManifest(prevDir, t).count ==
        graft.io.JsonTableIO.readManifest(fullDir, t).count,
        s"$t: merged base != full re-extract")
    }
    // merged artifact still loads
    val (rcL, outL) = capture(Main.Cli(action = "load", dsn = dsn, path = prevDir))
    assert(rcL == 0 && outL.nonEmpty)
  }

  test("load -staged routes through the whole-table atomic upsert") {
    val conf = Files.createTempFile("graft-conf", ".json")
    Files.writeString(conf,
      """{"schema": [{"table_name": "customer", "omit_reference_keys": true}]}""")
    val outDir = Files.createTempDirectory("graft-cli-staged").toString
    assert(capture(Main.Cli(action = "extract", dsn = dsn,
      query = "SELECT * FROM customer WHERE c_custkey <= 3",
      path = outDir, conf = conf.toString))._1 == 0)

    val url = "jdbc:derby:memory:clistaged;create=true"
    val c = DriverManager.getConnection(url)
    c.createStatement().execute(
      """CREATE TABLE "customer" ("c_custkey" BIGINT PRIMARY KEY,
        | "c_name" VARCHAR(64), "c_nationkey" INT, "c_acctbal" DOUBLE,
        | "c_mktsegment" VARCHAR(16))""".stripMargin)
    c.createStatement().execute(
      """CREATE TABLE "nation" ("n_nationkey" INT PRIMARY KEY,
        | "n_name" VARCHAR(32), "n_regionkey" INT)""".stripMargin)
    c.createStatement().execute(
      """CREATE TABLE "region" ("r_regionkey" INT PRIMARY KEY,
        | "r_name" VARCHAR(32))""".stripMargin)
    c.close()

    val (rc, out) = capture(
      Main.Cli(action = "load", dsn = url, path = outDir, staged = true))
    assert(rc == 0 && out.count(_.endsWith("loaded")) == 3)
    val nSeed = Tables(spark, dsn, "customer").filter("c_custkey <= 3").count()
    val c2 = DriverManager.getConnection(url)
    val rs = c2.createStatement().executeQuery("""SELECT COUNT(*) FROM "customer"""")
    rs.next(); assert(rs.getLong(1) == nSeed)
    // no staging tables linger
    val rs2 = c2.createStatement().executeQuery(
      "SELECT COUNT(*) FROM SYS.SYSTABLES WHERE TABLENAME LIKE '%graft_stage%'")
    rs2.next(); assert(rs2.getLong(1) == 0L)
    c2.close()
  }

  test("profile verb prints per-column stats for an artifact and a table") {
    val outDir = Files.createTempDirectory("graft-cli-profile").toString
    assert(capture(Main.Cli(action = "extract", dsn = dsn,
      query = "SELECT * FROM customer WHERE c_custkey <= 3", path = outDir))._1 == 0)
    val (rc, out) = capture(Main.Cli(action = "profile", path = outDir))
    assert(rc == 0)
    assert(out.contains("== customer =="))
    val nSeed = Tables(spark, dsn, "customer").filter("c_custkey <= 3").count()
    // c_custkey: no nulls, all distinct
    assert(out.exists(l => l.startsWith("c_custkey\t") &&
      l.contains(s"\t$nSeed\t0\t$nSeed\t")))

    // -table restricts an artifact profile to one table
    val (rc1b, out1b) = capture(Main.Cli(action = "profile", path = outDir,
      table = "customer"))
    assert(rc1b == 0 && out1b.contains("== customer ==") &&
      !out1b.exists(_.contains("== nation ==")))

    // single-parquet-table form
    val (rc2, out2) = capture(Main.Cli(action = "profile", dsn = dsn, table = "region"))
    assert(rc2 == 0 && out2.contains("== region ==") &&
      out2.exists(_.startsWith("r_regionkey\t")))

    // neither -path nor -dsn+-table: usage, exit 2
    assert(capture(Main.Cli(action = "profile", dsn = dsn))._1 == 2)
  }

  test("query verb runs a registered operator; unknown name lists the registry") {
    val (rc, out) = capture(Main.Cli(action = "query", query = "q1_agg", dsn = dsn))
    assert(rc == 0 && out.nonEmpty)
    val outDir = Files.createTempDirectory("main-query").toString + "/q1"
    val (rc2, out2) = capture(
      Main.Cli(action = "query", query = "q1_agg", dsn = dsn, path = outDir))
    assert(rc2 == 0 && out2.exists(_.contains(outDir)))
    assert(spark.read.parquet(outDir).count() > 0)
    val (rc3, out3) = capture(Main.Cli(action = "query", query = "nope", dsn = dsn))
    assert(rc3 == 2 && out3.exists(_.contains("unknown query")))
  }

  test("query verb: ad-hoc SQL over the dsn's tables") {
    val (rc, out) = capture(Main.Cli(action = "query", dsn = dsn,
      query = "SELECT COUNT(*) AS n, COUNT(DISTINCT c_nationkey) AS nk FROM customer"))
    assert(rc == 0, out.mkString("\n"))
    assert(out.head == "n\tnk")
    assert(out(1).split("\t")(1) == "25")
    // a join across views, written to parquet
    val outDir = Files.createTempDirectory("main-sql").toString + "/res"
    val (rc2, _) = capture(Main.Cli(action = "query", dsn = dsn, path = outDir,
      query = """WITH r AS (SELECT n_nationkey FROM nation WHERE n_regionkey = 0)
                |SELECT COUNT(*) AS n FROM customer c
                |JOIN r ON r.n_nationkey = c.c_nationkey""".stripMargin))
    assert(rc2 == 0)
    val n = spark.read.parquet(outDir).head().getLong(0)
    val want = spark.read.parquet(s"$dsn/customer.parquet")
      .join(spark.read.parquet(s"$dsn/nation.parquet")
        .filter("n_regionkey = 0"),
        org.apache.spark.sql.functions.expr("n_nationkey = c_nationkey"))
      .count()
    assert(n == want && n > 0)
    // a non-SELECT non-operator string still fails cleanly
    assert(capture(Main.Cli(action = "query", dsn = dsn,
      query = "DROP TABLE customer"))._1 == 2)
  }

  test("explain verb: formatted plan for operators and ad-hoc SQL") {
    val (rc, out) = capture(Main.Cli(action = "explain", dsn = dsn,
      query = "q1_agg"))
    assert(rc == 0 && out.mkString.contains("HashAggregate"))
    val (rc2, out2) = capture(Main.Cli(action = "explain", dsn = dsn,
      query = "SELECT c_name FROM customer WHERE c_custkey = 7"))
    assert(rc2 == 0, out2.mkString("\n"))
    // the plan, not the rows — and the point lookup pushed into the scan
    assert(out2.mkString.contains("PushedFilters") &&
      out2.mkString.contains("c_custkey"))
    assert(capture(Main.Cli(action = "explain", dsn = dsn,
      query = "nope"))._1 == 2)
  }

  test("check verb: clean dsn exits 0, extracted artifact audits, violation exits 1") {
    // source tables are referentially intact
    val (rc, out) = capture(Main.Cli(action = "check", dsn = dsn))
    assert(rc == 0, out.mkString("\n"))
    assert(out.exists(_.startsWith("edge\t")))
    assert(!out.exists(_.contains("INTEGRITY VIOLATED")))

    // an extracted artifact is a closed subgraph → also intact; only the
    // edges whose BOTH tables are in the artifact are audited
    val art = Files.createTempDirectory("chk-art").toString
    assert(capture(Main.Cli(action = "extract", dsn = dsn,
      query = "SELECT * FROM customer WHERE c_custkey <= 5", path = art))._1 == 0)
    val (rcA, outA) = capture(Main.Cli(action = "check", path = art, dsn = dsn))
    assert(rcA == 0, outA.mkString("\n"))

    // plant a violation: doctored dir with a third of customers deleted
    val bad = Files.createTempDirectory("chk-bad").toString
    import org.apache.spark.sql.functions.col
    Tables(spark, dsn, "customer").filter(col("c_custkey") % 3 =!= 0)
      .write.parquet(s"$bad/customer.parquet")
    Tables(spark, dsn, "orders").write.parquet(s"$bad/orders.parquet")
    Tables(spark, dsn, "nation").write.parquet(s"$bad/nation.parquet")
    Tables(spark, dsn, "region").write.parquet(s"$bad/region.parquet")
    val (rcB, outB) = capture(Main.Cli(action = "check", dsn = bad))
    assert(rcB == 1 && outB.exists(_.contains("INTEGRITY VIOLATED")))
  }

  test("diff verb reports added/removed/changed between artifact generations") {
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val a = Files.createTempDirectory("diff-a").toString
    val b = Files.createTempDirectory("diff-b").toString
    // generation A: customers 1..5 and their closure
    assert(capture(Main.Cli(action = "extract", dsn = dsn,
      query = "SELECT * FROM customer WHERE c_custkey <= 5", path = a))._1 == 0)
    // generation B: customers 3..7 (2 removed, 2 added vs A) from a
    // doctored source where customer 4's name changed in place
    val doctored = Files.createTempDirectory("diff-src").toString
    Tables(spark, dsn, "customer")
      .withColumn("c_name", when(col("c_custkey") === 4,
        concat(col("c_name"), lit(" CHANGED"))).otherwise(col("c_name")))
      .write.parquet(s"$doctored/customer.parquet")
    Seq("region", "nation", "orders", "lineitem", "supplier", "part", "events",
        "documents", "embeddings").foreach { t =>
      Tables(spark, dsn, t).write.parquet(s"$doctored/$t.parquet")
    }
    assert(capture(Main.Cli(action = "extract", dsn = doctored,
      query = "SELECT * FROM customer WHERE c_custkey BETWEEN 3 AND 7", path = b))._1 == 0)

    val (rc, out) = capture(Main.Cli(action = "diff", path = a, delta = b, dsn = dsn))
    assert(rc == 0, out.mkString("\n"))
    val cust = out.find(_.startsWith("customer\t")).get.split("\t")
    // expectations derived from the artifacts themselves (the closure
    // may pull extra customers through reverse edges — the diff must
    // report whatever the generations actually contain)
    val engine = new graft.engine.Engine(spark, graft.meta.Catalog.tpch,
      t => Tables(spark, dsn, t), graft.conf.ExtractConfig())
    def keys(dir: String): Set[Long] = engine.load(dir)("customer")
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val (ka, kb) = (keys(a), keys(b))
    val changed = if (kb.contains(4L) && ka.contains(4L)) 1 else 0
    assert(cust.toSeq == Seq("customer", "diffed", ka.size.toString,
      kb.size.toString, (kb -- ka).size.toString, (ka -- kb).size.toString,
      changed.toString), out.mkString("\n"))
    assert(changed == 1, s"fixture lost its changed row: a=$ka b=$kb")
    // missing second artifact → usage
    assert(capture(Main.Cli(action = "diff", path = a, dsn = dsn))._1 == 2)
  }

  test("forget verb deletes the ownership cone, spares shared dims, keeps integrity") {
    import org.apache.spark.sql.functions.col
    val art = Files.createTempDirectory("forget-art").toString
    assert(capture(Main.Cli(action = "extract", dsn = dsn,
      query = "SELECT * FROM customer WHERE c_custkey <= 5", path = art))._1 == 0)
    val engine = new graft.engine.Engine(spark, graft.meta.Catalog.tpch,
      t => Tables(spark, dsn, t), graft.conf.ExtractConfig())
    val before = engine.load(art).map { case (t, df) => t -> df.count() }
    // the default policy pulls the seed's depth-0 reverse cone (orders,
    // events) but gates deeper RK edges behind the allowlist, so the
    // artifact holds customer/orders/events + the forward dims
    assert(before.keySet == Set("customer", "orders", "events", "nation", "region"))
    // the victim's cone, derived from the source (what forget should remove)
    val nVictimOrders = Tables(spark, dsn, "orders")
      .filter(col("o_custkey") === 3L).count()
    val nVictimEvents = Tables(spark, dsn, "events")
      .filter(col("user_id") === 3L).count()

    val (rc, out) = capture(Main.Cli(action = "forget", dsn = dsn,
      query = "SELECT * FROM customer WHERE c_custkey = 3", path = art))
    assert(rc == 0, out.mkString("\n"))

    val after = engine.load(art).map { case (t, df) => t -> df.count() }
    assert(after("customer") == before("customer") - 1)
    assert(after("orders") == before("orders") - nVictimOrders)
    assert(after("events") == before("events") - nVictimEvents)
    assert(nVictimOrders > 0 && nVictimEvents > 0, "fixture victim must own rows")
    // shared dimensions untouched — forward FKs must NOT cascade
    Seq("nation", "region").foreach { t =>
      assert(after.get(t) == before.get(t), s"shared dim $t changed")
    }
    // the victim is gone, the others remain
    val custKeys = engine.load(art)("customer")
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(!custKeys.contains(3L) && custKeys.size == before("customer").toInt - 1)
    // and the artifact still passes the integrity gate
    assert(capture(Main.Cli(action = "check", path = art, dsn = dsn))._1 == 0)
  }

  test("index verb: build/status/append/compact lifecycle on a dedup index") {
    val idx = java.nio.file.Files.createTempDirectory("cli-idx").toString
    // build over two-thirds of the corpus: one segment, no extras
    val (rc1, o1) = capture(Main.Cli(action = "index", table = "dedup",
      dsn = dsn, path = idx, query = "doc_id % 3 < 2"))
    assert(rc1 == 0 && o1.exists(_.contains("built")))
    val (rcS, oS) = capture(Main.Cli(action = "index", table = "dedup",
      path = idx, op = "status"))
    assert(rcS == 0 && oS.exists(s => s.contains("1 segment(s)") && !s.contains("extras")))
    // append the rest, then compact back to one segment
    val (rc2, o2) = capture(Main.Cli(action = "index", table = "dedup",
      dsn = dsn, path = idx, op = "append", query = "doc_id % 3 = 2"))
    assert(rc2 == 0 && o2.exists(_.contains("appended")))
    val (_, oS2) = capture(Main.Cli(action = "index", table = "dedup",
      path = idx, op = "status"))
    assert(oS2.exists(_.contains("2 segment(s)")))
    val (rc3, _) = capture(Main.Cli(action = "index", table = "dedup",
      dsn = dsn, path = idx, op = "compact"))
    assert(rc3 == 0)
    val (_, oS3) = capture(Main.Cli(action = "index", table = "dedup",
      path = idx, op = "status"))
    assert(oS3.exists(_.contains("1 segment(s)")))
    // the maintained index serves the real dedupe path
    val total = graft.ext.DedupIndex.rows(spark, idx).count()
    assert(total == graft.Tables(spark, dsn, "documents").count())
    // status on an empty root is a loud 1, not a silent 0
    val empty = java.nio.file.Files.createTempDirectory("cli-idx-empty").toString
    val (rcE, _) = capture(Main.Cli(action = "index", table = "clusters",
      path = empty, op = "status"))
    assert(rcE == 1)
  }

  test("describe prints keys, edges, and schema") {
    val (rc, out) = capture(Main.Cli(action = "describe", dsn = dsn, table = "customer"))
    assert(rc == 0)
    val text = out.mkString("\n")
    assert(text.contains("primary key: c_custkey"))
    assert(text.contains("FK c_nationkey -> nation(n_nationkey)"))
  }
}
