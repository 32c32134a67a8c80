package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Properties

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.Tables
import graft.closure.ClosureExtractor
import graft.conf.ExtractConfig
import graft.engine.Engine
import graft.io.{DerbyUpsert, JsonTableIO, UpsertJdbcSink}
import graft.meta.Catalog

/** The lifecycle benchmark's JVM side: it runs mover's verbs through the
  * program's public entry points and writes what it measured, raw, to a
  * JSON file. `run.py` turns that file into the benchmark's metrics.
  *
  * A run is a closed loop with one client. Each cycle extracts the cone
  * of one seed set with `Engine.extractTo`, loads the artifact into a
  * fresh in-memory Derby database with `Engine.load` and one
  * `UpsertJdbcSink.write` per table (the calls `Main -action load -dsn
  * jdbc:derby:…` makes, its primary-key choice included), then loads the
  * same artifact again into the now-full database. Checks run outside the
  * timed parts.
  *
  * Usage:
  * {{{
  * Lifecycle prepare <data-dir>
  * Lifecycle run <workload> <seed> <seconds> <trace 0|1> <cpus>
  *               <data-dir> <work-dir> <result-file>
  * }}}
  */
object Lifecycle {

  /** The extract config: the allowlisted reverse key pulls each order's
    * lineitems into the cone; customer and supplier are sanitized.
    */
  val ConfigJson: String =
    """{"locale": "en", "schema": [
      |  {"table_name": "orders", "reference_keys": ["lineitem_orderkey_fkey"]},
      |  {"table_name": "customer", "columns": [
      |    {"name": "c_name", "fake": "name"},
      |    {"name": "c_acctbal", "sanitize": true}]},
      |  {"table_name": "supplier", "columns": [
      |    {"name": "s_name", "replace": "Supplier {s_suppkey}"}]}]}""".stripMargin

  /** Seed customers per point extract, and nations per bulk extract. Six
    * of 25 nations is the smallest count whose closure exceeds the closure
    * extractor's fast-path budget for every choice of nations.
    */
  val PointCustomers = 3
  val BulkNations = 6
  /** Point seeds are drawn among the customers with this many orders (the
    * mean). With any customer, cone sizes varied so much from seed to seed
    * (a third between runs) that they, not the program, set the spread of
    * the per-row figures.
    */
  val PointOrders = 10

  /** Workloads: how a seed set is drawn and which BFS path it must take. */
  sealed trait Workload {
    def name: String
    /** The seed query of the next op; `pointPool` holds the customers a
      * point extract may start from.
      */
    def seedSql(rng: scala.util.Random, pointPool: IndexedSeq[Long]): String
    /** Does this closure size match the path the workload is meant for? */
    def onPath(rowsOut: Long, budget: Long): Boolean
    def warmups: Int
  }
  object PointExtract extends Workload {
    val name = "point_extract"
    def seedSql(rng: scala.util.Random, pointPool: IndexedSeq[Long]): String = {
      val keys = Iterator.continually(pointPool(rng.nextInt(pointPool.size)))
        .distinct.take(PointCustomers).toSeq
      s"SELECT * FROM customer WHERE c_custkey IN (${keys.mkString(", ")})"
    }
    def onPath(rowsOut: Long, budget: Long): Boolean = rowsOut <= budget
    // the first cycle pays class loading; with one warm-up cycle the
    // extract times still fell through the measured cycles
    val warmups = 2
  }
  object BulkLifecycle extends Workload {
    val name = "bulk_lifecycle"
    def seedSql(rng: scala.util.Random, pointPool: IndexedSeq[Long]): String = {
      val nations = rng.shuffle((0 until DataGen.Nations).toList)
        .take(BulkNations).sorted
      s"SELECT * FROM customer WHERE c_nationkey IN (${nations.mkString(", ")})"
    }
    def onPath(rowsOut: Long, budget: Long): Boolean = rowsOut > budget
    // warmed by one point cycle, which halved the spread of the load
    // figures; a bulk warm-up cycle would double the run
    val warmups = 1
  }
  val Workloads: Map[String, Workload] =
    Seq(PointExtract, BulkLifecycle).map(w => w.name -> w).toMap

  def main(args: Array[String]): Unit = args.toList match {
    case "prepare" :: data :: Nil =>
      val spark = session(4, Paths.get(data).getParent.toString)
      try DataGen.write(spark, data) finally spark.stop()
    case "run" :: w :: seed :: secs :: trace :: cpus :: data :: work :: out :: Nil =>
      val wl = Workloads.getOrElse(w, sys.error(s"unknown workload '$w'"))
      val res = new Run(wl, seed.toLong, secs.toInt, trace == "1", cpus.toInt,
        data, work).execute()
      Files.writeString(Paths.get(out), res)
    case _ =>
      System.err.println("usage: Lifecycle prepare <data-dir> | run <workload> " +
        "<seed> <seconds> <trace> <cpus> <data-dir> <work-dir> <result-file>")
      sys.exit(2)
  }

  /** The session `Main` builds, with scratch space kept in `work`. */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Files of one written table: Spark's part files, without checksums. */
  def partFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir).iterator().asScala.toList
      .filter(p => p.getFileName.toString.startsWith("part-"))

  /** Cause of a failed load op, by its exception chain. */
  def causeOf(e: Throwable): String = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toList
    val msg = chain.map(c => s"${c.getClass.getName}: ${c.getMessage}").mkString(" | ")
    if (chain.exists(_.isInstanceOf[java.sql.SQLDataException]) &&
        msg.contains("LocalDateTime")) Causes.LocalDateTime
    else "unexpected: " + msg.linesIterator.nextOption().getOrElse("").take(300)
  }
}

/** Causes of op failures that are known program defects. A failed op with
  * any other cause marks the run incorrect.
  */
object Causes {
  /** The upsert sink binds TIMESTAMP_NTZ values as java.time.LocalDateTime
    * through setObject, which Derby rejects.
    */
  val LocalDateTime = "upsert-binds-localdatetime"
  /** The load keys its conflict-skip on the first primary-key column only,
    * so rows sharing it with a loaded row are skipped.
    */
  val PkHead = "upsert-conflict-key-is-pk-head"
  /** The JSON artifact keeps timestamps to the millisecond only. */
  val TsMillis = "artifact-truncates-timestamps-to-ms"
  val Known: Set[String] = Set(LocalDateTime, PkHead, TsMillis)
}

/** One op of a cycle: an extract, or one table's load or reload. */
final case class OpRec(kind: String, table: String, ok: Boolean, cause: String,
    attempted: Long = 0, landed: Long = 0, skipped: Long = 0)

final class Run(wl: Lifecycle.Workload, seed: Long, seconds: Int, traced: Boolean,
    cpus: Int, data: String, work: String) {
  import Lifecycle._

  private val config = ExtractConfig.fromJson(ConfigJson)
  private val catalog = Catalog.tpch
  private val budget = ClosureExtractor.FastPathBudget
  private val errors = mutable.ArrayBuffer.empty[String]
  private var spark: SparkSession = _
  private var engine: Engine = _
  private var tracer: Option[Tracer] = None
  private var pointPool = IndexedSeq.empty[Long]

  private final class Cycle(val op: Int, val seedSql: String, val dir: String) {
    var extractS, loadS, reloadS, gcS = 0.0
    var rowsOut, bytes, files = 0L
    var loadAttempted, loadVerified, reloadAttempted = 0L
    val ops = mutable.ArrayBuffer.empty[OpRec]
    var extractOp: OpRec = OpRec("extract", "", ok = true, "")
    // what the loads left behind, checked at the end of the run: the
    // target (kept until then), each table's write error, and its row
    // counts after the load and after the reload
    val target = new DerbyTarget(s"pb_${label(op)}")
    var loadErr, reloadErr = Map.empty[String, Option[Throwable]]
    var afterLoad, afterReload = Map.empty[String, Long]
  }

  /** Directory and database name of a cycle; warm-up cycles are negative. */
  private def label(op: Int): String = if (op < 0) s"warm${-op}" else s"op$op"

  /** `f` as a span of the traced run; bare in the untraced one. */
  private def span[T](name: String, op: Int, parent: Int, table: String = "")
      (f: Int => T): T = tracer.fold(f(0))(_.span(name, op, parent, table)(f))

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timedGc[T](c: Cycle)(f: => T): T = {
    val g0 = Gc.seconds()
    try f finally c.gcS += Gc.seconds() - g0
  }

  /** One set-up: session, table relations, Derby boot with the full DDL. */
  private def setUp(): Double = {
    val t0 = System.nanoTime()
    spark = session(cpus, work)
    engine = new Engine(spark, catalog, t => Tables(spark, data, t), config)
    val schemas = DataGen.Tables.map(t => t -> Tables(spark, data, t).schema).toMap
    val d = new DerbyTarget("pb_setup")
    d.create(schemas, catalog)
    d.drop()
    secs(t0)
  }

  private def phase(what: String): Unit = System.err.println(
    f"perfbench: $what at ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")

  def execute(): String = {
    val bootS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    // several set-ups, the median reported, so set-up time is steady
    val setups = (1 to 3).map { i =>
      if (i > 1) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      setUp()
    }
    phase("set-up done")
    pointPool = Tables(spark, data, "orders").groupBy("o_custkey").count()
      .where(col("count") === PointOrders).select("o_custkey").collect()
      .map(_.getLong(0)).sorted.toIndexedSeq
    if (traced) tracer = Some(new Tracer(spark.sparkContext))
    val warmRng = new scala.util.Random(seed ^ 0x5eedL)
    val warmWl = if (wl == BulkLifecycle) PointExtract else wl
    (1 to wl.warmups).foreach(i => cycle(-i, warmWl.seedSql(warmRng, pointPool), check = false))
    phase("warm-up done")
    val rng = new scala.util.Random(seed)
    val cycles = mutable.ArrayBuffer.empty[Cycle]
    val t0 = System.nanoTime()
    while (cycles.isEmpty || secs(t0) < seconds)
      cycles += cycle(cycles.size, wl.seedSql(rng, pointPool), check = true)
    phase(s"${cycles.size} measured cycles done")
    check(cycles.toSeq)
    phase("checks done")
    val spans = tracer.map(_.finish()).getOrElse(Nil)
    spark.stop()
    cycles.foreach(c => deleteTree(Paths.get(c.dir)))
    phase("stopped")
    render(bootS, setups, cycles.toSeq, spans)
  }

  private def cycle(op: Int, seedSql: String, check: Boolean): Cycle = {
    val c = new Cycle(op, seedSql, s"$work/artifacts/${label(op)}")
    deleteTree(Paths.get(c.dir))
    extract(c)
    if (check && !wl.onPath(c.rowsOut, budget))
      errors += s"op ${c.op}: ${c.rowsOut} rows is on the wrong side of the " +
        s"fast-path budget $budget for ${wl.name}"
    try loadAndReload(c, check)
    finally if (!check) { c.target.drop(); deleteTree(Paths.get(c.dir)) }
    c
  }

  private def extract(c: Cycle): Unit = timedGc(c) {
    val t0 = System.nanoTime()
    val counts: Map[String, Long] =
      if (!traced) engine.extractTo(c.seedSql, c.dir)
      else span("extract", c.op, 0) { root =>
        // Engine.extractTo's export loop, with a span per table: for this
        // catalog (no column types) and config (no downloads) it writes
        // each extracted DataFrame as is, from a pool of the same size
        val tables = span("closure", c.op, root)(_ => engine.extract(c.seedSql))
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.max(1, math.min(4, tables.size)))
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
        try Await.result(Future.sequence(tables.toSeq.map { case (t, df) =>
          Future(t -> span("json_write", c.op, root, t)(_ =>
            JsonTableIO.write(df, c.dir, t)))
        }), 10.minutes).toMap
        finally pool.shutdown()
      }
    c.extractS = secs(t0)
    c.rowsOut = counts.values.sum
    val parts = counts.keys.toSeq.flatMap(t => partFiles(Paths.get(c.dir, t, "data")))
    c.files = parts.size
    c.bytes = parts.map(Files.size).sum
  }

  /** The load `Main -action load` runs, into `target`, with `plan` and
    * `write` naming the spans. Returns each table's write error, if any.
    */
  private def load(c: Cycle, target: DerbyTarget, kind: String, plan: String,
      write: String): Map[String, Option[Throwable]] =
    span(kind, c.op, 0) { root =>
      val tables = span(plan, c.op, root)(_ => engine.load(c.dir))
      tables.toSeq.sortBy(_._1).map { case (t, df) =>
        val pk = catalog.tables.get(t).flatMap(_.primaryKey.headOption)
          .getOrElse(df.columns.head)
        val err = try {
          span(write, c.op, root, t)(_ =>
            UpsertJdbcSink.write(df, target.url, new Properties, t, pk,
              dialect = DerbyUpsert))
          None
        } catch { case NonFatal(e) => Some(e) }
        t -> err
      }.toMap
    }

  private def loadAndReload(c: Cycle, check: Boolean): Unit = {
    // untimed: the DDL comes from the artifact schema Engine.load reports
    c.target.create(engine.load(c.dir).map { case (t, df) => t -> df.schema }, catalog)
    var t0 = System.nanoTime()
    c.loadErr = timedGc(c)(load(c, c.target, "load", "load_plan", "upsert"))
    c.loadS = secs(t0)
    c.afterLoad = c.target.counts(c.loadErr.keys.toSeq)
    t0 = System.nanoTime()
    c.reloadErr = timedGc(c)(load(c, c.target, "reload", "reload_plan", "reupsert"))
    c.reloadS = secs(t0)
    c.afterReload = c.target.counts(c.reloadErr.keys.toSeq)
  }

  /** The checks of the whole run, outside the timed parts: every extract
    * against [[ExpectedClosure]], and every load and reload against its
    * artifact. The artifact digests serve both; each side is one Spark job.
    */
  private def check(cycles: Seq[Cycle]): Unit = {
    DataGen.Tables.foreach(t => Tables(spark, data, t).createOrReplaceTempView(t))
    val session = spark
    import session.implicits._
    cycles.flatMap(c => spark.sql(c.seedSql).select("c_custkey").collect()
      .map(r => (c.op, r.getLong(0)))).toDF("op", "c_custkey")
      .createOrReplaceTempView("seeds")
    // planning dominates these small queries; static plans are cheaper
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val expected = ExpectedClosure.tables(spark,
      ExpectedClosure.fakeNameSql(config.locale)).toSeq
    // the millisecond variant only where there are timestamps to truncate
    val want = Digest.all(expected.map { case (t, df) => ("exact", t) -> df } ++
      expected.collect { case (t, df) if ExpectedClosure.hasTimestamps(df) =>
        ("ms", t) -> ExpectedClosure.millis(df) })
    ExpectedClosure.release(spark)
    spark.conf.unset("spark.sql.adaptive.enabled")
    // the artifact as Engine.load reads it: JSON under the source schema
    val got = Digest.all(for {
      c <- cycles
      t <- DataGen.Tables if Files.isDirectory(Paths.get(c.dir, t))
    } yield t -> spark.read.schema(Tables(spark, data, t).schema)
      .option("mode", "FAILFAST").json(JsonTableIO.dataPath(c.dir, t).toString)
      .withColumn("op", lit(c.op)))
    // and every target as the last load left it
    val inDb = Digest.all(for {
      c <- cycles
      t <- c.reloadErr.keys.toSeq
    } yield (c.op, t) -> c.target.read(spark, t))
    cycles.foreach { c =>
      def at[K](m: Map[(K, Int), Digest], k: K) = m.getOrElse((k, c.op), Digest.Empty)
      val manifestOff = DataGen.Tables.filter(t => Files.isDirectory(Paths.get(c.dir, t)) &&
        JsonTableIO.readManifest(c.dir, t).count != at(got, t).rows)
      val off = DataGen.Tables.filter(t => at(got, t) != at(want, ("exact", t)))
      val cause =
        if (manifestOff.nonEmpty) s"unexpected: manifest count off for ${manifestOff.mkString(",")}"
        else if (off.isEmpty) ""
        else if (off.forall(t => at(got, t) == at(want, ("ms", t)))) Causes.TsMillis
        else s"unexpected: closure differs from the SQL formulation in " +
          off.map(t => s"$t (${at(got, t).rows} vs ${at(want, ("exact", t)).rows} rows)")
            .mkString(", ")
      c.extractOp = OpRec("extract", "", cause.isEmpty, cause, c.rowsOut)
      checkLoads(c, t => at(got, t), t => inDb.getOrElse(((c.op, t), 0), Digest.Empty))
    }
    // dropping an in-memory database mostly waits, so the drops overlap
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.traverse(cycles)(c => Future(c.target.drop())), 5.minutes)
    finally pool.shutdown()
  }

  /** Load and reload ops of one cycle, from the digests of its artifact
    * and of its target after the reload, and the row counts in between.
    * The reload of a complete load adds no rows, so then the target after
    * the reload is the target after the load.
    */
  private def checkLoads(c: Cycle, artifact: String => Digest,
      target: String => Digest): Unit = {
    c.loadErr.toSeq.sortBy(_._1).foreach { case (t, err) =>
      val a = artifact(t); val got = target(t)
      val landed = c.afterLoad(t); val unchanged = c.afterReload(t) == landed
      // rows of the artifact present in the target, as multisets, capped
      // at the rows the load left
      val verified =
        if (got == a && unchanged) a.rows
        else if (landed == 0) 0L
        else Digest.canonical(engine.load(c.dir)(t)).intersectAll(
          Digest.canonical(c.target.read(spark, t))).count().min(landed)
      val cause = err.map(causeOf).getOrElse(
        if (got == a && unchanged) ""
        else if (catalog.pkOf(t).size > 1 && unchanged && verified == landed) Causes.PkHead
        else s"unexpected: $t round trip has $landed rows, " +
          s"$verified of the artifact's ${a.rows}")
      c.ops += OpRec("load", t, cause.isEmpty, cause, a.rows, landed)
      c.loadAttempted += a.rows
      c.loadVerified += verified
    }
    c.reloadErr.toSeq.sortBy(_._1).foreach { case (t, err) =>
      val a = artifact(t); val got = target(t)
      val landed = c.afterReload(t) - c.afterLoad(t)
      val cause = err.map(causeOf).getOrElse(
        if (got == a) ""
        else if (landed == 0 && catalog.pkOf(t).size > 1) Causes.PkHead
        else s"unexpected: $t reload left ${got.rows} rows, artifact has ${a.rows}")
      c.ops += OpRec("reload", t, cause.isEmpty, cause, a.rows, landed,
        if (err.isEmpty) a.rows - landed else 0L)
      c.reloadAttempted += a.rows
    }
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))

  private def peakRssMb(): Double =
    scala.util.Try(scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).get)
      .getOrElse(Double.NaN)

  private def render(bootS: Double, setups: Seq[Double], cycles: Seq[Cycle],
      spans: Seq[(Span, SpanCounters)]): String = {
    import Json._
    val unknown = cycles.flatMap(c => c.extractOp +: c.ops.toSeq)
      .filter(o => !o.ok && !Causes.Known(o.cause)).map(o =>
        s"${o.kind} ${o.table}: ${o.cause}")
    obj(
      "workload" -> str(wl.name), "seed" -> num(seed), "traced" -> bool(traced),
      "jvm_boot_s" -> num(bootS), "setup_s" -> arr(setups.map(num)),
      "fast_path_budget" -> num(budget), "peak_rss_mb" -> num(peakRssMb()),
      "errors" -> arr((errors.toSeq ++ unknown.distinct).map(str)),
      "cycles" -> arr(cycles.map { c =>
        obj("op" -> num(c.op), "seed_sql" -> str(c.seedSql),
          "extract_s" -> num(c.extractS), "load_s" -> num(c.loadS),
          "reload_s" -> num(c.reloadS), "gc_s" -> num(c.gcS),
          "rows_out" -> num(c.rowsOut), "bytes" -> num(c.bytes),
          "files" -> num(c.files), "load_attempted" -> num(c.loadAttempted),
          "load_verified" -> num(c.loadVerified),
          "reload_attempted" -> num(c.reloadAttempted),
          "ops" -> arr((c.extractOp +: c.ops.toSeq).map(o => obj(
            "kind" -> str(o.kind), "table" -> str(o.table), "ok" -> bool(o.ok),
            "cause" -> str(o.cause), "attempted" -> num(o.attempted),
            "landed" -> num(o.landed), "skipped" -> num(o.skipped)))))
      }),
      "spans" -> arr(spans.map { case (s, k) =>
        obj("id" -> num(s.id), "name" -> str(s.name), "op" -> num(s.op),
          "parent" -> num(s.parent), "table" -> str(s.table),
          "start_s" -> num(s.startNs / 1e9), "end_s" -> num(s.endNs / 1e9),
          "jobs" -> num(k.jobs.get), "tasks" -> num(k.tasks.get),
          "task_cpu_s" -> num(k.cpuNs / 1e9), "shuffle_bytes" -> num(k.shuffleBytes),
          "input_rows" -> num(k.inputRows))
      }))
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
  def num(x: Double): String = if (x.isNaN || x.isInfinite) "null" else x.toString
  def num(x: Long): String = x.toString
  def num(x: Int): String = x.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
