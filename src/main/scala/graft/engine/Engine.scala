package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.closure.{ClosureExtractor, ConfigQuery, TraversalPolicy}
import graft.conf.ExtractConfig
import graft.io.JsonTableIO
import graft.meta.Catalog
import graft.sanitize.Sanitizer
import graft.sqlparse.SeedQuery

/** Engine facade — the reference's three verbs
  * (`/root/reference/cmd/mover/main.go:70-93`,
  * `etl/engine.go:99-178`) on Spark:
  *
  *  - [[extract]]: seed query → driving table → FK/RK closure →
  *    per-table sanitize → per-table JSON artifact (+ media download,
  *    wired by the caller via [[graft.io.MediaDownloader]]);
  *  - [[load]]: JSON artifact dir → DataFrames (upsert into a DB via
  *    [[graft.io.UpsertJdbcSink]] when a JDBC URL is in play);
  *  - [[describe]]: catalog metadata for one table.
  *
  * `loadTable` abstracts the source (parquet harness or JDBC), exactly
  * where the reference's `Dialect` interface sits
  * (`/root/reference/dialect/dialect.go:110-120`).
  */
class Engine(
    spark: SparkSession,
    catalog: Catalog,
    loadTable: String => DataFrame,
    config: ExtractConfig = ExtractConfig()) {

  /** The traversal policy induced by the config (reference gating,
    * `/root/reference/etl/extractor.go:40-50`): depth-0 reverse expansion
    * is suppressed per the ROW's table (`schema = e.schema[table.Name]`),
    * not per the seed, so the omit set carries every omitting table.
    */
  def policy: TraversalPolicy = TraversalPolicy(
    omitReferenceKeysFor =
      config.schema.filter(_.omitReferenceKeys).map(_.tableName).toSet,
    referenceKeyAllowlist = config.rkAllowlist)

  /** Extract the referentially-closed subgraph seeded by `seedQuery`
    * (a filter over the driving table), sanitize per config, and return
    * table → DataFrame. `seedQuery` accepts either SQL (driving table
    * parsed as the reference does) or is replaced by an explicit
    * (table, DataFrame) seed via [[extractFrom]].
    */
  def extract(seedQuery: String,
      preSeen: Map[String, DataFrame] = Map.empty): Map[String, DataFrame] = {
    val table = SeedQuery.drivingTable(seedQuery).getOrElse(
      throw new IllegalArgumentException(s"cannot parse driving table: $seedQuery"))
    // delegate the seed SELECT itself to the engine's SQL layer, as the
    // reference delegates it to Postgres (S1)
    loadTable(table).createOrReplaceTempView(table)
    extractFrom(table, spark.sql(seedQuery), preSeen)
  }

  /** Config queries as closure edges (J3). */
  private def configQueries: Seq[ConfigQuery] =
    for {
      s <- config.schema
      q <- s.queries if q.tableName.nonEmpty && q.query.nonEmpty
    } yield ConfigQuery(s.tableName, q.tableName, q.query)

  def extractFrom(seedTable: String, seed: DataFrame,
      preSeen: Map[String, DataFrame] = Map.empty): Map[String, DataFrame] = {
    val cqs = configQueries
    // templated queries run through Spark SQL over the source tables
    // (the reference delegates them to Postgres, etl/extractor.go:72);
    // only the tables a template actually references get a view — not
    // the whole catalog ({attr} placeholders parse as a dummy literal)
    if (cqs.nonEmpty) cqs
      .flatMap(cq => scala.util.Try(SeedQuery.relations(spark,
          cq.template.replaceAll(raw"\{\w+\}", "0")))
        .getOrElse(Seq(cq.targetTable)))
      .distinct.filter(catalog.tables.contains)
      .foreach(t => loadTable(t).createOrReplaceTempView(t))
    val extractor = new ClosureExtractor(catalog, loadTable, policy,
      cqs, sql => spark.sql(sql))
    // extra tables are full-table SEEDS of the same traversal, not bare
    // pulls: the reference runs one `extractor.Handle` per extra against
    // the shared cache (`etl/engine.go:117-125`), so an extra's FK targets
    // and depth-0 reverse rows join the closure too. An extra equal to the
    // seed table keeps its full-table seed — the reference handles every
    // extra unconditionally, so the whole table is exported in that case
    // (extractAll unions the seed key sets per table).
    val extraSeeds = config.extra.map(_.tableName).filter(_.nonEmpty)
      .map(t => t -> loadTable(t))
    val closed = extractor.extractAll((seedTable -> seed) +: extraSeeds, preSeen)
    closed.map { case (t, df) => t -> sanitized(t, df) }
  }

  /** Incremental (delta) extraction: the closure of `seedQuery` MINUS
    * rows already present in a previous export — the run shape a
    * RECURRING pipeline actually needs at scale (extract what's new
    * since the last export, not the world again).
    *
    * `incremental = true` (default) feeds the previous key sets into the
    * BFS itself ([[graft.closure.ClosureExtractor.runAll]]
    * `preSeen`): the traversal prunes at every already-exported key, so
    * the recurring cost is the seed depth-0 expansion, one
    * allowlisted-RK/config probe per previously-exported table that has
    * such edges (appends can attach new children there), and traversal
    * proportional to the DELTA from depth 1 on — never a re-walk of the
    * full closure's FK levels. Exact under the incremental contract
    * (same config/policy; data unchanged, or append-only growth with
    * the same recurring seed query; see the extractor's scaladoc).
    *
    * `incremental = false` is the mutation-tolerant fallback: re-extract
    * the full closure, then one left_anti join per table on the primary
    * key (tables with no previous export pass through whole). The anti
    * join shuffles on the pk — at 100 TB the previous key sets are far
    * too large to broadcast, and pk-hash co-partitioning is the plan you
    * want — but the full traversal is paid even for an empty delta.
    */
  def extractDelta(seedQuery: String, prevKeys: Map[String, DataFrame],
      incremental: Boolean = true): Map[String, DataFrame] =
    if (incremental) extract(seedQuery, prevKeys)
    else extract(seedQuery).map { case (t, df) =>
      prevKeys.get(t) match {
        case None => t -> df
        case Some(prev) =>
          val pk = catalog.pkOf(t)
          t -> df.join(
            prev.select(pk.map(org.apache.spark.sql.functions.col): _*),
            pk, "left_anti")
      }
    }

  /** Previous-export primary-key sets for [[extractDelta]], read from an
    * artifact dir. Tables unknown to the catalog are skipped (they
    * cannot appear in a new closure either), and so are ZERO-COUNT
    * tables — a delta export routinely contains them, and JSON schema
    * inference on an empty artifact throws. The read runs under
    * [[artifactReadSchema]], sparing the inference pass (the hidden
    * full-scan cost [[JsonTableIO.read]] warns about) wherever it can.
    */
  def deltaBaseline(prevDir: String): Map[String, DataFrame] =
    JsonTableIO.listTables(prevDir).flatMap { t =>
      catalog.tables.get(t)
        .filter(_ => JsonTableIO.readManifest(prevDir, t).count > 0L)
        .map { meta =>
          t -> JsonTableIO.read(spark, prevDir, t, artifactReadSchema(t))
            .select(meta.primaryKey.map(org.apache.spark.sql.functions.col): _*)
        }
    }.toMap

  /** Schema to read table `t`'s artifact under. A catalog with pg type
    * strings (static or introspected via JdbcIntrospect/PgIntrospect)
    * gives an EXPLICIT artifact schema — no JSON inference pass. Else
    * the source table's schema is a best-effort optimization; absent a
    * readable source (e.g. loading into a JDBC target with no parquet
    * dir) this is None and the read falls back to inference.
    */
  private def artifactReadSchema(t: String): Option[StructType] =
    catalog.tables.get(t).filter(_.columns.nonEmpty) match {
      case Some(meta) => Some(graft.io.PgTypeCodecs.artifactSchemaFor(meta))
      case None => scala.util.Try(loadTable(t).schema).toOption
    }

  /** Apply the config's sanitize rules for `table` (no-op without rules). */
  def sanitized(table: String, df: DataFrame): DataFrame =
    config.schemaFor(table).map(_.columns.map(_.toRule)).filter(_.nonEmpty) match {
      case Some(rules) =>
        val pk = catalog.tables.get(table).flatMap(_.primaryKey.headOption)
          .getOrElse(df.columns.head)
        Sanitizer(df, rules, pk, config.locale)
      case None => df
    }

  /** Extract and write per-table JSON artifacts; returns table → count
    * (the reference's export loop, `etl/engine.go:127-178`). Columns with
    * a `download` config trigger a media fetch of every non-empty value
    * into `<outDir>/media` (`etl/engine.go:166-175`, `etl/util.go:48-72`);
    * download failures are logged-not-fatal like the reference's.
    */
  def extractTo(seedQuery: String, outDir: String): Map[String, Long] =
    writeAll(extract(seedQuery).toSeq, outDir)

  /** [[extractDelta]] + the export loop: write only the rows NEW since
    * the previous export at `prevDir` (CLI: `-action extract -delta`;
    * `-delta-full` selects `incremental = false`).
    */
  def extractDeltaTo(seedQuery: String, outDir: String, prevDir: String,
      incremental: Boolean = true): Map[String, Long] =
    writeAll(extractDelta(seedQuery, deltaBaseline(prevDir), incremental).toSeq,
      outDir)

  private def writeAll(extracted: Seq[(String, DataFrame)],
      outDir: String): Map[String, Long] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    // per-table exports are independent Spark jobs — submit them from a
    // small driver pool so small-table writes overlap the big ones
    // instead of leaving the cluster idle between driver-serial jobs
    // (the reference exports serially, etl/engine.go:127-178; Spark's
    // scheduler is thread-safe for concurrent job submission)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(4, extracted.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    // unbounded on purpose: export time grows with the data, so any fixed
    // bound would fail a legitimate large export
    try Await.result(
      Future.sequence(extracted.map { case (t, df) => Future {
        val n = JsonTableIO.write(pgEncoded(t, df), outDir, t)
        for {
          sc <- config.schemaFor(t).toSeq
          c <- sc.columns if df.columns.contains(c.name)
          // non-fatal like the reference: a config with a null/non-http
          // download block is skipped, not an NPE
          d <- Option(c.download)
          h <- Option(d.http)
        } graft.io.MediaDownloader.download(df, c.name, h.baseUrl, outDir)
        t -> n
      }}), Duration.Inf).toMap
    finally pool.shutdown()
  }

  /** Artifact-encode pg-typed columns (timestamp arrays → RFC3339,
    * decoded range structs / jsonb maps → their literals) when the
    * catalog carries pg type strings; identity otherwise.
    */
  private def pgEncoded(table: String, df: DataFrame): DataFrame =
    catalog.tables.get(table).filter(_.columns.nonEmpty).fold(df) { meta =>
      val pgType = meta.columns.map(c => c.name -> c.dataType).toMap
      df.select(df.schema.fields.toIndexedSeq.map { f =>
        pgType.get(f.name)
          .map(pg => graft.io.PgTypeCodecs
            .encodeForArtifact(pg, f.dataType, df(f.name)).as(f.name))
          .getOrElse(df(f.name))
      }: _*)
    }

  /** Right-to-be-forgotten: delete the seed rows' OWNERSHIP cone from an
    * artifact. The closure runs under [[TraversalPolicy.ownership]]: it
    * follows every reverse-key edge from the seeds at every depth (a
    * customer's orders → their lineitems, the customer's events) and
    * never a forward FK, so shared dimensions (nation, part, supplier)
    * are untouched. A point cone closes on the driver-local fast path, a
    * large purge on the distributed fixpoint. Each affected artifact
    * table is rewritten as a fresh GENERATION via
    * [[JsonTableIO.writeGen]] (atomic manifest-pointer commit: readers
    * never see a half-forgotten table, and an interrupted forget leaves
    * the previous generation live). The cascade keys come from the
    * SOURCE tables (`-dsn`), mirroring how the artifact was extracted;
    * artifact-only rows with keys outside the source are untouched by
    * construction of the anti-join. Returns table → rows deleted.
    */
  def forget(seedQuery: String, artifactDir: String): Map[String, Long] = {
    val table = SeedQuery.drivingTable(seedQuery).getOrElse(
      throw new IllegalArgumentException(s"cannot parse driving table: $seedQuery"))
    loadTable(table).createOrReplaceTempView(table)
    val cone = new ClosureExtractor(catalog, loadTable, TraversalPolicy.ownership(catalog))
      .run(table, spark.sql(seedQuery))
    val artifact = load(artifactDir)
    cone.toSeq.sortBy(_._1).flatMap { case (t, delKeys) =>
      artifact.get(t).map { rows =>
        val pk = catalog.pkOf(t)
        val keep = rows.join(delKeys, pk, "left_anti")
        val before = rows.count()
        val after = JsonTableIO.writeGen(pgEncoded(t, keep), artifactDir, t)
        t -> (before - after)
      }
    }.toMap
  }

  /** Read back an export dir: table → DataFrame
    * (`etl/loader.go:25-72`; pair with UpsertJdbcSink to load into a DB).
    */
  def load(outDir: String): Map[String, DataFrame] =
    JsonTableIO.listTables(outDir).map { t =>
      val df = JsonTableIO.read(spark, outDir, t, artifactReadSchema(t))
      // pg-typed columns whose artifact representation is a literal
      // (timestamp arrays) are re-parsed
      t -> catalog.tables.get(t).filter(_.columns.nonEmpty).fold(df) { meta =>
        df.select(meta.columns.map(c => graft.io.PgTypeCodecs
          .decodeFromArtifact(c.dataType, df(c.name)).as(c.name)): _*)
      }
    }.toMap

  /** Table metadata (`describe`, `etl/engine.go:89-96`). */
  def describe(table: String): String = {
    val meta = catalog.tables.getOrElse(table,
      throw new NoSuchElementException(s"unknown table: $table"))
    val fks = catalog.foreignKeysOf(table)
      .map(f => s"  FK ${f.childCol} -> ${f.parentTable}(${f.parentCol})")
    val rks = catalog.referenceKeysOf(table)
      .map(r => s"  RK ${r.childTable}(${r.childCol}) -> ${r.parentCol}")
    val schema = loadTable(table).schema.treeString
    (s"table: ${meta.name}" +: s"primary key: ${meta.primaryKey.mkString(", ")}" +:
      (fks ++ rks :+ schema)).mkString("\n")
  }
}
