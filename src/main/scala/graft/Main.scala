package graft

import org.apache.spark.sql.SparkSession

import graft.conf.ExtractConfig
import graft.engine.Engine
import graft.io.{DerbyUpsert, PostgresUpsert, UpsertDialect, UpsertJdbcSink}
import graft.meta.Catalog

/** CLI — the reference's verb dispatch
  * (`/root/reference/cmd/mover/main.go:70-93`) on Spark:
  *
  * {{{
  * graft.Main -action extract  -dsn <tableDir> -query "SELECT ..." -path <outDir>
  * graft.Main -action load     -dsn <tableDir | jdbc:...> -path <artifactDir>
  * graft.Main -action describe -dsn <tableDir> -table <name>
  * graft.Main -action query    -dsn <tableDir> -query <operator> [-path <outDir>]
  * graft.Main -action explain  -dsn <tableDir> -query <operator | "SELECT ...">
  * graft.Main -action compact  -path <artifactDir> [-table <name>]
  * graft.Main -action merge    -path <baseDir> -delta <deltaDir>
  * graft.Main -action profile  -path <artifactDir> | -dsn <tableDir> -table <name>
  * graft.Main -action check    -dsn <tableDir> | -path <artifactDir>
  * graft.Main -action diff     -path <baseArtifact> -delta <otherArtifact>
  * graft.Main -action forget   -dsn <tableDir> -query "SELECT ..." -path <artifactDir>
  * graft.Main -action index    -table dedup|clusters|ann -dsn <tableDir>
  *                             -path <indexDir> [-op build|append|compact|status]
  * }}}
  *
  * Flags mirror the reference (`-query -table -path -dsn -action
  * -verbose -version`); the sanitize/traversal config comes from `-conf`
  * or the `GRAFT_CONF` env var (≙ `MOVER_CONF`, `main.go:52-57`). The
  * `-dsn` is a parquet table directory on this harness (a `jdbc:` DSN
  * routes `load` through [[graft.io.UpsertJdbcSink]], the reference's
  * Postgres bulk-insert path).
  */
object Main {

  final case class Cli(
      action: String = "",
      query: String = "",
      table: String = "",
      path: String = "",
      dsn: String = "",
      conf: String = "",
      parts: Int = 0, // compact: explicit part count (0 = size-based auto)
      compression: String = "", // compact: explicit codec ("" = inferred)
      staged: Boolean = false, // load: whole-table atomic staged upsert
      op: String = "", // index: build|append|compact|status (default build)
      delta: String = "", // extract: previous export dir -> delta extract
      deltaFull: Boolean = false, // extract -delta: full re-closure + anti-join
      verbose: Boolean = false,
      version: Boolean = false)

  val usage: String =
    """usage: graft.Main -action extract|load|describe|query|explain|compact|merge|profile|check|diff|forget|index
      |  -dsn <parquet table dir>   source tables (or jdbc: target for load)
      |  -query <sql|name>          seed query (extract) / operator name or
      |                             ad-hoc SELECT/WITH statement (query)
      |  -path <dir>                artifact dir (extract out / load in / query out / compact / profile / check)
      |  -table <name>              table to describe / single table to compact or profile
      |  -conf <config.json>        sanitize/traversal config (or $GRAFT_CONF)
      |  -parts <n>                 compact: output part count (default: sized from data bytes)
      |  -compression <codec>       compact: gzip|snappy|... (default: inferred from existing parts)
      |  -staged                    load: stage in parallel, commit each table in ONE txn
      |  -delta <prevDir>           extract: only rows NEW since the previous export
      |                             merge: the delta export dir to fold into -path
      |  -op build|append|compact|status
      |                             index: lifecycle op on a persisted index
      |                             (-table dedup|clusters|ann, -dsn corpus,
      |                             -path index root; append takes -query as a
      |                             SQL predicate selecting the new batch)
      |  -delta-full                extract -delta: tolerate in-place mutations by
      |                             re-extracting the full closure + pk anti-join
      |                             (default prunes inside the traversal; exact for
      |                             append-only sources)
      |  -verbose -version""".stripMargin

  def parse(args: Array[String]): Cli =
    args.foldLeft((Cli(), Option.empty[String])) {
      case ((cli, Some(flag)), v) =>
        (flag match {
          case "-action" => cli.copy(action = v)
          case "-query"  => cli.copy(query = v)
          case "-table"  => cli.copy(table = v)
          case "-path"   => cli.copy(path = v)
          case "-dsn"    => cli.copy(dsn = v)
          case "-conf"   => cli.copy(conf = v)
          case "-parts"  => cli.copy(parts = v.toInt)
          case "-compression" => cli.copy(compression = v)
          case "-delta" => cli.copy(delta = v)
          case "-op"    => cli.copy(op = v)
          case other => throw new IllegalArgumentException(s"unknown flag: $other")
        }, None)
      case ((cli, None), "-staged")  => (cli.copy(staged = true), None)
      case ((cli, None), "-delta-full") => (cli.copy(deltaFull = true), None)
      case ((cli, None), "-verbose") => (cli.copy(verbose = true), None)
      case ((cli, None), "-version") => (cli.copy(version = true), None)
      case ((cli, None), flag) if flag.startsWith("-") => (cli, Some(flag))
      case (_, _) => throw new IllegalArgumentException(usage)
    }._1

  /** Verb dispatch; returns a process exit code (testable without exit). */
  def run(spark: SparkSession, cli: Cli, out: String => Unit = println): Int = {
    if (cli.version) { out(s"graft version ${BuildInfo.version}"); return 0 }
    val config = Option(cli.conf).filter(_.nonEmpty)
      .orElse(sys.env.get("GRAFT_CONF"))
      .map(ExtractConfig.fromFile)
      .getOrElse(ExtractConfig())
    val engine = new Engine(spark, Catalog.tpch,
      t => Tables(spark, cli.dsn, t), config)
    // ad-hoc SQL front door (query, explain): every <dsn>/<table>.parquet
    // becomes a temp view (events through the schema-adaptive Tables
    // read), so the statement runs through the full Catalyst stack — with
    // GraftExtensions' functions and optimizer rule when the session was
    // built with them. Returns the registered view names.
    def registerDsnViews(): Seq[String] = {
      val tables = Option(new java.io.File(cli.dsn).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(_.getName.stripSuffix(".parquet")).sorted.toSeq
      tables.foreach(t => Tables(spark, cli.dsn, t).createOrReplaceTempView(t))
      tables
    }
    def isAdHocSql: Boolean = cli.query.trim.matches("(?is)(select|with)\\b.*")

    cli.action match {
      case "extract" =>
        // -delta-full without -delta would silently fall through to a
        // FULL extract — a "delta" that duplicates every row on merge
        if (cli.query.isEmpty || cli.path.isEmpty ||
            (cli.deltaFull && cli.delta.isEmpty)) { out(usage); 2 }
        else {
          val counts =
            if (cli.delta.nonEmpty)
              engine.extractDeltaTo(cli.query, cli.path, cli.delta,
                incremental = !cli.deltaFull)
            else engine.extractTo(cli.query, cli.path)
          counts.toSeq.sortBy(_._1).foreach { case (t, n) => out(s"$t: $n rows") }
          0
        }
      case "load" =>
        if (cli.path.isEmpty) { out(usage); 2 }
        else {
          val tables = engine.load(cli.path)
          if (cli.dsn.startsWith("jdbc:")) {
            val dialect: UpsertDialect =
              if (cli.dsn.startsWith("jdbc:derby")) DerbyUpsert else PostgresUpsert
            tables.toSeq.sortBy(_._1).foreach { case (t, df) =>
              val pk = Catalog.tpch.tables.get(t).flatMap(_.primaryKey.headOption)
                .getOrElse(df.columns.head)
              if (cli.staged)
                UpsertJdbcSink.writeStaged(df, cli.dsn, new java.util.Properties,
                  t, pk, dialect = dialect)
              else
                UpsertJdbcSink.write(df, cli.dsn, new java.util.Properties, t, pk,
                  dialect = dialect)
              out(s"$t: loaded")
            }
          } else tables.toSeq.sortBy(_._1).foreach { case (t, df) =>
            out(s"$t: ${df.count()} rows")
          }
          0
        }
      case "describe" =>
        if (cli.table.isEmpty) { out(usage); 2 }
        else { out(engine.describe(cli.table)); 0 }
      // beyond the reference's verb set: run any registered operator by
      // name against the -dsn tables (the operator registry IS the user
      // surface of the extension tier — this makes it reachable without
      // writing Scala)
      case "query" =>
        def emit(label: String, df: org.apache.spark.sql.DataFrame): Int = {
          if (cli.path.nonEmpty) {
            df.write.mode("overwrite").parquet(cli.path)
            out(s"$label: written to ${cli.path}")
          } else {
            out(df.columns.mkString("\t"))
            // fetch one extra row so truncation is detectable without a
            // separate count job
            val rows = df.limit(21).collect()
            rows.take(20).foreach(r => out(r.mkString("\t")))
            if (rows.length > 20)
              out(s"... (showing first 20 rows; use -path <dir> for full output)")
          }
          0
        }
        if (cli.query.isEmpty || cli.dsn.isEmpty) { out(usage); 2 }
        else SparkEntry.queries.get(cli.query) match {
          case None if isAdHocSql =>
            val tables = registerDsnViews()
            if (cli.verbose) out(s"views: ${tables.mkString(", ")}")
            emit("sql", spark.sql(cli.query))
          case None =>
            out(s"unknown query '${cli.query}' " +
              s"(available: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}; " +
              "or pass a SELECT/WITH statement to run ad-hoc SQL)")
            2
          case Some(fn) =>
            emit(cli.query, fn(spark, cli.dsn))
        }
      // artifact maintenance (beyond the reference's verb set): collapse
      // the small files a streaming sink / wide writer leaves behind
      case "compact" =>
        if (cli.path.isEmpty) { out(usage); 2 }
        else {
          val explicit = cli.table.nonEmpty
          val tables =
            if (explicit) Seq(cli.table)
            else graft.io.JsonTableIO.listTables(cli.path)
          tables.foreach { t =>
            // each knob overrides inference independently: -parts pins the
            // count, -compression pins the codec, anything unset is
            // inferred from the artifact (size-based part count, codec
            // from existing part extensions) — so compacting a gzip
            // artifact never silently decompresses it, with or without
            // -parts. Dir-wide runs skip single-file envelope tables
            // (listTables returns them; they have nothing to compact);
            // naming one with -table still fails loudly.
            if (!explicit && !graft.io.JsonTableIO.hasPartitionedData(cli.path, t))
              out(s"$t: skipped (single-file envelope, nothing to compact)")
            else {
              val n = graft.io.JsonTableIO.compactAuto(spark, cli.path, t,
                parts = Some(cli.parts).filter(_ > 0),
                compression = Option(cli.compression).filter(_.nonEmpty))
              out(s"$t: compacted ($n rows)")
            }
          }
          0
        }
      // fold a delta export into its base artifact (incremental
      // lifecycle: extract → extract -delta → merge → compact)
      case "merge" =>
        if (cli.path.isEmpty || cli.delta.isEmpty) { out(usage); 2 }
        else {
          val counts = graft.io.JsonTableIO.mergeArtifacts(
            spark, cli.path, cli.delta,
            Option(cli.compression).filter(_.nonEmpty))
          counts.toSeq.sortBy(_._1).foreach { case (t, n) =>
            out(s"$t: merged ($n rows)") }
          0
        }
      // print the plan a query WOULD run — the tuning loop's first tool,
      // for registered operators and ad-hoc SQL alike
      case "explain" =>
        if (cli.query.isEmpty || cli.dsn.isEmpty) { out(usage); 2 }
        else {
          val df = SparkEntry.queries.get(cli.query) match {
            case Some(fn) => Some(fn(spark, cli.dsn))
            case None if isAdHocSql =>
              registerDsnViews()
              Some(spark.sql(cli.query))
            case None => None
          }
          df match {
            case Some(d) =>
              out(d.queryExecution.explainString(
                org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
              0
            case None =>
              out(s"unknown query '${cli.query}'"); 2
          }
        }
      // ANALYZE-style stats over an artifact's tables (or one parquet
      // table): the first look a migration/pipeline user takes at data
      // they just extracted — row/null/distinct counts, min/max
      case "profile" =>
        if (cli.path.isEmpty && (cli.dsn.isEmpty || cli.table.isEmpty)) { out(usage); 2 }
        else {
          val tables =
            if (cli.path.nonEmpty) {
              // -table restricts to one table of the artifact, like compact
              val loaded = engine.load(cli.path).toSeq.sortBy(_._1)
              if (cli.table.nonEmpty) loaded.filter(_._1 == cli.table)
              else loaded
            } else Seq(cli.table -> Tables(spark, cli.dsn, cli.table))
          tables.foreach { case (t, df) =>
            out(s"== $t ==")
            out("col_name\tn_rows\tn_nulls\tn_distinct\tmin\tmax")
            graft.queries.OlapQueries.tableProfileCore(df)
              .collect().foreach(r => out(r.mkString("\t")))
          }
          0
        }
      // right-to-be-forgotten: delete the seed rows' ownership cone
      // (reverse-key closure — never shared dims) from an artifact,
      // each table rewritten as an atomic generation
      case "forget" =>
        if (cli.query.isEmpty || cli.path.isEmpty || cli.dsn.isEmpty) { out(usage); 2 }
        else {
          val deleted = engine.forget(cli.query, cli.path)
          if (deleted.isEmpty) out("nothing to forget (cone misses the artifact)")
          else deleted.toSeq.sortBy(_._1).foreach { case (t, n) =>
            out(s"$t: forgot $n rows") }
          0
        }
      // generation diff (incremental lifecycle inspection): per-table
      // added/removed/changed counts between two artifacts, content
      // identity via canonical-JSON row hash keyed by catalog pk
      case "diff" =>
        if (cli.path.isEmpty || cli.delta.isEmpty) { out(usage); 2 }
        else {
          val rows = graft.io.ArtifactDiff.diff(
            engine.load(cli.path), engine.load(cli.delta))
          out("table\tstatus\tbase_rows\tother_rows\tadded\tremoved\tchanged")
          rows.foreach(r => out(s"${r.table}\t${r.status}\t${r.base_rows}\t" +
            s"${r.other_rows}\t${r.added}\t${r.removed}\t${r.changed}"))
          0
        }
      // referential-integrity audit (the verifier dual of extract): per
      // catalog FK edge, orphan key/row counts over -dsn tables or an
      // artifact's tables; exit 1 if any edge is violated — a CI gate
      case "check" =>
        if (cli.dsn.isEmpty && cli.path.isEmpty) { out(usage); 2 }
        else {
          // absent tables (partial artifact / partial dir) skip their
          // edges rather than failing the audit of the present ones.
          // Memoized: a table that is child of 3 edges and parent of 2
          // resolves its parquet footers ONCE, not per edge endpoint.
          val resolved: Map[String, org.apache.spark.sql.DataFrame] =
            if (cli.path.nonEmpty) engine.load(cli.path)
            else Catalog.tpch.tables.keys.flatMap(t =>
              scala.util.Try(Tables(spark, cli.dsn, t)).toOption.map(t -> _)).toMap
          val audits = Catalog.tpch.edges.sortBy(_.name).flatMap { e =>
            for (c <- resolved.get(e.childTable); p <- resolved.get(e.parentTable))
              yield graft.queries.AuditQueries.edgeAuditDf(c, p, e)
          }
          // a CI gate must not pass on a path typo: NO tables found means
          // nothing was checked — a usage error, not a clean audit.
          // (Tables present but no edge with both endpoints — e.g. a
          // single-table artifact — is a legitimate empty audit.)
          if (resolved.isEmpty) {
            out(s"check: no catalog tables found under " +
              s"'${if (cli.path.nonEmpty) cli.path else cli.dsn}' (typo?)")
            2
          }
          else if (audits.isEmpty) { out("no auditable edges (no edge has both tables present)"); 0 }
          else {
            val rows = audits.reduce(_.unionByName(_)).orderBy("edge").collect()
            out("edge\tchild_table\tparent_table\tchild_rows\torphan_keys\torphan_rows\tintact")
            rows.foreach(r => out(r.mkString("\t")))
            if (rows.forall(_.getAs[Boolean]("intact"))) 0
            else { out("INTEGRITY VIOLATED"); 1 }
          }
        }
      // persisted-index lifecycle (the product surface of the index
      // tier): build / incremental append / compact / status for the
      // dedup fingerprint, near-dup cluster, and IVF-cell artifacts —
      // all committed through the crash-safe SegmentLog protocol
      case "index" =>
        val kinds = Set("dedup", "clusters", "ann")
        if (cli.path.isEmpty || !kinds.contains(cli.table) ||
            (cli.op != "status" && cli.dsn.isEmpty)) { out(usage); 2 }
        else {
          import org.apache.spark.sql.functions.{col, expr}
          def docs = {
            val d = Tables(spark, cli.dsn, "documents").select("doc_id", "text")
            if (cli.query.nonEmpty) d.filter(expr(cli.query)) else d
          }
          def vecsAndCents = {
            val base = Tables(spark, cli.dsn, "embeddings")
              .select(col("vec_id"),
                expr("transform(embedding, x -> cast(x AS double))").as("v"))
            val sel = if (cli.query.nonEmpty) base.filter(expr(cli.query)) else base
            // deterministic stand-in centroids, the ann_ivf convention;
            // centroids always come from the FULL corpus so append
            // batches assign against the same table the index was built
            // with (a retrain is a rebuild)
            val cents = base.filter(col("vec_id") < 16)
              .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
            (sel, cents)
          }
          val statusRoot = cli.table match {
            case "dedup" => s"${cli.path}/dedup_index"
            case "ann"   => s"${cli.path}/ann_index"
            case _       => cli.path
          }
          cli.op match {
            case "" | "build" =>
              val n = cli.table match {
                case "dedup" => graft.ext.DedupIndex.build(docs, cli.path)
                case "clusters" => graft.ext.ClusterIndex.build(docs, cli.path)
                case "ann" =>
                  val (v, c) = vecsAndCents
                  graft.ext.AnnIndex.build(v, c, cli.path)
              }
              out(s"index ${cli.table}: built ($n rows indexed)")
              0
            case "append" =>
              val n = cli.table match {
                case "dedup" => graft.ext.DedupIndex.append(docs, cli.path)
                case "clusters" => graft.ext.ClusterIndex.append(docs, cli.path)
                case "ann" =>
                  val (v, c) = vecsAndCents
                  graft.ext.AnnIndex.append(v, c, cli.path)
              }
              out(s"index ${cli.table}: appended ($n rows now)")
              0
            case "compact" =>
              val n = cli.table match {
                case "dedup" => graft.ext.DedupIndex.compact(spark, cli.path)
                case "clusters" => graft.ext.ClusterIndex.compact(spark, cli.path)
                case "ann" => graft.ext.AnnIndex.compact(spark, cli.path)
              }
              out(s"index ${cli.table}: compacted ($n rows)")
              0
            case "status" =>
              graft.io.SegmentLog.read(statusRoot) match {
                case None => out(s"index ${cli.table}: no committed index at $statusRoot"); 1
                case Some(st) =>
                  out(s"index ${cli.table}: gen ${st.gen}, " +
                    s"${st.segments.size} segment(s) [${st.segments.mkString(", ")}]" +
                    (if (st.extras.isEmpty) ""
                     else st.extras.toSeq.sortBy(_._1)
                       .map { case (k, v) => s"$k -> $v" }
                       .mkString(", extras: ", ", ", "")))
                  0
              }
            case other => out(s"unknown index op '$other'"); 2
          }
        }
      case _ => out(usage); 2
    }
  }

  def main(args: Array[String]): Unit = {
    val cli = parse(args)
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel(if (cli.verbose) "INFO" else "WARN")
    try sys.exit(run(spark, cli)) finally spark.stop()
  }
}

object BuildInfo { val version = "0.1.0" }
