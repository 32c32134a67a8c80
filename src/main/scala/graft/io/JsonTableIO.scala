package graft.io

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, explode, lit}
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructType}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Per-table JSON artifact I/O — Spark-native form of the reference's
  * export format (`jsonPayload{TableName, Count, Data}`,
  * `/root/reference/etl/engine.go:60-64,141-164`; read back by
  * `loader.loadFile`, `etl/loader.go:54-72`).
  *
  * The reference holds a whole table in memory and pretty-prints one JSON
  * file. At 100 TB that is impossible, so the layout here is:
  * `<out>/<table>/data/` — JSON Lines part files written in parallel —
  * plus `<out>/<table>/manifest.json` holding `{table_name, count}` (the
  * envelope metadata, written once on the driver). A reader of the
  * reference's format gets the same information; a 1000-executor writer
  * never funnels rows through one node.
  *
  * The manifest doubles as a COMMIT POINTER: an optional `data_dir`
  * field names the live data dir (`data` when absent — so uncompacted
  * artifacts stay byte-identical to the original layout). [[compact]]
  * rewrites into a fresh `data-gN` generation dir and commits by
  * atomically replacing the one-line manifest, never by renaming data
  * dirs — a concurrent reader resolves the pointer to either the old
  * or the new generation, both complete, with no missing-dir instant.
  * The REPLACED generation is recorded as `stale_dir` and retained
  * until the next maintenance op (one-cycle snapshot retention, the
  * miniature of Iceberg/Delta's expire-snapshots): an in-flight reader
  * that resolved the previous pointer keeps a complete dir under its
  * feet for a full maintenance cycle instead of hitting a
  * FileNotFound the instant the swap lands. The same protocol ports
  * to object stores (the commit is a small PUT), where directory
  * renames don't exist at all. A plain `data` dir that reappears next
  * to a generation pointer WITHOUT being the recorded stale dir can
  * only be a resumed stream's new rows — every rotating op refuses to
  * touch the artifact until it is recovered manually.
  */
object JsonTableIO {

  final case class Manifest(tableName: String, count: Long,
      dataDir: String = "data", staleDir: Option[String] = None)

  /** Live data dir of a partitioned artifact, resolved through the
    * manifest's commit pointer (plain `data` for artifacts never
    * compacted, or with no manifest yet).
    */
  def dataPath(outDir: String, tableName: String): Path = {
    val mp = Paths.get(s"$outDir/$tableName/manifest.json")
    val d =
      if (Files.isRegularFile(mp)) readManifest(outDir, tableName).dataDir
      else "data"
    Paths.get(s"$outDir/$tableName/$d")
  }

  /** `data`, `data-g1`, `data-g2`, … — the only names a manifest pointer
    * may hold (validated at parse: a tampered pointer must fail loudly,
    * not read an arbitrary path).
    */
  private val DataDirName = raw"data(?:-g\d+)?".r

  private def renderManifest(m: Manifest): String = {
    val dd =
      if (m.dataDir == "data") ""
      else s""", "data_dir": ${quote(m.dataDir)}"""
    val sd = m.staleDir.fold("")(s => s""", "stale_dir": ${quote(s)}""")
    s"""{"table_name": ${quote(m.tableName)}, "count": ${m.count}$dd$sd}"""
  }

  /** THE commit every writer ends in. `stage` does the reader-invisible
    * work (writing a generation, counting) and returns the manifest to
    * publish; one atomic replace of the one-line manifest then commits
    * it. If anything fails before that replace lands, the `uncommitted`
    * generation is deleted — it was never referenced, and a full-size
    * orphan must not outlive a failed op. Once the pointer swapped it is
    * the LIVE generation and survives even if the sweep below throws:
    * older generations and crash orphans go (only unreferenced dirs, so
    * a crash mid-sweep strands orphans for the next op, never a
    * dangling pointer), then the stale envelope (readers already prefer
    * the manifest).
    */
  private def commit(outDir: String, tableName: String,
      uncommitted: Option[Path])(stage: => Manifest): Manifest = {
    val m =
      try {
        val m = stage
        SegmentLog.replaceAtomically(
          Paths.get(s"$outDir/$tableName/manifest.json"), renderManifest(m))
        m
      } catch {
        case e: Throwable =>
          uncommitted.foreach(p => SegmentLog.deleteRecursively(p.toString))
          throw e
      }
    cleanupDataDirs(outDir, tableName, keep = Set(m.dataDir) ++ m.staleDir)
    Files.deleteIfExists(singleFilePath(outDir, tableName))
    m
  }

  /** The counted write behind [[write]], [[writeGen]] and [[compact]]:
    * refuse foreign data, write `rows` into `target` as `format` part
    * files, then [[commit]] `manifestFor(rowCount)`. The count rides on
    * the write itself via an Observation — no second computation of the
    * rows and no re-scan of the written files (both full extra passes
    * at scale). A fresh `data-gN` target is rolled back on failure; the
    * plain `data` dir [[write]] overwrites in place is never deleted.
    */
  private def writeCounted(outDir: String, tableName: String, target: Path,
      rows: DataFrame, format: String, compression: Option[String])(
      manifestFor: Long => Manifest): Long = {
    currentManifest(outDir, tableName)
      .foreach(guardForeignData(outDir, tableName, _))
    val obs = Observation(s"graft_write_${tableName}_${target.getFileName}")
    commit(outDir, tableName,
        Some(target).filter(_.getFileName.toString != "data")) {
      val w = rows.observe(obs, count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite).format(format)
      compression.fold(w)(c => w.option("compression", c))
        .save(target.toString)
      manifestFor(obs.get("n").asInstanceOf[Long])
    }.count
  }

  /** Delete every data generation not in `keep` (live + retained stale),
    * plus leftovers of the pre-pointer two-rename protocol. Crash-safe
    * by construction: only UNREFERENCED dirs are ever deleted, so a
    * crash mid-cleanup leaves orphans for the next maintenance run,
    * never a dangling pointer.
    */
  private def cleanupDataDirs(outDir: String, tableName: String,
      keep: Set[String]): Unit = {
    val dir = Paths.get(s"$outDir/$tableName")
    if (Files.isDirectory(dir)) {
      val s = Files.list(dir)
      val gens =
        try s.iterator().asScala.toList.filter(p => Files.isDirectory(p) &&
          DataDirName.matches(p.getFileName.toString) &&
          !keep.contains(p.getFileName.toString))
        finally s.close()
      gens.foreach(p => SegmentLog.deleteRecursively(p.toString))
    }
    SegmentLog.deleteRecursively(oldDirPath(outDir, tableName).toString)
    SegmentLog.deleteRecursively(s"$outDir/$tableName/.data.compacting")
  }

  /** The manifest of a partitioned artifact, when one exists. */
  private def currentManifest(outDir: String,
      tableName: String): Option[Manifest] =
    if (Files.isRegularFile(Paths.get(s"$outDir/$tableName/manifest.json")))
      Some(readManifest(outDir, tableName))
    else None

  /** Refuse a rotating op when a plain `data` dir exists next to a
    * generation pointer without being the recorded stale generation:
    * those rows can only be a stream that resumed after compact rotated
    * its dir away, and a sweep would silently destroy them
    * ([[finalizeManifest]] documents the recovery).
    */
  private def guardForeignData(outDir: String, tableName: String,
      m: Manifest): Unit =
    require(m.dataDir == "data" ||
        !Files.isDirectory(Paths.get(s"$outDir/$tableName/data")) ||
        m.staleDir.contains("data"),
      s"artifact '$tableName' has a plain data dir alongside live " +
        s"generation '${m.dataDir}' that is not the recorded stale " +
        "generation — a stream resumed after compact; merge or discard " +
        "the plain dir manually, then retry")

  private def nextGenPath(outDir: String, tableName: String): Path = {
    val dir = Paths.get(s"$outDir/$tableName")
    val GenName = raw"data-g(\d+)".r
    val s = Files.list(dir)
    val maxGen =
      try s.iterator().asScala.map(_.getFileName.toString).collect {
        case GenName(n) => n.toLong
      }.foldLeft(0L)(math.max)
      finally s.close()
    Paths.get(s"$outDir/$tableName/data-g${maxGen + 1}")
  }

  /** Write `df` as the per-table artifact; returns the row count.
    * `compression` ("gzip" | "snappy" | "zstd" | ...) applies per part
    * file — at artifact scale plain JSON is a 5–10× storage/IO tax, and
    * Spark's JSON reader decompresses by extension transparently, so
    * [[read]]/[[Engine.load]] need no flag (gzip parts are not splittable;
    * the parallel part-file layout is what keeps reads parallel).
    */
  def write(df: DataFrame, outDir: String, tableName: String,
      compression: Option[String] = None): Long = {
    // the commit re-points a previously-compacted artifact (data_dir
    // data-gN) back at the fresh plain `data` dir in the same instant it
    // publishes the new count; the replaced generation is retained one
    // cycle for in-flight readers
    val prevLive = currentManifest(outDir, tableName)
      .map(_.dataDir).filter(_ != "data")
    writeCounted(outDir, tableName, Paths.get(s"$outDir/$tableName/data"),
        df, "json", compression)(Manifest(tableName, _, "data", prevLive))
  }

  private def singleFilePath(outDir: String, tableName: String): Path =
    Paths.get(s"$outDir/$tableName.json")

  /** Read one table back (schema recommended — JSON inference is a full
    * extra pass, exactly the kind of hidden 100 TB cost to avoid).
    *
    * Accepts BOTH layouts: the partitioned `<table>/data/` artifact this
    * library writes, and the reference's single-file `<table>.json`
    * envelope `{table_name, count, data: [rows]}`
    * (`/root/reference/etl/engine.go:143-158`, read back by
    * `etl/loader.go:54-72`) — the one file a migrating mover user is
    * guaranteed to have. The envelope is a single JSON document, hence
    * `multiLine`; mover exports are single-node-sized by construction, so
    * the one-task read is not a scale concern.
    */
  def read(spark: SparkSession, outDir: String, tableName: String,
      schema: Option[StructType] = None): DataFrame = {
    val sf = singleFilePath(outDir, tableName)
    // manifest precedence mirrors readManifest: a committed partitioned
    // artifact wins over a stale envelope a crash left behind
    val manifested =
      Files.isRegularFile(Paths.get(s"$outDir/$tableName/manifest.json"))
    if (!manifested && Files.isRegularFile(sf) && isEnvelope(sf)) {
      // FAILFAST: a truncated envelope under an explicit schema would
      // otherwise PERMISSIVE-parse to one all-null row → explode(null) →
      // a silently EMPTY table; envelopes are small by construction, so
      // strict parsing costs nothing. DELIBERATE TRADEOFF: type drift in
      // any field (e.g. "id": "10" vs LongType) now fails the whole read
      // instead of nulling the field — for a migration artifact, loud
      // beats silently-lossy (pass schema=None to inspect a drifted file)
      val r = spark.read.option("multiLine", "true")
        .option("mode", "FAILFAST")
      schema.foreach(s => r.schema(new StructType()
        .add("table_name", StringType).add("count", LongType)
        .add("data", ArrayType(s))))
      r.json(sf.toString)
        .select(explode(col("data")).as("row"))
        .select("row.*")
    } else {
      // a present-but-malformed envelope must fail NAMING the bad file —
      // falling through to the (usually nonexistent) partitioned path
      // would surface as a misleading PATH_NOT_FOUND on <table>/data
      val live = dataPath(outDir, tableName)
      require(Files.isDirectory(live) || !Files.isRegularFile(sf),
        s"$sf exists but is not a mover table envelope " +
          "(expected a JSON object with table_name and data fields) " +
          "and no partitioned artifact is present")
      // same loud-beats-lossy tradeoff as the envelope branch: under an
      // explicit schema a corrupt/bit-rotted line would PERMISSIVE-parse
      // to an all-null row that survives every manifest count check
      // (a corrupt line still counts as one record) — the reference
      // loader hard-fails its json.Unmarshal instead
      // (etl/loader.go:54-72). Raw inspection of a damaged artifact is
      // a plain `spark.read.text` over the part files.
      val r = spark.read
      schema.foreach { s => r.schema(s); r.option("mode", "FAILFAST") }
      r.json(live.toString)
    }
  }

  /** Stamp the manifest for an artifact whose data dir was populated
    * outside [[write]] — e.g. by the streaming sink
    * ([[graft.streaming.StreamingOps.artifactStream]]). One count job over
    * the committed files (the file-sink commit log has no row counts, so a
    * scan is the only honest source); call at a quiescent point — after
    * stopping the stream, or between triggers.
    *
    * Counts the LIVE dir (manifest-pointer-resolved): finalizing a
    * compacted artifact counts its current generation instead of dying
    * on the rotated-away `data` path. A plain `data` dir that is NOT
    * the recorded stale generation next to a generation pointer means a
    * stream resumed after a compact — the sink's commit log is gone and
    * the two dirs hold disjoint rows, so this fails loudly instead of
    * silently counting (and then sweeping) one of them. A compacted
    * streaming artifact is CLOSED to further streaming; resume into a
    * fresh artifact.
    */
  def finalizeManifest(spark: SparkSession, outDir: String,
      tableName: String): Manifest = {
    currentManifest(outDir, tableName)
      .foreach(guardForeignData(outDir, tableName, _))
    val live = dataPath(outDir, tableName)
    commit(outDir, tableName, uncommitted = None) {
      // a pinned throwaway schema skips JSON schema inference — otherwise
      // the "one count job" would be TWO full scans (inference + count);
      // in PERMISSIVE mode every line still counts as one record
      Manifest(tableName, spark.read
        .schema(new StructType().add("__count_only", StringType))
        .json(live.toString).count(), live.getFileName.toString)
    }
  }

  /** Compact an artifact's data dir to `targetParts` files — the
    * small-files maintenance op every long-lived artifact store needs
    * (a streaming sink or a 1000-task writer leaves thousands of tiny
    * parts; listing + open overhead then dominates reads).
    *
    * COMMIT PROTOCOL: rewrite into a fresh `data-gN` generation dir,
    * then commit by atomically replacing the manifest (whose `data_dir`
    * pointer readers resolve). A concurrent reader sees the old
    * generation or the new one — both complete; there is no instant
    * with a missing or half-written dir, and no data-dir rename at all
    * (which is what lets the same protocol run on object stores, where
    * the manifest PUT is the commit). The replaced generation is
    * recorded as `stale_dir` and RETAINED until the next maintenance
    * op, so a reader that resolved the old pointer just before the swap
    * still reads a complete dir — one-cycle snapshot retention. Crash
    * at ANY point leaves either state plus at most an unreferenced
    * orphan generation, which the next compact/write sweeps. The
    * manifest count is untouched (compaction must not change the row
    * count — verified against it).
    */
  def compact(spark: SparkSession, outDir: String, tableName: String,
      targetParts: Int, compression: Option[String] = None): Long = {
    recoverInterrupted(outDir, tableName)
    val cur = dataPath(outDir, tableName)
    require(Files.isDirectory(cur), s"no partitioned artifact at $cur")
    val next = nextGenPath(outDir, tableName)
    // BYTE-EXACT rewrite: JSON lines pass through as text, untouched.
    // A parse-and-rewrite (spark.read.json) would (a) pay a full
    // schema-inference scan, (b) silently re-type values (a
    // decimal(18,4) survives as a double-rounded literal), and
    // (c) crash on a legitimately empty artifact (empty inferred
    // schema). Text lines have none of those failure modes.
    writeCounted(outDir, tableName, next,
        spark.read.text(cur.toString).coalesce(math.max(1, targetParts)),
        "text", compression) { n =>
      val m = readManifest(outDir, tableName)
      require(n == m.count,
        s"compaction row count drifted: wrote $n, manifest says ${m.count}")
      m.copy(dataDir = next.getFileName.toString,
        staleDir = Some(cur.getFileName.toString))
    }
  }

  private def oldDirPath(outDir: String, tableName: String): Path =
    Paths.get(s"$outDir/$tableName/.data.old")

  /** Crash recovery for artifacts left by the PRE-POINTER compact
    * protocol (two renames through `.data.old`): process death between
    * the renames left the rows stranded in `.data.old` with no data dir.
    * The pointer-swap protocol has no such state — this sweep exists so
    * an artifact produced by an older build still heals on first touch.
    */
  private def recoverInterrupted(outDir: String, tableName: String): Unit = {
    val dataDir = Paths.get(s"$outDir/$tableName/data")
    val oldDir = oldDirPath(outDir, tableName)
    if (!Files.isDirectory(dataDir) && Files.isDirectory(oldDir))
      Files.move(oldDir, dataDir)
  }

  /** [[compact]] with an inferred plan where the caller left a knob
    * unset: part count sized so each output part lands near
    * `targetPartBytes` of on-disk data (same-codec in/out keeps sizes
    * comparable), and compression inferred from the existing part
    * extensions — compacting a gzip artifact must not silently rewrite
    * it uncompressed, and an arbitrarily large table must not collapse
    * through a one-task coalesce(1). Explicit `parts`/`compression`
    * override inference INDEPENDENTLY: `-parts 4` on a gzip artifact
    * still infers gzip, and `-compression zstd` alone still sizes the
    * part count from the data.
    */
  def compactAuto(spark: SparkSession, outDir: String, tableName: String,
      targetPartBytes: Long = 128L << 20,
      parts: Option[Int] = None,
      compression: Option[String] = None): Long =
    if (parts.isDefined && compression.isDefined)
      // both knobs pinned: nothing to infer — skip the per-part listing
      // and stat pass (thousands of metadata ops on exactly the
      // small-files artifacts compact exists for)
      compact(spark, outDir, tableName, parts.get, compression)
    else {
      recoverInterrupted(outDir, tableName)
      val dataDir = dataPath(outDir, tableName)
      require(Files.isDirectory(dataDir), s"no partitioned artifact at $dataDir")
      val existing = partFiles(dataDir)
      val bytes = existing.map(Files.size).sum
      val codec = compression.orElse(inferCodec(existing))
      val nParts = parts.getOrElse(
        math.max(1L, (bytes + targetPartBytes - 1) / targetPartBytes).toInt)
      compact(spark, outDir, tableName, nParts, codec)
    }

  /** Codec of existing part files, by extension. */
  private def inferCodec(parts: Seq[Path]): Option[String] =
    parts.map(_.getFileName.toString).flatMap { n =>
      Seq(".gz" -> "gzip", ".snappy" -> "snappy", ".bz2" -> "bzip2",
        ".deflate" -> "deflate", ".zst" -> "zstd", ".lz4" -> "lz4")
        .collectFirst { case (ext, c) if n.endsWith(ext) => c }
    }.headOption

  /** The `part-*` files of a data dir (none when it does not exist). */
  private def partFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toList.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith("part-"))
      finally s.close()
    }

  /** [[write]] into a FRESH GENERATION with a pointer commit instead of
    * the plain `data` dir — the form that is safe when `df` READS from
    * this same artifact (e.g. merging a delta into its base: Overwrite
    * on `data` would delete the input mid-plan; a generation write never
    * touches the source dir, and the atomic manifest swap re-points
    * readers only after the new rows are fully down). Compression
    * defaults to the live dir's existing codec — rewriting a gzip
    * artifact must not silently decompress it. The replaced live dir is
    * recorded stale and retained one maintenance cycle.
    */
  def writeGen(df: DataFrame, outDir: String, tableName: String,
      compression: Option[String] = None): Long = {
    Files.createDirectories(Paths.get(s"$outDir/$tableName"))
    val cur = dataPath(outDir, tableName)
    val prevLive = Some(cur.getFileName.toString)
      .filter(_ => Files.isDirectory(cur))
    val next = nextGenPath(outDir, tableName)
    writeCounted(outDir, tableName, next, df, "json",
        compression.orElse(inferCodec(partFiles(cur)))) {
      Manifest(tableName, _, next.getFileName.toString, prevLive)
    }
  }

  /** Fold a DELTA export (e.g. `extract -delta`) into its base artifact:
    * per table, base ∪ delta rewritten as a fresh generation of the
    * base (the generation write is what makes reading the base while
    * rewriting it safe — see [[writeGen]]). Tables the delta doesn't
    * touch (absent or zero-count) are left exactly as they are; a table
    * new in the delta is copied in whole. Columns are matched by NAME
    * with missing ones null-filled, so a delta written under a newer
    * catalog (added nullable column) still folds into an older base —
    * the same evolution contract the load path honors. Returns
    * table → merged row count. This completes the incremental
    * lifecycle: extract → extract -delta (daily) → merge (weekly) →
    * compact.
    */
  def mergeArtifacts(spark: SparkSession, baseDir: String,
      deltaDir: String, compression: Option[String] = None): Map[String, Long] = {
    val baseTables = listTables(baseDir).toSet
    listTables(deltaDir).flatMap { t =>
      if (readManifest(deltaDir, t).count == 0L) None
      else {
        val d = read(spark, deltaDir, t)
        val merged =
          if (baseTables.contains(t) && readManifest(baseDir, t).count > 0L)
            read(spark, baseDir, t).unionByName(d, allowMissingColumns = true)
          else d
        // codec: explicit, else writeGen infers from the base's live dir
        Some(t -> writeGen(merged, baseDir, t, compression))
      }
    }.toMap
  }

  /** Whether `tableName` has a partitioned artifact [[compact]] can work
    * on (counting one recoverable from an interrupted swap) — single-file
    * envelopes are listed by [[listTables]] but have nothing to compact.
    */
  def hasPartitionedData(outDir: String, tableName: String): Boolean =
    Files.isDirectory(dataPath(outDir, tableName)) ||
      Files.isDirectory(oldDirPath(outDir, tableName))

  def readManifest(outDir: String, tableName: String): Manifest = {
    val sf = singleFilePath(outDir, tableName)
    // same envelope guard as read()/listTables(): a stray non-envelope
    // <table>.json must not shadow the partitioned manifest.json (the
    // count regex would find nothing and silently report 0); and as in
    // read(), a malformed single file with no partitioned fallback fails
    // NAMING that file, not with NoSuchFileException on a manifest that
    // never existed
    val manifestPath = Paths.get(s"$outDir/$tableName/manifest.json")
    // PRECEDENCE: manifest.json wins over an envelope — the manifest is
    // the commit record, so a stale envelope surviving a crash between
    // a generation commit and its cleanup must NOT roll readers back
    val fromEnvelope = !Files.isRegularFile(manifestPath) &&
      Files.isRegularFile(sf) && isEnvelope(sf)
    val txt =
      if (fromEnvelope) Files.readString(sf)
      else {
        require(Files.isRegularFile(manifestPath) || !Files.isRegularFile(sf),
          s"$sf exists but is not a mover table envelope " +
            "(expected a JSON object with table_name and data fields) " +
            "and no partitioned artifact is present")
        Files.readString(manifestPath)
      }
    val name = raw""""table_name"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
      .findFirstMatchIn(txt).map(_.group(1)).getOrElse(tableName)
    val count = raw""""count"\s*:\s*(\d+)""".r
      .findFirstMatchIn(txt).map(_.group(1).toLong).getOrElse(0L)
    // the pointers exist only in the one-line manifest.json — NEVER
    // regex an envelope for them (its row data could legitimately
    // contain a "data_dir" field, which must not be mistaken for one)
    def dirField(field: String): Option[String] =
      if (fromEnvelope) None
      else (s""""$field"\\s*:\\s*"((?:[^"\\\\]|\\\\.)*)"""").r
        .findFirstMatchIn(txt).map(_.group(1))
    val dataDir = dirField("data_dir").getOrElse("data")
    val staleDir = dirField("stale_dir")
    // a tampered/hand-edited pointer must fail loudly here, not resolve
    // an arbitrary filesystem path at read time
    (dataDir +: staleDir.toSeq).foreach { d =>
      require(DataDirName.matches(d),
        s"manifest for '$tableName' has invalid dir pointer '$d' " +
          "(expected 'data' or 'data-g<N>')")
    }
    Manifest(name, count, dataDir, staleDir)
  }

  /** Tables present under an export dir (≙ the loader's dir walk,
    * `/root/reference/etl/loader.go:25-52`): both partitioned artifacts
    * (`<table>/manifest.json`) and reference-style single files
    * (`<table>.json`).
    */
  def listTables(outDir: String): Seq[String] = {
    val d = Paths.get(outDir)
    if (!Files.isDirectory(d)) Nil
    else {
      val s = Files.list(d)
      try {
        val entries = s.iterator().asScala.toSeq
        val partitioned = entries
          .filter(p => Files.isRegularFile(p.resolve("manifest.json")))
          .map(_.getFileName.toString)
        val singles = entries
          .filter(p => Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".json") &&
            isEnvelope(p))
          .map(_.getFileName.toString.stripSuffix(".json"))
        (partitioned ++ singles).distinct.sorted
      } finally s.close()
    }
  }

  /** True iff the file is a mover table envelope — a top-level JSON object
    * with `table_name` and `data` fields. Guards [[listTables]] against a
    * stray `*.json` in the export dir (a config drop, an `oracle_sql.json`)
    * being listed and then exploding at load time. Streaming parse: field
    * names only, values skipped — never loads the (possibly large) `data`
    * array.
    */
  private def isEnvelope(p: Path): Boolean = {
    import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
    try {
      val parser = new JsonFactory().createParser(p.toFile)
      try {
        var hasName = false
        var hasData = false
        var ok = parser.nextToken() == JsonToken.START_OBJECT
        // decide IMMEDIATELY once both fields are seen — the data array is
        // ~100% of a real envelope, and skipChildren() over it would make
        // every listTables()/read() an O(file-size) token parse
        while (ok && !(hasName && hasData) &&
            parser.nextToken() == JsonToken.FIELD_NAME) {
          parser.currentName() match {
            case "table_name" => hasName = true
            case "data" => hasData = true
            case _ => ()
          }
          if (!(hasName && hasData)) {
            ok = parser.nextToken() != null
            if (ok) parser.skipChildren()
          }
        }
        hasName && hasData
      } finally parser.close()
    } catch {
      case scala.util.control.NonFatal(_) => false
    }
  }

  /** Opt-in single-file export — byte-layout parity with the reference's
    * `json.MarshalIndent(payload, "", "\t")` envelope
    * (`/root/reference/etl/engine.go:152-158`): ONE pretty-printed
    * `<table>.json` that mover's own loader can ingest. This funnels the
    * table through the driver by design — use it only for small tables
    * (config dims, lookup tables); [[write]] is the scale path.
    *
    * ENFORCED, not just documented: the collect is bounded at
    * `maxRows + 1` and the write refuses loudly beyond `maxRows` — one
    * misrouted call on a big table must fail fast, not OOM the driver.
    */
  def writeSingleFile(df: DataFrame, outDir: String, tableName: String,
      maxRows: Int = 100000): Long = {
    // limit(maxRows + 1): bounds driver memory for the oversize check
    // itself AND detects overflow without a separate count job
    val rows = df.toJSON.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"writeSingleFile('$tableName') exceeds maxRows=$maxRows: this " +
        "path collects to the driver and is for small tables only — " +
        "use write() (partitioned artifact) for large tables")
    val data =
      if (rows.isEmpty) "[]"
      else rows.map("\t\t" + _).mkString("[\n", ",\n", "\n\t]")
    val out = s"{\n\t\"table_name\": ${quote(tableName)}," +
      s"\n\t\"count\": ${rows.length},\n\t\"data\": $data\n}"
    // atomic like the manifest: a crash never leaves a truncated envelope
    SegmentLog.replaceAtomically(singleFilePath(outDir, tableName), out)
    // mirror of write(): drop any partitioned artifact for this table so
    // the layouts can never disagree about its contents
    if (Files.isDirectory(Paths.get(s"$outDir/$tableName")))
      SegmentLog.deleteRecursively(s"$outDir/$tableName")
    rows.length.toLong
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
