package graft.io

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.SparkSpec

class JsonTableIOSpec extends SparkSpec {
  import spark.implicits._

  test("write/read round-trip with manifest (ref engine.go:141-164 format)") {
    val out = Files.createTempDirectory("jsonio").toString
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, null, 3.5))
      .toDF("id", "name", "score")
    val n = JsonTableIO.write(df, out, "user")
    assert(n == 3L)
    val m = JsonTableIO.readManifest(out, "user")
    assert(m.tableName == "user" && m.count == 3L)
    val back = JsonTableIO.read(spark, out, "user", Some(df.schema))
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq ==
      df.orderBy("id").collect().map(_.toSeq).toSeq)
    assert(JsonTableIO.listTables(out) == Seq("user"))
  }

  test("corrupt line under an explicit schema fails the read loudly") {
    val out = Files.createTempDirectory("jsonio-corrupt").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    JsonTableIO.write(df, out, "user")
    // bit-rot one part file: a trailing garbage line
    val listing = Files.list(Paths.get(s"$out/user/data"))
    val part = try listing.toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".json")).get
      finally listing.close()
    Files.writeString(part, "{not json\n",
      java.nio.file.StandardOpenOption.APPEND)
    // drop Hadoop's CRC sidecar: on a local fs the ChecksumException
    // would fire first (good — but this test is about the PARSE path an
    // object store without sidecars relies on)
    Files.deleteIfExists(part.resolveSibling(s".${part.getFileName}.crc"))
    // schema'd read (the Engine.load path): FAILFAST, like the reference
    // loader's hard json.Unmarshal error — never a silent all-null row
    val ex = intercept[Exception] {
      JsonTableIO.read(spark, out, "user", Some(df.schema)).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    // the task failure names the bad FILE (FAILED_READ_FILE wrapping the
    // malformed-record parse error) — the loud, actionable form
    assert(causes(ex).exists(c => c.getMessage != null &&
      c.getMessage.contains("FAILED_READ_FILE")), causes(ex).map(_.getMessage))
    // the inspection path for a damaged artifact: a raw text read
    // surfaces the bad line
    val lines = spark.read.text(part.toString).collect().map(_.getString(0))
    assert(lines.contains("{not json"))
  }

  test("gzip-compressed artifact round-trips transparently") {
    val out = Files.createTempDirectory("jsonio-gz").toString
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")
    val n = JsonTableIO.write(df, out, "user", compression = Some("gzip"))
    assert(n == 3L)
    // parts actually compressed on disk... (stream closed like
    // JsonTableIO.listTables does — Files.list holds a dir handle)
    val stream = Files.list(Paths.get(s"$out/user/data"))
    val names =
      try scala.jdk.CollectionConverters.IteratorHasAsScala(stream.iterator())
        .asScala.map(_.getFileName.toString).toList
      finally stream.close()
    assert(names.exists(_.endsWith(".json.gz")), names.toString)
    // ...and the reader needs no flag (decompression by extension)
    val back = JsonTableIO.read(spark, out, "user", Some(df.schema))
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq ==
      df.orderBy("id").collect().map(_.toSeq).toSeq)
  }

  test("compact collapses many parts to one, byte-exact, manifest intact") {
    val out = Files.createTempDirectory("jsonio-compact").toString
    // the decimal column is the byte-exactness probe: a parse-and-rewrite
    // compactor would re-infer it as double and corrupt the stored text
    val df = spark.range(0, 100).toDF("id")
      .withColumn("amt", (col("id") * 7).cast("decimal(18,4)") / 3)
      .repartition(16)
    assert(JsonTableIO.write(df, out, "user") == 100L)
    def parts: List[String] = {
      val stream = Files.list(JsonTableIO.dataPath(out, "user"))
      try scala.jdk.CollectionConverters.IteratorHasAsScala(stream.iterator())
        .asScala.map(_.getFileName.toString).filter(_.startsWith("part-")).toList
      finally stream.close()
    }
    val linesBefore = JsonTableIO.read(spark, out, "user")
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(parts.size > 1, s"expected multiple parts, got $parts")
    assert(JsonTableIO.compact(spark, out, "user", 1) == 100L)
    assert(parts.size == 1, s"expected one part after compaction, got $parts")
    // rows, values (decimal text included), and manifest intact
    assert(JsonTableIO.readManifest(out, "user").count == 100L)
    val back = JsonTableIO.read(spark, out, "user")
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq == linesBefore)
    // no temp/old dirs left behind
    assert(!Files.exists(Paths.get(s"$out/user/.data.compacting")))
    assert(!Files.exists(Paths.get(s"$out/user/.data.old")))
  }

  test("older artifact loads under a newer schema (added nullable column)") {
    // schema evolution on the load path: a catalog that grew a column
    // after the export was written must still ingest the artifact, with
    // the new column null — not fail or misalign (the migration case a
    // long-lived artifact store hits constantly)
    val out = Files.createTempDirectory("jsonio-evolve").toString
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    assert(JsonTableIO.write(v1, out, "user") == 2L)
    val v2Schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("email",
        org.apache.spark.sql.types.StringType)))
    val back = JsonTableIO.read(spark, out, "user", Some(v2Schema))
      .orderBy("id").collect()
    assert(back.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(back.forall(_.isNullAt(2)))
  }

  test("compact recovers an artifact stranded mid-swap (.data.old, no data)") {
    val out = Files.createTempDirectory("jsonio-compact-crash").toString
    val df = spark.range(0, 50).toDF("id").repartition(4)
    assert(JsonTableIO.write(df, out, "user") == 50L)
    // simulate process death between compact()'s two renames: data moved
    // to .data.old, replacement never moved in
    Files.move(Paths.get(s"$out/user/data"), Paths.get(s"$out/user/.data.old"))
    // a compact re-run restores the stranded rows and completes
    assert(JsonTableIO.compact(spark, out, "user", 1) == 50L)
    assert(JsonTableIO.read(spark, out, "user").count() == 50L)
    assert(!Files.exists(Paths.get(s"$out/user/.data.old")))
  }

  test("compactAuto keeps the existing codec and sizes the part count") {
    val out = Files.createTempDirectory("jsonio-compact-auto").toString
    val df = spark.range(0, 200).toDF("id").repartition(8)
    assert(JsonTableIO.write(df, out, "user") == 200L)
    // make it a gzip artifact first (explicit compact with codec)
    assert(JsonTableIO.compact(spark, out, "user", 2, Some("gzip")) == 200L)
    def parts: List[String] = {
      val stream = Files.list(JsonTableIO.dataPath(out, "user"))
      try scala.jdk.CollectionConverters.IteratorHasAsScala(stream.iterator())
        .asScala.map(_.getFileName.toString).filter(_.startsWith("part-")).toList
      finally stream.close()
    }
    assert(parts.forall(_.endsWith(".gz")), s"expected gzip parts, got $parts")
    // auto-compact must NOT silently decompress: codec inferred from
    // extensions; tiny artifact → size-based count = 1
    assert(JsonTableIO.compactAuto(spark, out, "user") == 200L)
    assert(parts.size == 1 && parts.forall(_.endsWith(".gz")),
      s"expected one gzip part after auto-compact, got $parts")
    assert(JsonTableIO.read(spark, out, "user").count() == 200L)
  }

  test("compact commits via the manifest pointer: generations rotate atomically") {
    val out = Files.createTempDirectory("jsonio-gen").toString
    val df = spark.range(0, 60).toDF("id").repartition(6)
    assert(JsonTableIO.write(df, out, "user") == 60L)
    // fresh write: plain layout, no pointer field (byte-compat with the
    // original manifest shape)
    val m0 = Files.readString(Paths.get(s"$out/user/manifest.json"))
    assert(!m0.contains("data_dir"))
    // first compact → generation 1; the old `data` dir is RETAINED one
    // cycle as the recorded stale generation (readers that resolved the
    // previous pointer keep a complete dir)
    assert(JsonTableIO.compact(spark, out, "user", 1) == 60L)
    val m1 = JsonTableIO.readManifest(out, "user")
    assert(m1.dataDir == "data-g1" && m1.staleDir == Some("data"))
    assert(Files.isDirectory(Paths.get(s"$out/user/data-g1")))
    assert(Files.isDirectory(Paths.get(s"$out/user/data")))
    assert(JsonTableIO.read(spark, out, "user").count() == 60L)
    // second compact → generation 2; g1 retained, the older `data` swept
    assert(JsonTableIO.compact(spark, out, "user", 1) == 60L)
    val m2 = JsonTableIO.readManifest(out, "user")
    assert(m2.dataDir == "data-g2" && m2.staleDir == Some("data-g1"))
    assert(Files.isDirectory(Paths.get(s"$out/user/data-g1")))
    assert(!Files.exists(Paths.get(s"$out/user/data")))
    assert(JsonTableIO.read(spark, out, "user").count() == 60L)
    // a fresh write() re-points at the plain data dir, retaining g2
    assert(JsonTableIO.write(df, out, "user") == 60L)
    val m3 = JsonTableIO.readManifest(out, "user")
    assert(m3.dataDir == "data" && m3.staleDir == Some("data-g2"))
    assert(!Files.exists(Paths.get(s"$out/user/data-g1")))
    assert(JsonTableIO.read(spark, out, "user").count() == 60L)
  }

  test("orphan generation from a crashed compact is unreferenced and swept") {
    val out = Files.createTempDirectory("jsonio-gen-crash").toString
    val df = spark.range(0, 30).toDF("id").repartition(3)
    assert(JsonTableIO.write(df, out, "user") == 30L)
    // simulate death AFTER the new generation was written but BEFORE the
    // pointer swap: an orphan data-g7 exists, pointer still at `data`
    val orphan = Paths.get(s"$out/user/data-g7")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("part-junk.json"), "{\"id\":999}\n")
    // readers are unaffected — the pointer never moved
    assert(JsonTableIO.read(spark, out, "user").count() == 30L)
    // the next compact picks a HIGHER generation and sweeps the orphan
    assert(JsonTableIO.compact(spark, out, "user", 1) == 30L)
    assert(JsonTableIO.readManifest(out, "user").dataDir == "data-g8")
    assert(!Files.exists(orphan))
    assert(JsonTableIO.read(spark, out, "user").count() == 30L)
  }

  test("a failed writeGen or compact rolls back: committed artifact untouched") {
    val out = Files.createTempDirectory("jsonio-rollback").toString
    assert(JsonTableIO.write(spark.range(0, 20).toDF("id").repartition(2),
      out, "user") == 20L)
    val tableDir = Paths.get(s"$out/user")
    val manifest = tableDir.resolve("manifest.json")
    def listed(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val s = Files.list(p)
      try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path]).sorted
      finally s.close()
    }
    // every file of the live dir, by name and bytes
    def liveDir(): Seq[(String, Seq[Byte])] =
      listed(tableDir.resolve("data"))
        .map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq)
    def generations(): Seq[String] = listed(tableDir)
      .map(_.getFileName.toString).filter(_.matches(raw"data-g\d+"))
    def assertUntouched(manifestBytes: Seq[Byte],
        live: Seq[(String, Seq[Byte])]): Unit = {
      assert(Files.readAllBytes(manifest).toSeq == manifestBytes)
      assert(liveDir() == live)
      assert(generations().isEmpty, s"uncommitted generation left: ${generations()}")
    }
    val m0 = Files.readAllBytes(manifest).toSeq
    val live0 = liveDir()
    // rows that throw mid-job: the half-written generation must go
    intercept[Exception] {
      JsonTableIO.writeGen(spark.range(0, 20).toDF("id").repartition(2)
        .selectExpr("if(id = 5, raise_error('boom'), id) AS id"), out, "user")
    }
    assertUntouched(m0, live0)
    assert(JsonTableIO.read(spark, out, "user").count() == 20L)
    // a manifest count that disagrees with the rows: compact's drift
    // check refuses after writing the generation, which must go too
    Files.writeString(manifest,
      Files.readString(manifest).replace("\"count\": 20", "\"count\": 21"))
    val m1 = Files.readAllBytes(manifest).toSeq
    val e = intercept[IllegalArgumentException] {
      JsonTableIO.compact(spark, out, "user", 1)
    }
    assert(e.getMessage.contains("drifted"))
    assertUntouched(m1, live0)
  }

  test("finalizeManifest resolves the live generation; ambiguous state fails loudly") {
    val out = Files.createTempDirectory("jsonio-gen-fin").toString
    val df = spark.range(0, 40).toDF("id").repartition(4)
    assert(JsonTableIO.write(df, out, "user") == 40L)
    assert(JsonTableIO.compact(spark, out, "user", 1) == 40L)
    // finalize after compact: counts data-g1, keeps the pointer — the old
    // pinned-`data` form would have died on the rotated-away dir. The
    // retained stale `data` is recognized (recorded) and swept here.
    val m = JsonTableIO.finalizeManifest(spark, out, "user")
    assert(m.count == 40L && m.dataDir == "data-g1")
    assert(!Files.exists(Paths.get(s"$out/user/data")))
    assert(JsonTableIO.read(spark, out, "user").count() == 40L)
    // a plain data dir REAPPEARING next to a generation pointer WITHOUT
    // being the recorded stale generation (stream resumed after compact)
    // is disjoint rows — every rotating op refuses, none sweeps
    val stray = Paths.get(s"$out/user/data")
    Files.createDirectories(stray)
    Files.writeString(stray.resolve("part-0.json"), "{\"id\":777}\n")
    val e = intercept[IllegalArgumentException] {
      JsonTableIO.finalizeManifest(spark, out, "user")
    }
    assert(e.getMessage.contains("stream resumed"))
    intercept[IllegalArgumentException](JsonTableIO.compact(spark, out, "user", 1))
    intercept[IllegalArgumentException](
      JsonTableIO.writeGen(spark.range(1).toDF("id"), out, "user"))
    intercept[IllegalArgumentException](
      JsonTableIO.write(spark.range(1).toDF("id"), out, "user"))
    // neither dir was deleted by any refusal
    assert(Files.isDirectory(stray) &&
      Files.isDirectory(Paths.get(s"$out/user/data-g1")))
  }

  test("retention: a reader holding the old pointer survives a compact") {
    val out = Files.createTempDirectory("jsonio-retain").toString
    val df = spark.range(0, 25).toDF("id").repartition(3)
    assert(JsonTableIO.write(df, out, "user") == 25L)
    // reader resolves the CURRENT pointer (plain data) and lists files…
    val reader = JsonTableIO.read(spark, out, "user",
      Some(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType)))))
    // …then a compact commits generation 1 under it
    assert(JsonTableIO.compact(spark, out, "user", 1) == 25L)
    assert(JsonTableIO.readManifest(out, "user").dataDir == "data-g1")
    // the one-cycle retention keeps the old dir complete: the in-flight
    // reader's action still succeeds instead of FileNotFound
    assert(reader.count() == 25L)
  }

  test("writeGen: rewriting an artifact FROM its own rows is safe") {
    val out = Files.createTempDirectory("jsonio-writegen").toString
    val df = spark.range(0, 30).toDF("id")
    assert(JsonTableIO.write(df, out, "user") == 30L)
    // self-referential rewrite: plan reads the live dir while the write
    // lands in a fresh generation — Overwrite on `data` would have
    // deleted the input mid-plan
    val doubled = JsonTableIO.read(spark, out, "user")
      .unionByName(spark.range(100, 110).toDF("id").selectExpr("cast(id as long) id"))
    assert(JsonTableIO.writeGen(doubled, out, "user") == 40L)
    val m = JsonTableIO.readManifest(out, "user")
    assert(m.dataDir == "data-g1" && m.staleDir == Some("data"))
    assert(JsonTableIO.read(spark, out, "user").count() == 40L)
    // the replaced dir is retained one cycle, then swept by the next op
    assert(Files.isDirectory(Paths.get(s"$out/user/data")))
    assert(JsonTableIO.writeGen(
      JsonTableIO.read(spark, out, "user"), out, "user") == 40L)
    assert(!Files.exists(Paths.get(s"$out/user/data")))
  }

  test("tampered manifest pointer fails loudly instead of resolving a path") {
    val out = Files.createTempDirectory("jsonio-gen-tamper").toString
    assert(JsonTableIO.write(spark.range(0, 5).toDF("id"), out, "user") == 5L)
    Files.writeString(Paths.get(s"$out/user/manifest.json"),
      """{"table_name": "user", "count": 5, "data_dir": "../../etc"}""")
    val e = intercept[IllegalArgumentException] {
      JsonTableIO.read(spark, out, "user")
    }
    assert(e.getMessage.contains("invalid dir pointer"))
  }

  test("writeSingleFile refuses a table above its row ceiling") {
    val out = Files.createTempDirectory("jsonio-wsf-big").toString
    val big = spark.range(0, 50).toDF("id")
    val e = intercept[IllegalArgumentException] {
      JsonTableIO.writeSingleFile(big, out, "big", maxRows = 10)
    }
    assert(e.getMessage.contains("maxRows"))
    assert(!Files.exists(Paths.get(s"$out/big.json")), "no partial file")
    // at exactly the ceiling it still writes
    assert(JsonTableIO.writeSingleFile(big.limit(10), out, "ok", maxRows = 10) == 10L)
  }

  test("compact of an empty artifact is a clean no-op") {
    val out = Files.createTempDirectory("jsonio-compact-empty").toString
    val empty = spark.range(0, 0).toDF("id")
    assert(JsonTableIO.write(empty, out, "none") == 0L)
    assert(JsonTableIO.compact(spark, out, "none", 1) == 0L)
    assert(JsonTableIO.readManifest(out, "none").count == 0L)
  }

  test("reads a mover-authored single-file envelope (ref loader.go:54-72)") {
    // fixture byte-shaped like json.MarshalIndent(payload, "", "\t")
    // (ref engine.go:152-158): tab-indented {table_name, count, data}
    val out = Files.createTempDirectory("jsonio-sf").toString
    Files.writeString(Paths.get(s"$out/project.json"),
      "{\n\t\"table_name\": \"project\",\n\t\"count\": 2,\n\t\"data\": [\n" +
        "\t\t{\n\t\t\t\"id\": 10,\n\t\t\t\"title\": \"p-a\"\n\t\t},\n" +
        "\t\t{\n\t\t\t\"id\": 20,\n\t\t\t\"title\": \"p-b\"\n\t\t}\n\t]\n}")
    assert(JsonTableIO.listTables(out) == Seq("project"))
    val m = JsonTableIO.readManifest(out, "project")
    assert(m.tableName == "project" && m.count == 2L)
    val back = JsonTableIO.read(spark, out, "project")
    assert(back.orderBy("id").collect().map(r =>
      (r.getAs[Long]("id"), r.getAs[String]("title"))).toSeq ==
      Seq((10L, "p-a"), (20L, "p-b")))
    // with an explicit schema too (the no-inference scale path)
    val typed = JsonTableIO.read(spark, out, "project",
      Some(Seq((0L, "")).toDF("id", "title").schema))
    assert(typed.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(10L, 20L))
  }

  test("writeSingleFile emits the reference envelope and round-trips") {
    val out = Files.createTempDirectory("jsonio-wsf").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    assert(JsonTableIO.writeSingleFile(df, out, "user") == 2L)
    val txt = Files.readString(Paths.get(s"$out/user.json"))
    // envelope keys as the reference's jsonPayload tags (engine.go:60-64)
    assert(txt.contains("\"table_name\": \"user\""))
    assert(txt.contains("\"count\": 2"))
    assert(txt.contains("\"data\": ["))
    val back = JsonTableIO.read(spark, out, "user", Some(df.schema))
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq ==
      df.orderBy("id").collect().map(_.toSeq).toSeq)
    // mixed layouts list together
    JsonTableIO.write(Seq((1L, 1.0)).toDF("id", "v"), out, "score")
    assert(JsonTableIO.listTables(out) == Seq("score", "user"))
  }

  test("stray non-envelope json files are not listed as tables") {
    val out = Files.createTempDirectory("jsonio-stray").toString
    JsonTableIO.writeSingleFile(Seq((1L, "a")).toDF("id", "name"), out, "user")
    // the kinds of files that actually land in export dirs
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      """{"q1_agg": "SELECT 1"}""")
    Files.writeString(Paths.get(s"$out/config.json"),
      """{"locale": "en", "schema": []}""")
    Files.writeString(Paths.get(s"$out/broken.json"), """{"table_name": """)
    Files.writeString(Paths.get(s"$out/notjson.json"), "hello")
    assert(JsonTableIO.listTables(out) == Seq("user"))
    // a stray file NAMED like a partitioned table must not shadow its
    // manifest (the count regex would silently report 0)
    JsonTableIO.write(Seq((1L, "x"), (2L, "y")).toDF("id", "name"), out, "config")
    Files.writeString(Paths.get(s"$out/config.json"),
      """{"locale": "en", "schema": []}""")
    assert(JsonTableIO.readManifest(out, "config").count == 2L)
    assert(JsonTableIO.listTables(out) == Seq("config", "user"))
    // a non-envelope file with no partitioned fallback fails NAMING the
    // file — not PATH_NOT_FOUND on a data dir that never existed
    val e = intercept[IllegalArgumentException] {
      JsonTableIO.read(spark, out, "oracle_sql", None)
    }
    assert(e.getMessage.contains("oracle_sql.json"))
    val em = intercept[IllegalArgumentException] {
      JsonTableIO.readManifest(out, "oracle_sql")
    }
    assert(em.getMessage.contains("oracle_sql.json"))
    // a truncated envelope (both keys present before the cut) fails LOUDLY
    // under FAILFAST instead of parsing to an empty table
    Files.writeString(Paths.get(s"$out/trunc.json"),
      """{"table_name": "t", "count": 1, "data": [""")
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.LongType)
    assertThrows[Exception] {
      JsonTableIO.read(spark, out, "trunc", Some(schema)).collect()
    }
  }
}

class MediaDownloaderSpec extends SparkSpec {
  import spark.implicits._

  test("each layout's write overwrites the other — no stale shadowing") {
    val out = Files.createTempDirectory("jsonio-ow").toString
    val v1 = Seq((1L, "old")).toDF("id", "name")
    val v2 = Seq((1L, "new"), (2L, "newer")).toDF("id", "name")
    // single-file then partitioned: the fresh partitioned artifact must
    // win (readers prefer the envelope, so write() deletes it)
    JsonTableIO.writeSingleFile(v1, out, "user")
    JsonTableIO.write(v2, out, "user")
    assert(JsonTableIO.readManifest(out, "user").count == 2L)
    assert(JsonTableIO.read(spark, out, "user", Some(v2.schema)).count() == 2L)
    // partitioned then single-file: the envelope must be the only artifact
    JsonTableIO.writeSingleFile(v1, out, "user")
    assert(JsonTableIO.readManifest(out, "user").count == 1L)
    assert(!Files.isDirectory(Paths.get(s"$out/user")))
    assert(JsonTableIO.listTables(out) == Seq("user"))
  }

  test("downloads distinct non-empty file:// urls preserving paths (ref util.go:48-151)") {
    val srcDir = Files.createTempDirectory("mediasrc")
    Files.createDirectories(srcDir.resolve("avatars"))
    Files.writeString(srcDir.resolve("avatars/a.png"), "AAA")
    Files.writeString(srcDir.resolve("avatars/b.png"), "BBB")
    val out = Files.createTempDirectory("mediaout").toString

    val df = Seq(
      Some("/avatars/a.png"), Some("/avatars/b.png"), Some("/avatars/a.png"),
      Some(""), None
    ).toDF("avatar_path")
    val res = MediaDownloader.download(df, "avatar_path",
      s"file://$srcDir", out, parallelism = 2)
    assert(res.attempted == 2L && res.failed == 0L) // distinct, null/empty dropped
    // layout is <out>/media/<full-url-path>, as in the reference
    // (etl/util.go:119-141); with a file:// base the source dir is part
    // of the url path
    assert(Files.readString(Paths.get(s"$out/media$srcDir/avatars/a.png")) == "AAA")
    assert(Files.readString(Paths.get(s"$out/media$srcDir/avatars/b.png")) == "BBB")
  }

  test("path traversal in url path is rejected") {
    val out = Files.createTempDirectory("mediaout3").toString
    intercept[IllegalArgumentException](
      MediaDownloader.fetchOne("file:///a/../../../escape.png", s"$out/media"))
  }

  test("failed downloads are counted, not fatal") {
    val out = Files.createTempDirectory("mediaout2").toString
    val df = Seq("/nope/missing.png").toDF("p")
    val res = MediaDownloader.download(df, "p", "file:///tmp/definitely-absent", out)
    assert(res.attempted == 1L && res.failed == 1L)
  }
}

class UpsertSqlSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("insert SQL has ON CONFLICT DO NOTHING (ref postgres.go:472-475)") {
    assert(UpsertJdbcSink.insertSql("user", Seq("id", "name"), "id") ==
      """INSERT INTO "user" ("id", "name") VALUES (?, ?) ON CONFLICT ("id") DO NOTHING""")
  }
  test("trigger toggling SQL (ref postgres.go:483-497)") {
    assert(UpsertJdbcSink.triggerSql("t", enable = false) ==
      """ALTER TABLE "t" DISABLE TRIGGER ALL""")
    assert(UpsertJdbcSink.triggerSql("t", enable = true) ==
      """ALTER TABLE "t" ENABLE TRIGGER ALL""")
  }
  test("sequence repair SQL (ref postgres.go:499-523)") {
    assert(UpsertJdbcSink.setvalSql("user_id_seq", "user", "id") ==
      """SELECT setval('user_id_seq', COALESCE((SELECT MAX("id") FROM "user") + 1, 1), false)""")
  }
  test("staged merge SQL: set-based conflict-skip per dialect") {
    assert(PostgresUpsert.mergeSql("user", "user__graft_stage",
      Seq("id", "name"), "id") ==
      "INSERT INTO \"user\" (\"id\", \"name\") SELECT \"id\", \"name\" " +
        "FROM \"user__graft_stage\" ON CONFLICT (\"id\") DO NOTHING")
    assert(DerbyUpsert.mergeSql("user", "user__graft_stage",
      Seq("id", "name"), "id") ==
      "INSERT INTO \"user\" (\"id\", \"name\") SELECT \"id\", \"name\" " +
        "FROM \"user__graft_stage\" s WHERE NOT EXISTS " +
        "(SELECT 1 FROM \"user\" x WHERE x.\"id\" = s.\"id\")")
  }
}

class PgIntrospectSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("catalog SQL targets pg_catalog with single-column FK edges") {
    assert(PgIntrospect.tablesSql.contains("pg_class"))
    assert(PgIntrospect.columnsSql.contains("pg_attribute"))
    assert(PgIntrospect.primaryKeysSql.contains("indisprimary"))
    assert(PgIntrospect.foreignKeysSql.contains("contype = 'f'"))
    assert(PgIntrospect.foreignKeysSql.contains("array_length(con.conkey, 1) = 1"))
  }
}
