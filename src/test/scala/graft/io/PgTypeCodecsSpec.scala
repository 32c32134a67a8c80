package graft.io

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.meta.{ColumnMeta, TableMeta}

/** §1.3 type-fidelity codecs, exercised on the value shapes the
  * reference marshals (`/root/reference/dialect/postgres/util.go:29-187`).
  */
class PgTypeCodecsSpec extends SparkSpec {
  import spark.implicits._

  test("pg type strings map to the §1.3 Spark types") {
    assert(PgTypeCodecs.sparkTypeFor("smallint") == ShortType)
    assert(PgTypeCodecs.sparkTypeFor("integer") == IntegerType)
    assert(PgTypeCodecs.sparkTypeFor("bigint") == LongType)
    assert(PgTypeCodecs.sparkTypeFor("double precision") == DoubleType)
    assert(PgTypeCodecs.sparkTypeFor("numeric") == DecimalType(38, 18))
    assert(PgTypeCodecs.sparkTypeFor("timestamp without time zone") == TimestampType)
    assert(PgTypeCodecs.sparkTypeFor("character varying(64)") == StringType)
    assert(PgTypeCodecs.sparkTypeFor("smallint[]") == ArrayType(ShortType))
    assert(PgTypeCodecs.sparkTypeFor("integer[]") == ArrayType(IntegerType))
    assert(PgTypeCodecs.sparkTypeFor("character varying[]") == ArrayType(StringType))
    assert(PgTypeCodecs.sparkTypeFor("timestamp without time zone[]") == ArrayType(TimestampType))
    assert(PgTypeCodecs.sparkTypeFor("int4range") == StringType)
    assert(PgTypeCodecs.sparkTypeFor("inet") == StringType)
    assert(PgTypeCodecs.sparkTypeFor("jsonb") == StringType)
    val meta = TableMeta("t", Seq("id"), Seq(
      ColumnMeta("id", "bigint", nullable = false, 1),
      ColumnMeta("tags", "character varying[]", nullable = true, 2)))
    assert(PgTypeCodecs.artifactSchemaFor(meta) == StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("tags", ArrayType(StringType)))))
  }

  test("canonical int4range struct encodes to its [lower, upper) literal") {
    val df = Seq[(Option[Int], Option[Int])](
        (Some(3), Some(7)), (None, Some(5)), (Some(4), None)).toDF("lower", "upper")
      .select(struct(col("lower"), col("upper")).as("s"))
      .union(Seq(1).toDF("x").select(lit(null).cast(
        StructType(Seq(StructField("lower", IntegerType), StructField("upper", IntegerType))))))
    val got = df.select(PgTypeCodecs.structToInt4Range(col("s")))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("[3,7)", "[,5)", "[4,)", "empty"))
  }

  test("jsonb round-trips through map without losing nested documents") {
    val jsonbToMap = (c: org.apache.spark.sql.Column) =>
      from_json(c, MapType(StringType, StringType))
    val df = Seq("""{"a":"1","b":"{\"nested\":true}"}""").toDF("j")
      .withColumn("m", jsonbToMap(col("j")))
    val m = df.select("m").collect()(0).getMap[String, String](0)
    assert(m("a") == "1" && m("b").contains("nested"))
    val back = df.select(PgTypeCodecs.mapToJsonb(col("m"))).collect()(0).getString(0)
    val m2 = Seq(back).toDF("j")
      .select(jsonbToMap(col("j"))).collect()(0).getMap[String, String](0)
    assert(m2 == m) // re-encoded document parses back to the same map
  }

  test("pg-typed table round-trips through the artifact path (extractTo -> load)") {
    import graft.conf.ExtractConfig
    import graft.engine.Engine
    import graft.meta.Catalog
    val src = Seq(1L, 2L).toDF("id")
      .withColumn("num", expr("cast(id AS decimal(38,18)) / 4"))
      .withColumn("rng", struct(lit(3).as("lower"), lit(7).as("upper")))
      .withColumn("doc", map(lit("a"), lit("1")))
      .withColumn("ts_arr", array(to_timestamp(lit("2024-01-01 10:00:00.123456"))))
      .withColumn("tags", array(lit("x"), lit("y")))
    val catalog = Catalog(Map("typed" -> TableMeta("typed", Seq("id"), Seq(
      ColumnMeta("id", "bigint", nullable = false, 1),
      ColumnMeta("num", "numeric", nullable = true, 2),
      ColumnMeta("rng", "int4range", nullable = true, 3),
      ColumnMeta("doc", "jsonb", nullable = true, 4),
      ColumnMeta("ts_arr", "timestamp without time zone[]", nullable = true, 5),
      ColumnMeta("tags", "text[]", nullable = true, 6)))), Nil)
    val engine = new Engine(spark, catalog, { case "typed" => src }, ExtractConfig())
    val dir = java.nio.file.Files.createTempDirectory("pg-artifact").toString
    engine.extractTo("SELECT * FROM typed WHERE id >= 1", dir)
    val back = engine.load(dir)("typed")
    // explicit schema from the catalog — typed read, zero inference
    assert(back.schema("num").dataType == DecimalType(38, 18))
    assert(back.schema("rng").dataType == StringType)
    assert(back.schema("ts_arr").dataType == ArrayType(TimestampType))
    val r = back.orderBy("id").collect()(0)
    assert(r.getAs[java.math.BigDecimal]("num")
      .compareTo(new java.math.BigDecimal("0.25")) == 0)
    // decoded struct was re-encoded to the pg literal for the artifact
    assert(r.getAs[String]("rng") == "[3,7)")
    // jsonb map re-encoded to its raw document (what BulkInsert feeds pg)
    val m = Seq(r.getAs[String]("doc")).toDF("j")
      .select(from_json(col("j"), MapType(StringType, StringType)))
      .collect()(0).getMap[String, String](0)
    assert(m == Map("a" -> "1"))
    // timestamp array re-parsed from RFC3339 back to timestamps,
    // sub-second precision intact across the round trip
    assert(r.getSeq[java.sql.Timestamp](r.fieldIndex("ts_arr")) ==
      Seq(java.sql.Timestamp.valueOf("2024-01-01 10:00:00.123456")))
    assert(r.getSeq[String](r.fieldIndex("tags")) == Seq("x", "y"))
  }

  test("array codecs narrow JSON doubles and parse RFC3339 (ref util.go:46-90)") {
    // JSON numbers narrow through the artifact read schema, as load does
    val meta = TableMeta("t", Seq("i2"), Seq(
      ColumnMeta("i2", "smallint[]", nullable = true, 1),
      ColumnMeta("i4", "integer[]", nullable = true, 2),
      ColumnMeta("tss", "timestamp without time zone[]", nullable = true, 3)))
    val df = spark.read.schema(PgTypeCodecs.artifactSchemaFor(meta)).json(Seq(
      """{"i2":[1,2,300],"i4":[1,2,300],""" +
        """"tss":["2024-01-01T10:00:00Z","2024-06-30T23:59:59+02:00"]}""").toDS())
    val out = df.select(col("i2"), col("i4"),
      PgTypeCodecs.toTimestampArray(col("tss")).as("ts"))
    assert(out.schema("i2").dataType == ArrayType(ShortType))
    assert(out.schema("i4").dataType == ArrayType(IntegerType))
    assert(out.schema("ts").dataType == ArrayType(TimestampType))
    val row = out.collect()(0)
    assert(row.getSeq[Short](0) == Seq[Short](1, 2, 300))
    assert(row.getSeq[java.sql.Timestamp](2).head ==
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00")) // session TZ = UTC
    // round-trip back to RFC3339 for the artifact
    val enc = out.select(PgTypeCodecs.timestampArrayToJson(col("ts"))).collect()(0)
      .getSeq[String](0)
    assert(enc.head == "2024-01-01T10:00:00.000000Z")
  }
}
