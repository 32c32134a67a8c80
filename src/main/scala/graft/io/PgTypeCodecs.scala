package graft.io

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.meta.TableMeta

/** Postgres ⇄ Spark type fidelity (SURVEY.md §1.3) — the Spark-first form
  * of the reference's pgtype marshalling
  * (`/root/reference/dialect/postgres/util.go:29-187`):
  *
  *  - extract side (`marshalRows`): ranges flatten to their literal
  *    string, inet stringifies, arrays decode element-wise, numeric
  *    decodes (the reference goes to lossy float64; we map to DECIMAL);
  *  - load side (`valuesToPairs`): RFC3339 strings re-parse to
  *    timestamps; jsonb and range literals load as their raw text.
  *
  * Here both directions are `Column` expressions (codegen'd, executor
  * side, zero driver involvement) plus a `DataType` mapping used to give
  * JSON artifacts an explicit schema — JSON inference at 100 TB is a
  * full extra pass.
  */
object PgTypeCodecs {

  /** Postgres type string (as pg_catalog's `format_type` / JDBC
    * TYPE_NAME reports it) → Spark type. Mirrors the §1.3 table; NUMERIC
    * maps to DECIMAL(38,18) — deliberately better than the reference's
    * lossy float64 decode (`util.go:177-182`).
    */
  def sparkTypeFor(pgType: String): DataType = pgType.toLowerCase match {
    case "smallint" | "int2"                  => ShortType
    case "integer" | "int4" | "serial"        => IntegerType
    case "bigint" | "int8" | "bigserial"      => LongType
    case "real" | "float4"                    => FloatType
    case "double precision" | "float8"        => DoubleType
    case "boolean" | "bool"                   => BooleanType
    case "numeric" | "decimal"                => DecimalType(38, 18)
    case "timestamp without time zone" | "timestamp" => TimestampType
    case "date"                               => DateType
    case "smallint[]"                         => ArrayType(ShortType)
    case "integer[]"                          => ArrayType(IntegerType)
    case "bigint[]"                           => ArrayType(LongType)
    case "character varying[]" | "text[]"     => ArrayType(StringType)
    case "timestamp without time zone[]"      => ArrayType(TimestampType)
    case "int4range"                          => StringType // range literal
    case "inet" | "cidr"                      => StringType // stringified
    case "jsonb" | "json"                     => StringType // raw document
    case t if t.startsWith("character varying") || t.startsWith("varchar") => StringType
    case _                                    => StringType
  }

  /** How a pg-typed column is REPRESENTED inside the JSON artifact
    * (matching the reference's marshalled export, `util.go:29-187`):
    * timestamp arrays are RFC3339 strings, ranges/inet/jsonb are their
    * literal text, everything else is its Spark type.
    */
  def artifactTypeFor(pgType: String): DataType = pgType.toLowerCase match {
    case "timestamp without time zone[]" => ArrayType(StringType)
    case t => sparkTypeFor(t)
  }

  /** Explicit read schema for a table's artifact — hands the JSON reader
    * the representation types so no inference pass runs.
    */
  def artifactSchemaFor(meta: TableMeta): StructType =
    StructType(meta.columns.map(c =>
      StructField(c.name, artifactTypeFor(c.dataType), c.nullable)))

  /** Extract-side: bring a query-shaped column (decoded struct/map/typed
    * array) back to its pg-literal artifact representation. Dispatch is on
    * the ACTUAL Spark type — a column already carried as its literal
    * string passes through unchanged.
    */
  def encodeForArtifact(pgType: String, dt: DataType, c: Column): Column =
    (pgType.toLowerCase, dt) match {
      case ("int4range", _: StructType) => structToInt4Range(c)
      case ("jsonb" | "json", _: MapType) => mapToJsonb(c)
      case ("timestamp without time zone[]", ArrayType(TimestampType, _)) =>
        timestampArrayToJson(c)
      case _ => c
    }

  /** Load-side: artifact representation → loadable column. Timestamp
    * arrays re-parse to timestamps (`util.go:77-90`); jsonb and range
    * literals stay raw text — that is the value BulkInsert feeds back to
    * Postgres (`etl/loader.go:74-76`).
    */
  def decodeFromArtifact(pgType: String, c: Column): Column =
    pgType.toLowerCase match {
      case "timestamp without time zone[]" => toTimestampArray(c)
      case _ => c
    }

  /** Canonical struct back to the Postgres literal (`"[3,7)"`). */
  def structToInt4Range(c: Column): Column =
    when(c.isNull, lit("empty")).otherwise(
      concat(lit("["), coalesce(c.getField("lower").cast(StringType), lit("")),
        lit(","), coalesce(c.getField("upper").cast(StringType), lit("")), lit(")")))

  def mapToJsonb(c: Column): Column = to_json(c)

  /** Load-side RFC3339 timestamp array parse (`util.go:77-90`). */
  def toTimestampArray(c: Column): Column =
    transform(c, x => to_timestamp(x, "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]XXX"))

  /** Extract-side: timestamp array → RFC3339 strings for the artifact.
    * Fractional seconds are always written (RFC3339 permits them, the
    * load-side pattern above accepts them optionally) — a whole-second
    * format here would silently truncate sub-second precision on the
    * extract→load round trip.
    */
  def timestampArrayToJson(c: Column): Column =
    transform(c, x => date_format(x, "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"))
}
