package perfbench

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.meta.Catalog

/** Order-independent content digest of a table: its row count and the sum
  * of a 64-bit hash of each row. Rows are rendered column by column in
  * name order, each value cast to its string form, so the same rows read
  * back from JSON, parquet or Derby (whose types differ: NTZ vs session
  * timestamps, INTEGER vs BIGINT) digest alike.
  */
final case class Digest(rows: Long, hash: BigDecimal)

object Digest {
  val Empty = Digest(0L, BigDecimal(0))

  /** Canonical string projection of `df`, columns in name order. */
  def canonical(df: DataFrame): DataFrame =
    df.select(df.columns.sorted.toIndexedSeq.map(c =>
      coalesce(col(c).cast("string"), lit("\u0000null")).as(c)): _*)

  /** Per-row hash of the canonical projection of `cols`. */
  def rowHash(cols: Seq[String]): Column =
    xxhash64(cols.sorted.map(c => coalesce(col(c).cast("string"),
      lit("\u0000null"))): _*).cast("decimal(38,0)")

  /** Digests of many tables in one Spark job. A table with an `op`
    * column is digested per op value (its other columns are the data);
    * one without it counts as op 0. Empty tables are absent.
    */
  def all[K](parts: Seq[(K, DataFrame)]): Map[(K, Int), Digest] =
    if (parts.isEmpty) Map.empty
    else {
      val keys = parts.map(_._1).toIndexedSeq
      parts.zipWithIndex.map { case ((_, df), i) =>
        val op = if (df.columns.contains("op")) col("op") else lit(0)
        df.select(lit(i).as("part"), op.cast("int").as("op"),
          rowHash(df.columns.filter(_ != "op").toSeq).as("h"))
      }.reduce(_ union _)
        .groupBy("part", "op").agg(count(lit(1)), sum("h")).collect()
        .map(r => (keys(r.getInt(0)), r.getInt(1)) ->
          Digest(r.getLong(2), BigDecimal(r.getDecimal(3))))
        .toMap
    }
}

/** The closure and sanitize rules of the benchmark's extract config,
  * restated as plain Spark SQL over the source tables. This is the
  * independent formulation each extract's artifact is checked against; it
  * shares no code with the closure extractor or the sanitizer.
  *
  * For customer seeds under this config the closure is: the seed
  * customers; their orders and events (reverse keys followed from the
  * seed rows); the orders' lineitems (the allowlisted reverse key); the
  * lineitems' parts and suppliers; the nations of those customers and
  * suppliers; and those nations' regions.
  */
object ExpectedClosure {
  /** `seeds(op, c_custkey)` must be a registered view. Returns table →
    * rows tagged with `op`, sanitized as the config asks. The intermediate
    * views are cached (each feeds several tables); [[release]] frees them.
    */
  def tables(spark: SparkSession, fakeName: String): Map[String, DataFrame] = {
    def q(sql: String) = spark.sql(sql.stripMargin)
    def view(name: String, sql: String): Unit = {
      q(sql).createOrReplaceTempView(name)
      spark.catalog.cacheTable(name)
    }
    view("x_customer", """SELECT DISTINCT s.op, c.* FROM seeds s
        | JOIN customer c ON c.c_custkey = s.c_custkey""")
    view("x_orders", """SELECT c.op, o.* FROM x_customer c
        | JOIN orders o ON o.o_custkey = c.c_custkey""")
    view("x_lineitem", """SELECT o.op, l.* FROM x_orders o
        | JOIN lineitem l ON l.l_orderkey = o.o_orderkey""")
    view("x_supplier", """SELECT DISTINCT l.op, s.* FROM x_lineitem l
        | JOIN supplier s ON s.s_suppkey = l.l_suppkey""")
    view("x_nationkeys", """SELECT DISTINCT n.op, n.n_nationkey FROM (
        |   SELECT op, c_nationkey AS n_nationkey FROM x_customer
        |   UNION ALL SELECT op, s_nationkey FROM x_supplier) n""")
    Map(
      "customer" -> q(s"""SELECT op, c_custkey, $fakeName AS c_name,
          | c_nationkey, CAST(NULL AS DOUBLE) AS c_acctbal, c_mktsegment
          | FROM x_customer"""),
      "orders" -> q("SELECT * FROM x_orders"),
      "lineitem" -> q("SELECT * FROM x_lineitem"),
      "events" -> q("""SELECT c.op, e.* FROM x_customer c
          | JOIN events e ON e.user_id = c.c_custkey"""),
      "part" -> q("""SELECT DISTINCT l.op, p.* FROM x_lineitem l
          | JOIN part p ON p.p_partkey = l.l_partkey"""),
      "supplier" -> q("""SELECT op, s_suppkey,
          | 'Supplier ' || CAST(s_suppkey AS STRING) AS s_name,
          | s_nationkey, s_acctbal FROM x_supplier"""),
      "nation" -> q("""SELECT k.op, n.* FROM x_nationkeys k
          | JOIN nation n ON n.n_nationkey = k.n_nationkey"""),
      "region" -> q("""SELECT DISTINCT k.op, r.* FROM x_nationkeys k
          | JOIN nation n ON n.n_nationkey = k.n_nationkey
          | JOIN region r ON r.r_regionkey = n.n_regionkey"""))
  }

  def release(spark: SparkSession): Unit =
    Seq("x_customer", "x_orders", "x_lineitem", "x_supplier", "x_nationkeys")
      .foreach(spark.catalog.uncacheTable)

  /** The `name` fake of the sanitizer's spec in SQL: a first and a last
    * name picked from the locale's pools by the md5 of the salted pk.
    */
  def fakeNameSql(locale: String): String = {
    val pools = graft.sanitize.Faker.tables(locale)
    def pick(pool: Seq[String], salt: String) =
      pool.map(s => "'" + s.replace("'", "\\'") + "'").mkString("element_at(array(", ", ",
        s"), CAST(pmod(CAST(conv(substr(md5('$salt:' || CAST(c_custkey AS STRING)), " +
          s"1, 15), 16, 10) AS BIGINT), ${pool.size}) + 1 AS INT))")
    s"${pick(pools.firstNames, "first_name")} || ' ' || ${pick(pools.lastNames, "last_name")}"
  }

  def hasTimestamps(df: DataFrame): Boolean = df.schema.fields.exists(f =>
    f.dataType == TimestampType || f.dataType == TimestampNTZType)

  /** `df` with every timestamp column truncated to whole milliseconds. */
  def millis(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toIndexedSeq.map { f =>
      f.dataType match {
        case TimestampType | TimestampNTZType =>
          date_trunc("MILLISECOND", col(f.name)).cast(f.dataType).as(f.name)
        case _ => col(f.name)
      }
    }: _*)
}

/** The in-memory Derby database one cycle loads into. */
final class DerbyTarget(name: String) {
  val url = s"jdbc:derby:memory:$name"

  def withConn[T](f: Connection => T): T = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  /** Creates the database and one table per artifact table. Column types
    * follow the artifact schema; the primary key is the catalog's full
    * (possibly composite) key.
    */
  def create(schemas: Map[String, StructType], catalog: Catalog): Unit = {
    DriverManager.getConnection(url + ";create=true").close()
    withConn { c =>
      schemas.toSeq.sortBy(_._1).foreach { case (t, s) =>
        c.createStatement().execute(DerbyTarget.ddl(t, s, catalog.pkOf(t)))
      }
    }
  }

  def counts(tables: Seq[String]): Map[String, Long] = withConn { c =>
    tables.map { t =>
      val rs = c.createStatement().executeQuery(s"""SELECT COUNT(*) FROM "$t"""")
      rs.next()
      try t -> rs.getLong(1) finally rs.close()
    }.toMap
  }

  def read(spark: SparkSession, table: String): DataFrame =
    spark.read.format("jdbc").option("url", url)
      .option("dbtable", s""""$table"""").load()

  /** Drops the in-memory database; Derby reports success as an error. */
  def drop(): Unit =
    try DriverManager.getConnection(url + ";drop=true").close()
    catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }
}

object DerbyTarget {
  def ddl(table: String, s: StructType, pk: Seq[String]): String = {
    val cols = s.fields.toSeq.map { f =>
      val tpe = f.dataType match {
        case LongType => "BIGINT"
        case IntegerType => "INTEGER"
        case DoubleType => "DOUBLE"
        case StringType => "VARCHAR(4096)"
        case TimestampType | TimestampNTZType => "TIMESTAMP"
        case other => sys.error(s"no Derby type for $table.${f.name}: $other")
      }
      val notNull = if (pk.contains(f.name)) " NOT NULL" else ""
      s""""${f.name}" $tpe$notNull"""
    }
    val key = pk.map(c => s""""$c"""").mkString(", ")
    s"""CREATE TABLE "$table" (${cols.mkString(", ")}, PRIMARY KEY ($key))"""
  }
}
