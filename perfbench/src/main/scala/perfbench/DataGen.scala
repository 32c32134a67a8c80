package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic TPC-H-shaped source tables at scale factor 0.1, laid out
  * like the repository's parquet testdata (same table names, columns and
  * parquet types, see FIXTURES.md §A): region 5, nation 25, customer
  * 15 000, supplier 1 000, part 20 000, orders 150 000, lineitem about
  * 600 000 and events 100 000 rows.
  *
  * The benchmark generates its own copy inside its work directory so it
  * reads nothing outside the checkout. Every value is a hash of a fixed
  * data seed and the row id, so the files are identical on every machine
  * and independent of partitioning. The workload seed never changes the
  * data; it only picks which customers a workload extracts.
  *
  * Two shapes follow the testdata on purpose, because the load path
  * behaves differently on them: the date columns and `events.ts` are
  * parquet timestamps without a time zone (Spark reads them as
  * TIMESTAMP_NTZ), and `events.ts` carries microseconds. Two differ from
  * it: `(l_orderkey, l_linenumber)` is unique, as in TPC-H, so the
  * catalog's composite key can be a real primary key in the load target;
  * and every customer has events (the testdata gives events to the first
  * tenth only), so every extract cone has the same eight tables.
  */
object DataGen {
  val Customers = 15000L
  val Suppliers = 1000L
  val Parts = 20000L
  val Orders = 150000L
  val Events = 100000L
  val Nations = 25
  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events")

  private val DataSeed = 20240101L

  /** Uniform integer in [0, n) from the row id and a per-column tag. */
  private def u(tag: String, n: Long, id: Column = col("id")): Column =
    pmod(xxhash64(lit(DataSeed), lit(tag), id), lit(n))

  private def pick(tag: String, pool: Seq[String], id: Column = col("id")): Column =
    element_at(array(pool.map(lit): _*), (u(tag, pool.size, id) + 1).cast("int"))

  private def money(tag: String, lo: Double, cents: Long, id: Column = col("id")): Column =
    (lit(lo) + u(tag, cents, id) / 100.0).cast("double")

  private def ntzDay(from: String, days: Column): Column =
    date_add(lit(java.sql.Date.valueOf(from)), days.cast("int")).cast("timestamp_ntz")

  def tables(spark: SparkSession): Map[String, DataFrame] = {
    def range(n: Long) = spark.range(0, n, 1, 4)
    val region = range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .map(lit): _*), (col("id") + 1).cast("int")).as("r_name"))
    val nation = range(Nations).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
    val customer = range(Customers).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      u("c_nation", Nations).cast("int").as("c_nationkey"),
      money("c_acctbal", -999.99, 1099999).as("c_acctbal"),
      pick("c_seg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment"))
    val supplier = range(Suppliers).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      u("s_nation", Nations).cast("int").as("s_nationkey"),
      money("s_acctbal", -999.99, 1099999).as("s_acctbal"))
    val part = range(Parts).select(col("id").as("p_partkey"),
      concat(pick("p_adj", Seq("large", "small", "hot", "blue", "red", "green")),
        lit(" "), pick("p_noun", Seq("ring", "bolt", "gear", "pipe", "plate"))).as("p_name"),
      concat(lit("Brand#"), (u("p_brand", 25) + 1).cast("string")).as("p_brand"),
      pick("p_type", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD")).as("p_type"),
      (u("p_size", 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + (col("id") % 1000) / 10.0).as("p_retailprice"))
    val orders = range(Orders).select(col("id").as("o_orderkey"),
      u("o_cust", Customers).as("o_custkey"),
      pick("o_status", Seq("F", "O", "P")).as("o_orderstatus"),
      money("o_total", 900.0, 50000000).as("o_totalprice"),
      ntzDay("1995-01-01", u("o_date", 2405)).as("o_orderdate"),
      pick("o_prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))
    // 1..7 lines per order (mean 4), numbered 1..n like TPC-H
    val line = col("l_orderkey") * 8 + col("l_linenumber")
    val lineitem = range(Orders)
      .select(col("id").as("l_orderkey"),
        explode(sequence(lit(1), (u("l_count", 7) + 1).cast("int"))).as("l_linenumber"),
        u("o_date", 2405).as("o_day"))
      .select(col("l_orderkey"),
        u("l_part", Parts, line).as("l_partkey"),
        u("l_supp", Suppliers, line).as("l_suppkey"),
        col("l_linenumber"),
        (u("l_qty", 50, line) + 1).cast("double").as("l_quantity"),
        money("l_price", 900.0, 10000000, line).as("l_extendedprice"),
        (u("l_disc", 11, line) / 100.0).as("l_discount"),
        (u("l_tax", 9, line) / 100.0).as("l_tax"),
        pick("l_rflag", Seq("A", "N", "R"), line).as("l_returnflag"),
        pick("l_lstatus", Seq("F", "O"), line).as("l_linestatus"),
        ntzDay("1995-01-02", col("o_day") + u("l_ship", 121, line)).as("l_shipdate"))
    // one month of events with microsecond timestamps
    val events = range(Events).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + u("e_ts", 30L * 86400 * 1000000))
        .cast("timestamp_ntz").as("ts"),
      u("e_user", Customers).as("user_id"),
      pick("e_type", Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      money("e_value", 0.0, 20000).as("value"),
      format_string("{\"k\": %d}", u("e_props", 100)).as("props"))
    Map("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events)
  }

  /** Writes every table as `<dir>/<table>.parquet`, then a `_READY`
    * marker, so a run interrupted mid-write is regenerated next time.
    */
  def write(spark: SparkSession, dir: String): Unit = {
    tables(spark).foreach { case (t, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "_READY"), "")
  }

  def ready(dir: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_READY"))
}
