package graft

import org.apache.spark.sql.SparkSession

/** The one session every entry point (Main, Bench, Verify, Smoke,
  * Profile) runs on: `local[n]` with `n` shuffle partitions, where `n`
  * is `SPARK_GRAFT_CPUS` (default 4), UTC session time, parquet
  * nanosecond timestamps read as longs (`Tables` converts them), no UI.
  * Callers set their own log level.
  */
object Sessions {
  def local(): SparkSession = {
    val cpus = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  /** Core count from the raw env value. Names the variable on a bad
    * value: a bare NumberFormatException (or Spark's "could not parse
    * master URL") hides which setting was wrong.
    */
  private[graft] def parseCpus(raw: Option[String]): Int = raw.map { s =>
    s.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer core count, got '$s'"))
  }.getOrElse(4)
}
