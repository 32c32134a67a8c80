package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.meta.Catalog

/** Table-level diff of two artifacts (or any two table maps) — the
  * inspection step of the incremental lifecycle: after `extract -delta`
  * and `merge`, what actually changed between generations? Per table:
  *
  *  - `added`    — pk present only in `other`
  *  - `removed`  — pk present only in `base`
  *  - `changed`  — pk in both, row content differs
  *  - `unchanged`— pk in both, identical content
  *
  * Content identity is an md5 over the row's canonical JSON (columns in
  * sorted-name order), so the diff is schema-driven and never enumerates
  * column comparisons. Mismatched schemas short-circuit to a
  * `schema_changed` row (counts of both sides) — a diff of incompatible
  * shapes would be noise. One full-outer pk join per table; at scale
  * each table's join shuffles on its pk — the same key the artifact is
  * naturally bucketed by.
  */
object ArtifactDiff {

  /** Per-table diff counts. `base`/`other`: table name → DataFrame (as
    * from `Engine.load`); `catalog` supplies pks (tables without a
    * catalog pk fall back to their first column). Assumes pk-unique
    * rows — guaranteed for artifacts, which pass the sanitizer's
    * distinct-by-key dedup (ref A3) before export; duplicate pks would
    * multiply through the full-outer join.
    */
  def diff(base: Map[String, DataFrame], other: Map[String, DataFrame],
           catalog: Catalog = Catalog.tpch): Seq[DiffRow] = {
    val names = (base.keySet ++ other.keySet).toSeq.sorted
    names.map { t =>
      (base.get(t), other.get(t)) match {
        case (Some(b), None) => DiffRow(t, "removed_table", b.count(), 0L, 0L, 0L, 0L)
        case (None, Some(o)) => DiffRow(t, "added_table", 0L, o.count(), 0L, 0L, 0L)
        case (Some(b), Some(o)) if b.schema.map(f => (f.name, f.dataType)) !=
                                   o.schema.map(f => (f.name, f.dataType)) =>
          DiffRow(t, "schema_changed", b.count(), o.count(), 0L, 0L, 0L)
        case (Some(b), Some(o)) =>
          val pk = catalog.tables.get(t).map(_.primaryKey)
            .filter(_.nonEmpty).getOrElse(Seq(b.columns.head))
          def keyed(df: DataFrame, h: String) = {
            val cols = df.columns.sorted.toIndexedSeq.map(col)
            df.select(pk.map(col) :+
              md5(to_json(struct(cols: _*))).as(h): _*)
          }
          val j = keyed(b, "h_base").join(keyed(o, "h_other"), pk, "full_outer")
          // coalesce: a table empty on BOTH sides aggregates over zero
          // rows → null sums, and the diff must report 0/0/0, not NPE
          val r = j.agg(
            coalesce(sum(when(col("h_base").isNull, 1L).otherwise(0L)), lit(0L)).as("added"),
            coalesce(sum(when(col("h_other").isNull, 1L).otherwise(0L)), lit(0L)).as("removed"),
            coalesce(sum(when(col("h_base").isNotNull && col("h_other").isNotNull &&
              col("h_base") =!= col("h_other"), 1L).otherwise(0L)), lit(0L)).as("changed"),
            coalesce(sum(when(col("h_base") === col("h_other"), 1L).otherwise(0L)), lit(0L)).as("unchanged")
          ).collect()(0)
          DiffRow(t, "diffed", r.getLong(1) + r.getLong(2) + r.getLong(3),
            r.getLong(0) + r.getLong(2) + r.getLong(3),
            r.getLong(0), r.getLong(1), r.getLong(2))
        case (None, None) => DiffRow(t, "absent", 0L, 0L, 0L, 0L, 0L) // unreachable
      }
    }
  }

  final case class DiffRow(table: String, status: String,
      base_rows: Long, other_rows: Long,
      added: Long, removed: Long, changed: Long)
}
