package graft.closure

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.CollectionAccumulator

import graft.meta.{Catalog, FkEdge}

/** Traversal gating of the closure, mirroring the reference's
  * (`etl/extractor.go:40-50`): forward FKs are followed from every row
  * when `followForeignKeys`; ALL reverse edges are followed from depth-0
  * (seed) rows unless the row's table is in `omitReferenceKeysFor`; from
  * deeper rows only edges whose constraint name is in
  * `referenceKeyAllowlist` (≙ `config.Schema.ReferenceKeys`,
  * `config/config.go:41-42`). Extract follows forward FKs; the forget
  * verb's ownership cone ([[TraversalPolicy.ownership]]) does not.
  */
final case class TraversalPolicy(
    referenceKeyAllowlist: Set[String] = Set.empty,
    omitReferenceKeysFor: Set[String] = Set.empty,
    followForeignKeys: Boolean = true) {
  /** Is depth-0 full reverse expansion suppressed for `table`? The
    * reference gates per the ROW's table, not the seed
    * (`etl/extractor.go:40-42`: `schema = e.schema[table.Name]`).
    */
  def omitsFor(table: String): Boolean = omitReferenceKeysFor.contains(table)
}

object TraversalPolicy {
  /** The OWNERSHIP cone of a seed set, for right-to-be-forgotten
    * deletes: every reverse key at every depth (a customer's orders,
    * those orders' lineitems, the customer's events) and no forward FK,
    * so shared dimensions (nation, part, supplier) that other rows still
    * reference never enter it.
    */
  def ownership(catalog: Catalog): TraversalPolicy =
    TraversalPolicy(referenceKeyAllowlist = catalog.edges.map(_.name).toSet,
      followForeignKeys = false)
}

/** A config-driven templated query (ref J3: `config.Query`,
  * `/root/reference/config/config.go:11-15`, executed per row with
  * `{attr}` substitution at `etl/extractor.go:70-79`): when a row of
  * `sourceTable` enters the closure, run `template` (attrs filled from
  * that row) and fold the results into `targetTable`'s frontier.
  */
final case class ConfigQuery(sourceTable: String, targetTable: String, template: String)

/** Referentially-consistent subgraph extraction — the reference's flagship
  * operator (`extract`, `/root/reference/etl/extractor.go:142-174`),
  * re-expressed as a Spark-first driver-side BFS fixpoint.
  *
  * The reference walks the FK graph row-at-a-time with per-row point
  * lookups (`etl/extractor.go:120-123`) and a visited-set of
  * `"pk = value"` strings (`etl/extractor.go:96-103`). That N+1 pattern
  * would never scale; here each (edge, iteration) becomes ONE batched
  * semi-join of the target table against the frontier's distinct key set,
  * and the visited-set becomes an anti-join against accumulated seen-key
  * DataFrames. Equivalent to SQL `WITH RECURSIVE` (which Spark lacks) —
  * same shape as a Pregel/GraphX iteration.
  *
  * Scale design (100 TB): frontier/seen sets hold ONLY key columns (never
  * full rows), and every iteration's frontier becomes a lazy local
  * checkpoint — a leaf plan, so neither lineage nor Catalyst analysis
  * cost grows with depth. Frontier sizes are EXACTLY known (the
  * emptiness test is a counting job), so small frontiers get explicit
  * broadcast hints — the join plans straight to broadcast-hash with no
  * shuffle-and-measure step — while a genuinely huge key set still
  * shuffles, and AQE stays on for its post-shuffle coalescing. A
  * distributed run materializes full rows once per table at the end, one
  * semi-join each; a closure the driver-local fast path finishes
  * ([[tryRunAllLocal]]) already holds every result row, so its tables
  * are built from those rows and the source is not scanned again.
  */
class ClosureExtractor(
    catalog: Catalog,
    loadTable: String => DataFrame,
    policy: TraversalPolicy = TraversalPolicy(),
    configQueries: Seq[ConfigQuery] = Nil,
    runQuery: String => DataFrame = null,
    fastPathBudget: Long = ClosureExtractor.FastPathBudget) {

  /** Runs the closure from a seed DataFrame (rows of `seedTable`).
    * Returns table name → DataFrame of all rows in the closed subgraph.
    */
  def extract(seedTable: String, seed: DataFrame): Map[String, DataFrame] =
    extractAll(Seq(seedTable -> seed))

  /** Multi-seed closure: every seed starts at depth 0 and shares one
    * seen-set/BFS, so overlapping closures do no duplicate work and each
    * table's rows materialize exactly once. This is how config `extra`
    * tables join the traversal (the reference runs one `extractor.Handle`
    * per extra against the same cache, `/root/reference/etl/engine.go:117-125`;
    * a joint frontier is the order-independent batch equivalent).
    *
    * DOCUMENTED DEVIATION: every seed row gets depth-0 reverse expansion
    * here, while the reference skips extra rows its main traversal already
    * visited at depth>0 (`processedRelations`, `etl/extractor.go:96-103`).
    * When closures overlap, this output is therefore an order-INDEPENDENT
    * superset of the reference's order-DEPENDENT export — a byte-for-byte
    * comparison against the reference on overlapping extras is not
    * expected to match (ClosureSpec pins the policy). PropertySpec proves
    * the exact relationship on random graphs: the reference's sequential
    * gated output is always ⊆ ours, and ours equals the reference model
    * with only the seed-row gating removed — so the delta is precisely
    * what the skipped depth-0 reverse expansions would have reached.
    */
  def extractAll(seeds: Seq[(String, DataFrame)],
      preSeen: Map[String, DataFrame] = Map.empty): Map[String, DataFrame] =
    fastPath(seeds, preSeen) match {
      // the fast path probed whole rows: each table is a local relation
      // of the rows it already holds — no second scan of the source
      case d: ClosureExtractor.LocalDone =>
        d.tables.map { case (t, lt) => t -> localRows(d.spark, lt) }
      case o =>
        val (tables, sizes) = runDistributed(seeds, preSeen, handoffOf(o))
        tables.map { case (table, keys) =>
          // key sets are materialized and exactly counted by the
          // fixpoint's final job, so small ones broadcast into the
          // row-materializing semi-join with no exchange (huge closures
          // still shuffle)
          val keysH =
            if (sizes.get(table).exists(_ <= BroadcastKeyLimit)) broadcast(keys) else keys
          table -> loadTable(table).join(keysH, keys.columns.toSeq, "left_semi")
        }
    }

  /** A finished fast path's rows of one table, in the column order the
    * distributed semi-join yields (its USING keys first, then the rest in
    * source order), so an artifact does not depend on which path ran.
    * A table of at most budget/cores rows stays a plain local relation,
    * which [[graft.io.JsonTableIO.write]] writes from the driver as one
    * part file with no Spark job: on 4 vCPUs 50k lineitem rows took
    * 380 ms that way against 620 ms through Spark at four parts (median
    * of 7 writes). A larger one is split into one partition per
    * budget/cores rows and written by Spark, so the driver never renders
    * more than budget/cores rows into one file.
    */
  private def localRows(spark: SparkSession, lt: ClosureExtractor.LocalTable): DataFrame = {
    val pk = lt.keySchema.fieldNames.toSeq
    val cores = spark.sparkContext.defaultParallelism
    val parts = (lt.rows.size.toLong * cores + fastPathBudget - 1) / fastPathBudget
    val df = ClosureExtractor.localDf(spark, lt.schema, lt.rows)
      .select((pk ++ lt.schema.fieldNames.filterNot(pk.contains)).map(col): _*)
    if (parts <= 1) df else df.coalesce(parts.toInt.min(cores))
  }

  /** Returns table name → DataFrame of the table's PK columns (the key set
    * of the closure). Exposed for counting without row materialization.
    * A table entered only as an FK target is keyed by the referenced
    * column, which must be its PK (the reference assumes FK→PK too).
    */
  def run(seedTable: String, seed: DataFrame): Map[String, DataFrame] =
    runAll(Seq(seedTable -> seed))

  /** See [[graft.SparkUtil.BroadcastRowLimit]]: the driver knows each
    * frontier's exact size from the union-of-counts job it already runs
    * per iteration, so small-frontier semi/anti joins hint broadcast and
    * skip AQE's shuffle-and-measure step; huge frontiers still shuffle.
    */
  private val BroadcastKeyLimit = graft.SparkUtil.BroadcastRowLimit

  /** Forward-FK chaining order: Kahn's algorithm over the child→parent FK
    * digraph. Tables that topo-sort cleanly (`chainable`) have their
    * forward FKs walked to fixpoint WITHIN one BFS iteration, child
    * before parent — the chained semi-joins are lazy plan composition
    * that Catalyst fuses into the iteration's single counting job, so a
    * pure FK chain of depth d costs ONE scheduling barrier instead of d.
    * Kahn's leftovers — FK cycles (e.g. user↔project) and anything
    * downstream of one — are conservatively non-chainable and keep the
    * anti-join-per-iteration path, which is what guarantees cycle
    * termination.
    */
  private lazy val (chainOrder: Seq[String], chainable: Set[String]) = {
    val inDeg = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    catalog.tables.keys.foreach(t => inDeg(t) = 0)
    catalog.edges.foreach(e => inDeg(e.parentTable) += 1)
    val order = scala.collection.mutable.ListBuffer.empty[String]
    val queue = scala.collection.mutable.Queue(
      catalog.tables.keys.filter(inDeg(_) == 0).toSeq.sorted: _*)
    while (queue.nonEmpty) {
      val t = queue.dequeue()
      order += t
      catalog.foreignKeysOf(t).foreach { e =>
        inDeg(e.parentTable) -= 1
        if (inDeg(e.parentTable) == 0) queue.enqueue(e.parentTable)
      }
    }
    (order.toList, order.toSet)
  }

  /** The forward FK edges the traversal follows out of `table`: all of
    * them, or none when the policy does not follow forward FKs. Every
    * traversal step reads them here; only the chain ORDER above and the
    * key projections below read the catalog's. A parent is keyed by the
    * referenced column, so an FK that does not reference the parent's
    * whole pk fails loudly rather than keying it by a wrong column.
    */
  private def fksOf(table: String): Seq[FkEdge] =
    if (!policy.followForeignKeys) Nil
    else catalog.foreignKeysOf(table).map { fk =>
      require(catalog.pkOf(fk.parentTable) == Seq(fk.parentCol),
        s"FK ${fk.name} must reference the parent PK")
      fk
    }

  /** The reverse-key edges into `table` that its rows expand: at depth 0
    * every edge unless omitted for the row's table, at every depth the
    * allowlisted ones (the reference appends `schema.ReferenceKeys`
    * unconditionally, `etl/extractor.go:44-50`). Key sets carry only pk
    * columns, so an edge whose referenced column is outside the pk fails
    * loudly rather than joining on a wrong column.
    */
  private def rksOf(table: String, depth0: Boolean): Seq[FkEdge] =
    catalog.referenceKeysOf(table).filter(rk =>
      (depth0 && !policy.omitsFor(table)) ||
        policy.referenceKeyAllowlist.contains(rk.name)
    ).map { rk =>
      require(catalog.pkOf(table).contains(rk.parentCol),
        s"RK edge ${rk.name}: referenced col ${rk.parentCol} not in $table pk ${catalog.pkOf(table)}")
      rk
    }

  /** Must `table` re-enter the BFS frontier once its rows are at depth
    * ≥ 1? Only reverse-allowlist edges, config queries, and the cycle
    * fallback need another iteration — chained forward FKs are already
    * walked the moment the keys are produced.
    */
  private def needsIteration(table: String): Boolean =
    (!chainable(table) && fksOf(table).nonEmpty) ||
      rksOf(table, depth0 = false).nonEmpty ||
      configQueries.exists(_.sourceTable == table)

  /** Driver-local BFS fast path for SMALL closures — the dominant
    * production shape at 100 TB: a point extract (one customer's cone,
    * one order's lineage) touches a few thousand keys of a petabyte
    * corpus, and the right plan probes each table once per (edge,
    * iteration) with the key set as a filter on the scan, not a
    * broadcast-join fixpoint whose per-iteration scheduling barriers
    * dwarf the data. A probe is still a full scan: an `In` of more than
    * `spark.sql.parquet.pushdown.inFilterThreshold` (10) values reaches
    * parquet as a min/max range, which prunes no row group on unsorted
    * keys. Probes fetch WHOLE rows, so a finished run holds every result
    * row ([[ClosureExtractor.LocalDone]]) and [[extractAll]] builds its
    * tables from them instead of scanning the source a second time. The
    * moment ANY collect would exceed `fastPathBudget` rows it aborts and
    * hands the distributed BFS its state at the last iteration boundary
    * it completed ([[ClosureExtractor.LocalHandoff]]) — the finished
    * iterations are not re-run; an abort before the first boundary
    * restarts from the seeds. Semantics are EXACTLY [[runDistributed]]'s
    * (FastPathParitySpec pins local == handoff == distributed key sets
    * and extracted row multisets at every abort point across policies,
    * preSeen, and config queries; PropertySpec on random graphs):
    *
    *  - frontier KEYS drive reverse-key expansion — a phantom key (an
    *    FK value with no parent row) still probes its children, as the
    *    distributed key-set join does; frontier ROWS (the table's
    *    actual rows for those keys, duplicate-pk rows included) drive
    *    forward-FK and config-attr expansion and are the result rows,
    *    matching the semi-join's row multiset;
    *  - a probe filtered on a pk COLUMN already returns the complete
    *    row set for every key it discovers (duplicate-pk siblings
    *    share the filter value), so a key's rows come from the first
    *    such probe that found it; any other filter column re-probes the
    *    fresh keys by pk so a duplicate-pk sibling the filter missed
    *    still expands and is exported;
    *  - REFIRE: preSeen keys (minus current seeds) fire allowlisted
    *    reverse keys and config queries once at depth 0, exactly like
    *    the distributed incremental step.
    */
  private[closure] def tryRunAllLocal(seeds: Seq[(String, DataFrame)],
      preSeen: Map[String, DataFrame]): ClosureExtractor.LocalOutcome = {
    import scala.collection.mutable
    import scala.concurrent.Future
    import ClosureExtractor.{LocalDone, LocalHandoff, LocalRestart, LocalTable}
    val spark = seeds.headOption.map(_._2.sparkSession)
      .getOrElse(return LocalRestart)
    // thread-safe remaining budget: probes within an iteration run
    // CONCURRENTLY (independent scans of different tables — against a
    // 100 TB lake each probe is a real-latency scan, and an iteration's
    // wall should be its slowest probe, not their sum). The sum
    // accounting stays exact under races: addAndGet going negative
    // aborts, so the budget can never be silently exceeded.
    val budget = new java.util.concurrent.atomic.AtomicLong(fastPathBudget)
    def abort(why: String): Nothing =
      throw new ClosureExtractor.FastPathAbort(why)
    // the ONE driver materialization of this path
    // ([[ClosureExtractor.collectAtMost]]: one job, and a probe ships at
    // most remaining + partitions rows); a result past the remaining
    // budget aborts to the distributed BFS
    def take(df: DataFrame): Array[Row] = {
      val rows = ClosureExtractor.collectAtMost(df, budget.get() max 0L)
        .getOrElse(abort("row budget"))
      if (budget.addAndGet(-rows.length) < 0) abort("row budget")
      rows
    }
    // source schema per table (probes fetch whole rows in it)
    val schemaMemo = mutable.Map.empty[String, StructType]
    def schemaOf(t: String): StructType =
      schemaMemo.getOrElseUpdate(t, loadTable(t).schema)
    def idxOf(t: String, c: String): Int = schemaOf(t).fieldIndex(c)
    val pkIdxMemo = mutable.Map.empty[String, IndexedSeq[Int]]
    def keyOf(t: String, row: Row): Seq[Any] =
      pkIdxMemo.getOrElseUpdate(t, catalog.pkOf(t).map(idxOf(t, _)).toIndexedSeq)
        .map(row.get)
    val pkSchema = mutable.Map.empty[String, StructType]
    def recordSchema(t: String, df: DataFrame): Unit =
      if (!pkSchema.contains(t))
        pkSchema(t) = StructType(catalog.pkOf(t).map(c => df.schema(c)))
    def keySchema(t: String): StructType =
      pkSchema.getOrElse(t, abort(s"no schema for $t"))
    // probe t's whole rows with the filter pushed into the scan; the
    // DataFrame is BUILT here (driver-thread Catalyst work, schema
    // recording) — only the collect runs on the probe pool
    def probeDf(t: String, filterCol: String, values: Seq[Any]): DataFrame = {
      val df = loadTable(t)
      schemaMemo.getOrElseUpdate(t, df.schema)
      recordSchema(t, df)
      df.where(ClosureExtractor.inSet(df, filterCol, values))
    }
    // small pool for concurrent probe collects (the Engine.writeAll
    // precedent: Spark's scheduler is thread-safe for concurrent job
    // submission); torn down with the run. EVERY collect of this path —
    // seeds, preSeen, probes, re-probes — runs here under a run-unique
    // job group with interruptOnCancel, behind the bounded await, so an
    // abort can KILL in-flight probes (a plain shutdown() would let them
    // run to completion and compete for cores with the distributed BFS
    // that takes over right after the abort) and a hung one cannot block
    // the driver.
    val probePool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val probeEc =
      scala.concurrent.ExecutionContext.fromExecutorService(probePool)
    val probeGroup = s"graft-closure-fastpath-${java.util.UUID.randomUUID()}"
    def submit(df: DataFrame): Future[Array[Row]] = Future {
      // job group is thread-local: (re)set it on the pool thread per
      // task so cancelJobGroup(probeGroup) reaches every probe's Spark
      // job, and interrupts its collect thread
      spark.sparkContext.setJobGroup(probeGroup,
        "closure fast-path probe", interruptOnCancel = true)
      take(df)
    }(probeEc)
    // BOUNDED await: a probe hung inside Spark (straggling scan, wedged
    // source) must not block the driver forever — past the bound we
    // abort, and the abort path cancels the job group so the hung job
    // dies instead of riding on. The bound is far above any sane probe
    // at fast-path scale (≤200k rows total).
    def await(f: Future[Array[Row]]): Array[Row] =
      try scala.concurrent.Await.result(f, ClosureExtractor.ProbeAwaitMax)
      catch { case _: java.util.concurrent.TimeoutException =>
        abort("probe await timeout") }
    // independent collects: all submitted, then awaited in order
    def collectAll(dfs: Seq[DataFrame]): Seq[Array[Row]] =
      dfs.map(submit).map(await)
    // the complete row multiset of each asked key set, one by-pk probe
    // per table, concurrently: a single-column pk filters exactly; a
    // composite pk filters on its first column and keeps the rows whose
    // whole key was asked for
    def rowsFor(asks: Seq[(String, Seq[Seq[Any]])]): Seq[Array[Row]] = {
      val wanted = asks.filter(_._2.nonEmpty)
      val got = wanted.map(_._1).zip(collectAll(wanted.map { case (t, ks) =>
        probeDf(t, catalog.pkOf(t).head, ks.map(_.head).distinct) })).toMap
      asks.map { case (t, ks) =>
        got.get(t).fold(Array.empty[Row]) { rs =>
          if (catalog.pkOf(t).size == 1) rs
          else { val want = ks.toSet; rs.filter(r => want.contains(keyOf(t, r))) }
        }
      }
    }
    val seen = mutable.Map.empty[String, mutable.HashSet[Seq[Any]]]
    val acc = mutable.Map.empty[String, mutable.ArrayBuffer[Seq[Any]]]
    // the result rows of `acc`'s keys (each key's rows enter once, when
    // the key does)
    val accRows = mutable.Map.empty[String, mutable.ArrayBuffer[Row]]
    var preSizes = Map.empty[String, Long]
    // the last COMPLETED iteration boundary: its depth, and per table how
    // many keys it appended to `acc` that are still unexpanded (the
    // boundary's frontier is exactly that tail of each `acc` buffer)
    var boundary: Option[(Int, Map[String, Int])] = None
    try {
      // seed and preSeen key sets, collected concurrently; seeds deduped
      // driver-side (== the distributed union().distinct())
      val seedSels = seeds.map { case (t, df) =>
        val sel = df.select(catalog.pkOf(t).map(col): _*)
        recordSchema(t, sel)
        t -> sel
      }
      val preSels = preSeen.toSeq.map { case (t, df) =>
        val sel = df.select(catalog.pkOf(t).map(col): _*)
        recordSchema(t, sel)
        t -> sel
      }
      val (seedRows, preRows) =
        collectAll((seedSels ++ preSels).map(_._2)).splitAt(seedSels.size)
      val seedKeys: Map[String, IndexedSeq[Seq[Any]]] =
        seedSels.map(_._1).zip(seedRows).groupBy(_._1).map { case (t, rss) =>
          val ks = mutable.LinkedHashSet.empty[Seq[Any]]
          rss.foreach(_._2.foreach(r => ks += r.toSeq))
          t -> ks.toIndexedSeq
        }
      val pre: Map[String, Set[Seq[Any]]] =
        preSels.map(_._1).zip(preRows).map { case (t, rs) =>
          t -> rs.iterator.map(_.toSeq).toSet
        }.toMap
      preSizes = pre.map { case (t, ks) => t -> ks.size.toLong }
      // seen = seeds ∪ preSeen; acc starts from the delta seeds (every
      // seed table appears in the result, possibly with zero fresh keys)
      (seedKeys.keySet ++ pre.keySet).foreach { t =>
        val s = mutable.HashSet.empty[Seq[Any]]
        pre.get(t).foreach(s ++= _)
        seedKeys.get(t).foreach { ks =>
          acc(t) = mutable.ArrayBuffer(ks.filterNot(s.contains): _*)
          s ++= ks
        }
        seen(t) = s
      }
      val seedAsks = seedKeys.toSeq.filter(_._2.nonEmpty)
      var frontier: Map[String, (Seq[Seq[Any]], Array[Row])] =
        seedAsks.zip(rowsFor(seedAsks)).map { case ((t, ks), rs) =>
          // every seed expands; only the delta seeds' rows are results
          val old = pre.getOrElse(t, Set.empty)
          accRows(t) = mutable.ArrayBuffer.from(rs.iterator.filterNot(r => old.contains(keyOf(t, r))))
          t -> ((ks: Seq[Seq[Any]], rs))
        }.toMap
      var depth = 0
      while (frontier.nonEmpty) {
        val candKeys = mutable.Map.empty[String, mutable.LinkedHashSet[Seq[Any]]]
        // per table: each key's complete rows, from the first complete
        // probe (in scheduling order) that returned the key
        val candRows = mutable.Map.empty[String, mutable.HashMap[Seq[Any], Array[Row]]]
        val rowsComplete = mutable.Map.empty[String, Boolean]
        // an iteration's probes are independent scans — scheduled here,
        // collected on the pool, and FOLDED in scheduling order below,
        // so candidate order (and everything downstream) is
        // deterministic regardless of completion interleaving
        val pending = mutable.ArrayBuffer.empty[(Future[Array[Row]], Array[Row] => Unit)]
        def schedule(df: DataFrame)(fold: Array[Row] => Unit): Unit =
          pending += ((submit(df), fold))
        def addCand(t: String, keys: IterableOnce[Seq[Any]], rows: Array[Row],
            complete: Boolean): Unit = {
          val ks = candKeys.getOrElseUpdate(t, mutable.LinkedHashSet.empty)
          var any = false
          keys.iterator.foreach { k => ks += k; any = true }
          if (any || rows.nonEmpty) {
            if (complete) {
              val byKey = candRows.getOrElseUpdate(t, mutable.HashMap.empty)
              rows.groupBy(keyOf(t, _)).foreach { case (k, rs) =>
                if (!byKey.contains(k)) byKey(k) = rs
              }
            }
            rowsComplete(t) = rowsComplete.getOrElse(t, true) && complete
          }
        }
        def expandFksLocal(t: String, rows: Array[Row]): Unit =
          fksOf(t).foreach { fk =>
            val i = idxOf(t, fk.childCol)
            // pre-filter seen parents driver-side: an already-seen key
            // neither re-probes nor re-enters (the distributed anti-join)
            val vals = rows.iterator.map(_.get(i)).filter(_ != null)
              .filterNot(v => seen.get(fk.parentTable).exists(_.contains(Seq(v))))
              .toSeq.distinct
            if (vals.nonEmpty)
              // candidate keys are the FK VALUES (a dangling FK is still
              // a closure key, as in the distributed addKeys); rows are
              // whatever the parent table actually holds for them — a
              // by-pk probe, so the row set per key is complete
              schedule(probeDf(fk.parentTable, fk.parentCol, vals)) { rs =>
                addCand(fk.parentTable, vals.map(Seq(_)), rs, complete = true)
              }
          }
        def expandRksLocal(t: String, keys: Seq[Seq[Any]], depth0: Boolean): Unit = {
          val pkPos = catalog.pkOf(t).zipWithIndex.toMap
          rksOf(t, depth0).foreach { rk =>
            val vals = keys.map(_(pkPos(rk.parentCol))).distinct
            if (vals.nonEmpty)
              schedule(probeDf(rk.childTable, rk.childCol, vals)) { rs =>
                addCand(rk.childTable, rs.iterator.map(keyOf(rk.childTable, _)), rs,
                  complete = catalog.pkOf(rk.childTable).contains(rk.childCol))
              }
          }
        }
        def runConfigsLocal(t: String, attrRows: Array[Row]): Unit =
          configQueries.filter(_.sourceTable == t).foreach { cq =>
            require(runQuery != null, "configQueries need a runQuery function")
            val attrs = ClosureExtractor.attrsOf(cq.template)
            val targetPk = catalog.pkOf(cq.targetTable)
            val params: Array[Map[String, Any]] =
              if (attrs.isEmpty) Array(Map.empty[String, Any])
              else attrRows.iterator
                .map(r => attrs.map(a => a -> r.get(idxOf(t, a))).toMap)
                .toArray.distinct
            ClosureExtractor.configSqls(cq, attrs, params).foreach { sql =>
              val out = runQuery(sql).select(targetPk.map(col): _*)
              recordSchema(cq.targetTable, out)
              // keys come from the QUERY result (like the distributed
              // addKeys — a key the table lacks still enters the
              // closure); rows re-probe at frontier build
              schedule(out) { rs =>
                addCand(cq.targetTable, rs.iterator.map(_.toSeq),
                  Array.empty, complete = false)
              }
            }
          }
        frontier.foreach { case (t, (keys, rows)) =>
          expandFksLocal(t, rows)
          expandRksLocal(t, keys, depth0 = depth == 0)
          runConfigsLocal(t, rows)
        }
        // REFIRE (incremental runs): previously-exported keys re-probe
        // ONLY the edges that stay active at depth>0 — where appended
        // rows can attach to old keys — once, in the first iteration;
        // keys that are also current seeds were fired by the frontier
        // pass above
        if (depth == 0) {
          val refire = pre.toSeq.map { case (t, preKs) =>
            t -> preKs.diff(seedKeys.getOrElse(t, IndexedSeq.empty).toSet).toSeq
          }
          val attrAsks = refire.filter { case (t, _) =>
            configQueries.exists(cq => cq.sourceTable == t &&
              ClosureExtractor.attrsOf(cq.template).nonEmpty)
          }
          val attrRows = attrAsks.map(_._1).zip(rowsFor(attrAsks)).toMap
          refire.foreach { case (t, probeKeys) =>
            expandRksLocal(t, probeKeys, depth0 = false)
            runConfigsLocal(t, attrRows.getOrElse(t, Array.empty[Row]))
          }
        }
        // await all probes in scheduling order and fold sequentially
        pending.foreach { case (fut, fold) => fold(await(fut)) }
        // fresh keys → seen/acc for EVERY table before any re-probe:
        // that completes the boundary, so an abort inside a re-probe
        // below still hands a whole iteration to the distributed BFS
        val fresh = mutable.LinkedHashMap.empty[String, Vector[Seq[Any]]]
        candKeys.foreach { case (t, ks) =>
          val s = seen.getOrElseUpdate(t, mutable.HashSet.empty)
          val f = ks.iterator.filterNot(s.contains).toVector
          if (f.nonEmpty) {
            s ++= f
            acc.getOrElseUpdate(t, mutable.ArrayBuffer.empty) ++= f
            fresh(t) = f
          }
        }
        depth += 1
        boundary = Some((depth, fresh.iterator.map { case (t, f) => t -> f.size }.toMap))
        // frontier rows are the collected probe rows when complete for
        // every fresh key, else one by-pk re-probe per table — all
        // re-probes of the boundary run concurrently
        val (complete, reprobe) =
          fresh.toSeq.partition { case (t, _) => rowsComplete.getOrElse(t, true) }
        frontier = (complete.map { case (t, f) =>
          val byKey = candRows.getOrElse(t, mutable.HashMap.empty)
          t -> ((f: Seq[Seq[Any]], f.iterator.flatMap(byKey.getOrElse(_, Array.empty[Row])).toArray))
        } ++ reprobe.zip(rowsFor(reprobe)).map { case ((t, f), rs) =>
          t -> ((f: Seq[Seq[Any]], rs))
        }).toMap
        frontier.foreach { case (t, (_, rows)) =>
          accRows.getOrElseUpdate(t, mutable.ArrayBuffer.empty) ++= rows
        }
      }
      LocalDone(spark, acc.iterator.map { case (t, ks) =>
        t -> LocalTable(keySchema(t), ks.toVector, schemaOf(t),
          accRows.get(t).fold(Vector.empty[Row])(_.toVector))
      }.toMap, collected = fastPathBudget - budget.get())
    } catch {
      case _: ClosureExtractor.FastPathAbort => boundary match {
        case None => LocalRestart
        case Some((d, unexpanded)) =>
          // acc is untouched since the boundary: only the update loop
          // above appends to it, and it cannot abort
          def split(keep: (mutable.ArrayBuffer[Seq[Any]], Int) => Iterable[Seq[Any]]) =
            acc.iterator.map { case (t, ks) =>
              val part = keep(ks, unexpanded.getOrElse(t, 0))
              t -> ((ClosureExtractor.localDf(spark, keySchema(t),
                part.map(Row.fromSeq)), part.size.toLong))
            }.toMap
          LocalHandoff(d,
            expanded = split(_.dropRight(_)),
            frontier = split(_.takeRight(_)).filter(_._2._2 > 0),
            preSizes = preSizes)
      }
    } finally {
      // kill, don't drain: on an abort the in-flight probes' Spark jobs
      // would otherwise run to completion and compete for cores with
      // the distributed BFS. Order matters: shutdownNow FIRST stops
      // queued pool tasks from starting (a task dequeued after a cancel
      // would submit a fresh, uncancelled job into the group), THEN
      // cancelJobGroup kills the jobs already submitted
      // (interruptOnCancel above interrupts their collect threads). On
      // a normal exit every probe was already awaited, so both are
      // no-ops.
      probePool.shutdownNow()
      spark.sparkContext.cancelJobGroup(probeGroup)
    }
  }

  /** Rows the driver-local fast path collects for this closure (the
    * smallest budget under which it finishes), or None when it does not
    * finish within `fastPathBudget`. Specs use it to place an abort at
    * every collect point.
    */
  private[graft] def fastPathRows(seeds: Seq[(String, DataFrame)],
      preSeen: Map[String, DataFrame] = Map.empty): Option[Long] =
    tryRunAllLocal(seeds, preSeen) match {
      case d: ClosureExtractor.LocalDone => Some(d.collected)
      case _ => None
    }

  /** The closure's key sets: table → DataFrame of the table's pk columns.
    *
    * `preSeen` turns the run INCREMENTAL: table → pk key sets of a
    * PREVIOUS closure (e.g. a prior export) that pre-populate the BFS
    * seen-set, so the traversal prunes at every already-exported key and
    * the returned key sets / counts cover ONLY what is new. Recurring
    * cost = the seed depth-0 expansion + one allowlisted-RK/config probe
    * per preSeen table that has such edges (appends CAN attach there, so
    * those probes are the irreducible correctness cost) + traversal
    * proportional to the DELTA from depth 1 on — vs. the alternative
    * (re-traversing the whole closure, then anti-joining per table),
    * which pays every FK level and every depth-0 expansion of the full
    * closure even when nothing changed.
    *
    * Exactness contract (ClosureSpec + PropertySpec pin it on random
    * graphs, including randomly GROWN ones): the result equals
    * closure(seeds) MINUS preSeen keys, PROVIDED preSeen is the key
    * closure of a prior run under the SAME catalog, policy, and config
    * queries, and EITHER
    *
    *  (a) the data is unchanged since that run (any prior seed set), OR
    *  (b) the data has only GROWN (append-only: new rows may reference
    *      old keys, but already-exported rows are immutable) and every
    *      preSeen key is still inside the current full closure — the
    *      recurring same-seed-query pipeline guarantees this, since old
    *      seed rows still match the seed query.
    *
    * Why: seeds are NOT pruned — every seed still gets its depth-0
    * expansion — while a preSeen key skips its forward FKs (immutable
    * row ⇒ parents already in preSeen) and is re-probed ONLY along the
    * edges that stay active at depth>0 (allowlisted reverse keys and
    * config queries; see the REFIRE step), which is exactly where
    * appended rows can attach to old keys. Under in-place mutation
    * (edges of exported rows changed), pruning is unsound — use the
    * non-incremental form + per-table anti-join instead
    * ([[graft.engine.Engine.extractDelta]] with `incremental = false`;
    * CLI `extract -delta ... -delta-full`).
    */
  def runAll(seeds: Seq[(String, DataFrame)],
      preSeen: Map[String, DataFrame] = Map.empty): Map[String, DataFrame] =
    fastPath(seeds, preSeen) match {
      case d: ClosureExtractor.LocalDone => d.keys
      case o => runDistributed(seeds, preSeen, handoffOf(o))._1
    }

  /** SMALL-CLOSURE FAST PATH: when the whole traversal fits the local row
    * budget, run it driver-side ([[tryRunAllLocal]]) — one pushed-down
    * In-filter scan per (edge, iteration) instead of per-edge
    * broadcast/checkpoint jobs with their AQE stage barriers. The moment
    * a probe overflows the budget it hands over its last completed
    * iteration boundary, and [[runDistributed]] continues from there.
    */
  private def fastPath(seeds: Seq[(String, DataFrame)],
      preSeen: Map[String, DataFrame]): ClosureExtractor.LocalOutcome =
    if (fastPathBudget <= 0) ClosureExtractor.LocalRestart
    else tryRunAllLocal(seeds, preSeen)

  private def handoffOf(o: ClosureExtractor.LocalOutcome): Option[ClosureExtractor.LocalHandoff] =
    o match {
      case h: ClosureExtractor.LocalHandoff => Some(h)
      case _ => None
    }

  /** The distributed fixpoint behind [[runAll]] and [[extractAll]]: from
    * the seeds, or from the last iteration boundary a fast-path `handoff`
    * completed. Returns the key sets with each table's exact key count —
    * free, because the fixpoint's final checkpoint-forcing job is a count.
    */
  private def runDistributed(seeds: Seq[(String, DataFrame)],
      preSeen: Map[String, DataFrame],
      handoff: Option[ClosureExtractor.LocalHandoff]): (Map[String, DataFrame], Map[String, Long]) = {
    // Measured A/B at sf0.1: keeping AQE ON for the fixpoint wins — its
    // post-shuffle coalescing collapses the 32-partition iteration
    // shuffles to single tasks, which outweighs the extra stage-job
    // barriers. The exact-size broadcast hints below compose with it:
    // hinted joins skip the shuffle-and-measure step entirely.
    //
    // Every intermediate persist is tracked and released after the final
    // key sets are eagerly checkpointed — a long-lived session must not
    // accumulate BFS state in the block manager across extract calls.
    val retained = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def track(df: DataFrame): DataFrame = { retained += df; df }
    // ONE union-of-counts job for a table->df map (vs a driver-serial
    // count per table); also what forces the lazy checkpoints.
    def countAll(dfs: Map[String, DataFrame]): Map[String, Long] =
      if (dfs.isEmpty) Map.empty
      else dfs.map { case (t, df) =>
          df.groupBy().count().select(lit(t).as("t"), col("count"))
        }.reduce(_.union(_))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def hinted(df: DataFrame, size: Option[Long]): DataFrame =
      if (size.exists(_ <= BroadcastKeyLimit)) broadcast(df) else df
    def unionOf(parts: Iterable[DataFrame]): DataFrame = parts.reduce(_.union(_))
    // incremental mode: each preSeen key set becomes its own checkpoint
    // leaf (an artifact read would otherwise re-plan and re-scan per
    // anti-join use, once per iteration) — a NEW checkpoint over a pk
    // projection, so releasing it after the fixpoint never touches
    // blocks the caller may still hold
    val pre: Map[String, DataFrame] = preSeen.map { case (t, df) =>
      t -> track(df.select(catalog.pkOf(t).map(col): _*).localCheckpoint(false))
    }
    // The fixpoint state. `seen` (table -> distinct pk tuples) is what
    // the traversal prunes at; `acc` is the RESULT accumulator, only keys
    // this run discovers beyond preSeen; `frontier` holds the keys whose
    // expansions are still to run; `chainRaw` holds fresh keys whose
    // forward FKs the first iteration's chain phase walks without the
    // `seen` anti-join (they sit inside `seen` already). Sizes are exact
    // counts, for the broadcast hints.
    var seen, acc, frontier, chainRaw = Map.empty[String, DataFrame]
    var seenSizes, frontierSizes, preSizes = Map.empty[String, Long]
    var depth = 0
    handoff match {
      case Some(h) =>
        // continue at the fast path's last boundary: every driver-side
        // key set enters Spark once, as a lazy checkpoint leaf of known
        // size, forced by the first union-of-counts job. REFIRE does not
        // run again (depth ≥ 1): it ran at local depth 0.
        val leaf = (p: (DataFrame, Long)) => track(p._1.localCheckpoint(false))
        val fresh = h.frontier.map { case (t, p) => t -> leaf(p) }
        val expanded = h.expanded.collect {
          case (t, p) if p._2 > 0 || !fresh.contains(t) => t -> leaf(p)
        }
        acc = (expanded.keySet ++ fresh.keySet).map(t =>
          t -> unionOf(expanded.get(t) ++ fresh.get(t))).toMap
        seen = (acc.keySet ++ pre.keySet).map(t =>
          t -> unionOf(acc.get(t) ++ pre.get(t))).toMap
        preSizes = h.preSizes
        seenSizes = seen.keySet.map(t => t -> (preSizes.getOrElse(t, 0L) +
          h.expanded.get(t).fold(0L)(_._2) + h.frontier.get(t).fold(0L)(_._2))).toMap
        frontierSizes = h.frontier.map { case (t, p) => t -> p._2 }
        // past depth 0 only tables with edges still to fire re-enter the
        // frontier; chainable ones walk their forward FKs in the chain
        frontier = fresh.filter { case (t, _) => needsIteration(t) }
        chainRaw = fresh.filter { case (t, _) =>
          chainable(t) && fksOf(t).nonEmpty }
        depth = h.depth
      case None =>
        frontier = seeds.groupBy(_._1).map { case (t, ss) =>
          val pk = catalog.pkOf(t).map(col)
          // lazy leaf like every later frontier; forced by the seed-count
          // job just below
          t -> track(ss.map(_._2.select(pk: _*)).reduce(_.union(_)).distinct()
            .localCheckpoint(false))
        }
        // the one extra job this costs is repaid by every later join
        // planning broadcast-side-known from depth 0; ONE job forces +
        // counts the seed frontiers AND the preSeen leaves (the "f "/"p "
        // prefixes are disjoint, so the label sets cannot collide)
        val counted = countAll(
          frontier.map { case (t, d) => ("f " + t, d) } ++
            pre.map { case (t, d) => ("p " + t, d) })
        frontierSizes =
          counted.collect { case (k, n) if k.startsWith("f ") => k.drop(2) -> n }
        preSizes =
          counted.collect { case (k, n) if k.startsWith("p ") => k.drop(2) -> n }
        // seen = seeds ∪ preSeen: the traversal prunes at both. Seeds are
        // NOT pruned out of the frontier — every seed keeps its depth-0
        // expansion (see the exactness contract above); from depth 1 on,
        // candidates anti-join the merged seen-set, so frontiers are
        // delta-sized.
        seen = (frontier.keySet ++ pre.keySet).map(t =>
          t -> unionOf(frontier.get(t) ++ pre.get(t))).toMap
        // sizes are for broadcast hints only, so double-counting a key
        // that is both a seed and preSeen merely makes the hint
        // conservative
        seenSizes = seen.keySet.map(t =>
          t -> (frontierSizes.getOrElse(t, 0L) + preSizes.getOrElse(t, 0L))).toMap
        // seed tables start `acc` from the delta seeds (a lazy anti-join
        // over two checkpoint leaves, forced by the result job)
        acc = frontier.map { case (t, keys) =>
          t -> pre.get(t).fold(keys)(p =>
            keys.join(hinted(p, preSizes.get(t)), catalog.pkOf(t), "left_anti"))
        }
        // seeds are raw at depth 0: the delta seeds' forward FKs chain
        // now (a previously-exported seed's parents are in preSeen
        // already, by the exactness contract)
        chainRaw = acc.filter { case (t, _) => chainable(t) }
    }

    // Run-scoped cache of each table's key projection: its pk and every
    // catalog FK column, which covers every reverse key into another
    // table (an edge's child column is an FK of its child table) and
    // every forward FK out of it — so a table both reverse keys and
    // forward FKs touch is scanned once, not once per column list. The
    // BFS touches the same projections every iteration, and re-planning
    // + re-scanning parquet per (edge, iteration) dominates cold-run cost
    // (~9s → ~1s at sf0.1). Released after the fixpoint — by then every
    // frontier is materialized.
    val projCache = scala.collection.mutable.Map.empty[String, DataFrame]
    def keyProjection(table: String): DataFrame =
      projCache.getOrElseUpdate(table,
        loadTable(table).select((catalog.pkOf(table) ++
            catalog.foreignKeysOf(table).map(_.childCol)).distinct.map(col): _*)
          .persist(StorageLevel.MEMORY_AND_DISK))

    while (frontier.nonEmpty || chainRaw.nonEmpty) {
      val next = scala.collection.mutable.Map.empty[String, DataFrame]
      // chain inputs: every key set PRODUCED this iteration for a
      // chainable table (frontier tables past the first iteration were
      // chained the iteration their keys appeared, so they never
      // re-enter)
      val chainAcc = scala.collection.mutable.Map.empty[String, DataFrame]
      def addKeys(table: String, keys0: DataFrame): Unit = {
        // LAZY checkpoint per contribution: a produced key set feeds the
        // candidate anti-join AND up to fks.size chain joins — as plain
        // subtrees those copies re-plan and re-execute per use, and the
        // duplication compounds multiplicatively down a chain (measured
        // slower than the un-chained BFS). As a checkpointed RDD the set
        // computes once inside this iteration's counting job and every
        // use reads the persisted blocks. Tracked for release.
        val keys = track(keys0.localCheckpoint(false))
        next.update(table, next.get(table).map(_.union(keys)).getOrElse(keys))
        if (chainable(table))
          chainAcc.update(table,
            chainAcc.get(table).map(_.union(keys)).getOrElse(keys))
      }

      // J2 reverse lookup, batched: child rows whose FK is in `keys`.
      // Distinct deferred to the candidate stage (see J1); the edges
      // followed are [[rksOf]]'s.
      def expandRks(table: String, keys: DataFrame, size: Option[Long],
          depth0: Boolean): Unit =
        rksOf(table, depth0).foreach { rk =>
          val childPk = catalog.pkOf(rk.childTable)
          addKeys(rk.childTable,
            keyProjection(rk.childTable)
              .join(hinted(keys.withColumnRenamed(rk.parentCol, rk.childCol),
                size), Seq(rk.childCol), "left_semi")
              .select(childPk.map(col): _*))
        }

      // J3 templated config queries: collect the key set's DISTINCT
      // parameter tuples to the driver (bounded: human-written config
      // predicates, SURVEY.md §7.4), substitute, run, fold the target
      // table's pk values back into the BFS. The common template shape
      // `... WHERE col = {attr}` batches to ONE IN-list query per
      // iteration — the reference runs it once per row
      // (etl/extractor.go:70-79), the surviving N+1 we refuse to copy;
      // any other shape falls back to per-tuple execution.
      def runConfigs(table: String, keysH: DataFrame): Unit = {
        val pk = catalog.pkOf(table)
        configQueries.filter(_.sourceTable == table).foreach { cq =>
          require(runQuery != null, "configQueries need a runQuery function")
          val attrs = ClosureExtractor.attrsOf(cq.template)
          val targetPk = catalog.pkOf(cq.targetTable)
          val params: Array[Map[String, Any]] =
            if (attrs.isEmpty) Array(Map.empty[String, Any])
            else loadTable(table)
              .select((pk ++ attrs).distinct.map(col): _*)
              .join(keysH, pk, "left_semi")
              .select(attrs.map(col): _*).distinct()
              .collect()
              .map(r => attrs.map(a => a -> r.getAs[Any](a)).toMap)
          ClosureExtractor.configSqls(cq, attrs, params).foreach { sql =>
            addKeys(cq.targetTable, runQuery(sql).select(targetPk.map(col): _*))
          }
        }
      }

      // J1 forward lookup, batched: the table's rows for `keys`, then
      // one parent key set per FK, null FKs skipped as in the reference
      // (etl/extractor.go:107-109). No per-edge distinct: the candidate
      // stage below distincts the per-table union once — a distinct here
      // would add one shuffle per edge per depth for rows the union
      // dedups anyway.
      def expandFks(table: String, keys: DataFrame): Unit = {
        val rows = keyProjection(table).join(keys, catalog.pkOf(table), "left_semi")
        fksOf(table).foreach { fk =>
          addKeys(fk.parentTable,
            rows.select(col(fk.childCol).as(fk.parentCol))
              .where(col(fk.parentCol).isNotNull))
        }
      }

      frontier.foreach { case (table, keys) =>
        val keysH = hinted(keys, frontierSizes.get(table))
        // cycle fallback (chainable tables expand their FKs in the chain
        // phase below instead — exactly once, when the keys appear)
        if (fksOf(table).nonEmpty && !chainable(table)) expandFks(table, keysH)
        expandRks(table, keys, frontierSizes.get(table), depth0 = depth == 0)
        runConfigs(table, keysH)
      }

      // REFIRE for incremental runs: a previously-exported key skips its
      // forward FKs (its row cannot have changed under the append-only
      // contract, so its parents are already in preSeen) and its depth-0
      // expansion (covered by the prior run, or by this run's unpruned
      // seeds if it seeds again) — but edges that stay ACTIVE at depth>0
      // probe CURRENT data: an allowlisted reverse key or config query
      // from an old key can match rows appended since the previous
      // export (new lineitems on an old order). Fire exactly those, once,
      // in the first iteration; the candidate anti-join against
      // seen ⊇ preSeen keeps only the genuinely-new children, which then
      // traverse normally. On unchanged data this finds nothing, so the
      // arbitrary-preSeen static-data exactness is unaffected.
      //
      // Keys that are ALSO current seeds are excluded from the probe:
      // the frontier pass above already fired their allowlisted RKs
      // (depth-0 expansion ⊇ the allowlist under every policy) and their
      // config queries, so probing them again would double-scan each
      // child table and double-run each config over the old-seed overlap
      // every recurring run.
      //
      // Scale note: config re-probes are the one cost that scales with
      // the EXPORT, not the delta — the template must be re-evaluated
      // for every exported source row's params, since any of them may
      // match appended target rows. The `= {attr}` shape stays one
      // IN-list query; avoid recurring configs whose template shape
      // falls back to per-tuple execution.
      if (depth == 0) pre.foreach { case (table, keys) =>
        val probe = frontier.get(table) match {
          case Some(f) => keys.join(
            hinted(f, frontierSizes.get(table)), catalog.pkOf(table), "left_anti")
          case None => keys
        }
        expandRks(table, probe, preSizes.get(table), depth0 = false)
        runConfigs(table, hinted(probe, preSizes.get(table)))
      }

      // CHAIN phase: walk the acyclic forward-FK closure of everything
      // produced this iteration, child before parent — all lazy, fused
      // into the counting job below. Contributions to a parent are
      // complete before the parent's turn (topo order; cyclic producers
      // contributed during the frontier pass above, before this loop).
      //
      // Each produced input is anti-joined against `seen` FIRST (lazily,
      // in the same job): a produced key that is already seen had its
      // whole forward chain walked the iteration it first appeared (or
      // is a previously-exported key, whose parents are exported too),
      // so expanding it again only re-runs every downstream semi-join on
      // stale keys — multi-level waste the candidate stage would cut one
      // level too late. The first iteration's raw keys (delta seeds, or
      // the keys a fast-path handoff left unexpanded) are fresh by
      // definition but sit inside `seen`, so they skip that anti-join.
      chainOrder.foreach { t =>
        if (fksOf(t).nonEmpty) {
          val produced = chainAcc.get(t).map(keysT0 => seen.get(t).fold(keysT0)(s =>
            keysT0.distinct().join(hinted(s, seenSizes.get(t)), catalog.pkOf(t), "left_anti")))
          (chainRaw.get(t) ++ produced).reduceOption(_.union(_))
            .foreach(expandFks(t, _))
        }
      }
      chainRaw = Map.empty
      // anti-join out already-seen keys, then drop empty frontiers.
      // Emptiness is decided with ONE union-of-counts job for all tables
      // instead of a driver-serial isEmpty() per table.
      //
      // EVERY frontier becomes a LAZY localCheckpoint (a LogicalRDD leaf,
      // forced by that same union-of-counts job — no extra job per
      // table): a persisted-but-not-checkpointed frontier keeps its full
      // logical plan, and since `seen` unions every prior frontier while
      // each frontier anti-joins `seen`, analysis cost then compounds
      // per depth — Catalyst re-walks the whole accumulated tree even
      // when the cache serves the data (measured ~25% of closure wall
      // time at sf0.1, and unbounded growth with depth). Leaf plans make
      // iteration cost pure job cost. Tracked for release after the
      // fixpoint; only the RESULT checkpoints (below) may outlive it.
      val candidates = next.toMap.map { case (t, keys) =>
        val pk = catalog.pkOf(t)
        val fresh0 = seen.get(t) match {
          // seen is the build side of the anti-join; its exact size is a
          // running sum of frontier counts, so small seen sets broadcast
          case Some(s) => keys.distinct().join(hinted(s, seenSizes.get(t)), pk, "left_anti")
          case None    => keys.distinct()
        }
        t -> track(fresh0.localCheckpoint(false))
      }
      val sizes: Map[String, Long] = countAll(candidates)
      // EVERY nonempty candidate set joins `seen` (it is part of the
      // closure and the final materialization), but only tables with
      // edges still to fire — allowlisted reverse keys, config queries,
      // or the cycle fallback — re-enter the frontier: chained forward
      // FKs were walked above, so a table reached purely through them is
      // finished the moment its keys exist.
      candidates.foreach { case (t, df) =>
        if (sizes.getOrElse(t, 0L) > 0L) {
          seen = seen.updated(t, seen.get(t).map(_.union(df)).getOrElse(df))
          seenSizes = seenSizes.updated(t, seenSizes.getOrElse(t, 0L) + sizes(t))
          // candidates are already anti-joined against seen ⊇ preSeen,
          // so every fresh key belongs to the returned delta
          acc = acc.updated(t, acc.get(t).map(_.union(df)).getOrElse(df))
        }
      }
      frontier = candidates.flatMap { case (t, df) =>
        if (sizes.getOrElse(t, 0L) > 0L && needsIteration(t)) Some(t -> df)
        else { if (sizes.getOrElse(t, 0L) == 0L) df.unpersist(); None }
      }
      frontierSizes = sizes
      depth += 1
    }
    // Materialize the final per-table key sets (small: key columns only),
    // cutting lineage to the persisted intermediates, THEN release every
    // intermediate persist. Without this, frontier/seen persists survive
    // the fixpoint and bloat the block manager for the session's lifetime.
    // No distinct: each iteration's fresh keys are distinct and anti-joined
    // against all prior ones, so the per-table union is distinct by
    // construction — a final dedup would be one wasted shuffle per table.
    // Checkpoints are LAZY and forced by a single union-of-counts job
    // (one job materializes all tables, vs. one eager-checkpoint job each).
    // `acc`, not `seen`: without preSeen they are identical; with it, the
    // result is exactly the keys NEW to this run (possibly zero-count for
    // a seed table whose seeds were all previously exported).
    val result = acc.map { case (t, k) => t -> k.localCheckpoint(false) }
    val resultSizes = countAll(result)
    // release every intermediate, including locally-checkpointed ones
    // (RDD-level blocks, see SparkUtil.release) — only the returned result
    // checkpoints may outlive the fixpoint
    retained.foreach(graft.SparkUtil.release)
    projCache.values.foreach(_.unpersist(false))
    (result, resultSizes)
  }
}

object ClosureExtractor {
  /** Convenience: closure over the parquet testdata tables in `sfDir`. */
  def forDir(spark: SparkSession, sfDir: String, catalog: Catalog = Catalog.tpch,
      policy: TraversalPolicy = TraversalPolicy()): ClosureExtractor =
    new ClosureExtractor(catalog, t => graft.Tables(spark, sfDir, t), policy)

  /** Row budget for the driver-local BFS fast path (see
    * [[ClosureExtractor.runAll]]): the local traversal may
    * collect at most this many source rows TOTAL across the whole run —
    * whole rows since probes fetch every column, plus the seed and
    * preSeen key rows; one row more and it aborts, handing its last
    * completed iteration boundary to the distributed BFS. Calibrated
    * well under [[graft.SparkUtil.BroadcastRowLimit]]: a key set this
    * size is trivially broadcastable, so the local path never handles
    * anything the distributed path wouldn't have broadcast anyway. 0
    * disables the fast path (specs use this to pin local ==
    * distributed).
    *
    * Why the fast path stays, measured on the lifecycle benchmark's sf0.1
    * data (4 vCPUs, local[4]): a point cone of about 420 rows closes in
    * 0.8–1.1 s warm on the fast path (13 probe jobs) and its whole
    * extract, writes included, takes 1.35–1.6 s; such cones took 4.0–5.3
    * s to close distributed. 230k-row cones took 6.2–7.6 s local (with
    * the budget raised to admit them, before probes fetched whole rows)
    * against 5.1–6.1 s distributed — so small closures run locally and
    * large ones keep the shuffling plan, past the rows they share.
    */
  val FastPathBudget: Long = 200000L

  /** Upper bound on any single fast-path collect await — seeds, preSeen,
    * probes and re-probes all wait through the bounded await in
    * [[tryRunAllLocal]]. Generous by construction: the whole fast path is
    * capped at [[FastPathBudget]] rows. Other waits on seed-bounded
    * key-set collects reuse it.
    */
  val ProbeAwaitMax: scala.concurrent.duration.FiniteDuration =
    scala.concurrent.duration.Duration(15, java.util.concurrent.TimeUnit.MINUTES)

  /** `{attr}` placeholder names of a config-query template, in first-use
    * order (J3, `/root/reference/etl/extractor.go:70-79`). */
  def attrsOf(template: String): Seq[String] =
    raw"\{(\w+)\}".r.findAllMatchIn(template).map(_.group(1)).toSeq.distinct

  /** The SQL statements a config query expands to for a set of DISTINCT
    * parameter tuples — shared by the distributed BFS and the local fast
    * path so the two can never diverge on template semantics. The common
    * `... WHERE col = {attr}` tail shape batches to ONE IN-list query
    * (the reference runs it once per row, etl/extractor.go:70-79 — the
    * surviving N+1 we refuse to copy); any other shape substitutes
    * per tuple.
    */
  def configSqls(cq: ConfigQuery, attrs: Seq[String],
      params: Array[Map[String, Any]]): Seq[String] = {
    val eqTail = raw"(?is)^(.*\bWHERE\s+)(\w+)\s*=\s*\{(\w+)\}\s*$$".r
    cq.template match {
      case eqTail(prefix, colName, attr)
          if attrs == Seq(attr) &&
            params.forall(_.get(attr).exists(v =>
              v.isInstanceOf[Number] || v.isInstanceOf[String])) =>
        if (params.isEmpty) Nil
        else {
          // numbers render bare; strings single-quote with ''-escape AND
          // backslash-escape: Spark SQL's default parser (what runQuery
          // wires to) treats \ as an escape inside string literals, so a
          // raw backslash would corrupt or unbalance the literal —
          // either way ONE query per iteration, never one per row
          val inList = params.map(_(attr)).distinct.map {
            case n: Number => n.toString
            case s: String =>
              "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"
          }.mkString(", ")
          Seq(s"$prefix$colName IN ($inList)")
        }
      case _ =>
        params.toSeq.map(row => graft.sqlparse.SeedQuery.substitute(cq.template, row))
    }
  }

  /** `df(column) IN values` as ONE Catalyst `InSet`, for fast-path
    * probes. `isin(values: _*)` builds an `In` with a literal child per
    * key: on the lifecycle benchmark's data a 36k-key probe took 0.4–1.0
    * s of driver time to build that way, and about 15 ms as one `InSet`
    * node. Parquet still receives the `InSet` as a pushed `In` filter. Values convert to the column's
    * type exactly as the analyzer coerces them: a value of the column's
    * type is used as is; integral values widen to a wider integral
    * column, and against a narrower one (where the analyzer would widen
    * the column) only the values inside its range can match, so the rest
    * drop; any other type mix is left to `isin`. Nulls never match.
    */
  private[closure] def inSet(df: DataFrame, column: String, values: Seq[Any]): Column = {
    import org.apache.spark.sql.catalyst.expressions.{InSet, Literal}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types._
    def integral(dt: DataType, v: Long): Option[Any] = dt match {
      case LongType => Some(v)
      case IntegerType => Option.when(v.isValidInt)(v.toInt)
      case ShortType => Option.when(v.isValidShort)(v.toShort)
      case ByteType => Option.when(v.isValidByte)(v.toByte)
      case _ => None
    }
    def isIntegral(dt: DataType): Boolean = integral(dt, 0L).nonEmpty
    val dt = df.schema(column).dataType
    val lits = values.iterator.filter(_ != null).map(Literal(_)).toSeq
    val set: Option[Set[Any]] =
      if (lits.forall(_.dataType == dt)) Some(lits.iterator.map(_.value).toSet)
      else if (isIntegral(dt) && lits.forall(l => isIntegral(l.dataType)))
        Some(lits.iterator.flatMap(l =>
          integral(dt, l.value.asInstanceOf[Number].longValue)).toSet)
      else None
    set.fold(df(column).isin(values: _*))(s =>
      ColumnBridge.column(InSet(ColumnBridge.expression(df(column)), s)))
  }

  /** `df`'s rows when it has at most `max` of them, else None: what every
    * fast-path probe collects. One job over every partition, and the
    * driver receives at most `max` + partitions rows however large the
    * result: each partition counts its rows up to `max`+1 and ships them
    * only when they fit its share, ceil((`max`+1) / partitions); a
    * partition past its share ships just its count. An overflowing
    * result is thus known without being shipped. When a skewed result
    * fits `max` but some partition held more than its share, a second
    * job fetches exactly those partitions, whose counts are then exact.
    * (A global `limit(n)` would plan a CollectLimit: one partition in a
    * first job, the rest in a second, each partition shipping n rows.)
    */
  private[closure] def collectAtMost(df: DataFrame, max: Long): Option[Array[Row]] = {
    import scala.jdk.CollectionConverters._
    val overShare = df.sparkSession.sparkContext.collectionAccumulator[(Int, Long)]
    def run(f: Iterator[Row] => Iterator[Row]): Array[Row] =
      df.mapPartitions(f)(Encoders.row(df.schema)).collect()
    val rows = run(shareOf(max, overShare))
    val counts = overShare.value.asScala.toMap
    val rest = counts.values.sum
    if (rows.length + rest > max) None
    else if (counts.isEmpty) Some(rows)
    // a count mismatch means the scan's partitions changed in between
    else Some(run(partitionsOf(counts))).filter(_.length == rest).map(rows ++ _)
  }

  /** One partition's rows when they fit its share of `max`, else none
    * and its row count (up to `max`+1) in `overShare`. */
  private def shareOf(max: Long, overShare: CollectionAccumulator[(Int, Long)])(
      rows: Iterator[Row]): Iterator[Row] = {
    val task = TaskContext.get()
    val share = (max + task.numPartitions()) / task.numPartitions()
    val held = scala.collection.mutable.ArrayBuffer.empty[Row]
    var n = 0L
    while (n <= max && rows.hasNext) {
      val r = rows.next()
      if (n < share) held += r
      n += 1
    }
    if (n <= share) held.iterator
    else { overShare.add((task.partitionId(), n)); Iterator.empty }
  }

  /** The rows of the partitions in `counts`, each up to its count. */
  private def partitionsOf(counts: Map[Int, Long])(rows: Iterator[Row]): Iterator[Row] =
    counts.get(TaskContext.getPartitionId()).fold(Iterator.empty[Row])(n => rows.take(n.toInt))

  /** Where the driver-local fast path stopped ([[tryRunAllLocal]]). */
  private[closure] sealed trait LocalOutcome
  /** One result table of a finished fast path: its key set (in the pk
    * columns' `keySchema`) and the complete row multiset of those keys
    * (in the source table's `schema`).
    */
  private[closure] final case class LocalTable(keySchema: StructType,
      keys: Seq[Seq[Any]], schema: StructType, rows: Seq[Row])
  /** Finished within budget: every result table, and the rows the run
    * collected. */
  private[closure] final case class LocalDone(spark: SparkSession,
      tables: Map[String, LocalTable], collected: Long) extends LocalOutcome {
    def keys: Map[String, DataFrame] = tables.map { case (t, lt) =>
      t -> localDf(spark, lt.keySchema, lt.keys.map(Row.fromSeq)) }
  }

  /** A local relation of driver-held rows. */
  private[closure] def localDf(spark: SparkSession, schema: StructType,
      rows: Iterable[Row]): DataFrame = {
    val list = new java.util.ArrayList[Row](rows.size)
    rows.foreach(list.add)
    spark.createDataFrame(list, schema)
  }
  /** Aborted after completing the iterations before `depth`. Per table
    * (key set, exact size): `expanded` result keys have had every
    * expansion run, `frontier` result keys (fresh at `depth`) have had
    * none; `expanded` lists every result table, empty sets included.
    * preSeen keys are not shipped (the distributed side re-reads them);
    * `preSizes` are their exact distinct counts.
    */
  private[closure] final case class LocalHandoff(depth: Int,
      expanded: Map[String, (DataFrame, Long)],
      frontier: Map[String, (DataFrame, Long)],
      preSizes: Map[String, Long]) extends LocalOutcome
  /** Aborted before the first iteration boundary: start from the seeds. */
  private[closure] case object LocalRestart extends LocalOutcome

  /** Control-flow signal: the local fast path hit its row budget or an
    * unsupported shape — fall back to the distributed BFS. Stackless:
    * thrown on expected paths, never diagnostic.
    */
  private[closure] final class FastPathAbort(why: String)
    extends RuntimeException(why, null, false, false)
}
