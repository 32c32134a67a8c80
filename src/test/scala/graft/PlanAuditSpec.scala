package graft

/** Enforced form of PLANS.md: the physical plan of each tuned query must
  * keep its expected `Scan parquet` count. A higher count means a shared
  * subtree got duplicated and is being recomputed — exactly the r3
  * `minhash_pairs` regression (the signature pipeline planned twice under
  * a BroadcastExchange, 2× the query's cost) this spec exists to catch
  * at test time instead of at the bench.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // query -> exact expected number of parquet scan nodes (see PLANS.md)
  private val expected = Seq(
    "minhash_pairs" -> 1, // ONE documents scan: no banded self-join
    "jaccard_pairs" -> 1, // word-hash projection persisted, not recomputed
    "embed_dup_pairs" -> 1, // SRP sig projection persisted; candidates +
                            // both verify joins read the cache
    "dup_spans" -> 1,     // linear window pipeline, no join-backs
    "simhash" -> 1,
    "dedup_exact" -> 1,
    "doc_fingerprint" -> 1,
    "events_funnel" -> 1,  // three windows share one exchange
    "events_transitions" -> 1,
    "shuffle_shard" -> 1,  // no global sort, no second scan
    "pack_chunks" -> 1,
    "train_test_split" -> 1,
    "knn_brute" -> 2,      // base + broadcast query side
    "ann_ivf" -> 2,        // corpus + probe side; assignment is a top-1
                           // over the broadcast centroids, never a join
    "pq_topk" -> 2,        // corpus + query side; encode fold over the
                           // codebook literal, ADC via broadcast LUT
    "ann_ivf_pq" -> 2,     // ONE corpus pass computing cell + codes
                           // together, plus ONE filter-pushed tiny
                           // query-side scan (probes x LUT chained off
                           // a single scan since r17); the composition
                           // must NOT add a corpus re-scan over
                           // pq_topk's shape
    "ann_rerank" -> 4,     // the ann_ivf_pq subtree (2) + the exact
                           // re-rank stage's candidate-fetch scan + the
                           // query-vector scan; the re-rank must join a
                           // BROADCAST shortlist, never re-derive stage
                           // 1/2 or scan the corpus a third time
    "q7_nation_volume" -> 6, // nation self-aliased twice by design
    "q5_region_revenue" -> 6,
    "multimodal_resize" -> 1,
    "pii_redact" -> 1,
    "quality_repetition" -> 1,
    "lang_id" -> 1,
    "text_stats" -> 1,
    "events_anomaly" -> 1, // daily rollup persisted: spine + fill share it
    "source_mix" -> 1,     // per-source rollup persisted: cap + projection
    "source_temperature" -> 1, // same persisted rollup; both scalars
                               // (total, normalizer) read the cache
    "skew_salted_agg" -> 1,
    "hybrid_search_rrf" -> 4, // bm25 leg's 2 documents scans + dense leg's
                              // corpus scan + 1-row broadcast query vector;
                              // fusion joins two ≤20-row TakeOrdered legs,
                              // never a corpus-width subtree twice
    "bm25_search" -> 2,    // token stream + the 2-scalar (N, sum_dl) branch:
                           // re-scanning for two numbers beats persisting
                           // the tokenized corpus to share one pass
    "tfidf_top_terms" -> 2, // same shape: tf stream + broadcast n_docs scalar
    "events_session" -> 1,
    "decontaminate" -> 2,  // corpus + broadcast eval shingles
    "corpus_curation" -> 2, // ONE documents scan for the quality
                            // projection + ONE parquet read of the
                            // persisted ClusterIndex (r8: assignments no
                            // longer recomputed inline — a 3rd scan here
                            // means the CC pipeline crept back in)
    "semdedup" -> 1,       // ranked (cell,rank,v) projection persisted once;
                           // the pair join's both sides and the keep-flag
                           // join all read that cache; assignment is a
                           // top-1 over the broadcast centroids, never a join
    "chunk_overlap" -> 1,  // per-doc explode, no join-backs
    "table_profile" -> 1,  // ONE scan + one aggregate for every metric;
                           // the result row explodes per column — never a
                           // union of per-column re-scans (approx NDV:
                           // TableProfileSpec pins the plan has NO Expand)
    "table_profile_exact" -> 1, // same single-scan shape, exact NDV via Expand
    "text_normalize" -> 1,  // pure projection
    "quality_classifier" -> 1, // hashed-bag inference is a projection —
                               // a vocabulary join appearing here means the
                               // fastText shape regressed
    "scd2_state" -> 1,      // gaps-and-islands on ONE user_id exchange
    "k_anonymity" -> 1,     // one hash-shuffle agg
    "skew_report" -> 1,     // counts scanned once; the two scalars are a
                            // broadcast side, not a re-scan
    "dedup_incremental" -> 0, // the narrow (doc_id,is_old,fp,sig) checkpoint
                             // is the ONLY source: all three consumers read
                             // the RDD leaf; any LogicalRelation here means
                             // the single-scan discipline regressed
    "split_leakage_safe" -> 2, // documents keys + the persisted
                               // ClusterIndex read; the CC fixpoint must
                               // NOT be recomputed to assign folds
    "dedup_clusters_persisted" -> 1, // a bare parquet read of the index
    "dedup_cross_source" -> 3, // sig pipeline scan + the 2-column source
                               // projection once per pair endpoint; a 4th
                               // scan means the pair subtree duplicated
    "bucketed_join" -> 2,      // the two bucketed catalog tables, nothing
                               // else — the join must not re-scan raw
                               // parquet behind the bucketed copies
    "bpe_top_pairs" -> 1,      // one corpus scan; counting is partial-agg
    "kmeans_train" -> 0,       // training runs eagerly at build time; the
                               // registered output is the checkpointed
                               // final assignment (an RDD leaf) — a
                               // LogicalRelation here means the corpus
                               // crept back into the output plan
    "ann_ivf_trained" -> 2,    // corpus + broadcast probe side, same as
                               // ann_ivf: the trained centroids are a
                               // bounded literal/broadcast model, never a
                               // third scan
    "zorder_layout" -> 2,      // lineitem + the scalar bounds agg scan
    "drift_psi" -> 2,          // events + the scalar bounds agg scan
    "range_partition_bounds" -> 3, // lineitem + bounds agg + the bounds
                               // re-read in the final split-key projection
    "partition_plan" -> 4,     // one aggregation scan per planned table
    "pagerank_supply" -> 0,    // the ranking runs through the persisted
                               // degree-joined edge cache and checkpoints
                               // its 20-row result — a LogicalRelation
                               // here means the corpus re-entered the
                               // output plan

    "cdc_chunks" -> 1,         // carve is a per-doc projection; one scan
    "quality_calibrate" -> 1,  // quality projection + one source window
    "corr_matrix" -> 1,        // all 15 moments in one aggregate pass
    "golden_record" -> 2,      // documents + the persisted ClusterIndex;
                               // a 3rd scan means the CC loop crept back
    "curation_report" -> 2,    // same pair as golden_record
    "ann_join" -> 2,           // corpus side + query side; cells come from
                               // the broadcast centroids, never a join
    "q8_market_share" -> 8,    // 7 tables with nation scanned twice (two
                               // dimension roles) — all dims broadcast
    "lsh_param_plan" -> 0,     // bounded scalar math, no table access
    "dsir_select" -> 2,        // model pass + scoring pass; the persisted
                               // B-row model serves totals AND λ from one
                               // cache — 3 scans means it unpersisted
    "q19_disjunctive" -> 2,    // lineitem + broadcast part; the OR stays a
                               // residual — extra scans mean it exploded
                               // into a union of per-branch joins
    "q14_promo_share" -> 3,    // fact + date-pruned orders + part; both
                               // sums share one conditional aggregate
    "q12_late_buckets" -> 2,   // fact join + one conditional aggregate
    "events_changepoint" -> 1, // one (type, day) aggregate; windows +
                               // argmax on calendar-bounded rows
    "events_ewma" -> 1,        // daily rollup persisted? no — one scan,
                               // the lag join is rollup × rollup
    "ab_assign" -> 1,          // everything in one conditional aggregate
    "source_entropy" -> 1,
    "drift_psi_daily" -> 1,    // the persisted (day,bin) rollup subsumes
                               // both the bounds scalar and the bin pass;
                               // grid + dense + lag all read the cache

    "market_basket" -> 1,      // the distinct (basket, brand) projection
                               // persists once and feeds all three
                               // consumers (basket count, supports,
                               // pairs); 25-row support sides broadcast
    "events_acf" -> 1,         // daily rollup persisted; both lag-join
                               // sides read the cache
    "classifier_auc" -> 1,     // one documents scan to the bounded score
                               // histogram; rank window runs on that
    "benford_audit" -> 1,      // orders rollup persisted; digit frame is
                               // a literal explode on the 1-row total
    "cms_user_counts" -> 1,    // per-user rollup persisted; counters,
                               // top-10, and probe hashes all read it
    "feature_mi" -> 1,         // one corpus aggregate; marginals are
                               // windows over the bounded cell table
    "events_mad" -> 1,         // daily rollup persisted; both median
                               // aggregates and join-backs read it
    "pareto_abc" -> 1,         // one fact scan to the part rollup;
                               // rank/cum windows and the class
                               // aggregate run on that bounded frame
    "events_theilsen" -> 1,    // daily rollup persisted; both pair
                               // sides read the cache
    "supplier_hhi" -> 3,       // fact + two broadcast dims; shares and
                               // HHI on the supplier rollup
    "same_day_orders" -> 1,    // one keyed aggregate with HAVING
    "survival_km" -> 2,        // durations scan + the broadcast
                               // max-date scalar; risk/product-limit
                               // windows run on the bounded gap hist
    "gini_nation" -> 3,        // orders rollup + two broadcast dims
    "classifier_calibration" -> 1, // one corpus scan to ≤10 bins
    "nb_lang_classify" -> 3,   // model-build scan + inference-token
                               // scan + column-pruned prior scan;
                               // vocab model persisted (totals derive
                               // from it, never a 4th token pass)
    "readability" -> 1,        // pure projection
    "bootstrap_ci" -> 2,       // point-estimate scan + the B=100
                               // replicate scan (one pass, bounded
                               // explode)
    "ks_drift" -> 2,           // events scan + broadcast date bounds;
                               // cumulative windows on the bounded
                               // cents histogram
    "trimmed_mean" -> 1,       // one type-keyed exchange serves both
                               // rank windows and the aggregate
    "reciprocal_best" -> 1,    // ONE persisted fact rollup; both argmax
                               // aggregates and the reciprocal join
                               // read the cache
    "degree_dist" -> 0,        // edges AND degrees fold off
                               // localCheckpoint leaves — a
                               // LogicalRelation here means the corpus
                               // distinct re-entered the output plan
    "cohort_ltv" -> 2,         // cohort cells + the broadcast cohort
                               // sizes; windows on the bounded grid
    "bounce_rate" -> 1,        // one user-keyed exchange serves lag,
                               // island sum, and entry rank
    "kcore_peel" -> 0,         // rounds run through the persisted edge
                               // cache onto checkpointed survivor sets;
                               // the output plan is the 4-row union of
                               // leaf aggregates
    "audience_overlap" -> 1,   // one distinct (user,type) incidence,
                               // persisted; pairs + totals fold off it
    "discount_elasticity" -> 2, // fact + broadcast part dim; all five
                               // moments in one aggregate pass
    "touch_attribution" -> 2,  // purchase side + touch side of the one
                               // range join; all three credit models
                               // share the purchase exchange
    "forecast_eval" -> 1,      // the persisted daily rollup is both
                               // actual and (shifted) forecast
    "bloom_join" -> 3,         // prefiltered fact + exact-join customer
                               // side + broadcast nation; the sketch
                               // build is an eager action, not a plan
                               // subtree
    "pca_power" -> 1,          // ONE moment pass; the unrolled power
                               // steps are column arithmetic on the
                               // 1-row aggregate — no joins, no loops
    "token_pmi" -> 2,          // the capped incidence is persisted
                               // (both pair sides read the cache) +
                               // the n_docs scalar scan
    "revenue_retention" -> 1,  // one (customer,month) rollup persisted;
                               // shift, base totals and the flag join
                               // all read the cache
    "containment_pairs" -> 1,  // one shingle projection persisted feeds
                               // the index's both sides + set sizes
    "forecast_interval" -> 1,  // same persisted rollup is actual,
                               // forecast, and the date bound
    "embed_standardize" -> 1,  // the moment pass runs eagerly into a
                               // checkpointed 1-row leaf; the final
                               // plan scans only the outlier pass
    "simpson_check" -> 1,      // ONE persisted joined projection feeds
                               // both the stratified and the overall
                               // moment aggregates
    "seasonal_decompose" -> 1, // persisted daily rollup; all three
                               // component windows run on it
    "activity_streaks" -> 1,   // one user-keyed exchange; islands are
                               // a rank + aggregate, top-20 TakeOrdered
    "rolling_active_users" -> 2, // the distinct incidence + its 1-row
                               // date-bound scan; coverage explode is a
                               // bounded ×7 of the incidence
    "order_reconcile" -> 2,    // line rollup + header scan, one join
    "ship_latency" -> 2,       // fact + header join; percentiles are
                               // conditional mins on one rank exchange
    "ab_srm" -> 1,             // Spark reuses ONE exchange for the
                               // per-type incidence and the per-user
                               // overall distinct (ReusedExchange)
    "dedup_time_window" -> 1,  // one (user,type) lag exchange
    "revenue_waterfall" -> 1,  // the persisted (customer,month) rollup
                               // is both sides of the full-outer shift
    "centroid_distances" -> 1, // one posexplode aggregate, persisted;
                               // the pair fold reads the cache twice
    "mix_variance" -> 3,       // fact + broadcast part + the 1-row
                               // date-bounds scan
    "growth_accounting" -> 1,  // the persisted (user,week,first_wk)
                               // incidence is both sides of the shift
    "hits_scores" -> 0,        // rounds run through the persisted edge
                               // cache onto checkpointed score tables;
                               // the output is two TakeOrdered leaves
    "anomaly_ensemble" -> 1,   // one persisted daily rollup feeds all
                               // three detectors
    "dedup_cluster_profile" -> 1, // a bare parquet read of the
                               // persisted ClusterIndex
    "window_dist" -> 1,        // all four distribution windows share
                               // one type-keyed exchange
    "text_burstiness" -> 2,    // token moments + the n_docs scalar
    "boilerplate_detect" -> 1, // prefix projection; mode on the
                               // bounded (source,prefix) rollup
    "return_rates" -> 2,       // fact + broadcast part; Wilson closes
                               // on the ≤|brands| aggregate
    "media_dup_groups" -> 1,   // one decode+resize pass, one
                               // fingerprint shuffle
    "peak_concurrency" -> 1,   // one user exchange builds the persisted
                               // sessions; boundary rows, the day-carry
                               // aggregate, and the day-partitioned
                               // sweep all read that cache
    "revenue_drawdown" -> 1,   // two cumulative windows on the daily
                               // rollup
    "embed_outliers" -> 1,     // moment pass checkpointed to a 1-row
                               // leaf; the plan scans the scoring pass
    "weekday_anova" -> 1,      // daily rollup → 7-group moments →
                               // per-type scalars, one scan
    "zipf_fit" -> 1,           // one token aggregate; rank + moments
                               // on the vocabulary
    "open_order_aging" -> 2,   // filtered fact + the as-of scalar scan
    "char_entropy" -> 1,       // in-row sorted-run histogram: zero
                               // exchange before the final orderBy
    "priority_mix_shift" -> 2, // orders + the date-bounds scalar;
                               // χ² terms on the 5-row cell table

    "fuzzy_dup_pairs_lsh" -> 1, // ONE part scan: name rollup → sigs →
                               // in-bucket pairs, no join-backs
    "link_prediction" -> 0,    // the 2000-edge backbone is an eager
                               // checkpoint leaf; adj/deg/wedges/anti
                               // all read it — a LogicalRelation here
                               // means the corpus agg re-entered the
                               // output plan
    "l_diversity" -> 1,        // one customer hash aggregate
    "unigram_lm_vocab" -> 0,   // usage folds off the checkpointed
                               // segmentation leaf — a LogicalRelation
                               // here means training crept into the plan
    "unigram_tokens" -> 1,     // the documents scan + the broadcast
                               // segmentation leaf (tokenize never
                               // re-runs the DP per occurrence)
    "wordpiece_tokens" -> 1,   // same shape over the greedy pieces
    "tokenizer_compare" -> 2,  // the words scan + the per-doc chars
                               // scan; both encoders come from the one
                               // broadcast segmentation leaf
    "orders_rfm" -> 2,         // the persisted per-customer aggregate +
                               // the LAST rank stage's persisted stamped
                               // intermediate (each rank stage persists
                               // its range-stamped rows; stages 1–2 hide
                               // inside stage 3's cached plan) — more
                               // means a rank stage lost its persist and
                               // its range exchange runs twice

    "kendall_tau" -> 1,        // ONE persisted contingency grid; the
                               // self-join, margins, and total all read
                               // the cache — more means the grid agg
                               // re-entered the plan
    "kruskal_wallis" -> 3,     // orders scanned twice (cells + pooled
                               // histogram, deliberately unpersisted —
                               // cheaper than the persist barriers) +
                               // DistRank's cached range-stamped sweep
    "rouge_pairs" -> 0,        // every consumer (exemplars, gram
                               // aggregates, totals) folds off the ONE
                               // checkpointed split-docs leaf — a
                               // LogicalRelation here means the
                               // documents scan re-entered the plan
    "k_truss" -> 0,            // backbone + every peel round fold off
                               // localCheckpoint leaves — a
                               // LogicalRelation here means the corpus
                               // co-supply agg re-entered the output plan
    "spearman_corr" -> 3,      // persisted per-customer aggregate + the
                               // two DistRank cached sweeps (one per
                               // rank dimension)
    "ngram_llr" -> 1,          // ONE persisted bigram-count table read
                               // by candidates, both margins, and the
                               // total

    "ann_index_search" -> 3    // probed index segment + the query-side
                               // embeddings scan + that same probe subtree
                               // AGAIN inside the dynamic-partition-pruning
                               // subquery (collectWithSubqueries counts it;
                               // DPP re-prunes index partitions by the
                               // join key at runtime — a feature, and the
                               // replicated side is the tiny probe list)
  )

  test("tuned queries keep their expected parquet scan counts") {
    val bad = expected.flatMap { case (name, want) =>
      // count DISTINCT source reads in the optimized logical plan:
      // direct relation leaves, plus each persisted projection ONCE
      // however many operators consume it (n references to one cache =
      // one underlying scan) — while a duplicated un-persisted subtree
      // shows up as extra LogicalRelation leaves
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.optimizedPlan
      val leaves = plan.collectWithSubqueries {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          Left(r)
        case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          Right(m.cacheBuilder.cachedPlan)
      }
      val got = leaves.count(_.isLeft) +
        leaves.collect { case Right(cp) => cp }.distinct.length
      if (got != want) Some(s"$name: $got scans (expected $want)") else None
    }
    spark.catalog.clearCache() // release builder-persisted projections
    assert(bad.isEmpty, "plan regressions (duplicated subtrees?):\n" +
      bad.mkString("\n"))
  }

  // REGISTRY-WIDE bounded-global-window audit. An unpartitioned window
  // moves its whole input through ONE task — fine only when the ordered
  // frame is PROVEN bounded regardless of corpus size. Every query whose
  // optimized plan (including persisted/cached subtrees) contains an
  // unpartitioned window must be adjudicated here with the exact orderBy
  // reference set it is allowed, plus the boundedness argument; any other
  // unpartitioned window — over a metric, a timestamp, a key tiebreak —
  // is a corpus-proportional single-task sort (the r9–r12 scale-killer
  // class: pareto_abc, zipf_fit, orders_rfm all shipped this shape once)
  // and fails the build naming the offender.
  //
  // Bounded-frame classes admitted:
  //   top-k LIMIT — a window whose input subtree is a literal LIMIT is
  //                 bounded by construction (the orderBy+limit+rank
  //                 shortlist idiom: bm25_search, hybrid_search_rrf…);
  //                 detected structurally below, no entry needed
  //   _pid        — one row per shuffle partition (two-phase DistRank
  //                 offsets; |frame| = spark.sql.shuffle.partitions)
  //   calendar    — one row per calendar unit / value bounded by the
  //                 date span, not the corpus (day carry, daily rollup,
  //                 distinct integer gap/latency in days or seconds)
  //   value grid  — a histogram keyed by a quantized metric whose
  //                 distinct-value count is capped by the grid, not the
  //                 corpus (cents grid, 6dp-micros logits, 1024 bins)
  //   literal     — a frame whose row count is a literal in the query
  //                 (B=100 bootstrap replicates, 25-nation aggregate)
  // Anything else needs a new entry AND a SCALE.md §global-windows note.
  private val boundedGlobalWindows: Map[String, Set[String]] = Map(
    "peak_concurrency" -> Set("day"),            // calendar day carry
    "orders_rfm" -> Set("_pid"),                 // DistRank offsets
    "pareto_abc" -> Set("_pid"),                 // DistRank offsets
    "zipf_fit" -> Set("_pid"),                   // DistRank offsets
    "skyline_suppliers" -> Set("_pid"),          // DistRank offsets
    "mannwhitney_u" -> Set("_pid"),              // DistRank offsets
    "bootstrap_ci" -> Set("mean_micros", "r"),   // B=100 replicate means
    "classifier_auc" -> Set("score_micros"),     // ≤2·10⁶+1 micros grid
    "funnel_time_percentiles" -> Set("latency_s"), // distinct int secs ≤ timespan
    "ks_drift" -> Set("cents", "dnum"),          // cents value grid
    "range_partition_bounds" -> Set("bin"),      // 1024 literal bins
    "revenue_drawdown" -> Set("d"),              // calendar daily rollup
    "cusum_changepoint" -> Set("d"),             // calendar daily rollup
    "survival_km" -> Set("t"),                   // distinct gap days ≤ timespan
    "wilcoxon_signed" -> Set("ad"),              // distinct |daily diff| ≤ days
    "window_rank_stats" -> Set("revenue", "n_name"), // 25-nation aggregate
    "lift_curve" -> Set("score_micros"),         // ≤2·10⁶+1 micros grid
    "spearman_corr" -> Set("_pid"),              // DistRank offsets ×2
    "kruskal_wallis" -> Set("_pid"),             // DistRank offsets
    "logrank_test" -> Set("t"))                  // distinct gap days ≤ timespan

  test("registry-wide: unpartitioned windows only order proven-bounded frames") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow,
      LogicalPlan, GlobalLimit, LocalLimit, Project, Filter, Sort}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec,
      TakeOrderedAndProjectExec, CollectLimitExec, ProjectExec, FilterExec,
      SortExec, WholeStageCodegenExec, InputAdapter}

    // a window whose input (through row-preserving-or-shrinking unary
    // nodes) is a literal LIMIT is bounded by construction — the
    // orderBy+limit+rank shortlist idiom
    def limitBoundedL(p: LogicalPlan): Boolean = p match {
      case _: GlobalLimit | _: LocalLimit => true
      case n @ (_: Project | _: Filter | _: Sort) => limitBoundedL(n.children.head)
      case _ => false
    }
    def limitBoundedP(p: SparkPlan): Boolean = p match {
      case _: GlobalLimitExec | _: LocalLimitExec |
           _: TakeOrderedAndProjectExec | _: CollectLimitExec => true
      case n @ (_: ProjectExec | _: FilterExec | _: SortExec |
                _: WholeStageCodegenExec | _: InputAdapter) =>
        limitBoundedP(n.children.head)
      case _ => false
    }

    // unpartitioned-window orderBy key-sets in a PHYSICAL (cached) plan,
    // descending into nested caches — a window hidden behind .persist()
    // must not escape the audit
    def physKeys(p: SparkPlan): Seq[String] = {
      val here = p.collect {
        case w: WindowExec if w.partitionSpec.isEmpty && !limitBoundedP(w.child) =>
          w.orderSpec.map(_.child.references.map(_.name).mkString).mkString(",")
      }
      val nested = p.collect {
        case s: InMemoryTableScanExec => s.relation.cacheBuilder.cachedPlan
      }
      here ++ nested.flatMap(physKeys)
    }

    val names = graft.queries.Registry.queries.keys.toSeq.sorted
    val bad = names.flatMap { name =>
      val allowed = boundedGlobalWindows.getOrElse(name, Set.empty[String])
      val windows = try {
        val plan = SparkEntry.queries(name)(spark, dir)
          .queryExecution.optimizedPlan
        val logical = plan.collectWithSubqueries {
          case w: LWindow if w.partitionSpec.isEmpty && !limitBoundedL(w.child) =>
            w.orderSpec.map(_.child.references.map(_.name).mkString).mkString(",")
        }
        val cached = plan.collectWithSubqueries {
          case m: InMemoryRelation => m.cacheBuilder.cachedPlan
        }
        logical ++ cached.flatMap(physKeys)
      } catch {
        case e: Exception =>
          Seq(s"PLAN BUILD FAILED: ${e.getClass.getSimpleName} ${e.getMessage}")
      }
      windows.collect {
        case keys if !keys.split(",").filter(_.nonEmpty).forall(allowed.contains) =>
          s"$name: unpartitioned window over [$keys]"
      }
    }
    spark.catalog.clearCache()
    assert(bad.isEmpty,
      "corpus-proportional global sort in a registered plan " +
        "(adjudicate in boundedGlobalWindows + SCALE.md, or fix):\n" +
        bad.distinct.mkString("\n"))
  }
}
