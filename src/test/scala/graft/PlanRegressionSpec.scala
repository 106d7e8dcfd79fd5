package graft

/** Structural plan-shape regression guard: the scale claims that the
  * verdict-level plan audits check by hand, pinned as assertions so a
  * future edit that degrades a plan (a dropped broadcast hint, an
  * accidental cross join, a lost top-k pushdown) fails `sbt test`
  * instead of a benchmark round later. Plans are built (not executed)
  * against sf0.001 for every registered query.
  */
class PlanRegressionSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val plans: Map[String, String] = {
    // AQE defers codegen collapse to runtime and wraps everything in
    // AdaptiveSparkPlan — audit the STATIC plan (execution keeps AQE).
    val old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries.map { case (name, fn) =>
      name -> fn(spark, sfDir).queryExecution.executedPlan.toString()
    } finally spark.conf.set("spark.sql.adaptive.enabled", old)
  }

  test("no query plans a cartesian product or nested-loop join") {
    // Exceptions where the quadratic shape IS the operator's contract:
    // the brute-force similarity baselines score queries x corpus by
    // definition, the stale-sweep joins a one-row cutoff frame, and
    // the stats-then-apply queries (BM25 corpus stats, histogram
    // min/max, IQR quartiles) cross-join a ONE-ROW broadcast stats
    // frame (O(1) build side by construction).
    // sim_pq_store_takedown / sim_pq_rerank_topk probe UNROUTED (the
    // recall-audit path — every live code row ADC-scored per query);
    // the routed probe is pinned hash-join-only below, via
    // sim_ivfpq_store_topk's absence from this list.
    val intended = Set("sim_cosine_topk_brute", "sim_int8_topk",
      "sim_pq_adc_topk", "sim_pq_store_upsert_topk", "sim_pq_recall_at_k",
      "sim_pq_store_takedown", "sim_pq_rerank_topk",
      "c14_stale_cutoff_sweep", "search_bm25_topk",
      "search_bm25_index_topk", "search_bm25_index_upsert",
      "search_bm25_index_delete", "search_bm25_index_vacuum",
      "search_more_like_this",
      // rm3's quadratic shape is the one-row stats cross-join of its
      // two BM25 stages; the feedback/expansion joins are broadcast
      // hash joins on doc_id/term.
      "search_rm3_expansion",
      // snippet's quadratic shape is bm25TopK's one-row stats
      // cross-join (inherited); the snippet fetch itself is a
      // broadcast HASH join on the k winning ids.
      "search_snippet_topk",
      "search_hybrid_rrf", "search_hybrid_rrf_multiprobe",
      "search_hybrid_rrf_auto", "search_hybrid_rrf_pq",
      // the rerank/passage hybrids' quadratic shape is ONLY the BM25
      // side's one-row stats cross-join (like every hybrid above);
      // their dense sides are routed hash-join probes, pinned
      // broadcast below. sim_pq_store_stats cross-joins its two
      // ONE-ROW aggregate frames (live/tombstone agg x rows_total).
      "search_hybrid_rrf_pq_rerank", "search_hybrid_passage_rrf",
      "sim_pq_store_stats",
      "search_bm25_index_bucketed", "agg_histogram_price",
      "pl_iqr_outliers", "txt_unigram_logprob",
      "pl_training_data_filter_v2",
      // pl_quality_borda inherits unigramLogprob's one-row total-
      // tokens stats cross-join (same shape as txt_unigram_logprob).
      "pl_quality_borda",
      // search_eval_ndcg / search_eval_mrr: bm25TopK's one-row stats
      // cross-join, inherited by the stacked per-(doc, term) scoring.
      // search_qld_topk: the same one-row stats shape (collection
      // frequencies instead of document frequencies).
      "search_eval_ndcg", "search_eval_mrr", "search_qld_topk",
      // dd_cross_source_overlap: the estimator pair frame IS the
      // #sources^2/2 product of two #sources-row AGGREGATE frames
      // (MinHash signatures) — O(strata^2) by contract, corpus-size
      // independent; the corpus-scale work (shingling, signatures,
      // exact intersection) is all hash-aggregate/hash-join.
      "dd_cross_source_overlap",
      // pl_mad_outliers: two ONE-ROW broadcast stats frames (median,
      // then MAD), the same stats-then-apply shape as the IQR gate.
      // pl_distribution_drift: the ECDF grid cross-joins the distinct
      // VALUE frame with the BROADCAST per-stratum totals (rows =
      // #strata, tiny by construction; the values side is domain-
      // bounded, not corpus-bounded).
      "pl_mad_outliers", "pl_distribution_drift",
      // agg_market_basket_lift: cross-joins the ONE-ROW basket-total
      // frame into the pair stats (stats-then-apply shape); the pair
      // generation itself is per-basket local, no quadratic join.
      "agg_market_basket_lift",
      // pl_quality_classifier_nb: the 16-row weight frame cross-joins
      // the ONE-ROW class-totals frame (train side); scoring is a
      // broadcast hash join on the bucket id.
      "pl_quality_classifier_nb",
      // txt_chi2_terms: the df-bounded contingency frame cross-joins
      // the ONE-ROW class-totals frame (stats-then-apply shape).
      "txt_chi2_terms",
      // pl_classifier_eval_split / pl_classifier_calibration: the NB
      // train side's one-row class-totals cross-join (same shape as
      // the classifier).
      // agg_decayed_user_value: one-row max-week frame cross-join.
      // pl_skew_report: one-row key-stats frame cross-join.
      // search_eval_rank_corr: inherits both rankers' one-row stats
      // cross-joins, plus the <= k^2/2 rank-pair join over the two
      // top-20 lists' intersection (corpus-independent by
      // construction) and the one-row n_common frame.
      "pl_classifier_eval_split", "agg_decayed_user_value",
      "pl_classifier_calibration", "pl_skew_report",
      "search_eval_rank_corr",
      // txt_tfidf_top_terms: one-row corpus-count frame cross-join.
      "txt_tfidf_top_terms",
      // dd_lsh_recall_eval: three ONE-ROW count frames cross-joined
      // into the single eval row (the corpus-scale work — signatures,
      // banding, blocked verify — is all hash-aggregate/hash-join).
      "dd_lsh_recall_eval",
      // txt_collocation_pmi / agg_dow_uniformity: one-row totals
      // frame cross-joins (stats-then-apply shape).
      "txt_collocation_pmi", "agg_dow_uniformity",
      // agg_sample_estimate_audit: two ONE-ROW stats frames (exact vs
      // sample) cross-joined into the single audit row.
      "agg_sample_estimate_audit",
      // search_passage_learned_rerank: the ONE-ROW normal-equation
      // frame (closed-form least-squares fit over the kCand candidate
      // half) cross-joins back over the kCand candidates - the
      // stats-then-apply shape; candidate nomination itself is the
      // routed broadcast-hash ADC probe, pinned below.
      "search_passage_learned_rerank")
    val bad = plans.collect {
      case (n, p) if !intended(n) && (p.contains("CartesianProduct") ||
        p.contains("BroadcastNestedLoopJoin")) => n
    }
    assert(bad.isEmpty, s"quadratic join shapes in: ${bad.mkString(", ")}")
  }

  test("explicitly broadcast small sides stay broadcast") {
    // These operators call broadcast() by design — SF-independent.
    // sim_ivfpq_store_topk: the cell-ROUTED standing-store probe must
    // stay a broadcast HASH join on the cell id — if it ever degrades
    // to the unrouted cross join, the cartesian sweep above also trips.
    Seq("pl_decontaminate", "pl_ingest_content_dedup",
      "join_broadcast_geo_rollup", "sim_ann_store_roundtrip",
      "sim_ann_multiprobe", "agg_cms_heavy_hitters",
      "sim_ivfpq_store_topk", "search_hybrid_rrf_pq",
      "search_hybrid_rrf_pq_rerank", "search_passage_topk",
      // search_passage_learned_rerank is NOT pinned here: its
      // candidate nomination (the same broadcast ADC probe as the
      // rerank sibling) executes behind an eager checkpoint of the
      // kCand-row feature frame, so the final plan legitimately shows
      // only the post-checkpoint scoring stage.
      "search_hybrid_passage_rrf",
      "search_passage_rerank_topk").foreach { q =>
      assert(plans(q).contains("BroadcastHashJoin"),
        s"$q lost its broadcast join")
    }
  }

  test("limit+order queries keep the TakeOrderedAndProject pushdown") {
    Seq("topk_orders_by_price", "o1_job_pick_top1").foreach { q =>
      assert(plans(q).contains("TakeOrderedAndProject"),
        s"$q lost its top-k pushdown")
    }
  }

  test("scan-predicate queries keep parquet filter pushdown") {
    // Queries filtering plain scanned columns (derived-expression
    // predicates like f10's length() are legitimately not pushable).
    Seq("q3_shipping_priority", "q5_local_supplier_volume").foreach { q =>
      assert("PushedFilters: \\[[^\\]]".r.findFirstIn(plans(q)).nonEmpty,
        s"$q lost parquet filter pushdown")
    }
  }

  test("scd2 builds its whole history on one hash exchange") {
    // Both windows (change detection, interval bounds) must share the
    // user_id partitioning; the only other exchange is the final sort.
    val hashExchanges = "Exchange hashpartitioning".r
      .findAllIn(plans("scd2_user_state_history")).length
    assert(hashExchanges == 1,
      s"scd2 shuffled $hashExchanges times (want 1)")
  }

  test("sessionize shares one user_id exchange across windows and agg") {
    // lag-window, running-sum window and the session aggregation must
    // all reuse the user_id hash partitioning — one exchange total.
    val hashExchanges = "Exchange hashpartitioning".r
      .findAllIn(plans("win_sessionize_gap")).length
    assert(hashExchanges == 1,
      s"sessionize shuffled $hashExchanges times (want 1)")
  }

  test("as-of joins stay union+window: each row shuffles once, no join") {
    // The union-tag formulation plans one hash exchange per union
    // branch (every input row crosses the network exactly once) and NO
    // equi-join — a join+filter rewrite would explode on hot keys. The
    // tolerance variant adds one more exchange for its staleness
    // re-window.
    for ((name, maxHash) <- Seq(
        "join_asof_purchase_before_click" -> 2,
        "join_asof_click_after_purchase" -> 2,
        "join_asof_tolerance_48h" -> 3)) {
      val p = plans(name)
      val hashExchanges =
        "Exchange hashpartitioning".r.findAllIn(p).length
      assert(hashExchanges <= maxHash,
        s"$name shuffled $hashExchanges times (want <= $maxHash)")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$name planned a key join — union+window formulation lost")
    }
  }

  test("chunking is narrow and mixture take shuffles once") {
    // Sliding-window chunking is tokenize + arithmetic + explode —
    // any hash exchange means the narrow shape regressed; the mixture
    // budget take is exactly its one running-sum exchange on source.
    val chunkEx = "Exchange hashpartitioning".r
      .findAllIn(plans("pl_chunk_sliding_windows")).length
    assert(chunkEx == 0, s"chunking shuffled $chunkEx times (want 0)")
    val mixEx = "Exchange hashpartitioning".r
      .findAllIn(plans("pl_mixture_budget_take")).length
    assert(mixEx == 1, s"mixture take shuffled $mixEx times (want 1)")
  }

  test("column profiler reads its table exactly once") {
    val p = plans("pl_column_profile")
    // Both "Scan parquet" and "FileScan parquet" lines contain this.
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"profiler scanned $scans times (want 1)")
    assert(p.contains("Expand"),
      "multi-distinct lost its single-pass Expand rewrite")
  }

  test("bloom prefilter probes on the scan side before the join") {
    // The probe predicate (xxhash64 against the literal word array)
    // must sit in a Filter below the semi join, not after it.
    val p = plans("join_bloom_prefilter")
    assert(p.contains("xxhash64"), "bloom probe predicate missing")
    val probeAt = p.indexOf("xxhash64")
    val joinAt = p.indexOf("LeftSemi")
    assert(joinAt >= 0 && probeAt > joinAt,
      "probe filter not below the semi join in the plan tree")
  }

  test("blocked-jaccard keeps the witness dedup (no pair-distinct exchange)") {
    val p = plans("dd_jaccard_blocked_pairs")
    assert(p.contains("sorted_inter_min"),
      "witness filter (min-shingle kernel) missing from the plan")
    // The deleted distinct() would reappear as an aggregate keyed on
    // the candidate pair (a, b).
    assert(!"HashAggregate\\(keys=\\[a#\\d+L, b#\\d+L\\]".r
      .findFirstIn(p).isDefined,
      "candidate-pair distinct exchange is back")
  }

  test("simhash pairs keep the witness dedup (no pair-distinct exchange)") {
    // A pair matching k bands is emitted k times; the min-matching-band
    // witness filter keeps exactly one in-row. A reintroduced
    // .distinct() would plan as an aggregate keyed on the pair (a, b).
    val p = plans("dd_simhash_pairs")
    assert(!"HashAggregate\\(keys=\\[a#\\d+L, b#\\d+L".r
      .findFirstIn(p).isDefined,
      "simhash pair-distinct exchange is back")
    // The witness bit-test chain compiles to the band CASE over the XOR.
    assert(p.contains("CASE WHEN"),
      "min-matching-band witness filter missing from the plan")
  }

  test("minhash LSH candidates keep the witness dedup (no pair-distinct exchange)") {
    // A pair agreeing in k bands meets once per matching band; each
    // side carries its band-key array and the min-matching-band filter
    // (array_position over the zipped equality) keeps exactly one
    // emission in-row. A reintroduced .distinct() would plan as an
    // aggregate keyed on the candidate pair (a, b). (dd_neardup_clusters
    // shares the same candidate chain but its final plan reads from the
    // connected-components checkpoint, so the candidate stage is not
    // visible to pin there.)
    Seq("dd_minhash_lsh_pairs", "dd_incremental_lsh").foreach { q =>
      val p = plans(q)
      assert(!"HashAggregate\\(keys=\\[a#\\d+L, b#\\d+L".r
        .findFirstIn(p).isDefined,
        s"$q: minhash candidate pair-distinct exchange is back")
      assert(p.contains("array_position"),
        s"$q: min-matching-band witness filter missing from the plan")
    }
  }

  test("LSH banding keeps the transform-wrapped explode (no bare posexplode)") {
    // lshBandsFromKeys must generate via explode(transform(band_keys,…)),
    // never posexplode(band_keys): with a bare posexplode over the
    // unmaterialized band-key projection, whole-stage codegen re-evaluates
    // the 16-md5 band-key array (and the minhash signature under it)
    // inside the per-output-row Generate loop — the measured 27× BENCH_r11
    // regression. This string pin is timing-insensitive: the bad shape
    // prints `posexplode(band_keys…)` in the executed plan.
    Seq("dd_minhash_lsh_pairs", "dd_incremental_lsh").foreach { q =>
      assert(!plans(q).contains("posexplode"),
        s"$q: bare posexplode banding shape is back (codegen " +
          "re-evaluates the band keys per output row)")
    }
  }

  test("partitioned ANN probe plans dynamic partition pruning") {
    // The bucket-partitioned layout exists so the probe reads only the
    // probed buckets' directories: the scan's partition filters must
    // carry a dynamic pruning expression fed by the broadcast queries.
    assert(plans("sim_ann_partitioned_topk").contains("dynamicpruning"),
      "bucket partitions not dynamically pruned")
    // The auto-routed hybrid probe must have TAKEN the partitioned
    // route (its build asserts the snapshot fresh): a generational
    // fallback would still answer correctly but silently drop the DPP
    // scan this query exists to keep under the wall.
    assert(plans("search_hybrid_rrf_auto").contains("dynamicpruning"),
      "auto-routed hybrid ANN side did not take the partitioned route")
  }

  test("bucketed index probe plans no exchange on the postings side") {
    // The term-bucketed layout exists so the probe's term filter and
    // df aggregate read pre-hashed buckets: bucket pruning must show
    // in the scan and no hash exchange on term may reappear (the
    // sorted-parquet probe pays one). The only hashpartitioning left
    // is the final per-doc score sum.
    val p = plans("search_bm25_index_bucketed")
    assert(p.contains("SelectedBucketsCount"),
      "bucket pruning missing from the bucketed postings scan")
    assert(!"Exchange hashpartitioning\\(term".r.findFirstIn(p).isDefined,
      "bucketed probe re-shuffled postings on term")
    // The phrase probe over the same layout: its fold joins on doc_id,
    // so the planner rightly auto-disables the bucketed scan (nothing
    // consumes the term distribution) — but the term predicate must
    // still push into the parquet scan.
    assert("PushedFilters: \\[[^\\]]*In\\(term".r
      .findFirstIn(plans("search_phrase_index_bucketed")).nonEmpty,
      "bucketed phrase probe lost its term pushdown")
  }

  test("every query stays inside whole-stage codegen somewhere") {
    // A plan with zero codegen spans has fallen off the Tungsten path
    // entirely (an interpreted expression or object-only pipeline).
    val bare = plans.collect {
      case (n, p) if !p.linesIterator.exists(_.contains("*(")) => n
    }
    // mapPartitions-only pipelines (multimodal decode) legitimately
    // run as object pipelines end-to-end; everything else must not.
    val allowed = bare.filter(_.startsWith("mm_"))
    assert((bare.toSet -- allowed).isEmpty,
      s"no codegen span in: ${(bare.toSet -- allowed).mkString(", ")}")
  }
}
