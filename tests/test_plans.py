"""Plan-shape regression tests: the scale-critical physical-plan
properties documented in SCALE.md, pinned so a future change cannot
silently regress them. Checked at sf0.001 (plan shapes, not timings)."""

import re

import pytest

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    # full registry, not the curated 50-slot driver subset: plan-shape
    # pins also cover the deliberately-unregistered baselines
    from __spark_entry__ import _configure
    from solana_data_etl_pipeline_spark.plans.suite import all_queries

    fn = all_queries()[name]
    return fn(_configure(spark), SF)._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark):
    cache = {}

    def get(name):
        if name not in cache:
            cache[name] = _plan(spark, name)
        return cache[name]

    return get


ALL_QUERIES = None


def test_no_cartesian_products_anywhere(spark):
    from __spark_entry__ import _configure
    from solana_data_etl_pipeline_spark.plans.suite import all_queries

    _configure(spark)
    offenders = []
    for name, fn in all_queries().items():
        plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert offenders == []


def test_dim_joins_are_broadcast_not_sort_merge(plans):
    # multi-dim star joins must broadcast dims at this scale
    for q in ["region_revenue", "shipping_priority", "big_spenders", "segment_order_stats"]:
        assert "SortMergeJoin" not in plans(q), q
        assert "BroadcastHashJoin" in plans(q), q


def test_asof_and_sessions_single_shuffle(plans):
    # tagged-union as-of and window sessionization: exactly one exchange
    for q in ["asof_attribution", "user_sessions"]:
        assert plans(q).count("Exchange") == 1, q


def test_minhash_pipeline_has_no_aggregate_shuffle_for_signatures(plans):
    # signatures are per-row projections: the only exchanges in the
    # pair pipeline are the band join, the verify joins (pinned to
    # sort-merge -- the candidate side re-partitions on doc_a/doc_b,
    # two exchanges the former borderline broadcast avoided, bought
    # back with interest by not building broadcast relations of the
    # array-payload shingle side; see minhash_lsh_pairs), and one
    # hot-bucket count window per join side; no explode-then-groupBy
    # inverted index survives. A regression to the groupBy+anti-join
    # capping shape doubles the signature scans and pushes this
    # count to 16.
    assert plans("dedup_minhash_lsh").count("Exchange") <= 12


def test_filter_pushdown_reaches_scan(plans):
    pushed = re.findall(r"PushedFilters: (\[[^\]]*\])", plans("pricing_summary"))
    assert any("l_shipdate" in p for p in pushed)


def test_column_pruning_reads_minimal_schema(plans):
    m = re.search(r"ReadSchema: struct<([^>]*)>", plans("top_wallets"))
    assert m is not None
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols <= {"ts", "user_id", "event_type"}


def test_knn_corpus_side_never_shuffles_before_join(plans):
    # probe/query side broadcast; corpus side streams into the join
    for q in ["knn_lsh", "knn_ivf", "knn_bruteforce"]:
        assert "BroadcastExchange" in plans(q), q


def test_rollup_cube_single_expand_single_agg_exchange(plans):
    for q in ["sales_rollup", "order_cube"]:
        p = plans(q)
        assert p.count("Expand") >= 1, q
        assert p.count("Exchange") == 1, q


def test_funnel_is_single_scan(plans):
    # the stage pivot must ride one aggregation, not a union of
    # per-stage selects re-executing the agg (and rescanning events)
    p = plans("event_funnel")
    assert p.count("FileScan") == 1
    assert "Union" not in p


def test_histogram_and_stratified_sample_no_joins_no_sort(plans):
    for q in ["order_value_histogram", "stratified_sample"]:
        p = plans(q)
        assert p.count("Exchange") == 1, q
        assert "Join" not in p, q
        assert "Sort" not in p.replace("SortAggregate", ""), q


def test_small_quantity_revenue_single_lineitem_scan(plans):
    # decorrelated via window avg: one lineitem scan (plus the part
    # dim), not the textbook agg-then-self-join double scan
    assert plans("small_quantity_revenue").count("FileScan") == 2


def test_sketch_rollup_single_pass(plans):
    # ROLLUP grouping sets: Expand + one partial+final agg, one scan
    p = plans("sketch_rollup")
    assert p.count("FileScan") == 1
    assert "Expand" in p
    assert p.count("Exchange") == 1


def test_embedding_dedup_is_bucketed_equijoin(plans):
    # the registered near-dup plan must join on LSH bucket keys -- a
    # cartesian / nested-loop pair generator is a corpus-scale killer
    p = plans("dedup_embedding_cosine")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_embedding_dedup_hot_bucket_cap_in_plan(plans):
    # the registered plan must run CAPPED (max_bucket): a degenerate
    # (table, bucket) group -- e.g. an all-zeros embedding cluster
    # hashing to identical sign bits in every table -- would otherwise
    # go quadratic in the self-join. The cap is a count window over
    # the join keys, so it must not add exchanges beyond the window's
    # own (which the candidate join then reuses).
    p = plans("dedup_embedding_cosine")
    assert "Window" in p
    assert p.count("Exchange") <= 6, p.count("Exchange")


def test_multi_table_lsh_shapes(plans):
    # corpus side must stream into a broadcast join (never shuffle) in
    # knn_lsh; the near-dup self-join must stay an equi-join on
    # (table, bucket) with no nested-loop fallback
    p = plans("knn_lsh")
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    d = plans("dedup_embedding_cosine")
    assert "CartesianProduct" not in d and "BroadcastNestedLoopJoin" not in d


def test_repetition_stats_zero_shuffle_projection(plans):
    # the per-doc repetition signals must stay a pure projection: the
    # sort + longest-equal-run HOF form, not a token explode + groupBy
    p = plans("repetition_stats")
    assert "Exchange" not in p
    assert "Generate" not in p  # no explode anywhere


def test_pack_sequences_single_shard_exchange(plans):
    # one cumulative-sum window partitioned by shard: exactly one
    # exchange (on the shard column), no joins
    p = plans("pack_sequences")
    assert p.count("Exchange") == 1
    assert "Join" not in p


def test_merge_dim_wallets_no_history_rescan_shape(plans):
    # incremental dim merge: broadcast-free full-outer join between two
    # reduced per-wallet aggregates; no cartesian fallback
    p = plans("merge_dim_wallets")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_program_dim_rollup_single_log_scan(spark):
    # eager aggregation pushed below the star join: both join inputs
    # are the SAME per-program aggregate, so at runtime AQE reuses the
    # aggregation exchange and the log is scanned (and JSON-parsed)
    # once -- the naive join-then-group form executed two full scans
    # with nothing reusable. Needs the EXECUTED adaptive plan.
    from __spark_entry__ import _configure
    from solana_data_etl_pipeline_spark.plans.suite import all_queries

    df = all_queries()["program_dim_rollup"](_configure(spark), SF)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in p
    assert "BroadcastHashJoin" in p


def test_benchmark_contamination_corpus_side_unshuffled(plans):
    # corpus grams are per-row (array_distinct before explode) and
    # probe the BROADCAST bench gram set: the only exchanges are the
    # small bench-side distinct, the broadcast itself, and the final
    # per-doc count -- a corpus-side (doc_id, gram) Exchange would be
    # the 100 TB scale-killer here
    p = plans("benchmark_contamination")
    assert "BroadcastExchange" in p
    assert p.count("Exchange") <= 3, p.count("Exchange")


def test_delta_dedup_all_broadcast_no_sort_merge(plans):
    # incremental dedup's contract at scale: every delta-derived frame
    # (band rows, shingles, candidates, the dropped set) broadcasts,
    # so the corpus index and the delta scan never shuffle -- a
    # SortMergeJoin anywhere in this plan means a corpus-sized sort
    # crept in
    p = plans("delta_dedup")
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") >= 5


def test_training_shuffle_single_exchange_no_global_sort(plans):
    # the export shuffle's scale contract: shard/key are projections
    # on a column-pruned scan; positions cost exactly ONE hash
    # exchange (on shard) + a per-shard sort -- a global total order
    # (rangepartitioning / single-partition window) would serialize
    # the corpus through one task at 100 TB
    p = plans("training_shuffle")
    assert p.count("Exchange") == 1, p
    assert "rangepartitioning" not in p.lower()
    assert "SinglePartition" not in p


def test_winnow_fingerprints_zero_shuffle(plans):
    # grams, window minima, and per-doc dedup are per-row HOF
    # expressions: no wide operation anywhere. The only Exchange
    # allowed is ensure_parallelism's deliberate ROUND-ROBIN
    # scan-spread (single parquet file at test SF) -- a hash or range
    # exchange would mean a real shuffle crept in
    p = plans("winnow_fingerprints")
    assert "hashpartitioning" not in p and "rangepartitioning" not in p, p
    assert p.count("Exchange") <= 1, p


def test_winnow_overlap_pairs_single_join_no_cartesian(plans):
    # per side: one round-robin scan-spread + ONE fingerprint hash
    # exchange shared by the cap window and the equi-join (same key),
    # plus the final pair aggregation -- 6 exchanges total, and never
    # a cartesian product
    p = plans("winnow_overlap_pairs")
    assert "CartesianProduct" not in p
    assert p.count("Exchange") <= 6, p


def test_cap_stats_single_narrow_aggregation_no_join(plans):
    # the cap diagnostics are ONE groupBy over the same bucket
    # projection the candidate join shuffles -- no join, no corpus
    # rescan pair: a join appearing here means the diagnostic started
    # recomputing candidates
    for q in ["minhash_cap_stats", "simhash_cap_stats", "embedding_cap_stats", "winnow_cap_stats"]:
        p = plans(q)
        assert "Join" not in p, q
        assert p.count("Scan parquet") == 1, q


def test_bpe_merge_stats_no_join_bounded_shuffle(plans):
    # pair generation is per-row; the only wide ops are the bounded
    # (lhs, rhs) count agg and the top-N
    p = plans("bpe_merge_stats")
    assert "Join" not in p
    assert "TakeOrderedAndProject" in p
    assert p.count("Scan parquet") == 1


def test_benchmark_near_dup_bench_side_broadcast(plans):
    # the bench band rows and shingle sets broadcast (benchmark suites
    # are bounded); the corpus is never sort-merge-joined against them
    p = plans("benchmark_near_dup")
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "CartesianProduct" not in p


def test_corpus_curation_stays_jvm_side(plans):
    # the full composed pipeline must never fall off the codegen path:
    # no Python evaluation of any kind, no cartesian products (the
    # broadcast-scalar crossJoins plan as BroadcastNestedLoopJoin)
    p = plans("corpus_curation")
    assert "EvalPython" not in p
    assert "MapInPandas" not in p
    assert "CartesianProduct" not in p


def test_curation_v2_gate_stage_zero_extra_exchanges(plans):
    # the fused gate projection must add NO corpus-keyed exchange over
    # v1's composition: v2 == v1's spine (exact-dedup window + LSH
    # band pipeline + split/mix/budget) with gates as scan-fused
    # predicates. Pin v2's exchange count to at most v1's + 1 (the
    # single gate-frame join can add one at most when AQE declines to
    # broadcast); also keep it JVM-side like v1.
    v1 = plans("corpus_curation").count("Exchange")
    v2 = plans("corpus_curation_v2")
    assert v2.count("Exchange") <= v1 + 1, (v2.count("Exchange"), v1)
    assert "EvalPython" not in v2 and "CartesianProduct" not in v2


def test_bm25_corpus_never_shuffles(plans):
    # the query terms are literals, so per-doc tfs are scan-fused
    # projections: the ONLY exchanges are the scalar stats aggregate
    # (SinglePartition) + its broadcast; global top-k must be
    # TakeOrderedAndProject, never a single-partition sort/window of
    # the corpus; no Python anywhere
    p = plans("bm25_rank")
    assert p.count("Exchange") <= 2, p.count("Exchange")
    assert "TakeOrderedAndProject" in p
    assert "EvalPython" not in p and "CartesianProduct" not in p


def test_curation_v3_planners_stay_source_sized(plans):
    # v3 swaps mix/budget for the allocation planners: BOTH planners
    # run on the SOURCES-sized capacity frame and rejoin the corpus as
    # broadcasts, so the corpus-keyed exchange budget must not grow
    # beyond v2's by more than the capacity aggregation itself; the
    # plan stays JVM-side and cartesian-free like the rest of the
    # family (the broadcast-scalar crossJoins plan as
    # BroadcastNestedLoopJoin, never CartesianProduct).
    # r13: v1/v2 now lazily checkpoint the shared gate/dedup/split
    # prefix exactly like v3 always did (plans/corpus.py), so the two
    # static plans compare PLANNER overhead over the same truncated
    # prefix: v3's extra exchanges are the capacity agg + weight, the
    # two allocators' bounded aggregations, the total-capacity scalar,
    # and the served join-backs -- all SOURCES-sized, six at most.
    v2 = plans("corpus_curation_v2").count("Exchange")
    v3 = plans("corpus_curation_v3")
    assert v3.count("Exchange") <= v2 + 6, (v3.count("Exchange"), v2)
    assert "EvalPython" not in v3 and "CartesianProduct" not in v3
    # the per-source allocation reaches the per-doc selection as a
    # broadcast, never a corpus shuffle join on source
    assert v3.count("BroadcastHashJoin") >= 1, v3


def test_curation_v4_media_gate_composes_real_codec(plans, spark):
    # v4 = v3's spine + ONE real-codec media-gate stage: the WAV
    # encode/decode is the pipeline's only Python, Arrow-batched
    # map-side (MapInPandas), and the plan stays cartesian-free with
    # the planner joins still broadcast-shaped
    # (the selection segment downstream of the train checkpoint; the
    # codec stage lives in the pre-checkpoint segment, asserted below)
    p = plans("corpus_curation_v4")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastHashJoin") >= 1, p
    from solana_data_etl_pipeline_spark.operators import multimodal as M
    from solana_data_etl_pipeline_spark.plans import corpus as C

    # the media-gate stage is a real Arrow-batched map-side pass
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    mp = (
        M.wav_stats(M.synth_wav(docs))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInPandas" in mp
    # payload bytes never shuffle: the only exchange is
    # ensure_parallelism's round-robin BELOW the codec (plan strings
    # print top-down, so anything above the first MapInPandas would
    # appear before it)
    assert "Exchange" not in mp[: mp.index("MapInPandas")]
    # behavioral: every selected doc's DECODED features sit inside the
    # gate bounds...

    rows = C.corpus_curation_v4(spark, SF).collect()
    assert rows
    for r in rows:
        assert C.V4_MEDIA_MIN_FRAMES <= r.media_frames <= C.V4_MEDIA_MAX_FRAMES
        assert r.media_rms >= C.V4_MEDIA_MIN_RMS
    # ...and the gate is non-vacuous on the corpus: real decoded stats
    # put docs outside BOTH bounds (too-short payloads and
    # near-silence), so the media stage actually filters
    from pyspark.sql import functions as F

    st = M.wav_stats(M.synth_wav(spark.read.parquet(f"{SF}/documents.parquet")))
    assert st.filter(F.col("n_frames") < C.V4_MEDIA_MIN_FRAMES).count() > 0
    assert st.filter(F.round("rms", 4) < C.V4_MEDIA_MIN_RMS).count() > 0


def test_curation_gates_is_zero_shuffle_projection(spark):
    from solana_data_etl_pipeline_spark.operators.text import curation_gates

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = curation_gates(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p
    assert "Join" not in p


def test_tokenize_pack_vocab_broadcast_and_bounded_exchanges(plans):
    # the vocabulary must reach the token stream as a BROADCAST (a
    # shuffle join keyed on token would shuffle the corpus-scale
    # stream), the top-V selection must be TakeOrderedAndProject
    # (never a global sort of the unbounded vocab), and the whole
    # plan's exchange budget stays small: vocab agg, doc reassembly,
    # pack join/window
    p = plans("tokenize_pack")
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert p.count("Exchange") <= 6, p.count("Exchange")


def test_delta_containment_candidate_list_never_broadcast_by_us(plans):
    # the candidate list is delta-width x bucket-width: NOT bounded by
    # construction, so the plan must not carry a forced broadcast of
    # it (the 10x sweep measured the driver.maxResultSize blowup).
    # The batch-bounded delta fingerprints/shingles MAY broadcast --
    # so the pin is structural: no BroadcastExchange may sit above the
    # candidate join's aggregate (the shared-count groupBy).
    p = plans("delta_containment")
    # the aggregate producing the candidate list feeds a join; if a
    # broadcast of it regressed in, the plan would show
    # BroadcastExchange directly consuming the HashAggregate chain on
    # (delta_id, corpus_id). Assert the verify join consumes it via a
    # non-broadcast child instead.
    import re

    assert not re.search(
        r"BroadcastExchange[^\n]*\n[^\n]*HashAggregate[^\n]*corpus_id", p
    ), "candidate list is broadcast again"


def test_source_quota_hot_no_per_source_row_window(plans):
    # the fallback exists to avoid sorting a whole source in one task:
    # every row-level window must partition by (source, bucket), never
    # by source alone; the only source-partitioned window runs over
    # the bucket-AGGREGATED frame (bounded rows per source)
    p = plans("source_quota_hot")
    # row_number windows in the plan: the within-bucket rank
    assert "row_number" in p
    # the per-source cumulative runs over the aggregated stats frame:
    # its window spec appears after a HashAggregate, not over the scan
    assert p.count("Window") <= 2


def test_interp_logprob_windows_share_gram_exchanges(plans):
    # three count windows -- (w1,w2), (w1), (w2) -- must plan over TWO
    # gram-keyed exchanges (hash(w1) satisfies the (w1,w2) clustering),
    # never as joins against derived count tables; the corpus total is
    # a 1-row broadcast (BroadcastNestedLoopJoin Cross), not a global
    # window (which would funnel the bigram stream through one task)
    p = plans("interp_logprob")
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" not in p  # no count-table join-backs
    assert p.count("BroadcastNestedLoopJoin") == 1
    # w1 + w2 + final doc_id + the scalar agg's SinglePartition
    assert p.count("Exchange hashpartitioning") == 3, p
    assert p.count("Window") == 3


def test_novelty_scores_corpus_side_unshuffled(plans):
    # same contract as benchmark_contamination: corpus grams are
    # per-row (array_distinct before explode) probing the BROADCAST
    # reference gram set; the only exchanges are the reference-side
    # distinct, the broadcast itself, and the final per-doc count
    p = plans("novelty_scores")
    assert "BroadcastExchange" in p
    assert "SortMergeJoin" not in p
    assert p.count("Exchange") <= 3, p.count("Exchange")


def test_perplexity_buckets_histogram_scheme_not_row_windows(plans):
    # the CCNet bucketing must follow quantile_gate's histogram
    # scheme: the cumulative windows run over the BOUNDED per-group
    # histogram (partitioned by group, never SinglePartition and
    # never over raw doc rows), thresholds broadcast back, and the
    # scored frame is computed ONCE (lazy checkpoint) -- a duplicated
    # scoring pipeline would double the dominant stage at 100 TB
    p = plans("perplexity_buckets")
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") == 1
    assert "SinglePartition" not in p
    # one scoring pipeline, two checkpoint consumers
    assert p.count("Scan ExistingRDD") == 2, p
    assert p.count("Window") == 2


def test_line_dedup_no_per_line_sort_window(plans):
    # the keeper table must be a map-side-combined groupBy(line) --
    # a per-line sort window would funnel every copy of a hot
    # boilerplate line through one task. The duplicated-keepers side
    # is corpus-derived, so its join strategy is AQE's call (no
    # forced broadcast); pin what must hold either way: no windows,
    # no single-partition funnel, and only the keeper agg + final
    # doc aggregation as exchanges
    p = plans("line_dedup")
    assert "Window" not in p
    assert "SinglePartition" not in p
    assert "CartesianProduct" not in p
    assert p.count("Exchange") <= 3, p.count("Exchange")


def test_semdedup_centroids_broadcast_pairs_equijoin(spark, plans):
    # the output plan: no cartesian anywhere, and the narrow members
    # frame (lazy checkpoint) feeds BOTH branches -- the scoring join
    # computes once
    p = plans("semdedup_keepers")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("Scan ExistingRDD") >= 2
    # the scoring subplan (upstream of the checkpoint): centroids
    # BROADCAST back onto the un-reshuffled vector scan, and the pair
    # join is a cluster-keyed equi-join
    from __spark_entry__ import _configure
    from solana_data_etl_pipeline_spark.operators.dedup import semdedup_keepers
    from solana_data_etl_pipeline_spark.operators.similarity import _dvec, dot_raw, norm_expr

    _configure(spark)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    from pyspark.sql import functions as F

    base = emb.select(
        "vec_id",
        _dvec(F.col("embedding")).alias("_v"),
        norm_expr(F.col("embedding")).alias("_n"),
        F.col("label").cast("long").alias("_cl"),
    )
    cells = (
        base.select("_cl", F.posexplode("_v").alias("dim", "val"))
        .groupBy("_cl", "dim")
        .agg(F.round(F.avg("val"), 6).alias("cv"))
    )
    cent = cells.groupBy("_cl").agg(
        F.transform(F.array_sort(F.collect_list(F.struct("dim", "cv"))), lambda s: s["cv"]).alias("_cvec")
    )
    scored = base.join(F.broadcast(cent), "_cl")
    sp = scored._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in sp
    assert "SortMergeJoin" not in sp


def test_hash_embed_zero_shuffle_projection(plans):
    # the encoder is a pure per-row projection: no exchange may
    # appear before the stats aggregation's final projection -- the
    # registered stats query's ONLY wide operation is nothing at all
    # (per-row scalars over per-row vectors)
    p = plans("hash_embed_stats")
    assert "Join" not in p
    assert p.count("Scan parquet") == 1
    import re

    # the only allowed Exchange is ensure_parallelism's round-robin
    assert not re.search(r"Exchange hashpartitioning", p), p


def test_dsir_ratio_table_broadcast_corpus_unshuffled(plans):
    # the LM count frames aggregate to <= n_buckets rows (map-side
    # combined b-keyed exchanges); the ratio table BROADCASTS onto
    # the exploded corpus buckets; the only corpus-sized exchange is
    # the final per-doc combine
    p = plans("dsir_scores")
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") >= 2  # ratio build + scoring join
    assert p.count("Exchange hashpartitioning(doc_id") == 1, p


def test_pack_boundaries_single_shard_exchange_no_join(plans):
    # the per-sequence expansion is a pure per-row transform+explode
    # over pack_sequences' output: exactly the pack window's one
    # shard exchange, no joins anywhere
    p = plans("pack_boundaries")
    assert p.count("Exchange") == 1
    assert "Join" not in p


def test_text_knn_corpus_streams_into_broadcast_join(plans):
    # same contract as the embedding knn_lsh: the hashed corpus
    # streams into a broadcast join against the bounded query side;
    # no cartesian, no corpus sort-merge
    p = plans("text_knn")
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_corpus_card_zero_join_bounded_agg(plans):
    # the card rides the fused gates projection (group keys carried,
    # never joined back): no joins at all, one scan, and only the
    # bounded (source, lang) aggregation exchange
    p = plans("corpus_card")
    assert "Join" not in p
    assert p.count("Scan parquet") == 1
    assert p.count("Exchange") <= 2


def test_denoising_spans_zero_shuffle(plans):
    # block selection + span expansion are per-row HOF expressions:
    # no exchange, no join anywhere
    p = plans("denoising_spans")
    assert "Exchange hashpartitioning" not in p
    assert "Join" not in p


def test_quality_gate_agreement_reconciles(spark):
    """The cross-tab's cells partition the corpus: n_docs sums to the
    document count, total_words to the gopher token mass, and each
    marginal reproduces the registered operator's own pass count."""
    from pyspark.sql import functions as F

    from solana_data_etl_pipeline_spark.operators import text as X
    from solana_data_etl_pipeline_spark.plans.corpus import quality_gate_agreement
    from solana_data_etl_pipeline_spark.plans.testdata_model import load_table

    sf = "/root/testdata/sf0.001"
    rows = quality_gate_agreement(spark, sf).collect()
    docs = load_table(spark, sf, "documents")
    assert sum(r.n_docs for r in rows) == docs.count()
    g = X.gopher_quality(docs)
    assert sum(r.total_words for r in rows) == g.agg(F.sum("n_words")).first()[0]
    assert sum(r.n_docs for r in rows if r.gopher_pass) == g.filter("gopher_pass").count()
    assert {r.bucket for r in rows} <= {"head", "middle", "tail"}


def test_corpus_topic_map_hand_rollup(spark):
    """The topic map's rollups reconcile against a hand replay over
    the operator's OWN cluster assignment (hash_embed -> lloyd_cells,
    both pinned by their registered entries): per-cell doc/token
    masses, the integer-floor mean, the dominant source, and the
    top-term ranking with its (count desc, term asc) tie-break."""
    from collections import Counter

    from solana_data_etl_pipeline_spark.operators import similarity as V
    from solana_data_etl_pipeline_spark.operators import text as X
    from solana_data_etl_pipeline_spark.plans.corpus import corpus_topic_map
    from solana_data_etl_pipeline_spark.plans.testdata_model import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    rows = corpus_topic_map(docs, top_terms=2).collect()
    cell_of = {
        r.vec_id: r.cell for r in V.lloyd_cells(X.hash_embed(docs)).collect()
    }
    toks, src = {}, {}
    for r in docs.select("doc_id", "text", "source").collect():
        toks[r.doc_id] = [t for t in r.text.strip().lower().split() if t]
        src[r.doc_id] = r.source
    by_cell = {}
    for d, c in cell_of.items():
        by_cell.setdefault(c, []).append(d)
    assert {r.cell for r in rows} == set(by_cell)
    for cell, members in by_cell.items():
        mine = [r for r in rows if r.cell == cell]
        n_docs = len(members)
        total = sum(len(toks[d]) for d in members)
        assert all(r.n_docs == n_docs and r.total_tokens == total for r in mine)
        assert all(r.mean_tokens == total // n_docs for r in mine)
        sc = Counter(src[d] for d in members)
        want_src = min(sc, key=lambda s: (-sc[s], s))
        assert all(r.top_source == want_src for r in mine)
        tc = Counter(t for d in members for t in toks[d])
        want_terms = sorted(tc, key=lambda t: (-tc[t], t))[:2]
        got = [(r.term_rank, r.term, r.term_count) for r in sorted(mine, key=lambda r: r.term_rank)]
        assert got == [(i + 1, t, tc[t]) for i, t in enumerate(want_terms)]


def test_cluster_prune_drops_whole_clusters(spark):
    """The gate is CLUSTER-level: kept docs are exactly the members of
    clusters at/above the bar in the operator's own inspection table
    (corpus_topic_map shares the membership pipeline verbatim), and a
    dropped cluster dies whole -- including members longer than the
    bar, which a per-document gate would keep."""
    from solana_data_etl_pipeline_spark.plans.corpus import (
        MIN_CLUSTER_MEAN_TOKENS,
        cluster_prune_keepers,
        corpus_topic_map,
    )
    from solana_data_etl_pipeline_spark.plans.testdata_model import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    kept = cluster_prune_keepers(docs).collect()
    tm = {r.cell: (r.n_docs, r.mean_tokens) for r in corpus_topic_map(docs, top_terms=1).collect()}
    good = {c for c, (_, mt) in tm.items() if mt >= MIN_CLUSTER_MEAN_TOKENS}
    assert good and good != set(tm)  # the bar discriminates at this SF
    assert {r.cell for r in kept} == good
    assert all(r.cluster_mean_tokens == tm[r.cell][1] for r in kept)
    # every above-bar cluster survives with its FULL population
    from collections import Counter

    by_cell = Counter(r.cell for r in kept)
    assert all(by_cell[c] == tm[c][0] for c in good)
    # population semantics: at least one individually-long document
    # dies with its short cluster (the doc a per-doc gate would keep)
    kept_ids = {r.doc_id for r in kept}
    dropped = docs.filter(~docs.doc_id.isin(list(kept_ids))).collect()
    assert any(
        len([t for t in r.text.strip().lower().split() if t]) >= MIN_CLUSTER_MEAN_TOKENS
        for r in dropped
    )


def test_source_scorecard_reconciles_with_members(spark):
    """Every scorecard cell reconciles against the registered member
    operators run standalone (the quality_gate_agreement stance), and
    the rates are integer-floor basis points."""
    from pyspark.sql import functions as F

    from solana_data_etl_pipeline_spark.operators import dedup as D
    from solana_data_etl_pipeline_spark.operators import text as X
    from solana_data_etl_pipeline_spark.plans.corpus import source_scorecard
    from solana_data_etl_pipeline_spark.plans.testdata_model import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    rows = {r.source: r for r in source_scorecard(docs).collect()}
    src_of = {r.doc_id: r.source for r in docs.select("doc_id", "source").collect()}
    assert sum(r.n_docs for r in rows.values()) == len(src_of)
    g = {r.doc_id: r for r in X.gopher_quality(docs).collect()}
    c4 = {r.doc_id: not r.page_filtered for r in X.c4_clean(docs).collect()}
    pii = {r.doc_id: r.has_pii for r in X.pii_scan(docs).collect()}
    dup_groups = {
        r.content_hash: r.dup_count for r in D.exact_duplicates(docs).collect()
    }
    from collections import defaultdict

    by_src = defaultdict(list)
    for d, s in src_of.items():
        by_src[s].append(d)
    import hashlib
    import re

    for s, members in by_src.items():
        r = rows[s]
        assert r.n_docs == len(members)
        assert r.total_words == sum(g[d].n_words for d in members)
        gp = sum(1 for d in members if g[d].gopher_pass)
        assert r.gopher_pass_bp == gp * 10000 // len(members)
        assert r.c4_pass_bp == sum(1 for d in members if c4[d]) * 10000 // len(members)
        assert r.pii_bp == sum(1 for d in members if pii[d]) * 10000 // len(members)
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    def h(t):
        return hashlib.md5(re.sub(r"\s+", " ", t.strip().lower()).encode()).hexdigest()
    for s, members in by_src.items():
        dups = sum(1 for d in members if dup_groups.get(h(texts[d]), 1) > 1)
        assert rows[s].exact_dup_bp == dups * 10000 // len(members)


def test_artifact_second_call_is_cached_and_fires_no_jobs(spark, tmp_path):
    """artifact() builds a (name, sf_dir) layout once: a second call
    returns the same path without running a single Spark job."""
    from solana_data_etl_pipeline_spark.plans import suite as S

    sf = str(tmp_path)
    spark.createDataFrame(
        [(i, f"doc {i} text") for i in range(8)], "doc_id long, text string"
    ).write.parquet(f"{sf}/documents.parquet")
    sc = spark.sparkContext

    def jobs_of(group, call):
        sc.setJobGroup(group, group)
        try:
            return call(), len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    first, first_jobs = jobs_of("artifact-first", lambda: S.artifact(spark, sf, "shard_export"))
    second, second_jobs = jobs_of("artifact-second", lambda: S.artifact(spark, sf, "shard_export"))
    assert first_jobs > 0  # the counter sees the build
    assert second == first and second_jobs == 0
    assert S.built_artifacts(sf) == ["shard_export"]


def test_every_artifact_is_probed_by_a_registry_entry(spark, monkeypatch, tmp_path):
    """No orphaned layout and no unknown name: constructing the registry
    entries that read through artifact() reaches exactly the ARTIFACTS
    names. The stub builds
    nothing and hands out a path that does not exist, so each
    construction stops at its first read of a layout."""
    import inspect

    from solana_data_etl_pipeline_spark.plans import suite as S

    reached = set()

    def stub(_spark, _sf_dir, name):
        reached.add(name)
        return str(tmp_path / name)

    monkeypatch.setattr(S, "artifact", stub)
    for fn in S.all_queries().values():
        if "artifact(" in inspect.getsource(fn):
            try:
                fn(spark, SF)
            except Exception:
                pass  # the stub's path holds no layout
    assert reached == set(S.ARTIFACTS)
