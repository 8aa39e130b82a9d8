"""Physical-plan assertions — the 100 TB posture checks (SURVEY.md §4):
filters and projections must reach the parquet scan, dimension joins must
broadcast, partition filters must prune. These are the Spark equivalents of
the reference's btree/GIN indexes and hypertable chunk exclusion, and they
are what keeps the plans viable at 1000 executors."""

import os
import tempfile
import uuid

import pyspark.sql.functions as F

from tests.conftest import SF_SMOKE


def _explain(df, mode) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _plan(df) -> str:
    return _explain(df, "simple")


def _formatted(df) -> str:
    return _explain(df, "formatted")


def test_scan_pushdown_and_pruning(spark):
    """The time predicate must be pushed into the parquet scan and the
    ReadSchema must contain only the projected columns."""
    import ltss_spark.plans as plans

    df = plans.queries()["scan_parquet"](spark, SF_SMOKE)
    s = _formatted(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in s
    read = s.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in read  # column pruning held
    assert "l_quantity" in read


def test_dim_join_broadcasts(spark):
    import ltss_spark.plans as plans

    df = plans.queries()["join_broadcast"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # no shuffle of the fact side


def test_partition_pruning_on_month(spark):
    """Month-partitioned layout: a month predicate must prune at listing
    time (PartitionFilters), the hypertable chunk-exclusion analogue."""
    out = f"{tempfile.gettempdir()}/ltss_prune_{uuid.uuid4().hex}"
    from ltss_spark.sources.batch import load_table

    events = load_table(spark, SF_SMOKE, "events").withColumn(
        "month", F.date_format("ts", "yyyy-MM")
    )
    events.write.mode("overwrite").partitionBy("month").parquet(out)
    df = spark.read.parquet(out).filter(F.col("month") == "2024-01")
    s = _formatted(df)
    assert "PartitionFilters" in s and "month" in s.split("PartitionFilters:")[1].splitlines()[0]


def test_bucketed_join_has_no_shuffle(spark):
    """Tables bucketed the same way on the join key must join with ZERO
    exchanges — the co-located join that replaces a full-network shuffle at
    100 TB. Broadcast is disabled so the assertion can't pass trivially."""
    from ltss_spark.sources.batch import load_table, write_bucketed

    tag = uuid.uuid4().hex[:12]
    base = f"{tempfile.gettempdir()}/ltss_buck_{tag}"
    o = load_table(spark, SF_SMOKE, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, SF_SMOKE, "customer").select("c_custkey", "c_mktsegment")
    write_bucketed(o, f"o_t_{tag}", "o_custkey", 8, path=f"{base}/o")
    write_bucketed(c, f"c_t_{tag}", "c_custkey", 8, path=f"{base}/c")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ob, cb = spark.table(f"o_t_{tag}"), spark.table(f"c_t_{tag}")
        joined = ob.join(cb, ob["o_custkey"] == cb["c_custkey"])
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # same co-location benefit for a keyed aggregation
        agg = ob.groupBy("o_custkey").count()
        assert "Exchange" not in _plan(agg)
        # and the answer is unchanged by the layout
        raw = o.join(c, o["o_custkey"] == c["c_custkey"])
        assert joined.count() == raw.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_latest_state_is_single_aggregate(spark):
    """B3 latest-state must be ONE hash aggregation (max_by), not a window
    sort — the difference between O(1) state per group and a full per-entity
    sort at 100 TB."""
    from ltss_spark.ingest import states_from_events
    from ltss_spark.operators.timeseries import latest_state
    from ltss_spark.sources.batch import load_table

    states = states_from_events(load_table(spark, SF_SMOKE, "events"))
    plan = _plan(latest_state(states))
    assert "max_by" in plan or "HashAggregate" in plan
    assert "Window" not in plan


def test_agg_is_partial_then_final(spark):
    """groupBy aggregations must do map-side partial aggregation (two
    HashAggregate levels around the exchange)."""
    import ltss_spark.plans as plans

    df = plans.queries()["agg_basic"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2


def test_lsh_dedup_plans_have_no_cartesian(spark):
    """MinHash-LSH and SimHash candidate generation must be band-bucket
    EQUI-joins — a cartesian/nested-loop there is the O(n^2) trap that dies
    at scale."""
    from ltss_spark.operators.dedup import minhash_lsh_pairs, simhash_pairs
    from ltss_spark.sources.batch import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    for df in (minhash_lsh_pairs(docs), simhash_pairs(docs)):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_embed_dedup_scale_path_is_bucketed(spark):
    """Above exact_limit, embedding_dup_pairs must switch to the LSH-bucket
    equi-join — no all-pairs nested-loop anywhere in the plan (VERDICT r1:
    a user can call this on a 100 TB corpus)."""
    from ltss_spark.operators.similarity import embedding_dup_pairs
    from ltss_spark.sources.batch import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    plan = _plan(embedding_dup_pairs(emb, exact_limit=1))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # and the guarded default at small |V| stays the exact baseline
    plan_exact = _plan(embedding_dup_pairs(emb, exact_limit=100_000))
    assert "BroadcastNestedLoopJoin" in plan_exact


def test_ngram_hot_shingles_are_capped(spark):
    """The inverted-index self-join must be preceded by the stop-shingle
    df-cap (left-anti against the hot list) so one boilerplate shingle
    can't make a bucket quadratic."""
    from ltss_spark.operators.dedup import ngram_jaccard_pairs
    from ltss_spark.sources.batch import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    # materialize_shingles=False: the production path's lazy checkpoint
    # would hide the anti-join inside the checkpointed subplan
    plan = _plan(ngram_jaccard_pairs(docs, max_shingle_df=50, materialize_shingles=False))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_similarity_broadcasts_probe_side(spark):
    """Exact cosine top-k: the probe set must broadcast (nested-loop over a
    replicated few-row side), never shuffle the corpus."""
    from ltss_spark.operators.similarity import cosine_topk
    from ltss_spark.sources.batch import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    plan = _plan(cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=5))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_gapfill_grid_is_broadcast(spark):
    """The dense grid must be built from a broadcast of the 1-ROW bounds
    onto the distributed key census (per-key sequence/explode), never from
    a broadcast of the key census itself — |keys| rows on every executor
    is multi-GB at a 100M-entity fleet (VERDICT r2)."""
    import ltss_spark.plans as plans

    df = plans.queries()["ts_gapfill"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # the grid axis is generated where the keys live
    assert "Generate explode(sequence(" in plan
    # the only identity-broadcast (cross-join build side) is the min/max
    # bounds aggregate — a single row
    idx = plan.index("BroadcastExchange IdentityBroadcastMode")
    after = plan[idx : idx + 600]
    assert "min(" in after and "max(" in after, (
        "cross-join broadcast side must be the 1-row bounds, not the key census"
    )


def test_text_stats_is_pure_codegen(spark):
    """Text analysis must stay JVM-side: whole-stage codegen spans, no
    Python evals in the plan."""
    import ltss_spark.plans as plans

    df = plans.queries()["ext_text_stats"](spark, SF_SMOKE)
    s = _formatted(df)
    # vectorized parquet scan + JVM hash aggregation, zero Python in the plan
    # (AQE hides WholeStageCodegen spans until execution, so assert the
    # absence of Python eval nodes instead)
    assert "Batched: true" in s
    assert "HashAggregate" in s
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in s


def test_asof_join_no_cartesian(spark):
    import ltss_spark.plans as plans

    df = plans.queries()["join_asof"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_registry_wide_plan_audit(spark):
    """Every registered batch operator's physical plan is free of scale
    anti-patterns: no CartesianProduct anywhere; BroadcastNestedLoopJoin
    only where a tiny side is intentionally replicated (similarity probe
    sets, dense-grid builders, theta join); Python eval nodes only in the
    deliberate UDF/multimodal surface."""
    import ltss_spark.plans as plans

    PY_OK = {
        "udf_scalar", "udaf", "udtf",
        "ext_multimodal", "ext_multimodal_resize", "ext_multimodal_frames",
        "ext_multimodal_audio", "ts_lttb",
        # deliberate Arrow-batched matmul for hyperplane signatures — the
        # expression form ran interpreted (HOFs skip codegen), see
        # operators/similarity.py:_sig_udf
        "ext_sim_search_lsh",
        # same trade for PQ encode: argmin over centroid distances as an
        # Arrow numpy kernel (operators/similarity.py:_pq_encode_udf)
        "ext_sim_search_pq",
        "ext_sim_search_ivfpq",
        # embed-dedup entries now register the LSH pair generator (same
        # _sig_udf Arrow matmul kernel) — VERDICT r3 item 2
        "ext_dedup_embed",
        "ext_dedup_cluster_embed",
        # per-inverted-list blocked matmul (cogroup applyInPandas) — the
        # FAISS-IVF kNN-join scoring shape; the interpreted fold form
        # measured 6.9 s vs 1.9 s at sf0.1
        # (operators/similarity.py:_cell_local_topk)
        "ext_knn_join_ivf",
    }
    BNL_OK = {
        "ext_sim_search", "ext_sim_search_lsh", "ext_sim_search_ivf",
        "ext_sim_search_ivfpq",  # broadcast coarse-codebook cross join
        "ext_sim_search_pq",  # broadcast LUT-frame probe join (!= condition)
        "join_theta", "ts_gapfill", "ts_interpolate",
        "join_asof",
        # the audit baseline: exact pairs among vec_id < 250 ONLY — a
        # broadcast nested loop over a CAPPED side, constant work at any
        # corpus size (the registered scale path is the LSH equi-join; the
        # 1-row audit crossJoins are broadcast single-row aggregates)
        "ext_dedup_embed",
        "ext_dedup_cluster_embed",
        # broadcast of the 1-ROW corpus-size aggregate onto the tf frame
        # (operators/text.tfidf_topk / unigram_logprob / bm25_topk) —
        # bounded by construction
        "ext_tfidf",
        "ext_unigram_lm",
        "ext_bigram_lm",  # same 1-row vocab-size broadcast shape
        "ext_bm25",
        # same bounded shape twice over: the 1-ROW model-constants
        # aggregate broadcast onto the token frame, and the 1-ROW
        # pool-size aggregate onto the doc-level score frame
        # (operators/corpus.importance_resample)
        "ext_importance_resample",
        # the 1-ROW totals aggregate broadcast onto the per-key count
        # frame (operators/skew.key_skew_profile)
        "diag_skew",
        # the cross of TWO 1-row sketch aggregates (click sketch x
        # purchase sketch) — both sides single-row by construction
        "agg_theta_overlap",
        # exact kNN baseline: the <=400-vector slice is broadcast with a
        # != join condition (constant work at any corpus size); the
        # full-corpus path is ext_knn_join_ivf's equi-join on cells
        "ext_knn_join",
        # broadcast codebook cross join + the 1-row coverage/corpus-count
        # aggregates crossed onto the 3-row audit frame
        "ext_knn_join_ivf",
        # broadcast of the KB-scale anchor frame (8 rows) onto the corpus
        # scan — the same bounded probe shape as the ANN entries
        "ext_cluster_balance",
        # the 1-ROW weight-normalizer aggregate crossed onto the
        # |sources|-row quota frame — bounded by construction
        "ext_token_budget_mix",
        # dense side = cosine_topk's broadcast probe (!= condition); the
        # fusion itself joins two <=25-row frames
        "ext_hybrid_rrf",
        # broadcast anchor assignment (8 rows); the pair stage itself is
        # an equi-join on centroid_id, audited below
        "ext_dedup_semantic",
        # r8: same broadcast-codebook assignment shape (stride seeds +
        # Lloyd refinement are each a broadcast cross of the KB-scale
        # codebook onto the corpus scan)
        "ext_dedup_semantic_kmeans",
        # r8: the 1-ROW corpus-count aggregate broadcast onto the ranked
        # frame (CCNet bucket arithmetic needs N) — bounded by construction
        "ext_perplexity_buckets",
        # r8: same 1-row total broadcast for the exact NTILE arithmetic
        # over the distributed rank
        "win_ntile",
        # r8: the 1-row count broadcast that selects the middle rank(s)
        # for the exact distributed median — bounded by construction
        "agg_median_exact",
        # r10: the 1-ROW vocab-size aggregate crossed onto the NB count
        # table (operators/ml.nb_train) — bounded by construction
        "ext_nb_train",
        # r10: same 1-row vocab/doc-count crosses inside the model build,
        # plus the |classes|-row constants frame broadcast onto the
        # per-doc token-count frame — all O(V x C)-bounded
        "ext_nb_score",
        "ext_nb_confusion",
        # r10: the 1-ROW corpus-token-total aggregate crossed onto the
        # min_count-pruned bigram frame — bounded by construction
        "ext_pmi",
        # r11: the ONE 1-row totals aggregate (both split totals from the
        # checkpointed vocab frame, IdentityBroadcast) crossed onto that
        # same vocab-sized count frame (operators/corpus.corpus_drift) —
        # bounded by construction
        "ext_corpus_drift",
    }
    # streaming/sink entries run real side-effecting queries — covered by
    # their own tests
    SKIP = {
        "stream_ingest", "scan_stream", "stream_window_tumbling",
        "stream_window_sliding", "stream_window_session", "stream_dedup",
        "stream_stateful", "stream_late_drop", "sink_partitioned",
        "sink_append", "ddl_migrate",
    }
    offenders = []
    for q in plans.REGISTRY:
        if q.name in SKIP:
            continue
        plan = _plan(q.build(spark, SF_SMOKE))
        if "CartesianProduct" in plan:
            offenders.append(f"{q.name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and q.name not in BNL_OK:
            offenders.append(f"{q.name}: BroadcastNestedLoopJoin")
        if (
            any(m in plan for m in ("BatchEvalPython", "ArrowEvalPython"))
            and q.name not in PY_OK
        ):
            offenders.append(f"{q.name}: Python eval in plan")
    assert not offenders, offenders


def test_vocab_encode_ranking_is_bounded(spark):
    """vocab_encode's vocabulary ranking must never sort the OPEN
    (corpus-sized) token set through one reducer: the per-bucket pre-cut
    compiles to WindowGroupLimit (partial map-side + final), and the
    global rank-then-filter collapses to a distributed
    TakeOrderedAndProject(limit=V) — both bounded by the vocab_size
    constant, not by corpus size (VERDICT r6 item 4)."""
    from ltss_spark.operators.corpus import vocab_encode

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(vocab_encode(docs, vocab_size=1000))
    assert "WindowGroupLimit" in plan, "per-bucket top-V pre-cut missing"
    assert "TakeOrderedAndProject(limit=1000" in plan, (
        "global ranking must be a distributed top-V, not a full sort"
    )


def test_registry_wide_no_complex_output_columns(spark):
    """No registered entry may emit a top-level array/map/struct column:
    the DRIVER's canonicalizer sorts result columns via pandas and dies on
    unhashable lists (the exact ext_vocab_encode r5/r6 red — the local
    parity mirror converts lists to tuples and is therefore MORE permissive
    than the driver). Complex values must serialize to strings at the
    registry boundary (array_join / array_to_string — the agg_collect
    pattern); the operator APIs underneath stay typed."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    import ltss_spark.plans as plans

    # streaming/sink entries run real side-effecting queries when built —
    # same exclusion set as the plan audit; each has its own test and the
    # driver verifies their (flat) batch outputs directly
    SKIP = {
        "stream_ingest", "scan_stream", "stream_window_tumbling",
        "stream_window_sliding", "stream_window_session", "stream_dedup",
        "stream_stateful", "stream_late_drop", "sink_partitioned",
        "sink_append", "ddl_migrate",
    }
    offenders = []
    for q in plans.REGISTRY:
        if q.name in SKIP:
            continue
        for f in q.build(spark, SF_SMOKE).schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                offenders.append(f"{q.name}.{f.name}: {f.dataType.simpleString()}")
    assert not offenders, (
        f"top-level complex output columns (driver canonicalizer "
        f"cannot sort them): {offenders}"
    )


def test_hostile_session_timezone_is_pinned():
    """The driver passes its OWN session into queries(); if that session
    runs in a non-UTC zone, pin_session_for_oracle must still make
    timestamp results match the UTC-naive oracle (verify-skill probe)."""
    from pyspark.sql import SparkSession

    from ltss_spark.plans.parity import compare
    import ltss_spark.plans as plans

    spark = SparkSession.builder.master("local[4]").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    q = {x.name: x for x in plans.REGISTRY}["stream_window_tumbling"]
    # a timestamp-producing query: bucket starts would shift by 5h if the
    # session zone leaked into date_trunc/window
    df = q.build(spark, SF_SMOKE)
    ok, msg = compare(df, q.oracle, SF_SMOKE)
    assert ok, msg
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_materialized_attr_predicate_pushes_to_scan(spark):
    """The GIN-replacement claim, end to end: once a JSON attribute key is
    materialized as a typed column and persisted, a predicate on it reaches
    the parquet scan as a pushed filter (min/max skipping) — the thing no
    JSON-blob predicate can do."""
    import tempfile
    import uuid

    from ltss_spark.ingest import materialize_attrs
    from ltss_spark.sources.batch import load_table

    e = load_table(spark, SF_SMOKE, "events").select(
        "event_id", F.col("props").alias("attributes")
    )
    out = f"{tempfile.gettempdir()}/ltss_matattr_{uuid.uuid4().hex}"
    materialize_attrs(e, {"k": "int"}).write.parquet(out)
    df = spark.read.parquet(out).filter(F.col("attr_k") >= 50).select("event_id")
    s = _formatted(df)
    assert "PushedFilters" in s
    pushed = s.split("PushedFilters:")[1].splitlines()[0]
    assert "attr_k" in pushed and "GreaterThanOrEqual" in pushed


def test_pq_plan_size_constant_in_query_count(spark):
    """The PQ/IVFPQ query side is a broadcast LUT join (VERDICT r2
    "What's wrong" #1 fix): plan size must NOT grow with the probe count.
    The old implementation built one union leg per collected query with
    its LUT inlined as literals — 10x the queries meant 10x the plan; now
    LUTs live in a broadcast DataFrame, so the plan is identical in shape
    for 2 or 40 probes and contains no Union at all."""
    from ltss_spark.operators.similarity import cosine_topk_ivfpq, cosine_topk_pq
    from ltss_spark.sources.batch import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    small = _plan(cosine_topk_pq(emb, emb.filter(F.col("vec_id") < 2), k=3, m=4, kc=4))
    big = _plan(cosine_topk_pq(emb, emb.filter(F.col("vec_id") < 40), k=3, m=4, kc=4))
    assert "Union" not in big, "per-query union legs are back"
    assert len(big) < 1.3 * len(small), (
        f"plan grew with query count: {len(small)} -> {len(big)} chars"
    )
    ivfpq = _plan(
        cosine_topk_ivfpq(
            emb, emb.filter(F.col("vec_id") < 40), k=3, n_centroids=4, nprobe=2, m=4, kc=4
        )
    )
    assert "Union" not in ivfpq


def test_queries_follow_registration_order():
    """The driver contract is the registry itself: names are unique,
    queries() lists every entry in registration order, and oracle_sql()
    lists the entries that have an oracle in that same order."""
    import ltss_spark.plans as plans

    names = [q.name for q in plans.REGISTRY]
    assert len(names) == len(set(names)), "duplicate registry names"
    assert list(plans.queries()) == names
    assert list(plans.oracle_sql()) == [
        q.name for q in plans.REGISTRY if q.oracle is not None
    ]


def test_survey_2c_fully_covered():
    """Every SURVEY.md §2.C op-id must be a queries() key or cited in an
    entry's survey tag — the build contract stays complete as the registry
    evolves."""
    import sys

    sys.path.insert(0, ".")
    from scripts.check_survey_coverage import missing_op_ids

    assert missing_op_ids() == []


def test_corpus_op_plan_shapes(spark):
    """The scale claims in operators/corpus.py, verified on physical plans:
    quality_filter and hash_split are shuffle-free single-pass projections;
    pack_sequences shuffles exactly once (the stratum window); the
    contamination semi-join and incremental anti-join stay hash/broadcast
    joins (no nested loop, no cartesian)."""
    from ltss_spark.operators.corpus import (
        contamination,
        hash_split,
        incremental_dedup,
        pack_sequences,
        quality_filter,
    )
    from ltss_spark.sources.batch import load_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    qf = _plan(quality_filter(docs))
    assert "Exchange" not in qf, "quality_filter must not shuffle"
    assert "BatchEvalPython" not in qf and "ArrowEvalPython" not in qf

    hs = _plan(hash_split(docs))
    assert "Exchange" not in hs, "hash_split must not shuffle"

    ps = _plan(pack_sequences(docs))
    assert ps.count("Exchange") <= 2, "pack_sequences: one stratum shuffle"
    assert "CartesianProduct" not in ps

    import pyspark.sql.functions as F

    seen = docs.select(F.md5("text").alias("fp"))
    inc = _plan(incremental_dedup(docs, seen))
    assert "CartesianProduct" not in inc and "NestedLoop" not in inc

    ct = _plan(contamination(docs, docs.limit(10)))
    assert "CartesianProduct" not in ct and "NestedLoop" not in ct


def test_suffix_reconstruct_join_never_broadcasts_the_corpus(spark):
    """suffix_span_groups' span-reconstruct join is pinned to a shuffled
    hash join building on the (smaller) rep side: unhinted, the planner
    broadcast the TOKEN-ARRAY corpus side (checkpointed inputs carry no
    stats), which at 100 TB is the whole dataset. A Spark upgrade or
    refactor that reverts to the broadcast must fail here."""
    from ltss_spark.operators.dedup import suffix_span_groups

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(suffix_span_groups(docs, direct_positions=0))
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_jdbc_scan_pushes_predicates_and_partitions(spark):
    """scan_jdbc's value is the two scale levers: the catalyst filter must
    compile into the JDBC source (PushedFilters in the scan node — the
    database ships only matching rows) and the read must be split into
    range-partitioned parallel queries (numPartitions=8), not one
    driver-side cursor."""
    from ltss_spark.plans.registry_stream import scan_jdbc_q

    df = scan_jdbc_q(spark, SF_SMOKE)
    plan = _formatted(df)
    assert "PushedFilters" in plan
    assert "EVENT_TYPE" in plan or "event_type" in plan, "filter not pushed to JDBC"
    assert df.rdd.getNumPartitions() == 8, "JDBC read not range-partitioned"


def test_salted_join_spreads_hot_keys(spark):
    """salted_join must produce the same rows as the plain join AND, with
    broadcast disabled, shuffle on (key, salt) — the hot key's rows land
    on salt_buckets reduce tasks instead of one."""
    from ltss_spark.operators.skew import salted_join
    from ltss_spark.sources.batch import load_table

    e = load_table(spark, SF_SMOKE, "events").select("event_id", "event_type", "value")
    dim = e.groupBy("event_type").agg(F.min("value").alias("m"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        salted = salted_join(e, dim, on=["event_type"], salt_src=F.col("event_id"), salt_buckets=8)
        plan = _plan(salted)
        assert "SortMergeJoin" in plan and "__salt" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    plain = e.join(dim, "event_type")
    assert salted.count() == plain.count()
    a = {tuple(r) for r in salted.select("event_id", "m").collect()}
    b = {tuple(r) for r in plain.select("event_id", "m").collect()}
    assert a == b


def test_snapshot_prunes_month_partitions(spark):
    """snapshot_at over a month-partitioned table must reach
    PartitionFilters with the derived month bound (time <= T alone cannot
    prune the layout), and the answer must match the unpartitioned one."""
    from ltss_spark.ingest import states_from_events
    from ltss_spark.operators.timeseries import snapshot_at
    from ltss_spark.sources.batch import load_table, write_partitioned

    out = f"{tempfile.gettempdir()}/ltss_snap_{uuid.uuid4().hex}"
    states = states_from_events(load_table(spark, SF_SMOKE, "events"))
    write_partitioned(states, out)
    part = spark.read.parquet(out)

    snap = snapshot_at(part, "2024-01-15 12:00:00", tie_breaker="event_id")
    s = _formatted(snap)
    pf = s.split("PartitionFilters:")[1].splitlines()[0]
    assert "month" in pf and "2024-01" in pf

    want = {
        (r.entity_id, r.as_of_state)
        for r in snapshot_at(
            states, "2024-01-15 12:00:00", tie_breaker="event_id"
        ).collect()
    }
    got = {(r.entity_id, r.as_of_state) for r in snap.collect()}
    assert got == want


def test_join_bloom_plan(spark):
    """with_runtime_bloom must freeze an InjectRuntimeFilter'd plan: a
    might_contain probe over the fact key below the shuffle — and the
    scoped confs must be restored afterwards (no session-wide mutation)."""
    import ltss_spark.plans as plans
    from ltss_spark.operators.runtime_filter import has_runtime_bloom

    before = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    df = plans.queries()["join_bloom"](spark, SF_SMOKE)
    assert has_runtime_bloom(df), "runtime Bloom filter was not injected"
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "bloom_filter_agg" in s  # built over the filtered dim keys
    after = {k: spark.conf.get(k, None) for k in before}
    assert after == before, "scoped confs leaked into the session"
    # the frozen plan must survive an action run AFTER the scope closed
    assert df.count() > 0


def test_tws_replay_paths_are_pure_codegen(spark):
    """The State API v2 entries' capability-fallback replays (what runs in
    a JVM without a worker-visible protobuf runtime, and what the oracle
    encodes) must be pure DataFrame plans: no Python stage, no cartesian
    — the fallback must not quietly cost more than the stream it stands
    in for."""
    import pyspark.sql.functions as F

    from ltss_spark.plans.registry import _t
    from ltss_spark.streaming.stateful import (
        bootstrap_totals_replay,
        distinct_types_replay,
        gap_close_replay,
        recent_k_replay,
        running_totals_replay,
    )

    e = _t(spark, SF_SMOKE, "events").select("event_id", "user_id", "ts", "value")
    et = _t(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    us = F.unix_micros(F.col("ts"))
    b = e.agg(F.min(us).alias("lo"), F.max(us).alias("hi")).collect()[0]
    span = (b["hi"] - b["lo"]) // 3
    frames = {
        "running_totals": running_totals_replay(e),
        "distinct_types": distinct_types_replay(et),
        "recent_k": recent_k_replay(e, k=5),
        "bootstrap": bootstrap_totals_replay(e, b["lo"] + span),
        "gap_close": gap_close_replay(
            e, b["lo"] + span, b["lo"] + 2 * span, 21_600_000
        ),
    }
    for name, df in frames.items():
        s = df._jdf.queryExecution().executedPlan().toString()
        for marker in (
            "BatchEvalPython",
            "ArrowEvalPython",
            "PythonUDF",
            "InPandas",
            "CartesianProduct",
        ):
            # gap_close's 1-row watermark-max broadcast is a BroadcastNestedLoop
            # over a single row, not a cartesian blowup — only the markers
            # above are categorically banned
            assert marker not in s, f"{name} replay plan contains {marker}"


def test_local_frame_plans_as_local_table_scan(spark):
    """r12: adaptive driver-replay results (union-find, pagerank/LPA/BFS
    replays, BPE fold, rank offsets) must plan as a pure-JVM
    LocalTableScan — the pickled-RDD route (Scan ExistingRDD) respawns
    Python workers on EVERY downstream action (~0.3 s each at local[32]).
    Values must be identical to the classic list route, including NULLs
    and >32-bit longs."""
    from pyspark.sql import types as T

    from ltss_spark.localrel import local_frame

    schema = T.StructType(
        [
            T.StructField("a", T.StringType()),
            T.StructField("b", T.LongType()),
            T.StructField("c", T.DoubleType()),
        ]
    )
    rows = [("x", 1, 0.5), (None, None, None), ("y", 2**40, 1e-9)]
    df = local_frame(spark, rows, schema)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "Scan ExistingRDD" not in plan, plan
    ref = spark.createDataFrame(rows, schema)
    assert df.exceptAll(ref).count() == 0
    assert ref.exceptAll(df).count() == 0
    # DDL-string schemas and the empty frame are part of the contract
    assert local_frame(spark, [], "x int").count() == 0
    ddl = local_frame(spark, [(1, "p")], "n int, s string").collect()
    assert [(r["n"], r["s"]) for r in ddl] == [(1, "p")]


def test_lsh_topk_ranks_on_single_exchange(spark):
    """r12: the collision dedup + per-query top-k window must share ONE
    hashpartitioning exchange (repartition on query_id satisfies both
    clusterings). A second exchange here is the regression this guards."""
    from ltss_spark.operators.similarity import cosine_topk_lsh
    from ltss_spark.plans.registry import _t

    emb = _t(spark, SF_SMOKE, "embeddings")
    df = cosine_topk_lsh(emb, emb.filter(F.col("vec_id") < 3), k=5, dim=64)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_exch = plan.count("Exchange hashpartitioning")
    assert n_exch == 1, f"expected 1 hash exchange, saw {n_exch}:\n{plan}"


def test_gram_windows_string_and_column_forms_agree(spark):
    """r12: gram_windows builds the expression as one parsed SQL string
    when given a column NAME (plan-construction latency) and as composed
    Columns when given a Column — the two forms must stay
    value-identical, including the short-document empty-array guard."""
    from ltss_spark.operators.dedup import gram_windows

    docs = spark.createDataFrame(
        [
            (1, ["a", "b", "c", "d", "e", "f"]),
            (2, ["a", "b"]),  # shorter than k -> empty array
            (3, []),
            (4, None),
        ],
        "doc_id long, __toks array<string>",
    )
    got = docs.select(
        "doc_id",
        gram_windows("__toks", 3).alias("s"),
        gram_windows(F.col("__toks"), 3).alias("c"),
    ).collect()
    for r in sorted(got, key=lambda r: r["doc_id"]):
        assert r["s"] == r["c"], (r["doc_id"], r["s"], r["c"])
    by_id = {r["doc_id"]: r["s"] for r in got}
    assert by_id[1] == ["a b c", "b c d", "c d e", "d e f"]
    assert by_id[2] == [] and by_id[3] == []


def test_stage_batches_rejects_null_batch_col(spark, tmp_path):
    """A row whose batch_col is NULL lands in __b=__HIVE_DEFAULT_PARTITION__,
    which no batch file is moved from; staging must fail loudly instead of
    silently dropping it."""
    import pytest

    from ltss_spark.plans.registry_stream import stage_batches

    src = tmp_path / "src"
    batch = F.when(F.col("id") < 8, F.col("id") % 2)  # ids 8, 9 -> NULL
    with pytest.raises(ValueError, match="__HIVE_DEFAULT_PARTITION__"):
        stage_batches(spark.range(10), batch, 2, str(src))
    assert not (src / "__tmp").exists()


def test_scoped_conf_serializes_concurrent_overrides(spark):
    """session.scoped_conf is the one override of the shared session conf:
    overlapping overrides from many threads must each see their own value
    inside the block, and the key must end unset as it began (an unlocked
    set/restore interleaving reads a neighbour's value or restores a stale
    one)."""
    import sys
    import threading

    from ltss_spark.session import scoped_conf

    key = "spark.ltss.test.scopedConf"
    assert spark.conf.get(key, None) is None
    errors: list[str] = []

    def worker(tid: int) -> None:
        for i in range(20):
            want = f"{tid}-{i}"
            with scoped_conf(spark, {key: want}):
                got = spark.conf.get(key, None)
            if got != want:
                errors.append(f"{want} read {got}")

    prev_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(prev_interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:5]
    assert spark.conf.get(key, None) is None
