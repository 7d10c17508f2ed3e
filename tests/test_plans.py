"""Physical-plan shape assertions: the properties that make the engine
viable at 100 TB, locked in as tests so a refactor can't silently
regress them.

- the clean-path select never shuffles the samples side (broadcast
  joins only);
- the time-range prune reaches the parquet scan as a PARTITION filter
  (t_bucket), not just a row filter;
- an overlapping (dirty) bucket triggers dedup for itself only — the
  clean side of the union still has no samples shuffle.
"""

import pytest
from pyspark.sql import functions as F

from tsdb_spark import DB, eq


WIDTH = 3_600_000


def _rows(spark, series, t0, n, step=60_000, v0=0.0):
    data = [({"__name__": series}, t0 + i * step, v0 + i) for i in range(n)]
    return spark.createDataFrame(data, "labels MAP<STRING,STRING>, t LONG, v DOUBLE")


def _executed(df) -> str:
    df.collect()  # let AQE finalize the adaptive plan before reading it
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def store(spark, tmp_path):
    db = DB.create(spark, str(tmp_path / "db"), block_width_ms=WIDTH)
    db.append(_rows(spark, "m", 0, 240))  # 4 buckets
    return db


def test_clean_select_has_no_samples_shuffle(store):
    plan = _executed(store.querier(0, WIDTH * 4).select([eq("__name__", "m")]))
    assert "BroadcastHashJoin" in plan
    # every Exchange must be a broadcast: a ShuffleExchange here would
    # mean the 100TB samples scan is being repartitioned to answer a
    # simple select
    assert "ShuffleExchange" not in plan.replace("BroadcastExchange", "")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_time_prune_is_a_partition_filter(store):
    plan = _executed(store.querier(WIDTH, 2 * WIDTH - 1).select([eq("__name__", "m")]))
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf, "scan lost its PartitionFilters section"
    assert any("t_bucket" in ln for ln in pf), "t_bucket prune not pushed to scan"


def test_dirty_bucket_dedup_is_scoped(spark, store):
    # overlap bucket 0 only
    store.append(_rows(spark, "m", 10_000, 5, v0=500.0))
    assert store.overlapping_buckets == [0]
    q = store.querier(0, WIDTH * 4)
    plan = _executed(q.select([eq("__name__", "m")]))
    # the vertical dedup aggregates only the dirty partition: the plan
    # must contain the dedup aggregate AND a clean-side scan that still
    # carries the not-dirty partition filter
    assert "Union" in plan
    assert plan.count("HashAggregate") >= 1 or "SortAggregate" in plan
    assert any(
        "PartitionFilters" in ln and "NOT" in ln and "t_bucket" in ln
        for ln in plan.splitlines()
    ), "clean side lost its dirty-bucket partition exclusion"


def test_postings_matcher_plan_prunes_name(spark, tmp_path):
    db = DB.create(spark, str(tmp_path / "db2"), block_width_ms=WIDTH)
    db.append(_rows(spark, "a", 0, 10))
    db.append(_rows(spark, "b", 0, 10))
    db.materialize_postings()
    from tsdb_spark.operators.postings import postings_for_matchers

    ids = postings_for_matchers(db.postings(), db.series(), [eq("__name__", "a")])
    plan = _executed(ids)
    # the equality matcher must reach the postings scan as a filter on
    # the name column (partition- or row-level), not a post-join filter
    assert "name" in plan and ("PushedFilters" in plan or "PartitionFilters" in plan)


def test_federated_select_single_shuffle(spark, tmp_path):
    from tsdb_spark.db import federated_select

    rows = lambda t0, n: spark.createDataFrame(
        [({"m": "x", "i": str(i % 3)}, t0 + i, float(i)) for i in range(n)],
        "labels MAP<STRING,STRING>, t LONG, v DOUBLE",
    )
    a = DB.create(spark, str(tmp_path / "fa"), block_width_ms=WIDTH)
    a.append(rows(0, 50))
    b = DB.create(spark, str(tmp_path / "fb"), block_width_ms=WIDTH)
    b.append(rows(25, 50))
    plan = _executed(federated_select([a, b], [eq("m", "x")], 0, WIDTH))
    # AQE prints the final plan followed by the initial plan — count
    # shuffles in the final section only
    final = plan.split("== Initial Plan ==")[0]
    # each store's select is broadcast-only; the cross-store later-wins
    # dedup is the ONE permitted samples shuffle
    n_shuffles = final.count("Exchange hashpartitioning") + final.count(
        "Exchange rangepartitioning"
    )
    assert n_shuffles == 1, final[:2000]


def test_chunk_windows_is_map_only(spark):
    from tsdb_spark.pipeline.text import chunk_windows

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id LONG, text STRING"
    )
    plan = _executed(chunk_windows(docs))
    # training-sequence sharding must never shuffle: explode + project only
    assert "Exchange" not in plan
    assert "Generate explode" in plan


def test_pq_codes_broadcasts_codebook_and_combines(spark):
    from tsdb_spark.pipeline.embed import pq_codes

    emb = spark.createDataFrame(
        [(i, [float(i), 0.0, 1.0, 2.0]) for i in range(40)],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    plan = _executed(pq_codes(emb, m=2, n_codes=4))
    # the codebook side must broadcast (corpus never shuffles for the join)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # both fold-back aggregates are hash aggregates with partial sides
    assert plan.count("HashAggregate") >= 4


def test_histogram_quantile_single_aggregation_pass(spark, tmp_path):
    from tsdb_spark.queries import QUERIES, T0

    spark.createDataFrame(
        [(i, (T0 + i * 1000) * 1_000_000, 1, "m", float(i % 7), '{"k": 10}')
         for i in range(50)],
        "event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING",
    ).write.parquet(f"{tmp_path}/events.parquet")
    df = QUERIES["tsdb_histogram_quantile"].spark_fn(spark, str(tmp_path))
    # AQE's toString appends the pre-adaptive "Initial Plan" — assert on
    # the final plan section only
    plan = _executed(df).split("== Initial Plan ==")[0]
    # one partial+final aggregate pair, one shuffle on (name, window):
    # the quantile interpolation itself must not add passes or shuffles
    assert plan.count("HashAggregate") == 2
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln and "Broadcast" not in ln]
    assert len(exchanges) <= 1


def test_select_sorted_plan_has_global_sort(store):
    plan = _executed(store.querier(0, WIDTH * 4).select_sorted([eq("__name__", "m")]))
    assert "Sort [labels_str" in plan and "t#" in plan
    # the sort is global (range exchange), not merely per-partition —
    # the reference's output contract is a total (labels, t) order
    assert "rangepartitioning(labels_str" in plan


def test_offset_compare_joins_broadcast(spark, tmp_path):
    # the offset-modifier self-join is window-count-sized: it must plan
    # as a broadcast join, never a samples-side shuffle join
    from tsdb_spark.queries import QUERIES

    df = QUERIES["tsdb_offset_compare"].spark_fn(spark, "/root/testdata/sf0.001")
    plan = _executed(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pii_stats_is_map_only(spark):
    from tsdb_spark.pipeline.text import pii_stats

    docs = spark.createDataFrame(
        [(1, "mail me at a@b.co ref 1234567")], "doc_id LONG, text STRING"
    )
    plan = _executed(pii_stats(docs))
    # the compliance scan must stream: regex extraction + projection only
    assert "Exchange" not in plan


def test_sq8_topk_broadcasts_grid_and_probes(spark):
    from tsdb_spark.pipeline.embed import sq8_topk

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 1.0, 0.5]) for i in range(40)],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    plan = _executed(sq8_topk(emb, emb.filter(F.col("vec_id") < 2), k=3))
    # grid row and probe set broadcast; the corpus side must never
    # sort-merge against either
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pack_shards_has_no_global_sort(spark):
    from tsdb_spark.pipeline.text import pack_shards

    docs = spark.createDataFrame(
        [(i, "tok " * (i % 7 + 1), f"s{i % 3}") for i in range(60)],
        "doc_id LONG, text STRING, source STRING",
    )
    plan = _executed(pack_shards(docs, budget=8))
    # the running token sum is windowed PER SOURCE: every Sort in the
    # plan must be partition-local (global=false) — a global sort here
    # would serialize the whole corpus through one range partitioner
    for ln in plan.splitlines():
        if "Sort [" in ln or "Sort(" in ln:
            assert "false" in ln, f"global sort leaked into packing: {ln}"
    assert "Window" in plan


def test_group_left_joins_aggregates_not_samples(spark, tmp_path):
    from tsdb_spark.queries import QUERIES

    plan = _executed(
        QUERIES["tsdb_group_left"].spark_fn(spark, "/root/testdata/sf0.001")
    )
    # the many-to-one join runs over two rollups: each join child must
    # contain its own aggregate (i.e. the join is user x day sized, the
    # raw samples were reduced before any join exchange)
    assert "Join" in plan or "BroadcastHashJoin" in plan
    agg_before_join = plan.count("HashAggregate")
    assert agg_before_join >= 4  # partial+final for both sides


def test_cross_dedup_band_join_is_equi_never_nested_loop(spark):
    # the incoming-vs-existing band join must compile to a hash/merge
    # equi join on (band_id, band_key) — a nested-loop here would be
    # batch x corpus at every ingest
    from tsdb_spark.queries import QUERIES

    df = QUERIES["docs_cross_dedup"].spark_fn(spark, "/root/testdata/sf0.001")
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_semdedup_only_nested_loop_is_the_centroid_broadcast(spark):
    # the ONLY non-equi join in SemDeDup is the deliberate k-row
    # centroid broadcast (the IVF assign); the within-cluster pair join
    # must stay an equi join on centroid_id
    from tsdb_spark.queries import QUERIES

    df = QUERIES["emb_semdedup"].spark_fn(spark, "/root/testdata/sf0.001")
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "BroadcastNestedLoopJoin" in ln:
            assert "BuildRight" in ln or "BuildLeft" in ln  # broadcast side exists


def test_huge_matched_dim_skips_broadcast(spark, store):
    # force the guard: with the limit at 0 the broadcast hint must be
    # omitted (AQE then owns the join strategy); results stay identical
    plan_small = _executed(store.querier(0, WIDTH * 4).select([eq("__name__", "m")]))
    assert "BroadcastHashJoin" in plan_small
    store.broadcast_series_limit = 0
    try:
        df = store.querier(0, WIDTH * 4).select([eq("__name__", "m")])
        n = df.count()
        assert n == 240
    finally:
        del store.broadcast_series_limit


def test_promql_db_eval_prunes_partitions(store):
    # the evaluator over a DB store bounds its scan to
    # [start - reach + 1, end] — the t_bucket partition filter must
    # survive all the way through the grid fan-out plan
    from tsdb_spark.promql import eval_range_db

    df = eval_range_db(
        store, "sum_over_time(m[30m])", 2 * WIDTH, 3 * WIDTH, WIDTH // 2
    )
    plan = _executed(df)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("t_bucket" in ln for ln in pf), (
        "promql evaluation lost the t_bucket partition prune"
    )
    assert "CartesianProduct" not in plan


def test_at_pin_evaluates_once_and_broadcasts_grid(store):
    # `@` pins evaluation to one instant; the fan-out across the grid
    # must be a BROADCAST cross join with the tiny grid frame (the
    # step-invariant optimization), never a per-step re-evaluation or
    # an unbroadcast cartesian
    from tsdb_spark.promql import eval_range_db

    df = eval_range_db(
        store, f"count_over_time(m[1h] @ {2 * WIDTH // 1000})",
        2 * WIDTH, 4 * WIDTH, WIDTH,
    )
    plan = _executed(df)
    assert "CartesianProduct" not in plan
    # the pinned scan also keeps the partition prune (around the pin)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("t_bucket" in ln for ln in pf)


def test_count_values_is_one_combinable_aggregation(store):
    # count_values groups by (rendered value, T): one HashAggregate
    # pair (partial + final), no window, no join beyond the base path
    from tsdb_spark.promql import eval_range_db

    df = eval_range_db(store, 'count_values("lvl", m)', WIDTH, 2 * WIDTH, WIDTH)
    plan = _executed(df)
    assert "CartesianProduct" not in plan
    assert "Window" not in plan  # aggregation, not ranking


def test_dup_spans_join_is_equi_and_fanout_is_marked_only(spark):
    # duplicated_spans: the gram→duplicated-gram join must be an equi
    # join on the hash (the dup table grows with the corpus — a nested
    # loop would be grams x dups); no cartesian anywhere
    from tsdb_spark.queries import QUERIES

    df = QUERIES["docs_dup_spans"].spark_fn(spark, "/root/testdata/sf0.001")
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bpe_apply_corpus_side_never_runs_python(spark):
    # bpe_apply: the Arrow-batched encoder touches only the DISTINCT
    # word frame; the corpus side must be join+aggregate, with the
    # python eval feeding the (broadcast) vocab build
    docs = spark.createDataFrame(
        [(1, "a b c a b"), (2, "b c d")], "doc_id LONG, text STRING"
    )
    from tsdb_spark.pipeline import text as T

    merges = T.bpe_train(docs, n_merges=3, min_freq=1)
    df = T.bpe_apply(docs, merges)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the python stage exists exactly once (the vocab encode)
    assert plan.count("ArrowEvalPython") == 1


def test_limitk_is_one_window_no_join(store):
    # limitk ranks by the identity hash inside ONE window — no join,
    # no cartesian, and the storage prune survives
    from tsdb_spark.promql import eval_range_db

    df = eval_range_db(store, "limitk(2, m)", 2 * WIDTH, 4 * WIDTH, WIDTH)
    plan = _executed(df)
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("t_bucket" in ln for ln in pf)


def test_dynamic_scalar_broadcasts_grid_side(store):
    # vector / scalar(...): the per-step scalar frame joins in as a
    # broadcast (it is grid-sized), never a shuffled join of the
    # vector side on anything but its own aggregation keys
    from tsdb_spark.promql import eval_range_db

    df = eval_range_db(
        store, "m / scalar(count(m))", 2 * WIDTH, 4 * WIDTH, WIDTH
    )
    plan = _executed(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_info_join_broadcasts_info_side(spark):
    # info() must enrich via a BROADCAST join on (identifying labels, T)
    # — the main vector never reshuffles for a dim-scale info metric
    from tsdb_spark import labels as L
    from tsdb_spark.promql import RangeQuery

    rows = [
        ({"__name__": "m", "job": "a"}, 10_000, 1.0),
        ({"__name__": "m", "job": "b"}, 10_000, 2.0),
        ({"__name__": "target_info", "job": "a", "tier": "x"}, 5_000, 1.0),
    ]
    frame = spark.createDataFrame(
        rows, "labels MAP<STRING,STRING>, t LONG, v DOUBLE"
    ).withColumn("labels_str", L.labels_str_expr("labels"))
    q = RangeQuery(frame, 10_000, 30_000, 10_000, lookback_ms=30_000)
    plan = _executed(q.run("info(m)"))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_native_hist_is_pure_jvm(spark):
    # the native-histogram path (construction + quantile fold) must stay
    # inside whole-stage codegen: no Python evaluation, no cartesian
    from tsdb_spark import labels as L
    from tsdb_spark.nativehist import build_histograms
    from tsdb_spark.promql import RangeQuery

    rows = [({"__name__": "h", "s": "a"}, 1_000 + i * 500, float(i % 7 + 1))
            for i in range(40)]
    df = spark.createDataFrame(
        rows, "labels MAP<STRING,STRING>, t LONG, v DOUBLE"
    ).withColumn("labels_str", L.labels_str_expr("labels"))
    hf = build_histograms(df, 10_000)
    q = RangeQuery(hf, 10_000, 30_000, 10_000, lookback_ms=10_000)
    plan = _executed(q.run("histogram_quantile(0.9, h)"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # AQE renders codegen stages as "*(n)" markers
    assert "*(" in plan, "native-hist plan fell out of whole-stage codegen"


def test_keep_firing_lattice_is_broadcast_only(spark, tmp_path):
    # the dense signature x grid lattice is a broadcast of the TINY grid
    # frame; the only nested loop allowed is that broadcast cross join
    from tsdb_spark.rules import AlertRule, alerts_frame

    db = DB.create(spark, str(tmp_path / "kfplan"), block_width_ms=WIDTH)
    db.append(_rows(spark, "m", 0, 60))
    frame = alerts_frame(
        db,
        AlertRule("a", "m > 5", for_ms=120_000, keep_firing_ms=120_000),
        0,
        1_800_000,
        60_000,
    )
    plan = _executed(frame)
    assert "CartesianProduct" not in plan
    # AQE toString repeats operators in the "Initial Plan" section —
    # count nested loops in the final plan only
    final = plan.split("== Initial Plan ==")[0]
    bnlj = final.count("BroadcastNestedLoopJoin")
    assert bnlj <= 1, f"unexpected nested loops: {bnlj}"


def test_federate_is_pruned_and_one_shuffle(spark, store):
    # each selector rides the pruned querier; the cross-selector dedup
    # is ONE combinable groupBy — no cartesian, partition prune intact
    from tsdb_spark.api import federate_frame

    df = federate_frame(store, ["m", 'm{__name__="m"}'], 2 * WIDTH)
    plan = _executed(df)
    assert "CartesianProduct" not in plan
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("t_bucket" in ln for ln in pf), (
        "federate lost the t_bucket partition prune"
    )


def test_hist_group_sum_is_combinable_no_python(spark):
    # the histogram sum aggregation must stay JVM-side with combinable
    # (partial) aggregates — no Python eval, no cartesian
    from tsdb_spark import labels as L
    from tsdb_spark.nativehist import build_histograms
    from tsdb_spark.promql import RangeQuery

    rows = [({"__name__": "h", "s": str(i % 3)}, 1_000 + i * 500,
             float(i % 7 + 1)) for i in range(60)]
    df = spark.createDataFrame(
        rows, "labels MAP<STRING,STRING>, t LONG, v DOUBLE"
    ).withColumn("labels_str", L.labels_str_expr("labels"))
    hf = build_histograms(df, 10_000)
    q = RangeQuery(hf, 10_000, 30_000, 10_000, lookback_ms=10_000)
    plan = _executed(
        q.run("histogram_quantile(0.9, sum by (s) (h))")
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_" in plan  # map-side combine on the component sums


def test_exemplars_frame_is_pruned_and_broadcast(spark, store):
    # the /api/v1/query_exemplars scan: t_bucket partition prune reaches
    # the exemplars parquet scan, the dim joins BROADCAST, and the only
    # shuffle is the read-time exact-dup groupBy (exemplar-table-sized,
    # never the samples table)
    ex = spark.createDataFrame(
        [({"__name__": "m"}, WIDTH + 1_000, 1.0, {"trace_id": "t1"})],
        "labels MAP<STRING,STRING>, t LONG, v DOUBLE, "
        "exemplar MAP<STRING,STRING>",
    )
    store.append_exemplars(ex)
    plan = _executed(store.exemplars_frame(WIDTH, 2 * WIDTH - 1, [eq("__name__", "m")]))
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("t_bucket" in ln for ln in pf), "exemplar scan lost its t_bucket prune"
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_openmetrics_parse_is_pure_jvm_projection(spark):
    # the backfill parser must be scan+project only: no Python, no
    # shuffle — a 100 TB text dump parses embarrassingly parallel
    from tsdb_spark.sources.openmetrics import parse_openmetrics

    lines = spark.createDataFrame(
        [('m{a="b"} 1.5 1704067200.000',), ("# EOF",)], "line string"
    )
    df = parse_openmetrics(spark, lines=lines)
    plan = _executed(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan, "parse must not shuffle"


def test_group_left_include_is_equi_join_never_nested_loop(spark):
    # the include-label copy (group_left(src)) must ride the signature
    # equi-join as one map column — a nested loop here would be
    # many x one per step
    from tsdb_spark.queries import QUERIES

    df = QUERIES["promql_group_left_include"].spark_fn(
        spark, "/root/testdata/sf0.001"
    )
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_band_index_probe_scan_has_band_id_partition_filter(spark, tmp_path):
    # the persisted band index is PARTITIONED BY band_id; a probe joins
    # the (broadcast) incoming batch's bands on the partition column
    # first, so the index scan must carry a band_id partition filter
    # (dynamic partition pruning) — the disk analog of only opening the
    # band files a batch can collide in
    from tsdb_spark.pipeline.bandindex import BandIndex

    base = spark.createDataFrame(
        [(i, f"document number {i} with some shared words {i % 3}") for i in range(20)],
        "doc_id LONG, text STRING",
    )
    idx = BandIndex.build(spark, base, str(tmp_path / "bidx"))
    probe = idx.probe(
        spark.createDataFrame(
            [(100, "document number 1 with some shared words 1")],
            "doc_id LONG, text STRING",
        )
    )
    probe.count()
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    pf = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "bidx" in ln or
           ("PartitionFilters" in ln and "band_id" in ln)
    ]
    assert pf and any(
        "band_id" in ln and "dynamicpruning" in ln for ln in pf
    ), f"index scan lost the band_id partition filter: {pf!r}"


def test_band_index_probe_large_batch_falls_back_to_shuffle_join(
    spark, tmp_path
):
    # a batch whose band-row count exceeds the broadcast ceiling must
    # NOT broadcast (an unconditional F.broadcast would blow the driver
    # on a big ingest): the probe falls back to a shuffle equi-join on
    # the same (band_id, band_key) keys — still never a nested loop.
    # DPP is absent here by design: Spark prunes via broadcast reuse
    # only, and an over-ceiling batch populates every band anyway.
    from tsdb_spark.pipeline.bandindex import BandIndex

    base = spark.createDataFrame(
        [(i, f"document number {i} with some shared words {i % 3}")
         for i in range(20)],
        "doc_id LONG, text STRING",
    )
    idx = BandIndex.build(spark, base, str(tmp_path / "bidx2"))
    batch = spark.createDataFrame(
        [(100 + i, f"document number {i} with some shared words {i % 3}")
         for i in range(4)],
        "doc_id LONG, text STRING",
    )
    probe = idx.probe(batch, broadcast_row_limit=1)  # force the fallback
    rows = probe.collect()
    assert rows, "shuffle-path probe must still find candidates"
    # the guarantee is that the broadcast is no longer FORCED: the
    # logical plan carries no broadcast hint, so Catalyst/AQE sizes the
    # join from statistics (this test's 4-doc batch still broadcasts by
    # choice — at real over-ceiling scale it will not)
    logical = probe._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical and "UnresolvedHint" not in logical
    hinted = idx.probe(batch)._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in hinted  # the small-batch path still hints
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # both plans answer identically
    assert sorted(map(tuple, rows)) == sorted(
        map(tuple, idx.probe(batch).collect())
    )


def test_band_index_probe_counts_batch_lineage_once(spark, tmp_path):
    # the plan-choice count must not run the batch's upstream lineage
    # a second time: with batch_rows passed the probe never counts (no
    # cache, no extra job); without it the incoming corpus is persisted
    # BEFORE the count so the join reuses the materialized batch — and
    # the cache sits on the corpus, not the sketched band frame, so
    # dynamic partition pruning still inserts (asserted in the DPP
    # test above, which runs the counting path)
    from tsdb_spark.pipeline.bandindex import BandIndex

    base = spark.createDataFrame(
        [(i, f"document number {i} with some shared words {i % 3}")
         for i in range(20)],
        "doc_id LONG, text STRING",
    )
    idx = BandIndex.build(spark, base, str(tmp_path / "bidx3"))
    batch = spark.createDataFrame(
        [(100, "document number 1 with some shared words 1")],
        "doc_id LONG, text STRING",
    )
    sized = idx.probe(batch, batch_rows=1)
    # cache substitution happens at optimization (withCachedData), so
    # the optimized plan is where the persist is (in)visible
    assert "InMemoryRelation" not in (
        sized._jdf.queryExecution().optimizedPlan().toString()
    )
    counted = idx.probe(batch)
    assert "InMemoryRelation" in (
        counted._jdf.queryExecution().optimizedPlan().toString()
    )
    assert sorted(map(tuple, sized.collect())) == sorted(
        map(tuple, counted.collect())
    )
    batch.unpersist()


def test_forwarder_tail_read_pushes_ingest_seq_filter(spark, tmp_path):
    # the remote-write forwarder tails the store by ingest_seq; that
    # predicate must reach the parquet scan (PushedFilters) so row
    # groups written by already-forwarded appends skip on min/max
    # stats — appends are write-time clustered, so the steady-state
    # tail read touches only the newest files' row groups
    from tsdb_spark import DB
    from tsdb_spark.config import RemoteWriteConfig, RemoteWriteForwarder

    db = DB.create(spark, str(tmp_path / "db"), block_width_ms=3_600_000)
    db.append(spark.createDataFrame(
        [({"__name__": "m"}, 1_000, 1.0)],
        "labels MAP<STRING,STRING>, t LONG, v DOUBLE",
    ))
    fwd = RemoteWriteForwarder(
        db, [RemoteWriteConfig(url="http://unused/api/v1/write")]
    )
    smp = fwd._tail(db.samples(), 0, 10)
    ser = db.series().select("series_id", "labels")
    df = fwd._attach_external(
        smp.join(ser, "series_id").select("labels", "t", "v")
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    # BOTH bounds push: > mark (skip forwarded row groups) and <= head
    # (pin the sent set to the watermark advance)
    assert any(
        "ingest_seq" in ln and ("GreaterThan" in ln or ">" in ln)
        for ln in pushed
    ), f"ingest_seq tail predicate not pushed: {pushed!r}"
    assert any(
        "ingest_seq" in ln and ("LessThanOrEqual" in ln or "<=" in ln)
        for ln in pushed
    ), f"ingest_seq head bound not pushed: {pushed!r}"


def test_bm25_single_scan_no_corpus_shuffle(spark):
    """BM25's plan must be: one corpus scan -> map-only tf columns ->
    single-row aggregate broadcast back -> TakeOrderedAndProject. The
    only exchanges are the scalar aggregate's partial->final and the
    broadcast — the corpus rows themselves never hash-shuffle."""
    from tsdb_spark.pipeline.text import bm25_topk

    docs = spark.createDataFrame(
        [(i, f"join window scan row {i}") for i in range(50)],
        "doc_id LONG, text STRING",
    )
    plan = _executed(bm25_topk(docs, ["join", "window"]))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # no hash repartitioning of the corpus: the only shuffle is the
    # single-partition gather feeding the global aggregate
    assert "hashpartitioning" not in plan


def test_window_binop_same_selector_fuses_to_one_chain(spark):
    """`sum_over_time(m[R]) / count_over_time(m[R])` (name-pinned
    selector, default matching) must evaluate as ONE window chain whose
    groupBy carries both sides' aggregates — no signature join, no
    second scan. Row parity with the general join path is checked in
    tests/test_promql.py (test_fused_window_chain_matches_general_path)."""
    from tsdb_spark import labels as L
    from tsdb_spark.promql import RangeQuery, parse_expr

    rows = [
        ({"__name__": "m", "i": str(i % 5)}, 1_000 * (i + 1), float(i % 7))
        for i in range(60)
    ]
    frame = spark.createDataFrame(
        rows, "labels MAP<STRING,STRING>, t LONG, v DOUBLE"
    ).withColumn("labels_str", L.labels_str_expr("labels"))
    q = RangeQuery(frame, 20_000, 60_000, 10_000, lookback_ms=10_000)
    node = parse_expr("sum_over_time(m[15s]) / count_over_time(m[15s])")

    plan = _executed(q.eval(node))
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert join not in plan, f"fused window binop still joins: {join}"

    # a regex-name selector must keep the general path (collision safety)
    rx = parse_expr(
        'sum_over_time({__name__=~"m"}[15s])'
        ' / count_over_time({__name__=~"m"}[15s])'
    )
    assert q._window_frame([("_lv", rx.left), ("_rv", rx.right)]) is None
