"""Physical-plan contract tests: the optimizations the engine is
designed around must actually appear in the plans (pushdown, column
pruning, broadcast strategies, window-group-limit winner selection) —
and plan regressions (cartesian products, full-width scans) must fail
loudly here rather than at 100 TB.
"""

import pytest

import __spark_entry__ as entry


def plan_of(spark, name, sf_dir):
    df = entry.queries()[name](spark, sf_dir)
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    p = plan_of(spark, "pricing_summary", sf_dir)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # projection pruned to the 7 needed columns — no full-width scan
    assert "l_orderkey" not in p.split("ReadSchema")[1].splitlines()[0]
    assert "HashAggregate" in p


def test_star_joins_broadcast_no_cartesian(spark, sf_dir):
    for q in ["shipping_priority_top10", "nation_revenue"]:
        p = plan_of(spark, q, sf_dir)
        assert "BroadcastHashJoin" in p, q
        assert "CartesianProduct" not in p, q
    # top-k via TakeOrderedAndProject, not global sort
    assert "TakeOrderedAndProject" in plan_of(spark, "shipping_priority_top10", sf_dir)


@pytest.mark.parametrize(
    "name", ["containment_first", "containment_longest", "regex_kb_match", "export_render"]
)
def test_containment_join_shape(spark, sf_dir, name):
    df = entry.queries()[name](spark, sf_dir)
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    p = qe.explainString(mode)
    # the fact is read once: no join back onto it, so the leaves are the
    # fact scan and the dim
    assert qe.analyzed().collectLeaves().size() == 2
    # the dim is one broadcast row of priority-sorted structs, crossed
    # onto the fact — the fact is never shuffled
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p
    assert "Exchange hashpartitioning" not in p
    # the winner is each row's first hit in that array, not a sort-based
    # window, and never an unhinted cartesian
    assert "Window" not in p
    assert "CartesianProduct" not in p


def test_fx_join_broadcast_left_outer(spark, sf_dir):
    p = plan_of(spark, "events_fx_convert", sf_dir)
    assert "BroadcastHashJoin LeftOuter" in p


def test_outlier_median_window_no_join(spark, sf_dir):
    """The per-brand median is a window: no join back onto the fact
    table, and the window's exchange on p_brand is the only shuffle."""
    import re

    p = plan_of(spark, "part_price_outliers", sf_dir)
    assert "Join" not in p
    assert "CartesianProduct" not in p
    assert re.findall(r"Arguments: (\w+)partitioning\((\w+)#", p) == [("hash", "p_brand")]


def test_pipeline_plan_no_cartesian(spark):
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark import (
        fixtures,
    )
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.plans import (
        pipeline,
    )

    inputs = (
        fixtures.shipments_df(spark),
        fixtures.model_ref_df(spark),
        fixtures.regex_kb_df(spark),
        fixtures.fx_rates_df(spark),
    )
    sc = spark.sparkContext
    sc.setJobGroup("pipeline-plan", "run_pipeline build")
    try:
        df = pipeline.run_pipeline(*inputs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # building the plan runs nothing
    assert list(sc.statusTracker().getJobIdsForGroup("pipeline-plan")) == []
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    p = qe.explainString(mode)
    assert "CartesianProduct" not in p
    # the containment/regex dims ride broadcast nested loop joins
    assert "BroadcastNestedLoopJoin" in p
    assert "BroadcastHashJoin" in p
    # one linear plan: each input frame is read once (no stage joins back
    # onto the fact table), and only the two windows shuffle
    assert qe.analyzed().collectLeaves().size() == len(inputs)
    assert p.count("Exchange hashpartitioning") <= 2


def test_no_python_udfs_in_query_plans(spark, sf_dir):
    """Everything except the multimodal decoder must stay JVM-side."""
    for q in ["documents_normalize", "text_stats", "simhash", "lang_id",
              "quantity_binning", "regex_kb_match"]:
        p = plan_of(spark, q, sf_dir)
        assert "BatchEvalPython" not in p, q
        assert "ArrowEvalPython" not in p, q


def test_sessionize_single_exchange(spark, sf_dir):
    """Window + per-session agg + per-user agg must all reuse ONE
    hash-partitioning on user_id (subset-key clustering satisfies the
    downstream groupBys) — a second exchange here would double-shuffle
    the full event log at scale."""
    import re

    p = plan_of(spark, "sessionized_events", sf_dir)
    assert len(re.findall(r"(?<!Broadcast)Exchange \(", p)) == 1


def test_top_k_per_group_window_group_limit(spark, sf_dir):
    """row_number<=k must compile to WindowGroupLimit with a Partial
    pass BEFORE the exchange — each map task forwards only its local
    top-k, so the shuffle carries O(groups*k), not all groups' rows."""
    p = plan_of(spark, "top_parts_per_brand", sf_dir)
    assert "WindowGroupLimit" in p
    assert "Partial" in p.split("Exchange hashpartitioning(p_brand")[0]
    assert "BroadcastHashJoin" in p  # part dim broadcast, lineitem never shuffled for the join


def test_anti_semi_join_strategies(spark, sf_dir):
    p = plan_of(spark, "customers_no_orders", sf_dir)
    assert "LeftAnti" in p and "CartesianProduct" not in p
    p = plan_of(spark, "suppliers_with_returns", sf_dir)
    assert "LeftSemi" in p and "CartesianProduct" not in p
    # returnflag filter reaches the lineitem scan
    assert "PushedFilters" in p and "l_returnflag" in p


def test_hash_sample_no_shuffle_before_filter(spark, sf_dir):
    """Deterministic sampling is a pure narrow filter: the only exchange
    allowed is the final aggregation's."""
    import re

    p = plan_of(spark, "hash_sampled_stats", sf_dir)
    assert len(re.findall(r"(?<!Broadcast)Exchange \(", p)) == 1


def test_pii_redaction_pure_projection(spark, sf_dir):
    """Chained regexp_replace scrub: zero exchanges, no Python, scan
    pruned to (doc_id, text)."""
    import re

    p = plan_of(spark, "pii_redaction", sf_dir)
    assert len(re.findall(r"(?<!Broadcast)Exchange \(", p)) == 0
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    read = p.split("ReadSchema")[1].splitlines()[0]
    assert "text" in read and "lang" not in read


def test_packed_chunks_single_window_exchange(spark, sf_dir):
    """Bucketed packing: ONE hash exchange on the bucket key feeds both
    the window and the (bucket, chunk_id) aggregate — grouping on a
    superset of the window partition key preserves clustering, so the
    full corpus is shuffled exactly once."""
    import re

    p = plan_of(spark, "packed_chunks", sf_dir)
    assert "Window" in p
    assert len(re.findall(r"(?<!Broadcast)Exchange \(", p)) == 1
    assert "CartesianProduct" not in p


def test_unigram_logprob_joins_on_token_partitioning(spark, sf_dir):
    """Word-count shape: no cartesian, no Python, frequency-table join
    keyed on the token."""
    p = plan_of(spark, "doc_unigram_logprob", sf_dir)
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_timeseries_windows_single_exchange(spark, sf_dir):
    """Deltas, SCD2, and dual-frame rolling stats each shuffle the
    events table exactly once: every window/groupBy in the chain is
    keyed on (a subset-compatible superset of) the same entity key."""
    import re

    for q in ["event_deltas", "scd2_user_type", "rolling_value_stats"]:
        p = plan_of(spark, q, sf_dir)
        assert len(re.findall(r"(?<!Broadcast)Exchange \(", p)) == 1, q
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, q


def test_resample_partial_agg_before_shuffle(spark, sf_dir):
    """Resample keeps the map-side partial aggregate: the full event
    stream is combined per (key, bucket) BEFORE its shuffle, and the
    only other exchange moves already-bucketed (tiny) aggregates.  A
    repartition-by-key-first shape would be 1 exchange but would ship
    raw rows — worse at scale."""
    import re

    p = plan_of(spark, "resampled_series", sf_dir)
    assert len(re.findall(r"(?<!Broadcast)Exchange \(", p)) == 2
    assert "HashAggregate" in p
    assert "CartesianProduct" not in p


def test_grouping_sets_one_exchange(spark, sf_dir):
    import re

    p = plan_of(spark, "grouping_sets_pricing", sf_dir)
    assert "Expand" in p
    assert len(re.findall(r"(?<!Broadcast)Exchange \(", p)) == 1


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """The benchmark gram set rides a broadcast join — the corpus-side
    gram stream is never shuffled for the membership probe."""
    p = plan_of(spark, "decontaminate_docs", sf_dir)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_tfidf_partial_topk_before_shuffle(spark, sf_dir):
    """Per-doc top-k compiles to a partial WindowGroupLimit below the
    doc-key exchange — only ~k candidate rows per doc cross the wire."""
    p = plan_of(spark, "tfidf_terms", sf_dir)
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_tfidf_no_midplan_action(spark, sf_dir):
    """Building the tfidf plan must not launch a Spark job: the corpus
    size N rides in as a broadcast scalar aggregate, not a driver-side
    ``count()`` barrier (a full extra job at 100 TB)."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        textstats,
    )

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")  # schema job here
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    textstats.tfidf_top_terms(df, "doc_id", "text", k=3)  # construct only
    after = set(tracker.getJobIdsForGroup(None))
    assert after == before, "plan construction ran a job"


def test_salted_join_plan_shape(spark):
    """Plan contract for skew.salted_join: the join key set includes the
    salt column (hot keys spread across num_salts hash partitions) and
    the dim side explodes — never a plain single-key join and never a
    nested-loop fallback."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        skew,
    )
    from pyspark.sql import functions as F

    fact = spark.range(0, 10_000).select(
        (F.col("id") % 5).cast("string").alias("k"), F.col("id").alias("v")
    )
    dim = spark.createDataFrame(
        [(str(i), f"d{i}") for i in range(5)], "k string, payload string"
    )
    out = skew.salted_join(fact, dim, "k", num_salts=8, salt_source="v")
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_runtime_bloom_filter_join_pruning(spark, tmp_path):
    """A selective filter on the build side of a shuffle join is
    rewritten into a bloom filter evaluated at the probe side's scan —
    runtime row-level pruning BEFORE the shuffle, the key defense for a
    100 TB fact joined to a filtered dim too big to broadcast."""
    from pyspark.sql import functions as F

    big = spark.range(2_000_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    small = spark.range(200_000).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("w")
    )
    big.write.mode("overwrite").parquet(str(tmp_path / "big"))
    small.write.mode("overwrite").parquet(str(tmp_path / "small"))

    keys = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "500MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {}
    for k, v in keys.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        j = spark.read.parquet(str(tmp_path / "big")).join(
            spark.read.parquet(str(tmp_path / "small")).filter(F.col("w") == 3),
            "k",
        )
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        p = j._jdf.queryExecution().explainString(mode)
        assert "might_contain" in p          # probe side consumes the filter
        assert "bloom_filter_agg" in p       # build side produces it
        assert j.count() == 15385            # semantics unchanged
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_join_strategy_hints_respected(spark, sf_dir):
    """Scale levers: SHUFFLE_HASH / MERGE hints must override the default
    broadcast pick so a 100TB-side join can be steered per-site."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    plan_sh = (
        li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ShuffledHashJoin" in plan_sh
    plan_sm = (
        li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" in plan_sm


def test_activity_streaks_single_exchange(spark, sf_dir):
    import re
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import timeseries
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "day", (F.col("event_id") % 30).cast("bigint")
    )
    plan = (
        timeseries.activity_streaks(e, "user_id", "day")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"(?<!Broadcast)Exchange ", plan)) == 1


def test_semantic_dedup_cell_equi_join_no_cartesian(spark, sf_dir):
    p = plan_of(spark, "semantic_dedup", sf_dir)
    # the pairwise stage must be an equi join on the cell id, never an
    # all-pairs nested loop — the whole point of the quantizer
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_hard_negatives_cell_equi_join_no_cartesian(spark, sf_dir):
    p = plan_of(spark, "hard_negatives", sf_dir)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # per-anchor top-k goes through WindowGroupLimit partial pruning
    assert "WindowGroupLimit" in p


def test_ivf_candidates_have_no_pair_dedup(spark, sf_dir):
    """A corpus row has one home cell and a query probes distinct cells,
    so the IVF candidates of ``ann_ivf_pq`` and ``hard_negatives`` meet
    each (query, neighbor) pair once: no aggregate keyed on the pair."""
    import re

    for name in ("ann_ivf_pq", "hard_negatives"):
        df = entry.queries()[name](spark, sf_dir)
        df.collect()
        p = df._jdf.queryExecution().executedPlan().toString()
        keyed = r"HashAggregate\(keys=\[query_id#\d+L?, neighbor_id#\d+L?"
        assert not re.search(keyed, p), name


def test_dup_span_detect_plan_shape(spark, sf_dir):
    p = plan_of(spark, "dup_span_detect", sf_dir)
    # duplicated-gram membership must be a semi join on the hash pair
    # (one row per hash in the dup set -> no fan-out), never a nested
    # loop; the whole pipeline stays JVM-side
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_pagerank_plan_shape(spark, sf_dir):
    p = plan_of(spark, "pagerank_parts", sf_dir)
    # unrolled power iteration: equi joins + hash aggregates only; the
    # N scalar rides a broadcast (1-row nested loop is fine), but a
    # true cartesian or a Python stage is a regression
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "HashAggregate" in p


def test_token_shards_plan_shape(spark, sf_dir):
    p = plan_of(spark, "token_shards", sf_dir)
    # global cumsum must be the two-pass bucket shape: offsets ride a
    # broadcast join back to the corpus (never a second corpus-side
    # shuffle on the bucket key), no cartesian, no Python stage
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_sentence_chunks_single_corpus_exchange(spark, sf_dir):
    """Sentence window + (id, chunk) re-agg share ONE doc-keyed
    exchange — grouping on a superset of the window partition key
    preserves clustering."""
    import re

    p = plan_of(spark, "sentence_chunks", sf_dir)
    assert len(re.findall(r"(?<!Broadcast)Exchange \(", p)) == 1
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_bigram_logprob_no_cartesian_no_python(spark, sf_dir):
    p = plan_of(spark, "bigram_logprob", sf_dir)
    # frequency joins are keyed equi joins; the only nested-loop is the
    # 1-row broadcast scalar total
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_rag_index_pipeline_one_dag(spark, sf_dir):
    p = plan_of(spark, "rag_index_pipeline", sf_dir)
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_dup_span_strip_plan_shape(spark, sf_dir):
    p = plan_of(spark, "dup_span_strip", sf_dir)
    # keeper membership joins on the hash pair; surviving words leave
    # via an anti join on (id, pos); everything JVM-side
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_bm25_broadcasts_freq_tables(spark, sf_dir):
    p = plan_of(spark, "bm25_search", sf_dir)
    # document frequencies and the N/avgdl scalar ride broadcasts — the
    # corpus-side term stream is never shuffled for the score join
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_seasonal_anomalies_profile_broadcast_fact_not_shuffled(spark, sf_dir):
    import re

    p = plan_of(spark, "seasonal_anomalies", sf_dir)
    # the 168-cell profile broadcasts back; the only non-broadcast
    # exchange feeds the profile aggregate, never the event stream
    assert "BroadcastHashJoin" in p
    assert len(re.findall(r"(?<!Broadcast)Exchange \(", p)) == 1


def test_event_trigrams_single_window_exchange(spark, sf_dir):
    import re

    p = plan_of(spark, "event_trigrams", sf_dir)
    # one Window node (both leads share the spec) + the gram aggregate
    assert p.count("Window (") == 1
    assert len(re.findall(r"(?<!Broadcast)Exchange \(", p)) <= 2


def test_order_reconcile_child_aggregates_before_join(spark, sf_dir):
    p = plan_of(spark, "order_reconcile", sf_dir)
    # the lineitem side must reach the parent join as an aggregate
    # (HashAggregate below the join), never as raw child rows
    assert "HashAggregate" in p.split("SortMergeJoin")[0] + p.split("ShuffledHashJoin")[0]
    assert "CartesianProduct" not in p


def test_curation_pipeline_one_dag_no_cartesian(spark, sf_dir):
    p = plan_of(spark, "curation_pipeline", sf_dir)
    # five stages, one DAG: no cartesian anywhere, no Python UDF stage
    # outside the (absent here) multimodal boundary, and no global
    # single-partition sort (the rank is the two-pass bucket shape)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # the global train-order rank must be the two-pass bucket shape —
    # never an Exchange SinglePartition feeding a full-data Sort
    import re
    assert not re.search(r"Exchange SinglePartition[^\n]*\n[^\n]*Sort ", p)


def test_no_python_udfs_anywhere_in_registry(spark, sf_dir, monkeypatch):
    """The repo-wide anti-pattern sweep as a plan contract: EVERY
    registered query's physical plan must be Python-free except the
    declared Python-boundary set (multimodal codecs via mapInPandas).
    Compiles all plans; executes none."""
    import os

    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark import (
        reference_harness as rh,
    )

    # without the reference's xlsx files, reference_batch_parity plans
    # the same run_pipeline call over the harness builders' empty,
    # explicitly typed frames
    if not (os.path.exists(rh.INPUT_XLSX) and os.path.exists(rh.GOLDEN_XLSX)):
        monkeypatch.setattr(rh, "load_reference_records", lambda: ([], []))
    python_boundary = {
        "media_features", "media_frames", "media_resize",
        "media_decode_dims", "media_wav_stats", "media_dhash",
        # perceptual image dedup decodes REAL pixels through the same
        # mapInPandas codec boundary as media_dhash
        "image_near_dup",
    }
    bad = []
    for name in entry.queries():
        if name in python_boundary:
            continue
        try:
            p = plan_of(spark, name, sf_dir)
        except Exception as e:  # pragma: no cover - fail loudly below
            bad.append((name, f"plan failed: {e}"))
            continue
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                       "FlatMapGroupsInPandas"):
            if marker in p:
                bad.append((name, marker))
    assert not bad, bad
    spark.catalog.clearCache()


def test_session_transcripts_single_exchange(spark, sf_dir):
    """Transcript assembly must ride the sessionize window's entity
    exchange: lag window + session numbering + per-session ordered
    collect all share ONE hash partitioning on user_id."""
    import re

    p = plan_of(spark, "session_transcripts", sf_dir)
    assert len(re.findall(r"(?<!Broadcast)Exchange \(", p)) == 1


def test_cusum_single_exchange_two_windows(spark, sf_dir):
    """Both CUSUM window passes (cumsum + running min) share one
    entity-key exchange and one sort."""
    import re

    p = plan_of(spark, "cusum_alarms", sf_dir)
    assert len(re.findall(r"(?<!Broadcast)Exchange \(", p)) == 1


def test_cbo_column_stats_shrink_filtered_estimate(spark):
    """Cost-based optimization contract: with column statistics
    (ANALYZE ... FOR COLUMNS) and CBO on, a selective filter's size
    estimate shrinks by orders of magnitude (file-size ≈ 52 MB → KBs
    here) — which is what lets Catalyst broadcast a FILTERED slice of
    a big dim at compile time instead of shuffling the fact table.
    At 100 TB, collecting stats on dim tables is how the star joins
    stay broadcast even behind selective predicates."""
    spark.sql("DROP TABLE IF EXISTS cbo_dim")
    old_cbo = spark.conf.get("spark.sql.cbo.enabled", "false")
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.planStats.enabled", "true")
        spark.range(0, 1_500_000).selectExpr(
            "id", "md5(CAST(id AS STRING)) AS pad"
        ).write.mode("overwrite").saveAsTable("cbo_dim")

        def est(df):
            return int(
                str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
            )

        before = est(spark.table("cbo_dim").filter("id < 500"))
        spark.sql("ANALYZE TABLE cbo_dim COMPUTE STATISTICS FOR COLUMNS id")
        after = est(spark.table("cbo_dim").filter("id < 500"))
        assert after * 100 < before, (before, after)
    finally:
        spark.conf.set("spark.sql.cbo.enabled", old_cbo)
        spark.sql("DROP TABLE IF EXISTS cbo_dim")


def test_tpch_analog_joins_broadcast_single_exchange(spark, sf_dir):
    """The Q14/Q15/Q17/Q18 rewrites exist to avoid correlated re-scans:
    every join must be broadcast (dim- or aggregate-sized side) and the
    only hash exchange is the aggregate's own shuffle."""
    for name in [
        "promo_revenue",
        "top_supplier",
        "small_qty_revenue",
        "large_orders",
    ]:
        plan = (
            entry.queries()[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "SortMergeJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name
        assert plan.count("Exchange hashpartitioning") <= 1, name


def test_tpch_completion_pack_join_strategy(spark, sf_dir):
    """The Q2/Q9/Q10/Q12/Q13/Q16/Q20 analogs: every dim join is
    broadcast, the only sort-merge join allowed in the whole pack is
    Q7's fact-fact lineitem⋈orders edge (both sides stay fact-sized at
    scale, so a shuffle join IS the right plan there), and exchange
    counts stay bounded at each query's aggregate structure."""
    max_exch = {
        "min_cost_supplier": 3,  # offers agg + per-part min + final
        "product_type_profit": 1,
        "returned_item_ranking": 1,
        "late_shipment_priority": 1,
        "customer_order_distribution": 2,  # orders agg + custdist agg
        "supplier_part_counts": 2,  # two-phase count_distinct
        "excess_shippers": 4,  # per-ps, per-part, distinct, final
        "important_parts": 2,  # per-part agg + one-row scalar
    }
    for name, cap in max_exch.items():
        plan = (
            entry.queries()[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "SortMergeJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name
        assert plan.count("Exchange hashpartitioning") <= cap, name
    q7 = (
        entry.queries()["nation_trade_volume"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in q7  # the nation-filtered dims
    assert q7.count("SortMergeJoin") <= 1  # only the fact-fact edge


def test_pca_plan_broadcasts_vectors_no_cartesian(spark, sf_dir):
    """The PCA iteration loop must couple the corpus to the one-row
    mean/v frames via broadcast, never a CartesianProduct, and the
    per-iteration work must stay a bounded number of exchanges."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("embedding")
    plan = (
        similarity.pca_power_iteration(emb, "embedding", dim=64, iters=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # 2 iterations -> stats agg + per-iteration cell aggs + tiny
    # collect_list rows; exchange count stays small and iteration-bound
    assert plan.count("Exchange") < 40


def test_q6_analog_all_predicates_pushed_three_column_scan(spark, sf_dir):
    """forecast_revenue is scan-cost-only at scale: the date range,
    discount band, AND quantity cap must all reach PushedFilters, and
    the scan must read exactly the three needed columns."""
    p = plan_of(spark, "forecast_revenue", sf_dir)
    pushed = p.split("PushedFilters")[1].splitlines()[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, col
    read = p.split("ReadSchema")[1].splitlines()[0]
    assert "l_extendedprice" in read and "l_orderkey" not in read and "l_tax" not in read
    assert "Join" not in p


def test_length_buckets_single_exchange_window_reuse(spark, sf_dir):
    """Batch packing shuffles the corpus exactly once: the per-(bucket,
    shard) row_number window and the (bucket, shard, batch) aggregate
    share one hash partitioning (grouping on a superset of the window
    key preserves clustering)."""
    import re

    p = plan_of(spark, "length_buckets", sf_dir)
    assert "Window" in p
    assert len(re.findall(r"(?<!Broadcast)Exchange \(", p)) == 1


def test_url_canonical_dedup_two_phase_distinct_no_python(spark, sf_dir):
    """Canonicalization is a pure codegen projection; the dedup is the
    standard two-phase count-distinct aggregate (partial on (canonical,
    spelling), final on canonical) — two exchanges, no window, no
    Python."""
    import re

    p = plan_of(spark, "url_canonical_dedup", sf_dir)
    assert len(re.findall(r"(?<!Broadcast)Exchange \(", p)) == 2
    assert "Window" not in p
    assert "EvalPython" not in p and "InPandas" not in p


def test_quality_calibration_one_pass_integer_agg(spark, sf_dir):
    """Reliability table = one featurize map pass + one |bins|-sized
    hash aggregate: exactly one exchange, no Python, scan pruned to the
    two needed columns."""
    import re

    p = plan_of(spark, "quality_calibration", sf_dir)
    assert len(re.findall(r"(?<!Broadcast)Exchange \(", p)) == 1
    assert "EvalPython" not in p and "InPandas" not in p
    read = p.split("ReadSchema")[1].splitlines()[0]
    assert "text" in read and "doc_id" not in read


def test_exact_jaccard_verify_no_pair_regroup_no_shingle_join(spark):
    """The verify stage intersects per-doc shingle-key arrays on each
    pair row: no explode of pairs × shingles regrouped on the pair key,
    and no join keyed on a shingle column."""
    import re

    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        dedup,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c x y"), (3, "a b c d e f")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "id_a long, id_b long")
    df = dedup.exact_jaccard_of_pairs(docs, pairs, "doc_id", "text")
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"HashAggregate\(keys=\[id_a#\d+L?, id_b#\d+L?", p)
    assert not [ln for ln in p.splitlines() if "Join" in ln and "__sh" in ln]
    assert "Generate" not in p


@pytest.mark.parametrize("hash_fn", ["md5", "xxhash64"])
def test_minhash_signatures_are_one_row_per_doc_projection(spark, hash_fn):
    """Signatures come from projections over each doc's shingle array:
    no explode of doc × shingle rows, no shuffle, no per-doc aggregate."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        dedup,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c x y"), (3, "too short")],
        "doc_id long, text string",
    )
    df = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=8, hash_fn=hash_fn)
    assert sorted(r["doc_id"] for r in df.collect()) == [1, 2]
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p
    assert "Generate" not in p
    assert "Aggregate" not in p
    # the shingle regex runs once per doc: no filter on the shingle
    # array is pushed below the projection that builds it
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("regexp_extract_all") == 1


def test_pipeline_normalizes_text_once(spark):
    """Each text column is normalized in one projection and the brand
    aliases read that column: inlined into each of their ~15 references
    (and into the F2 filter pushed below them) the three-regex chain
    made 272 ``regexp_replace`` in the optimized plan."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark import fixtures
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.plans import (
        pipeline,
    )

    out = pipeline.render_export(
        pipeline.run_pipeline(
            fixtures.shipments_df(spark),
            fixtures.model_ref_df(spark),
            fixtures.regex_kb_df(spark),
            fixtures.fx_rates_df(spark),
        )
    )
    qe = out._jdf.queryExecution()
    assert qe.optimizedPlan().toString().count("regexp_replace") <= 6
    # the default plan string elides the fields of wide projections:
    # count every expression, 3 per text column, 3 in the pushed-down
    # F2 filter and 2 model de-spacings
    key = "spark.sql.debug.maxToStringFields"
    old = spark.conf.get(key)
    spark.conf.set(key, "100000")
    try:
        full = qe.optimizedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert full.count("regexp_replace") == 11


def test_embedding_registry_no_all_pairs(spark, sf_dir):
    """Round-6 contract (VERDICT r5 #1): the registered embedding-space
    queries must carry bounded candidate joins — equi hash joins on SRP
    bucket / IVF cell — never an unbounded all-pairs scan.  The
    brute-force forms survive ONLY as test-side recall oracles."""
    for q in ["embedding_knn", "embedding_near_dup"]:
        p = plan_of(spark, q, sf_dir)
        assert "BroadcastNestedLoopJoin" not in p, q
        assert "CartesianProduct" not in p, q
    # hybrid_retrieval's lexical (BM25) leg legitimately carries two
    # 1-row scalar broadcasts (corpus N / avgdl) that compile to BNLJ
    # with a single-row build side — bounded by construction.  The
    # contract here is that the SEMANTIC leg adds zero BNLJ beyond
    # those: same count as the standalone bm25_search plan.
    ph = plan_of(spark, "hybrid_retrieval", sf_dir)
    pb = plan_of(spark, "bm25_search", sf_dir)
    assert "CartesianProduct" not in ph
    assert ph.count("BroadcastNestedLoopJoin") == pb.count("BroadcastNestedLoopJoin")


def test_near_dup_triangles_edge_plan_no_all_pairs(spark, sf_dir):
    """The registry query localCheckpoints the edge list (it feeds three
    join legs), which would hide the edge plan from the contract — so
    assert the same composition UNcheckpointed: bucketed pair
    generation + triangle joins, no BNLJ/cartesian anywhere."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        graph,
        similarity,
    )

    spark_ = spark
    emb = spark_.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = similarity.det_centroids(entry._IVF_SEED, entry._IVF_CELLS, entry._SRP_DIM)
    edges = similarity.near_dup_pairs_bucketed(
        emb, threshold=entry._ND_THRESHOLD, centroids=cents, nprobe=entry._ND_NPROBE
    ).select("id_a", "id_b")
    df = graph.triangle_enumerate(edges)
    qe = df._jdf.queryExecution()
    mode = spark_._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    p = qe.explainString(mode)
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_ann_int8_pruned_no_all_pairs(spark, sf_dir):
    """The registered int8 path is the IVF-pruned composition: candidate
    join must be an equi hash join on cell id, never BNLJ/cartesian."""
    p = plan_of(spark, "ann_int8_pruned", sf_dir)
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_point_in_time_single_exchange(spark, sf_dir):
    """PIT enrichment must be union + ONE key-partitioned window — an
    interval theta join here would explode at scale."""
    import re

    p = plan_of(spark, "point_in_time_enrich", sf_dir)
    assert "Window" in p
    # exactly two key-partitioned exchanges: one building the SCD2
    # intervals (user_id window chain reuses its clustering through the
    # run-collapse), one repartitioning the dim∪fact union for the
    # carry window — and NO join of any kind
    assert len(re.findall(r"(?<!Broadcast)Exchange \(", p)) == 2
    assert "Join" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_multi_band_counts_one_scan_no_joins(spark, sf_dir):
    """Q88 shape: seven conditional aggregates from ONE scan — any Join
    node means the plan degenerated to the naive per-band subqueries."""
    p = plan_of(spark, "multi_band_counts", sf_dir)
    assert "Join" not in p
    # formatted explain prints each node in the tree AND the detail
    # section -> exactly one scan node == exactly two mentions
    assert p.count("Scan parquet") == 2
    assert "HashAggregate" in p


def test_record_linkage_blocked_equi_join(spark, sf_dir):
    """Candidates must ride the blocking equi join — never a cross
    join/BNLJ over supplier x customer."""
    p = plan_of(spark, "record_linkage", sf_dir)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert ("BroadcastHashJoin" in p) or ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p)


def test_zorder_and_neyman_no_cartesian(spark, sf_dir):
    """Scalar broadcasts (max-morton / total-weight) are 1-row builds;
    nothing else may be unbounded."""
    for q in ["zorder_clustering", "neyman_stratified_sample"]:
        p = plan_of(spark, q, sf_dir)
        assert "CartesianProduct" not in p, q


def test_cumulative_channel_windows_over_preaggregates(spark, sf_dir):
    """The cumsums must run over the daily pre-aggregate tables, never
    raw lineitem rows: aggregates appear BELOW the window in the plan."""
    p = plan_of(spark, "cumulative_channel_compare", sf_dir)
    assert "Window" in p
    # the formatted tree prints top-down, so the daily pre-aggregates
    # (HashAggregate) must appear BELOW the window node, and the merge
    # of the two series is the full-outer SMJ of the aggregate subtrees
    assert "HashAggregate" in p.split("Window")[1]
    assert "FullOuter" in p
    assert "CartesianProduct" not in p


def _tiny_docs(spark):
    return spark.createDataFrame(
        [(1, "en", "a b c d a b", 1.5), (2, "en", "a b x", None), (3, "de", "", 0.5),
         (4, "en", "?!", 2.0)],
        "doc_id long, lang string, text string, score double",
    )


@pytest.mark.parametrize(
    "name", ["novelty_score", "tail_token_coverage", "hashed_bow", "ppl_buckets"]
)
def test_textstats_per_doc_operators_read_their_input_once(spark, name):
    """No join back onto the input for token-less docs (they keep a row
    through ``explode_outer``), and ``ppl_buckets`` is one window rather
    than a union of two filtered reads: the analyzed plan has one leaf."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        textstats,
    )

    calls = {
        "novelty_score": lambda d: textstats.novelty_score(d, "doc_id", "text", n=2),
        "tail_token_coverage": lambda d: textstats.tail_token_coverage(d, "doc_id", "text"),
        "hashed_bow": lambda d: textstats.hashed_bow(d, "doc_id", "text", dim=8),
        "ppl_buckets": lambda d: textstats.ppl_buckets(d, "lang", "score", "doc_id"),
    }
    out = calls[name](_tiny_docs(spark))
    assert out._jdf.queryExecution().analyzed().collectLeaves().size() == 1


@pytest.mark.parametrize(
    "name", ["unigram_logprob", "tfidf_top_terms", "distinctive_terms", "bigram_pmi"]
)
def test_text_operators_without_a_measured_persist_cache_nothing(spark, name):
    """These operators read one grouped frame more than once without a
    persist, so running them leaves no cached RDD behind."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        textstats,
    )

    calls = {
        "unigram_logprob": lambda d: textstats.unigram_logprob(d, "doc_id", "text"),
        "tfidf_top_terms": lambda d: textstats.tfidf_top_terms(d, "doc_id", "text"),
        "distinctive_terms": lambda d: textstats.distinctive_terms(
            d, "lang", "text", min_count=1
        ),
        "bigram_pmi": lambda d: textstats.bigram_pmi(d, "text", min_count=1),
    }
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    assert calls[name](_tiny_docs(spark)).collect()
    assert set(jsc.getPersistentRDDs().keys()) - before == set()


def test_textstats_builds_bigrams_through_dedup_and_persists_where_measured():
    """AST scan of ``textstats.py`` and ``sampling.py``: no function
    hand-builds adjacent pairs (a ``sequence`` fed to ``transform``, or
    ``zip_with`` over ``slice``s, as calls or in SQL strings) —
    ``dedup.bigrams`` is the one builder; and ``textstats.py`` calls
    ``.persist()`` only where dropping it was measured to cost time."""
    import ast
    import pathlib

    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        sampling,
        textstats,
    )

    def used(fn, name):
        for node in ast.walk(fn):
            if isinstance(node, ast.Call):
                f = node.func
                if (f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)) == name:
                    return True
            if isinstance(node, ast.Constant) and f"{name}(" in str(node.value):
                return True
        return False

    hand_built, persists = [], []
    for mod in (textstats, sampling):
        src = pathlib.Path(mod.__file__)
        for fn in ast.parse(src.read_text(), filename=str(src)).body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            if (used(fn, "sequence") and used(fn, "transform")) or (
                used(fn, "zip_with") and used(fn, "slice")
            ):
                hand_built.append(fn.name)
            if mod is textstats and used(fn, "persist"):
                persists.append(fn.name)
    assert hand_built == []
    assert persists == ["bpe_merge_steps", "doc_distinct_grams"]
