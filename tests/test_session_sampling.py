"""Sessionization, deterministic sampling, and sketch operators."""

from pyspark.sql import functions as F

from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
    sampling,
    sessionize,
    sketches,
)


def _events(spark):
    rows = [
        # user 1: two sessions (gap of exactly 1800s continues, 1801s breaks)
        (1, "2024-01-01 10:00:00"),
        (1, "2024-01-01 10:30:00"),  # 1800s after -> same session
        (1, "2024-01-01 11:00:01"),  # 1801s after -> new session
        # user 2: single event
        (2, "2024-01-01 09:00:00"),
        # user 3: duplicate timestamps stay in one session
        (3, "2024-01-01 08:00:00"),
        (3, "2024-01-01 08:00:00"),
    ]
    return spark.createDataFrame(rows, "user_id int, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )


def test_sessionize_gap_rule(spark):
    s = sessionize.sessionize(_events(spark), "user_id", "ts", gap_seconds=1800)
    got = {
        (r.user_id, r.ts.isoformat(), r.session_seq)
        for r in s.collect()
    }
    assert (1, "2024-01-01T10:30:00", 1) in got  # exactly-at-gap continues
    assert (1, "2024-01-01T11:00:01", 2) in got  # strictly-over-gap breaks


def test_session_stats(spark):
    stats = {
        r.user_id: r
        for r in sessionize.session_stats(
            _events(spark), "user_id", "ts", gap_seconds=1800
        ).collect()
    }
    assert stats[1].n_sessions == 2
    assert stats[1].max_session_events == 2
    assert stats[1].total_span_s == 1800  # session 1 spans 1800s, session 2 is a point
    assert stats[2].n_sessions == 1 and stats[2].total_span_s == 0
    assert stats[3].n_sessions == 1 and stats[3].max_session_events == 2


def test_hash_sample_deterministic_and_partition_stable(spark):
    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    a = {r.k for r in sampling.hash_sample(df, "k", 0.2, seed=0).collect()}
    # repartitioning must not change membership (unlike df.sample)
    b = {
        r.k
        for r in sampling.hash_sample(df.repartition(17), "k", 0.2, seed=0).collect()
    }
    assert a == b
    assert 0.15 < len(a) / 5000 < 0.25
    # a different seed draws a different sample
    c = {r.k for r in sampling.hash_sample(df, "k", 0.2, seed=1).collect()}
    assert a != c


def test_stratified_hash_sample_rates(spark):
    df = spark.range(0, 6000).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("s")
    )
    out = sampling.stratified_hash_sample(
        df, "k", "s", {"0": 0.5, "1": 0.1}, default_fraction=0.0
    )
    by = {r.s: r.n for r in out.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert 800 < by.get("0", 0) < 1200  # ~1000 of 2000
    assert 100 < by.get("1", 0) < 300  # ~200 of 2000
    assert "2" not in by  # default fraction 0 drops the stratum


def test_shuffle_rank_is_permutation_and_partition_stable(spark):
    df = spark.range(0, 3000).withColumnRenamed("id", "k")
    out = sampling.shuffle_rank(df, "k", seed=0, n_buckets=16)
    rows = out.collect()
    ranks = sorted(r["shuffle_rank"] for r in rows)
    assert ranks == list(range(1, 3001))  # exact 1..n permutation
    # order is a pure function of the key: repartitioning changes nothing
    again = {
        r["k"]: r["shuffle_rank"]
        for r in sampling.shuffle_rank(
            df.repartition(13), "k", seed=0, n_buckets=16
        ).collect()
    }
    assert {r["k"]: r["shuffle_rank"] for r in rows} == again
    # bucket construction is an implementation detail: a different
    # bucket count permutes differently but is still a permutation
    other = sampling.shuffle_rank(df, "k", seed=0, n_buckets=64).collect()
    assert sorted(r["shuffle_rank"] for r in other) == ranks
    # seed changes the order
    seeded = {
        r["k"]: r["shuffle_rank"]
        for r in sampling.shuffle_rank(df, "k", seed=9, n_buckets=16).collect()
    }
    assert seeded != {r["k"]: r["shuffle_rank"] for r in rows}


def test_token_budget_shards_matches_python_replay(spark):
    import hashlib

    df = (
        spark.range(0, 500)
        .withColumnRenamed("id", "k")
        .withColumn("n_tok", (F.col("k") % 97 + 1).cast("bigint"))
    )
    out = sampling.token_budget_shards(
        df, "k", "n_tok", budget=1000, seed=0, n_buckets=16
    ).collect()

    # python replay of the exact contract: shuffle_rank order, exact
    # cumulative token prefix, floor-division shard assignment
    def h(key, seed):
        return int(hashlib.md5(f"{seed}:{key}".encode()).hexdigest()[:8], 16)

    rows = [(k, k % 97 + 1) for k in range(500)]
    ordered = sorted(rows, key=lambda r: (h(r[0], 0) % 16, h(r[0], 1), r[0]))
    tb, expect = 0, {}
    for rank, (k, t) in enumerate(ordered, start=1):
        expect[k] = (rank, tb, tb // 1000)
        tb += t

    got = {r["k"]: (r["shuffle_rank"], r["tokens_before"], r["shard_id"]) for r in out}
    assert got == expect
    # shard boundaries never split a row: every shard's token span is
    # contiguous and (except the last) crosses the budget only once
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard_id"], []).append(r)
    for sid, members in by_shard.items():
        lo = min(m["tokens_before"] for m in members)
        assert lo // 1000 == sid


def test_temperature_mix_flattens_toward_small_strata(spark):
    # 4000 'big' vs 400 'small': alpha<1 must keep 'small' whole and
    # down-sample 'big' by ~(10)^(alpha-1)
    df = spark.range(0, 4400).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 4000, "big").otherwise("small").alias("s"),
    )
    out = sampling.temperature_mix(df, "k", "s", alpha=0.5, seed=0)
    by = {r["s"]: r["n"] for r in out.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert by["small"] == 400  # reference stratum kept in full
    expect_big = 4000 * (4000 / 400) ** (0.5 - 1.0)  # ≈ 1265
    assert abs(by["big"] - expect_big) / expect_big < 0.15
    # alpha=1 is the identity mix
    ident = sampling.temperature_mix(df, "k", "s", alpha=1.0, seed=0)
    assert ident.count() == 4400


def test_temperature_mix_null_stratum_is_a_stratum(spark):
    # NULL strata must flow through the null-safe join, not vanish —
    # and the alpha=1 identity must hold with NULLs present
    df = spark.range(0, 300).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 200, "a").otherwise(F.lit(None)).alias("s"),
    )
    assert sampling.temperature_mix(df, "k", "s", alpha=1.0).count() == 300
    out = sampling.temperature_mix(df, "k", "s", alpha=0.5, seed=0)
    by = {
        r["s"]: r["n"]
        for r in out.groupBy("s").agg(F.count("*").alias("n")).collect()
    }
    assert by[None] == 100  # smallest stratum (NULL) kept whole
    assert 0 < by["a"] < 200  # larger stratum down-sampled


def test_epoch_replicate_counts_and_determinism(spark):
    rows = [(i, "a" if i < 100 else "b" if i < 200 else "c")
            for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = sampling.epoch_replicate(
        df, "doc_id", "source", {"a": 2.0, "b": 0.5, "c": 0.0},
        default_epochs=1.0, seed=0,
    )
    per = {r["source"]: r["n"] for r in
           out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert per["a"] == 200                  # exactly 2 epochs, copies 1 and 2
    assert 30 <= per["b"] <= 70             # ~half an epoch, hash-chosen
    assert "c" not in per                   # excluded source emits nothing
    # integer epochs replicate EVERY row: copy indexes are exactly {1,2}
    copies = {r["copy"] for r in out.filter("source = 'a'").collect()}
    assert copies == {1, 2}
    # membership is a pure function of the key: repartitioning agrees
    again = sampling.epoch_replicate(
        df.repartition(7), "doc_id", "source", {"a": 2.0, "b": 0.5, "c": 0.0},
        default_epochs=1.0, seed=0,
    )
    k1 = {(r["doc_id"], r["copy"]) for r in out.collect()}
    k2 = {(r["doc_id"], r["copy"]) for r in again.collect()}
    assert k1 == k2


def test_span_corruption_deterministic(spark):
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        augment,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta " * 25), (2, "one two")],
        "doc_id long, text string",
    )
    a = {r["doc_id"]: r.asDict() for r in
         augment.span_corruption(df, "doc_id", "text", mask_rate=0.3).collect()}
    b = {r["doc_id"]: r.asDict() for r in
         augment.span_corruption(df.repartition(7), "doc_id", "text", mask_rate=0.3).collect()}
    assert a == b  # mask is a pure function of (doc, position)
    r1 = a[1]
    assert r1["n_tokens"] == 100
    assert 10 <= r1["n_masked"] <= 55  # ~30 of 100
    assert r1["corrupted"].split(" ").count("<extra_id>") == r1["n_masked"]
    # targets are the masked tokens, in order
    orig = ("alpha beta gamma delta " * 25).split()
    corr = r1["corrupted"].split(" ")
    expect_targets = [o for o, c in zip(orig, corr) if c == "<extra_id>"]
    assert r1["target"].split(" ") == expect_targets
    # rate 0 masks nothing, rate 1 masks everything
    z = augment.span_corruption(df, "doc_id", "text", mask_rate=0.0).collect()
    assert all(r["n_masked"] == 0 for r in z)
    full = augment.span_corruption(df, "doc_id", "text", mask_rate=1.0).collect()
    assert all(r["n_masked"] == r["n_tokens"] for r in full)


def test_split_train_holdout_disjoint_exhaustive(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    train, hold = sampling.split_train_holdout(df, "k", holdout_fraction=0.1)
    t = {r.k for r in train.collect()}
    h = {r.k for r in hold.collect()}
    assert t.isdisjoint(h)
    assert len(t) + len(h) == 2000
    assert 100 < len(h) < 320


def test_hll_distinct_error_bound(spark):
    df = spark.range(0, 20000).select((F.col("id") % 5000).alias("v"))
    got = df.agg(sketches.hll_distinct("v", rsd=0.01).alias("d")).collect()[0].d
    assert abs(got - 5000) / 5000 < 0.05


def test_quantile_summary_error_bound(spark):
    df = spark.range(1, 10001).select(F.col("id").cast("double").alias("v"))
    row = sketches.quantile_summary(df, [], "v", probs=(0.5, 0.9)).collect()[0]
    assert abs(row.p50 - 5000) <= 20
    assert abs(row.p90 - 9000) <= 20


def test_ivf_knn_recall_and_exact_degeneration(spark):
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        similarity,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter("vec_id < 5")
    exact = similarity.brute_force_knn(emb, q, k=3)
    er = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    assert len(er) == 15

    cents = similarity.train_ivf_centroids(emb, n_cells=8, seed=7)
    approx = similarity.ivf_knn(emb, q, k=3, nprobe=3, centroids=cents)
    ar = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    assert len(er & ar) >= 8  # decent recall probing 3/8 cells

    # nprobe = n_cells searches every cell -> exact result
    full = similarity.ivf_knn(emb, q, k=3, nprobe=8, centroids=cents)
    fr = {(r.query_id, r.neighbor_id) for r in full.collect()}
    assert fr == er


def test_cms_heavy_hitter_error_bound(spark):
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        sketches,
    )

    # zipf-ish: token i appears (200 - i) times
    rows = [(f"tok{i}",) for i in range(200) for _ in range(200 - i)]
    df = spark.createDataFrame(rows, "tok string").repartition(8)
    total = df.count()
    eps = 0.005
    blob = df.agg(
        sketches.cms_sketch("tok", eps=eps, confidence=0.99).alias("s")
    ).collect()[0]["s"]
    est = sketches.cms_estimate(spark, blob, [f"tok{i}" for i in range(0, 200, 25)])
    for tok, e in est.items():
        true = 200 - int(tok[3:])
        assert e >= true  # CMS never undercounts
        assert e <= true + eps * total


def test_balanced_sample_exact_counts_and_determinism(spark):
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import sampling

    rows = [(i, "big" if i < 80 else ("mid" if i < 95 else "tiny"))
            for i in range(100)]
    df = spark.createDataFrame(rows, "id long, cls string")
    out = sampling.balanced_sample(df, "cls", "id", per_class=10)
    by = out.groupBy("cls").count().collect()
    got = {r["cls"]: r["count"] for r in by}
    # majority classes capped at 10; the 5-row tiny class kept whole
    assert got == {"big": 10, "mid": 10, "tiny": 5}
    # deterministic: same rows on rerun
    ids1 = sorted(r["id"] for r in out.collect())
    ids2 = sorted(r["id"] for r in
                  sampling.balanced_sample(df, "cls", "id", per_class=10).collect())
    assert ids1 == ids2
    # different seed -> (almost surely) different member set for big
    ids3 = sorted(r["id"] for r in
                  sampling.balanced_sample(df, "cls", "id", per_class=10, seed=1)
                  .filter("cls = 'big'").collect())
    assert ids3 != sorted(i for i in ids1 if i < 80)


def test_balanced_sample_plan_uses_window_group_limit(spark):
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import sampling

    df = spark.range(0, 1000).selectExpr("id", "CAST(id % 3 AS STRING) AS cls")
    out = sampling.balanced_sample(df, "cls", "id", per_class=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # map-side partial top-k before the class shuffle: the skew guard
    assert "WindowGroupLimit" in plan


def test_session_transcripts_order_and_gap(spark):
    import datetime as dt

    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import sessionize

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 10, "view"),
        (1, t0 + dt.timedelta(seconds=60), 11, "click"),
        # same-timestamp pair: event_id tiebreak orders 12 before 13
        (1, t0 + dt.timedelta(seconds=120), 13, "purchase"),
        (1, t0 + dt.timedelta(seconds=120), 12, "view"),
        # > gap: new session
        (1, t0 + dt.timedelta(seconds=4000), 14, "click"),
        (2, t0, 20, "error"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    got = {
        (r["user_id"], r["session_seq"]): (r["n_events"], r["transcript"])
        for r in sessionize.session_transcripts(
            df, "user_id", "ts", "event_type", "event_id", gap_seconds=1800
        ).collect()
    }
    assert got[(1, 1)] == (4, "view>click>view>purchase")
    assert got[(1, 2)] == (1, "click")
    assert got[(2, 1)] == (1, "error")


def test_target_mix_sample_hits_proportions(spark):
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import sampling

    # current mix: a=800, b=150, c=50; target 50/25/25 -> binding stratum
    # is c? ratios n/share: a 1600, b 600, c 200 -> T=200:
    # kept a=100, b=50, c=50 (c keeps all)
    rows = [(i, "a") for i in range(800)] + \
           [(1000 + i, "b") for i in range(150)] + \
           [(2000 + i, "c") for i in range(50)]
    df = spark.createDataFrame(rows, "id long, src string")
    kept = sampling.target_mix_sample(
        df, "src", "id", {"a": 0.5, "b": 0.25, "c": 0.25}
    )
    got = {r["src"]: r["count"] for r in kept.groupBy("src").count().collect()}
    # hash membership is binomial-ish around the exact rate; c exact
    assert got["c"] == 50
    assert abs(got["a"] - 100) <= 25 and abs(got["b"] - 50) <= 18
    # deterministic
    again = {r["src"]: r["count"] for r in sampling.target_mix_sample(
        df, "src", "id", {"a": 0.5, "b": 0.25, "c": 0.25}
    ).groupBy("src").count().collect()}
    assert again == got
    # stratum not in target vanishes
    df2 = df.union(spark.createDataFrame([(3000, "junk")], "id long, src string"))
    kept2 = sampling.target_mix_sample(df2, "src", "id", {"a": 0.5, "b": 0.25, "c": 0.25})
    assert kept2.filter("src = 'junk'").count() == 0


def test_target_mix_sample_tolerates_absent_target_stratum(spark):
    """A target stratum with NO rows in the data can't be represented:
    the sampler keeps the best achievable mix over present strata and
    does not crash (the absent stratum is simply missing)."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, "a") for i in range(100)] + [(200 + i, "b") for i in range(100)],
        "id long, src string",
    )
    kept = sampling.target_mix_sample(
        df, "src", "id", {"a": 0.4, "b": 0.4, "ghost": 0.2}
    )
    got = {r["src"] for r in kept.select("src").distinct().collect()}
    assert got == {"a", "b"}
    # equal targets over equal strata: binding keeps everything
    assert kept.count() == 200


def test_per_group_cap_binds_and_is_deterministic(spark):
    """Every group keeps at most cap rows; selection is a pure function
    of the key (two runs identical, reordering the input irrelevant)."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(60)], "k long, g string"
    )
    kept1 = sorted(tuple(r) for r in sampling.per_group_cap(df, "g", "k", 5).collect())
    kept2 = sorted(
        tuple(r)
        for r in sampling.per_group_cap(df.orderBy("g"), "g", "k", 5).collect()
    )
    assert kept1 == kept2
    from collections import Counter

    per_g = Counter(g for _, g in kept1)
    assert per_g == {"g0": 5, "g1": 5, "g2": 5}
    # a group smaller than the cap keeps everything
    small = spark.createDataFrame([(1, "x"), (2, "x")], "k long, g string")
    assert sampling.per_group_cap(small, "g", "k", 5).count() == 2


def test_dsir_importance_prefers_target_like_docs(spark):
    """Docs sharing the target slice's bigrams score higher than docs
    made of off-target bigrams; token-less docs carry n_feats=0/NULL."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import sampling

    rows = (
        [(i, "alpha beta gamma delta", True) for i in range(5)]
        + [(10 + i, "zeta eta theta iota", False) for i in range(5)]
        + [(20, "alpha beta gamma delta", False)]  # target-like, untagged
        + [(21, "", False)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    out = {r["doc_id"]: r for r in sampling.dsir_importance(
        df, "doc_id", "text", "is_t", dim=64
    ).collect()}
    assert out[21]["n_feats"] == 0 and out[21]["log_w"] is None
    assert out[20]["log_w"] > out[10]["log_w"]  # target-like beats off-target
    assert out[0]["log_w"] == out[20]["log_w"]  # same text, same weight


def test_round4_plan_contracts(spark):
    """Plan shape the round-4 operators promise: per_group_cap is ONE
    window over one group exchange (no join, no global sort);
    dsir_importance joins its dim-sized bucket-stats table by
    BROADCAST, never a shuffle join."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, f"g{i % 4}", f"tok{i} tok{i+1} tok{i+2}") for i in range(200)],
        "k long, g string, text string",
    )
    cap_plan = (
        sampling.per_group_cap(df, "g", "k", 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert cap_plan.count("Window [") == 1
    assert "SortMergeJoin" not in cap_plan and "BroadcastHashJoin" not in cap_plan
    # partial sort inside the window partition is fine; a GLOBAL sort
    # (Exchange rangepartitioning) is not
    assert "rangepartitioning" not in cap_plan

    dsir_plan = (
        sampling.dsir_importance(
            df.withColumn("t", F.col("k") % 2 == 0), "k", "text", "t", dim=32
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the dim-sized bucket-stats ratio table joins by BROADCAST (the
    # final join-back of per-doc scores to the input may legitimately
    # shuffle — both sides are corpus-sized)
    assert "BroadcastHashJoin" in dsir_plan


def test_mixture_budget_caps_and_satisfies(spark):
    """Mixture budgeter: an over-demanded source caps at max_epochs
    (satisfied=False, tokens_used = available*cap), an under-demanded
    one fills its exact share, and an unweighted source plans zero."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import sampling

    df = spark.createDataFrame(
        [("a", 100), ("a", 100), ("b", 1000), ("c", 500)],
        "source string, n_tok long",
    )
    out = {
        r["source"]: r
        for r in sampling.mixture_budget(
            df, "source", "n_tok",
            {"a": 0.8, "b": 0.2}, budget_tokens=2000, max_epochs=2.0,
        ).collect()
    }
    # a: target 1600 over 200 available -> capped at 2 epochs, 400 used
    assert out["a"]["satisfied"] is False and out["a"]["epochs"] == 2.0
    assert out["a"]["tokens_used"] == 400
    # b: target 400 of 1000 -> 0.4 epochs, exact fill
    assert out["b"]["satisfied"] is True and out["b"]["epochs"] == 0.4
    assert out["b"]["tokens_used"] == 400
    # c: no weight -> zero plan
    assert out["c"]["weight"] == 0.0 and out["c"]["tokens_used"] == 0


def test_length_bucket_batches_packing_and_waste(spark):
    """Bucket ladder picks the smallest holding bucket (overflow rides
    the last), batches pack in id order at the requested size within
    each (bucket, shard), and the padding arithmetic is exact."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate([3, 10, 16, 17, 40, 900])],
        "id long, n long",
    )
    out = sampling.length_bucket_batches(
        df, "id", "n", batch_size=2, buckets=(16, 32, 64), shards=1
    ).collect()
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket_len"], []).append(r)
    # 3,10,16 -> bucket 16 (two batches of 2 and 1); 17 -> 32; 40,900 -> 64
    assert sorted(by_bucket) == [16, 32, 64]
    b16 = sorted(by_bucket[16], key=lambda r: r["batch_id"])
    assert [r["n_rows"] for r in b16] == [2, 1]
    # first 16-bucket batch holds ids 0,1 (len 3,10): max 10, waste 2*10-13
    assert b16[0]["batch_max_len"] == 10 and b16[0]["pad_waste"] == 7
    assert b16[1]["batch_max_len"] == 16 and b16[1]["pad_waste"] == 0
    # overflow doc (900) lands in the last bucket
    b64 = by_bucket[64][0]
    assert b64["n_rows"] == 2 and b64["batch_max_len"] == 900
    assert b64["pad_waste"] == 2 * 900 - 940
    # shard membership is a pure function of the id: re-running with
    # more shards re-partitions but total rows and tokens are conserved
    sharded = sampling.length_bucket_batches(
        df, "id", "n", batch_size=2, buckets=(16, 32, 64), shards=4
    ).collect()
    assert sum(r["real_tokens"] for r in sharded) == 986
    assert sum(r["n_rows"] for r in sharded) == 6


def test_neyman_allocation_properties(spark):
    """Allocation ∝ N_h·S_h: the high-variance stratum gets (nearly)
    the whole budget; zero-variance strata get ~0; draws are exact-size
    and deterministic across calls."""
    from pyspark.sql import functions as F

    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        sampling,
    )

    rows = []
    for i in range(200):
        rows.append((i, "flat", 10.0))           # S=0
        rows.append((1000 + i, "wild", float((i % 2) * 1000)))  # S large
    df = spark.createDataFrame(rows, "id long, stratum string, v double")
    picked, alloc = sampling.neyman_allocation(
        df, "stratum", "v", 100, seed=0, key_cols=["id"]
    )
    a = {r["stratum"]: (r["n_rows"], r["alloc_n"]) for r in alloc.collect()}
    assert a["flat"] == (200, 0)      # zero variance -> zero budget
    assert a["wild"] == (200, 100)    # all budget to the varying stratum
    got1 = sorted(r["id"] for r in picked.collect())
    assert len(got1) == 100 and all(i >= 1000 for i in got1)
    picked2, _ = sampling.neyman_allocation(
        df, "stratum", "v", 100, seed=0, key_cols=["id"]
    )
    assert sorted(r["id"] for r in picked2.collect()) == got1  # deterministic
    picked3, _ = sampling.neyman_allocation(
        df, "stratum", "v", 100, seed=7, key_cols=["id"]
    )
    assert sorted(r["id"] for r in picked3.collect()) != got1  # seed moves the draw
