"""As-of join strategies and connected-components clustering."""

from pyspark.sql import functions as F

from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
    asof,
    dedup,
)


def _asof_data(spark):
    left = spark.createDataFrame(
        [(1, "2024-01-01 05:00:00"), (2, "2024-01-01 12:00:00"),
         (3, "2024-01-02 00:30:00"), (4, "2023-12-31 01:00:00")],
        "id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [("2024-01-01 00:00:00", 1.0), ("2024-01-01 12:00:00", 2.0),
         ("2024-01-02 00:00:00", 3.0)],
        "rts string, rate double",
    ).withColumn("rts", F.to_timestamp("rts"))
    # expected nearest-prior: id1→1.0, id2→2.0 (exact ts counts), id3→3.0,
    # id4→None (before all rates)
    return left, right, {1: 1.0, 2: 2.0, 3: 3.0, 4: None}


def test_asof_broadcast(spark):
    left, right, want = _asof_data(spark)
    out = asof.asof_join_broadcast(left, right, "ts", "rts", payload=["rate"])
    assert {r["id"]: r["rate"] for r in out.collect()} == want


def test_asof_union_matches_broadcast(spark):
    left, right, want = _asof_data(spark)
    out = asof.asof_join_union(left, right, "ts", "rts", payload=["rate"])
    assert {r["id"]: r["rate"] for r in out.collect()} == want


def test_asof_strategies_agree_on_random_keyed_data(spark):
    """Cross-strategy property: the broadcast and union-merge as-of
    implementations must produce identical results on random keyed
    data — two independent algorithms checking each other."""
    import random

    rng = random.Random(42)
    left = spark.createDataFrame(
        [(i, rng.choice("XYZ"), rng.randint(0, 10_000)) for i in range(300)],
        "id long, k string, t long",
    ).withColumn("ts", F.timestamp_seconds(F.col("t"))).drop("t")
    right = spark.createDataFrame(
        [(rng.choice("XYZ"), rng.randint(0, 10_000), round(rng.uniform(0, 9), 3))
         for _ in range(60)],
        "k string, rt long, rate double",
    ).withColumn("rts", F.timestamp_seconds(F.col("rt"))).drop("rt")
    # dedup (k, rts) so the carried payload is unambiguous for both
    right = right.groupBy("k", "rts").agg(F.max("rate").alias("rate"))

    a = {r["id"]: r["rate"] for r in asof.asof_join_broadcast(
        left, right, "ts", "rts", payload=["rate"], on=("k",)).collect()}
    b = {r["id"]: r["rate"] for r in asof.asof_join_union(
        left, right, "ts", "rts", payload=["rate"], on=("k",)).collect()}
    assert a == b
    assert len(a) == 300


def test_connected_components(spark):
    # two chains and an isolated pair: {1,2,3,4} {10,11} {20,21,22}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (21, 22)],
        "id_a long, id_b long",
    )
    comps = dedup.connected_components(pairs)
    got = {r["node"]: r["label"] for r in comps.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_converging_in_round_one(spark):
    """Stars around their smallest member are labelled by round 1 (read
    from the edge table alone); round 2 only confirms, so two rounds
    converge without a warning.  A self-pair and a pair listed in both
    orientations change nothing."""
    import warnings

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 1), (10, 11), (11, 10), (5, 5)], "id_a long, id_b long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        comps = dedup.connected_components(pairs, max_iter=2)
    assert not any("did not converge" in str(w.message) for w in caught)
    got = {r["node"]: r["label"] for r in comps.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 10: 10, 11: 10}


def test_pq_codes_and_adc_recall(spark, sf_dir):
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        similarity as sim,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.limit(10)
    books = sim.train_pq_codebooks(emb, m=4, k=8)
    assert len(books) == 4 and all(len(b) == 8 for b in books)

    coded = sim.pq_encode(
        emb.selectExpr("vec_id", "embedding"), "embedding", books
    ).collect()
    # m codes per vector, every code a valid centroid index
    assert all(len(r["pq_code"]) == 4 for r in coded)
    assert all(0 <= c < 8 for r in coded for c in r["pq_code"])

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.brute_force_knn(emb, q, k=10).collect()
    }
    # one all-zero centroid: every vector in one cell, all codes scanned
    got = sim.ivf_pq_knn(
        emb, q, k=10, codebooks=books, centroids=[[0.0] * 64], nprobe=1
    )
    pairs = {(r["query_id"], r["neighbor_id"]) for r in got.collect()}
    recall = len(exact & pairs) / len(exact)
    # random top-10 of ~500 would land ~0.02; even a coarse 4x8 codebook
    # must beat that by an order of magnitude
    assert recall >= 0.08, recall
    # deterministic re-run
    again = {(r["query_id"], r["neighbor_id"]) for r in got.collect()}
    assert pairs == again


def test_ivf_pq_knn_mechanics_and_recall(spark, sf_dir):
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        similarity as sim,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.limit(10)
    got = sim.ivf_pq_knn(
        emb, q, k=10, n_cells=8, nprobe=8, m=4, n_codes=8
    )
    rows = got.collect()
    per = {}
    for r in rows:
        per.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # k results per query, no self-matches, no duplicate neighbors
    assert all(len(v) == 10 for v in per.values())
    assert all(qid not in v for qid, v in per.items())
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.brute_force_knn(emb, q, k=10).collect()
    }
    pairs = {(r["query_id"], r["neighbor_id"]) for r in rows}
    # full-probe (nprobe = n_cells) means loss comes only from the PQ
    # codes; must far exceed the ~0.02 random floor
    assert len(exact & pairs) / len(exact) >= 0.08


def test_embedding_dim_stats_dead_dim_and_mean(spark):
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import similarity

    # dim 0 constant (dead: std 0), dim 1 symmetric around 0
    df = spark.createDataFrame(
        [(1, [0.5, -2.0]), (2, [0.5, 2.0]), (3, [0.5, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["dim"]: (r["n"], r["mean"], r["std"])
        for r in similarity.embedding_dim_stats(df, "embedding").collect()
    }
    assert got[0] == (3, 0.5, 0.0)
    import math
    assert got[1] == (3, 0.0, round(math.sqrt(8.0 / 3.0), 6))


def test_rrf_fuse_hand_computed(spark):
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import similarity

    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "id long, rank int")
    b = spark.createDataFrame([(2, 1), (4, 2)], "id long, rank int")
    got = {
        r["id"]: (r["rank_a"], r["rank_b"], round(r["rrf"], 9))
        for r in similarity.rrf_fuse(a, b, k=60).collect()
    }
    assert got[1] == (1, None, round(1 / 61, 9))
    assert got[2] == (2, 1, round(1 / 62 + 1 / 61, 9))
    assert got[3] == (3, None, round(1 / 63, 9))
    assert got[4] == (None, 2, round(1 / 62, 9))
    # doc in both lists outranks a doc leading only one list
    assert got[2][2] > got[1][2]


def test_connected_components_warns_on_max_iter_exceeded(spark):
    """A chain longer than max_iter propagation rounds must warn loudly
    instead of returning a partially-converged labeling silently."""
    import warnings

    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import dedup

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        dedup.connected_components(chain, max_iter=2)
    assert any("did not converge" in str(w.message) for w in caught)

    # and a converged run does NOT warn
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = dedup.connected_components(chain, max_iter=20)
    assert not any("did not converge" in str(w.message) for w in caught)
    assert out.filter("label = 0").count() == 9  # one component, min id 0


def test_int8_quantize_codes_and_zero_vector(spark):
    """Quantization contract: codes are clamped round(x/scale) with
    scale=max|x|/127 (the max element always hits ±127), and the
    all-zero vector quantizes to zeros with scale 0."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import similarity

    df = spark.createDataFrame(
        [(1, [1.0, -2.0, 4.0, 0.5]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in similarity.int8_quantize(df, "vec_id", "embedding").collect()}
    # scale = 4/127; codes = round(x * 127 / 4)
    assert out[1]["__q"] == [32, -63, 127, 16]  # 31.75->32, -63.5->-63 (floor(x+.5))
    assert out[1]["__qnorm"] == 32 * 32 + 63 * 63 + 127 * 127 + 16 * 16
    assert out[2]["__scale"] == 0.0 and out[2]["__q"] == [0, 0, 0, 0]


def test_ann_int8_recall_vs_exact_float_topk(spark, sf_dir):
    """Compression sanity: int8-quantized top-5 recovers most of the
    exact float top-5 (512-level quantization of 64-dim vectors barely
    moves cosines) — the 4x memory saving is not bought with recall."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter("vec_id % 50 = 0")
    corpus = emb.filter("vec_id % 50 != 0")
    got = similarity.ann_int8(corpus, queries, "vec_id", "embedding", k=5)
    exact = similarity.brute_force_knn(corpus, queries, "vec_id", "embedding", k=5)
    g = {}
    for r in got.collect():
        g.setdefault(r["query_id"], set()).add(r["vec_id"])
    e = {}
    for r in exact.collect():
        e.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(g[q] & e[q]) / 5.0 for q in e]
    assert sum(recalls) / len(recalls) >= 0.85, recalls
