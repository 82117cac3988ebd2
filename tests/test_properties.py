"""Property-style tests (SURVEY §5.2): label totality, proportion
invariants, row-order invariance — on seeded random data (one Spark job
per property, not per example, to keep the suite fast)."""

import random

import pytest
from pyspark.sql import functions as F

from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.functions import (
    labels as L,
)
from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
    analysis,
    dedup,
    outliers,
)

WORDS = ["USED", "NEW", "EXCAVATOR", "CRANE", "2015", "2020", "OLD", "UNUSED",
         "PC200", "KOMATSU", "TIRE", "WHEEL", "SECOND", "HAND", "X", "Y"]


def _random_texts(n, seed):
    rng = random.Random(seed)
    return [" ".join(rng.choices(WORDS, k=rng.randint(1, 12))) for _ in range(n)]


def test_new_used_total_function(spark):
    """Every row gets exactly one of {new, used} — no NULLs, no others."""
    df = spark.createDataFrame([(t,) for t in _random_texts(300, 1)], "s string")
    got = df.select(L.new_or_used(F.col("s")).alias("r")).groupBy("r").count().collect()
    assert set(r["r"] for r in got) <= {"new", "used"}
    assert sum(r["count"] for r in got) == 300


def test_interval_labels_contain_value(spark):
    """Every bucketed value lies inside its parsed label range."""
    rng = random.Random(2)
    vals = [round(rng.uniform(0.1, 400), 2) for _ in range(200)]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    rows = df.select("v", L.load_interval(F.col("v"), 10).alias("b")).collect()
    for r in rows:
        b, v = r["b"], r["v"]
        if b == "<5T":
            assert v < 5
        elif b == "5-10T":
            assert 5 <= v < 10
        else:
            lo, hi = b[:-1].split("-")
            assert float(lo) <= v < float(hi)


def test_outliers_invariant_under_row_order(spark):
    rng = random.Random(3)
    rows = [(i, rng.choice("ABC"), round(rng.uniform(50, 200), 2)) for i in range(200)]
    df1 = spark.createDataFrame(rows, "id long, g string, v double")
    df2 = spark.createDataFrame(list(reversed(rows)), "id long, g string, v double").repartition(7)
    r1 = {r["id"]: r["outliers"] for r in outliers.mark_outliers(df1, ["g"], "v").collect()}
    r2 = {r["id"]: r["outliers"] for r in outliers.mark_outliers(df2, ["g"], "v").collect()}
    assert r1 == r2


def test_proportions_sum_to_100(spark):
    rng = random.Random(4)
    rows = [(rng.choice("ABCDEFG"), round(rng.uniform(1, 1000), 2)) for _ in range(300)]
    df = spark.createDataFrame(rows, "k string, v double")
    shares = analysis.group_share(df, "k", "v")
    total = shares.agg(F.sum("amount_prop")).first()[0]
    assert total == pytest.approx(100.0)
    folded = analysis.fold_others(shares.select("k", "amount", "amount_prop"), "k")
    assert folded.agg(F.sum("amount_prop")).first()[0] == pytest.approx(100.0)


def test_minhash_estimates_bounded_and_symmetric_inputs(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_random_texts(60, 5))], "doc_id long, text string"
    )
    sigs = dedup.minhash_signatures(df, "doc_id", "text", num_hashes=8)
    sim = dedup.lsh_similar_pairs(sigs, "doc_id", num_hashes=8, bands=8).collect()
    for r in sim:
        assert 0.0 <= r["est_jaccard"] <= 1.0
        assert r["id_a"] < r["id_b"]


def test_band_join_bucketed_equals_plain_random(spark):
    """The bucketed band join must agree with the plain theta join on
    random data including zeros, negatives, near-boundary ratios, and
    NULLs — for several tolerances."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        range_join,
    )

    rng = random.Random(7)
    def val(i):
        r = rng.random()
        if r < 0.05:
            return None
        if r < 0.10:
            return 0.0
        if r < 0.15:
            return -round(rng.uniform(0.1, 50), 3)
        return round(10 ** rng.uniform(-2, 4), 6)

    left = spark.createDataFrame(
        [(i, rng.choice("AB"), val(i)) for i in range(150)],
        "lid long, k string, lv double",
    )
    right = spark.createDataFrame(
        [(i, rng.choice("AB"), val(i)) for i in range(150)],
        "rid long, k string, rv double",
    )
    for tol in (0.01, 0.05, 0.2):
        plain = sorted(
            (r["lid"], r["rid"])
            for r in range_join.band_join(left, right, ["k"], "lv", "rv", tol=tol).collect()
        )
        bucketed = sorted(
            (r["lid"], r["rid"])
            for r in range_join.band_join(
                left, right, ["k"], "lv", "rv", tol=tol, bucketed=True
            ).collect()
        )
        assert plain == bucketed, f"tol={tol}"


def test_exact_jaccard_matches_python_reference(spark):
    """Pair-scoped exact Jaccard agrees with a brute-force Python
    computation on random texts (incl. shingle-less docs)."""
    rng = random.Random(8)
    texts = [" ".join(rng.choices(WORDS, k=rng.randint(1, 15))) for _ in range(40)]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    pairs = [(a, b) for a in range(0, 40, 3) for b in range(a + 1, min(a + 5, 40))]
    pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           dedup.exact_jaccard_of_pairs(df, pdf, "doc_id", "text", shingle_n=3).collect()}

    def sh(t):
        toks = t.lower().split()
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    assert set(got) == set(pairs)
    for a, b in pairs:
        sa, sb = sh(texts[a]), sh(texts[b])
        want = len(sa & sb) / len(sa | sb) if sa | sb else 0.0
        assert got[(a, b)] == pytest.approx(want), (a, b)


def test_shingles_and_md5_signatures_match_python_reference(spark):
    """``shingle_array`` and the md5 ``minhash_signatures`` agree bit for
    bit with a ``re``/``hashlib`` replay on seeded random docs plus
    degenerate ones (empty, punctuation-only, fewer than n words,
    repeated n-grams, a non-ASCII capital that lowercases to two chars)."""
    import hashlib
    import re

    rng = random.Random(9)
    vocab = WORDS + ["a-b", "C.D", "e", "7", "!!"]
    texts = [" ".join(rng.choices(vocab, k=rng.randint(0, 14))) for _ in range(120)]
    texts += ["", "!!! -- ...", "one two", "a b a b a b a b a b", "\u0130", "x \u0130 y z"]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")

    def grams(t, n):
        norm = re.sub(r"[^a-z0-9]+", " ", t.lower()).strip()
        words = norm.split(" ") if norm else []
        out = [" ".join(words[i:i + n]) for i in range(len(words) - n + 1)]
        return list(dict.fromkeys(out))

    ns = (1, 2, 3, 5)
    rows = df.select(
        "doc_id", *[dedup.shingle_array(F.col("text"), n).alias(f"g{n}") for n in ns]
    ).collect()
    for r in rows:
        for n in ns:
            assert r[f"g{n}"] == grams(texts[r["doc_id"]], n), (r["doc_id"], n)

    k = 8
    sigs = {
        r["doc_id"]: [r[f"mh_{i}"] for i in range(k)]
        for r in dedup.minhash_signatures(df, "doc_id", "text", num_hashes=k).collect()
    }

    def md5_sig(gs):
        def h(i, g):
            seed, part = divmod(i, 4)
            hexd = hashlib.md5(f"{seed}:{g}".encode()).hexdigest()
            return int(hexd[8 * part:8 * part + 8], 16)

        return [min(h(i, g) for g in gs) for i in range(k)]

    want = {i: md5_sig(grams(t, 3)) for i, t in enumerate(texts) if grams(t, 3)}
    assert sigs == want


def test_shuffle_rank_matches_single_window_reference(spark):
    """The two-pass bucket+offset construction produces the identical
    total order as the (non-scalable) single global row_number."""
    from pyspark.sql import Window
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        sampling,
    )

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    fast = {r["k"]: r["shuffle_rank"] for r in
            sampling.shuffle_rank(df, "k", seed=3, n_buckets=32).collect()}
    b = (sampling.hash_bucket(F.col("k"), 3) % 32).alias("__b")
    h2 = sampling.hash_bucket(F.col("k"), 4)
    w = Window.orderBy(F.col("__b").asc(), h2.asc(), F.col("k").asc())
    ref = {r["k"]: r["rn"] for r in
           df.withColumn("__b", b).withColumn("rn", F.row_number().over(w)).collect()}
    assert fast == ref


def test_interval_overlap_matches_brute_force(spark):
    """Bucketed interval-overlap join agrees with the O(n·m) cross-join
    reference on random half-open intervals, across grain choices."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        range_join,
    )

    rng = random.Random(11)

    def intervals(n, prefix):
        rows = []
        for i in range(n):
            s = rng.randint(0, 5000)
            rows.append((i, s, s + rng.randint(1, 400)))
        return rows

    left = spark.createDataFrame(intervals(80, "l"), "lid long, s long, e long").select(
        "lid",
        F.timestamp_seconds(F.col("s")).alias("ls"),
        F.timestamp_seconds(F.col("e")).alias("le"),
    )
    right = spark.createDataFrame(intervals(80, "r"), "rid long, s long, e long").select(
        "rid",
        F.timestamp_seconds(F.col("s")).alias("rs"),
        F.timestamp_seconds(F.col("e")).alias("re"),
    )
    brute = sorted(
        (r["lid"], r["rid"])
        for r in left.crossJoin(right)
        .filter((F.col("ls") < F.col("re")) & (F.col("rs") < F.col("le")))
        .collect()
    )
    for grain in (60, 300, 1000):
        got = sorted(
            (r["lid"], r["rid"])
            for r in range_join.interval_overlap_join(
                left, right, "ls", "le", "rs", "re", grain_seconds=grain
            ).collect()
        )
        assert got == brute, f"grain={grain}"


def test_containment_strategies_agree_on_random_tokens(spark):
    """broadcast and token containment strategies agree whenever the
    needles are token-anchored (single words here) — random data."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        fuzzy_join,
    )

    rng = random.Random(12)
    fact = spark.createDataFrame(
        [(i, " ".join(rng.choices(WORDS, k=rng.randint(2, 8)))) for i in range(120)],
        "fid long, txt string",
    )
    # needles must be token-anchored AND not substrings of other vocab
    # words ('X' ⊂ 'EXCAVATOR', 'USED' ⊂ 'UNUSED' would legitimately
    # diverge: broadcast is substring containment, token is anchored)
    anchored = [
        w for w in WORDS if not any(w in o and w != o for o in WORDS)
    ]
    dim = spark.createDataFrame(
        [(i, w) for i, w in enumerate(rng.sample(anchored, 8))],
        "prio int, needle string",
    )

    def run(**kw):
        out = fuzzy_join.containment_lookup(
            fact, "fid", ["txt"], dim, "needle", ["needle"], [F.col("prio")], **kw
        )
        return sorted((r["fid"], r["needle"]) for r in out.collect())

    a = run()
    b = run(strategy="token")
    assert a == b


def test_dedup_exact_idempotent(spark):
    texts = _random_texts(100, 6)
    df = spark.createDataFrame(
        [(i, texts[i % 40]) for i in range(100)], "doc_id long, text string"
    )
    once = dedup.dedup_exact(df, "doc_id", "text")
    twice = dedup.dedup_exact(once, "doc_id", "text")
    assert once.count() == twice.count()
    # kept ids are the minimum id per distinct text (random texts may
    # collide across groups, so group by actual value)
    kept = set(r["doc_id"] for r in once.collect())
    by_text = {}
    for i in range(100):
        by_text.setdefault(texts[i % 40], []).append(i)
    assert kept == {min(ids) for ids in by_text.values()}


def test_duplicate_spans_matches_brute_force_random(spark):
    """Semantic ground truth, independent of the Rabin-Karp hashing:
    compute duplicated k-grams by their actual TOKEN TUPLES in Python,
    merge overlapping intervals, and require the Spark operator (which
    never shuffles gram strings, only dual hashes) to agree exactly."""
    rng = random.Random(77)
    k = 4
    vocab = [f"w{i}" for i in range(12)]  # small vocab -> real collisions
    docs = {}
    for d in range(8):
        n = rng.randint(2, 30)
        docs[d] = [rng.choice(vocab) for _ in range(n)]
    # inject one guaranteed shared run
    shared = [rng.choice(vocab) for _ in range(6)]
    docs[1][2:2] = shared
    docs[5][0:0] = shared

    # brute force: gram tuple -> set of docs
    from collections import defaultdict
    where = defaultdict(set)
    for d, toks in docs.items():
        for i in range(len(toks) - k + 1):
            where[tuple(toks[i:i + k])].add(d)
    expect = set()
    for d, toks in docs.items():
        hits = sorted(
            i + 1  # 1-based
            for i in range(len(toks) - k + 1)
            if len(where[tuple(toks[i:i + k])]) >= 2
        )
        spans = []
        for p in hits:
            if spans and p - spans[-1][1] <= k - 1:
                spans[-1][1] = p
            else:
                spans.append([p, p])
        for s, e in spans:
            expect.add((d, s, e + k - 1, e + k - 1 - s + 1))

    df = spark.createDataFrame(
        [(d, " ".join(t)) for d, t in docs.items()], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in dedup.duplicate_spans(df, "doc_id", "text", k=k).collect()
    }
    assert got == expect


def _python_bpe_merges(texts, n_merges):
    """Pure-Python reference BPE trainer (Sennrich get_stats/merge),
    with the engine's tiebreak: max count, then lexicographically
    smallest pair string."""
    import collections
    import re

    vocab = collections.Counter()
    for t in texts:
        norm = re.sub(r"[^a-z0-9]+", " ", t.lower()).strip()
        for w in norm.split():
            if w:
                vocab[" ".join(w)] += 1
    out = []
    for step in range(1, n_merges + 1):
        stats = collections.Counter()
        for seq, n in vocab.items():
            syms = seq.split()
            for i in range(len(syms) - 1):
                stats[(syms[i], syms[i + 1])] += n
        if not stats:
            break
        best = min(stats.items(), key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1]))
        (a, b), c = best
        out.append((step, f"{a} {b}", a + b, c))
        merged = {}
        for seq, n in vocab.items():
            syms = seq.split()
            res, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            merged[" ".join(res)] = merged.get(" ".join(res), 0) + n
        vocab = collections.Counter(merged)
    return out


def test_bpe_merges_match_reference_trainer_on_random_corpora(spark):
    """The Spark trainer's merges equal the classic sequential BPE
    trainer's on random corpora — including the left-to-right
    non-overlapping merge application (the doubled-space replace)."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import textstats

    rng = random.Random(7)
    alphabet = "abcde"
    for trial in range(4):
        texts = [
            " ".join(
                "".join(rng.choices(alphabet, k=rng.randint(1, 6)))
                for _ in range(rng.randint(1, 8))
            )
            for _ in range(30)
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "id int, text string"
        )
        got = [tuple(r) for r in textstats.bpe_merge_steps(df, "text", n_merges=3)
               .orderBy("step").collect()]
        want = _python_bpe_merges(texts, 3)
        assert got == want, (trial, texts[:3])
        spark.catalog.clearCache()


def test_cusum_closed_form_equals_recurrence_on_random_series(spark):
    """cumsum − running-min IS the CUSUM recurrence, on random series
    with many resets."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import timeseries

    rng = random.Random(13)
    rows = []
    want = {}
    for key in range(6):
        s = 0.0
        for i in range(40):
            x = round(rng.uniform(0.0, 2.4), 2)
            rows.append((str(key), i, x))
            s = max(0.0, s + (x - 1.0 - 0.1))
            want[(str(key), i)] = s
    df = spark.createDataFrame(rows, "k string, i int, x double")
    out = timeseries.cusum_flags(
        df, "k", "i", "x", target=1.0, slack=0.1, threshold=3.0, round_to=None
    )
    for r in out.collect():
        assert abs(r["cusum"] - want[(r["k"], r["i"])]) < 1e-9
        assert r["alarm"] == (want[(r["k"], r["i"])] > 3.0) or \
            abs(want[(r["k"], r["i"])] - 3.0) < 1e-9


def test_distribution_drift_matches_python_replay_on_random_data(spark):
    """PSI/JSD equal a pure-Python replay of the binned, smoothed
    formulas on random grouped data — both strategies."""
    import math

    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import quality

    rng = random.Random(17)
    rows = [(g, round(rng.uniform(0, 100) + (30 if g == "c" else 0), 3))
            for g in ["a", "b", "c"] for _ in range(80)]
    df = spark.createDataFrame(rows, "g string, v double")
    n_bins, alpha = 5, 0.5

    def replay(bin_of):
        data = {}
        for g, v in rows:
            data.setdefault(g, []).append(v)
        props = {}
        for g, vs in data.items():
            cnt = [0] * n_bins
            for v in vs:
                cnt[bin_of(v)] += 1
            tot = len(vs)
            props[g] = [(c + alpha) / (tot + alpha * n_bins) for c in cnt]
        out = {}
        for g, p in props.items():
            q = props["a"]
            psi = sum((pi - qi) * math.log(pi / qi) for pi, qi in zip(p, q))
            m = [(pi + qi) / 2 for pi, qi in zip(p, q)]
            jsd = 0.5 * sum(pi * math.log(pi / mi) for pi, mi in zip(p, m)) \
                + 0.5 * sum(qi * math.log(qi / mi) for qi, mi in zip(q, m))
            out[g] = (len(data[g]), round(psi, 4), round(jsd, 4))
        return out

    # width strategy
    lo = min(v for _, v in rows)
    hi = max(v for _, v in rows)
    w = (hi - lo) / n_bins
    want = replay(lambda v: min(int((v - lo) // w), n_bins - 1))
    got = {r["g"]: (r["n"], r["psi"], r["jsd"]) for r in
           quality.distribution_drift(df, "g", "v", "a", n_bins=n_bins).collect()}
    assert got == want

    # quantile strategy (edges = baseline interpolated quantiles)
    base = sorted(v for g, v in rows if g == "a")

    def qc(p):
        pos = (len(base) - 1) * p
        i = int(pos)
        frac = pos - i
        return base[i] + frac * (base[i + 1] - base[i]) if frac else base[i]

    edges = [qc(i / n_bins) for i in range(1, n_bins)]
    want_q = replay(lambda v: sum(1 for e in edges if v >= e))
    got_q = {r["g"]: (r["n"], r["psi"], r["jsd"]) for r in
             quality.distribution_drift(
                 df, "g", "v", "a", n_bins=n_bins, strategy="quantile"
             ).collect()}
    assert got_q == want_q


def test_feature_scale_invariants_on_random_groups(spark):
    """percent-rank lies in [0,1] (0 for each group minimum, 1 for each
    maximum), robust score is 0 at the group median, and per-group
    z-scores sum to ~0."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import outliers as O

    rng = random.Random(23)
    rows = [(g, round(rng.uniform(1, 1000), 2))
            for g in "abc" for _ in range(51)]  # odd count: median is a datum
    df = spark.createDataFrame(rows, "k string, v double")
    out = O.feature_scale(df, ["k"], "v").collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["k"], []).append(r)
    for g, rs in by_g.items():
        pcts = [r["v_pct"] for r in rs]
        assert min(pcts) == 0.0 and max(pcts) == 1.0
        assert all(0.0 <= p <= 1.0 for p in pcts)
        zsum = sum(r["v_z"] for r in rs)
        assert abs(zsum) < 1e-6
        vmed = sorted(r["v"] for r in rs)[len(rs) // 2]
        robust_at_med = [r["v_robust"] for r in rs if r["v"] == vmed]
        assert robust_at_med and all(x == 0.0 for x in robust_at_med)


def test_validate_split_consistent_with_violation_counts(spark):
    """The two audit forms must agree: summing per-rule tags from
    validate_split equals violation_counts' per-rule totals, on random
    data with NULLs."""
    from pyspark.sql import functions as FF
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import quality

    rng = random.Random(31)
    rows = [(i,
             rng.choice([None, -5.0, 0.5, 3.0, 42.0]),
             rng.choice([None, "ok", "bad"]))
            for i in range(400)]
    df = spark.createDataFrame(rows, "id long, v double, s string")
    rules = {
        "neg_v": FF.col("v") < 0,
        "big_v": FF.col("v") > 10,
        "null_s": FF.col("s").isNull(),
    }
    vc = {r["check_name"]: r["n_violations"]
          for r in quality.violation_counts(df, rules).collect()}
    tagged = quality.validate_split(df, rules)
    vs = {name: tagged.filter(FF.array_contains("failed_checks", name)).count()
          for name in rules}
    assert vs == vc
    # rows partition exactly into clean + quarantine
    n_clean = tagged.filter(FF.size("failed_checks") == 0).count()
    n_bad = tagged.filter(FF.size("failed_checks") > 0).count()
    assert n_clean + n_bad == 400


def test_containment_dominates_jaccard_on_random_corpus(spark):
    """Mathematical invariant: |A∩B|/min(|A|,|B|) ≥ |A∩B|/|A∪B|, so the
    larger containment direction dominates Jaccard for EVERY emitted
    pair — and both operators emit exactly the same pair set (pairs
    sharing ≥1 shingle) when unthresholded."""
    docs = [(i, t) for i, t in enumerate(_random_texts(120, 9))]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    jac = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.ngram_jaccard_pairs(df, "doc_id", "text").collect()}
    cont = {(r["id_a"], r["id_b"]): max(r["cont_a_in_b"], r["cont_b_in_a"])
            for r in dedup.containment_pairs(df, "doc_id", "text").collect()}
    assert set(jac) == set(cont)
    assert len(jac) > 0
    for k, j in jac.items():
        assert cont[k] >= j - 1e-12, (k, cont[k], j)


def test_histogram_quantiles_monotone_in_p(spark):
    """quantiles_from_counts is non-decreasing in p for every group —
    the cumulative-rank construction can never invert."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import quality

    rng = random.Random(11)
    rows = [(f"g{i % 3}", rng.uniform(0, 50) ** 1.5) for i in range(400)]
    df = spark.createDataFrame(rows, "g string, v double")
    counts = quality.bin_counts(df, "g", "v", 0.0, 360.0, n_bins=12)
    probs = [0.05, 0.25, 0.5, 0.75, 0.95]
    got = {}
    for r in quality.quantiles_from_counts(
        counts, "g", probs, 0.0, 360.0, n_bins=12
    ).collect():
        got.setdefault(r["g"], []).append((r["p"], r["quantile"]))
    assert set(got) == {"g0", "g1", "g2"}
    for g, pairs in got.items():
        qs = [q for _, q in sorted(pairs)]
        assert qs == sorted(qs), (g, qs)


def test_hll_registers_invariant_under_arbitrary_splits(spark):
    """Mergeability property on seeded random data: HLL registers of
    the union equal the groupBy-max merge of registers over ANY
    partition of the rows — the algebraic fact the streaming
    maintainer's correctness rests on — and the estimate is within the
    m=512 error envelope of the exact distinct count."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import sketches

    rng = random.Random(11)
    rows = [
        (f"g{i % 3}", rng.randint(0, 4000), rng.randint(0, 2))
        for i in range(6000)
    ]
    df = spark.createDataFrame(rows, "g string, k long, split int")

    whole = {
        (r["g"], r["__bucket"]): r["__rho"]
        for r in sketches.hll_register_table(df, "g", "k").collect()
    }
    parts = [
        sketches.hll_register_table(df.filter(F.col("split") == s), "g", "k")
        for s in range(3)
    ]
    merged = {
        (r["g"], r["__bucket"]): r["__rho"]
        for r in sketches.merge_hll_registers(parts).collect()
    }
    assert merged == whole

    est = {
        r["g"]: r["est_distinct"]
        for r in sketches.hll_estimate_from_registers(
            sketches.merge_hll_registers(parts), "g"
        ).collect()
    }
    exact = {
        r["g"]: r["n"]
        for r in df.groupBy("g")
        .agg(F.countDistinct("k").alias("n"))
        .collect()
    }
    for g, n in exact.items():
        assert abs(est[g] - n) <= 0.2 * n, (g, est[g], n)


def test_misra_gries_bound_on_random_streams(spark, tmp_path):
    """On seeded random skewed streams cut into arbitrary batches: every
    surviving key's count obeys n <= true <= n + eps, and every key
    with true count > eps survives — the two MG guarantees, checked
    against exact Python counts."""
    from collections import Counter

    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.streaming import jobs

    rng = random.Random(23)
    # zipf-ish skew over 40 keys
    keys = [f"k{min(int(rng.paretovariate(1.0)), 40)}" for _ in range(4000)]
    true = Counter(keys)
    path = str(tmp_path / "mg_prop")
    n_batches = 4
    for b in range(n_batches):
        batch = keys[b::n_batches]
        jobs.apply_heavy_hitters_batch(
            spark.createDataFrame([(k,) for k in batch], "k string"),
            b, path, key_col="k", capacity=8,
        )
    out = jobs.read_maintained_table(spark, path)
    eps = out.agg(F.max("__eps")).first()[0]
    got = {r["key"]: r["n"] for r in out.collect()}
    assert len(got) <= 8
    for k, n in got.items():
        assert n <= true[k] <= n + eps, (k, n, true[k], eps)
    for k, t in true.items():
        if t > eps:
            assert k in got, (k, t, eps)


def test_canonical_url_idempotent_on_random_urls(spark):
    """canonical_url is a projection: applying it twice equals applying
    it once, over randomized scheme/host/port/path/query/fragment mess
    (one Spark job for all examples)."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import webfilter

    rng = random.Random(42)
    hosts = ["Example.com", "www.Sub.Example.com", "HOST.org:8080",
             "example.net:443", "example.com:80", "localhost"]
    paths = ["", "/", "/a/b", "/a/b/", "/A//"]
    params = ["a=1", "b=2", "utm_source=x", "gclid=9", "ref=z", "z=%20"]
    urls = []
    for i in range(300):
        scheme = rng.choice(["http", "https", "HTTPS", "ftp"])
        q = "&".join(rng.sample(params, rng.randint(0, 4)))
        frag = rng.choice(["", "#frag"])
        urls.append(
            f"{scheme}://{rng.choice(hosts)}{rng.choice(paths)}"
            + (f"?{q}" if q else "") + frag
        )
    urls += ["no-scheme", "", "weird:///x"]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = webfilter.canonical_url(F.col("url"))
    twice = webfilter.canonical_url(once)
    bad = df.select("url", once.alias("c1"), twice.alias("c2")).filter(
        F.col("c1") != F.col("c2")
    )
    assert bad.count() == 0, bad.collect()[:5]


def test_bloom_probe_replays_jvm_positions_bit_exactly(spark):
    """Property: the driver-side probe (_bloom_positions_py) is a
    bit-exact replica of the JVM hash the index is built with, so a
    bloom index can NEVER false-negative — every value present in a
    file tests positive against that file's sidecar.  Checked over a
    randomized value corpus (unicode, empty-ish, numeric strings) in
    one Spark job against the same md5/conv/pmod expression the
    builder uses — INCLUDING the mod-m pre-reduction of h1/h2, and at
    a HIGH hash count (k ≥ 9, small fpp) where the unreduced i·h2
    would overflow a signed bigint in the JVM and silently wrap while
    Python's exact ints would not (ADVICE r11)."""
    import random

    from pyspark.sql import functions as F

    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
        delta_lite,
    )

    rng = random.Random(7)
    vals = [str(rng.randint(-10**12, 10**12)) for _ in range(100)]
    vals += ["", " ", "0", "-0", "naïve", "ünïcodé-χ", "a" * 500,
             "tab\tsep", "line\nbreak", "md5", "127.0.0.1"]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    h = lambda seed: F.conv(  # noqa: E731
        F.substring(
            F.md5(F.concat(F.lit(f"b{seed}:"), F.col("v")).cast("binary")),
            1, 15,
        ), 16, 10,
    ).cast("bigint")
    for fpp in (0.01, 0.0005):
        m, k = delta_lite._bloom_params(len(vals), fpp)
        if fpp < 0.01:
            assert k >= 9, f"small-fpp case must exercise the overflow zone, got k={k}"
        h1m = F.pmod(h(0), F.lit(m))
        h2m = F.pmod(h(1), F.lit(m))
        pos = F.array(*[F.pmod(h1m + F.lit(i) * h2m, F.lit(m)) for i in range(k)])
        got = {
            r["v"]: list(r["p"]) for r in df.select("v", pos.alias("p")).collect()
        }
        for v in vals:
            assert got[v] == delta_lite._bloom_positions_py(v, m, k), (v, fpp)
