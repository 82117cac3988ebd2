"""Deterministic, engine-portable sampling for training-data pipelines.

``df.sample`` is seed-stable only per partitioning; re-partition the
input and membership changes.  Training-data curation needs sampling
that is a pure function of the ROW (so reruns, backfills, and other
engines agree).  These operators hash a key column with the same
md5 construction used by the dedup family (dedup.md5_hash64) and keep
rows whose bucket falls under the fraction — reproducible anywhere md5
exists, including the DuckDB oracle.

Scale notes
-----------
Pure narrow projection + filter: no shuffle, fully pushed into the scan
stage, trivially parallel at 100 TB.  The hash is uniform on the key,
so per-stratum rates concentrate tightly (Chernoff) for strata with
more than a few thousand rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import bigrams, md5_hash64, tokens

# md5-derived bucket space: 8 hex chars = 32 bits
_BUCKETS = 1 << 32


def hash_bucket(key: Column, seed: int = 0) -> Column:
    """Uniform bucket in [0, 2^32) as a pure function of the key."""
    return md5_hash64(key.cast("string"), seed)


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, seed: int = 0
) -> DataFrame:
    """Keep ~``fraction`` of rows, membership determined only by the key.

    Rows sharing a key are kept or dropped together — the right unit
    semantics for dedup-aware corpus sampling (sample documents, not
    random shards of documents).
    """
    threshold = int(fraction * _BUCKETS)
    return df.filter(hash_bucket(F.col(key_col), seed) < threshold)


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    seed: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling (sampleBy, but row-stable).

    ``fractions`` maps stratum value → keep fraction; strata not listed
    use ``default_fraction``.  Built as a flat CASE over the stratum so
    the whole predicate stays in whole-stage codegen.
    """
    threshold = F.lit(int(default_fraction * _BUCKETS))
    for value, frac in sorted(fractions.items()):
        threshold = F.when(
            F.col(strata_col) == value, F.lit(int(frac * _BUCKETS))
        ).otherwise(threshold)
    return df.filter(hash_bucket(F.col(key_col), seed) < threshold)


def split_train_holdout(
    df: DataFrame, key_col: str, holdout_fraction: float = 0.05, seed: int = 0
) -> tuple[DataFrame, DataFrame]:
    """Disjoint, exhaustive (train, holdout) split keyed on the row —
    stable across reruns and engines, unlike randomSplit."""
    cut = int(holdout_fraction * _BUCKETS)
    b = hash_bucket(F.col(key_col), seed)
    return df.filter(b >= cut), df.filter(b < cut)


def shuffle_rank(
    df: DataFrame,
    key_col: str,
    seed: int = 0,
    n_buckets: int = 1024,
) -> DataFrame:
    """Deterministic global shuffle order with an explicit 1-based rank —
    the train-order randomization step of a corpus pipeline, as a pure
    function of the key (reruns, backfills, and other engines produce
    the identical order), in column ``shuffle_rank``.

    A naive ``row_number() OVER (ORDER BY hash)`` is a single-partition
    sort — the classic global-window scale trap.  This is the two-pass
    shape that distributes: (1) rows land in ``n_buckets`` hash buckets;
    per-bucket ranks come from a window partitioned BY BUCKET (parallel
    across buckets); (2) bucket row-counts (a ``n_buckets``-row table)
    turn into cumulative offsets with one tiny window, broadcast back,
    and ``rank = offset + within-bucket rank``.  Total order =
    (bucket asc, in-bucket hash asc, key asc) — fully deterministic.
    At 100 TB raise ``n_buckets`` so each bucket's window sort fits an
    executor (rows/n_buckets per task).
    """
    b = (hash_bucket(F.col(key_col), seed) % n_buckets).alias("__sb")
    # independent second hash orders rows WITHIN a bucket (using the
    # bucket hash itself would sort each bucket by residue class)
    h2 = hash_bucket(F.col(key_col), seed + 1)
    w_in = Window.partitionBy("__sb").orderBy(h2.asc(), F.col(key_col).asc())
    ranked = df.withColumn("__sb", b).withColumn(
        "__in_rank", F.row_number().over(w_in)
    )
    # counts branch reads the SOURCE, not `ranked`: a deliberate second
    # scan that column-prunes to the key and skips the window sort —
    # cheaper at scale than persisting the full-width ranked rows just
    # to count 64 buckets (both branches produce identical bucket ids
    # because the bucket is a pure function of the key)
    counts = df.select(b).groupBy("__sb").agg(F.count("*").alias("__n"))
    w_off = (
        Window.orderBy("__sb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__n").over(w_off), F.lit(0))
    ).select("__sb", "__off")
    return (
        ranked.join(F.broadcast(offsets), "__sb")
        .withColumn("shuffle_rank", (F.col("__off") + F.col("__in_rank")).cast("bigint"))
        .drop("__sb", "__in_rank", "__off")
    )


def token_budget_shards(
    df: DataFrame,
    key_col: str,
    tokens_col: str,
    budget: int,
    seed: int = 0,
    n_buckets: int = 1024,
) -> DataFrame:
    """Assign rows — in the deterministic ``shuffle_rank`` train order —
    to fixed-token-budget output shards: the manifest-building step of
    a pretraining-data writer (~1B-token shards at the 100 TB design
    point).  ``shard_id = floor(tokens_before / budget)`` where
    ``tokens_before`` is the exact global cumulative token count of all
    rows ordered before this one, so a shard boundary never splits a
    document and every shard except the last holds >= ``budget`` minus
    one document of tokens.

    ``tokens_col`` must be a NON-NULL integer column (exact cumulative
    sums; a NULL would silently contribute 0 to every prefix).
    Output: input columns + ``shuffle_rank``, ``tokens_before``,
    ``shard_id``.

    Scale design: a global running sum is the same single-partition
    trap as a global row_number — this reuses the two-pass bucket
    shape of ``shuffle_rank``, with the per-bucket offset table
    carrying BOTH row-count and token subtotals: per-bucket window
    cumsums run in parallel across buckets, the ``n_buckets``-row
    offset table gets one tiny window, and a broadcast join stitches
    the global order.  One corpus-wide exchange total.
    """
    b = (hash_bucket(F.col(key_col), seed) % n_buckets).alias("__sb")
    h2 = hash_bucket(F.col(key_col), seed + 1)
    w_in = Window.partitionBy("__sb").orderBy(h2.asc(), F.col(key_col).asc())
    ranked = (
        df.withColumn("__sb", b)
        .withColumn("__in_rank", F.row_number().over(w_in))
        .withColumn(
            "__in_tok",
            F.coalesce(
                F.sum(tokens_col).over(
                    w_in.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
    )
    counts = (
        df.select(b, F.col(tokens_col).alias("__t"))
        .groupBy("__sb")
        .agg(F.count("*").alias("__n"), F.sum("__t").alias("__tk"))
    )
    w_off = Window.orderBy("__sb").rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    offsets = counts.select(
        "__sb",
        F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off"),
        F.coalesce(F.sum("__tk").over(w_off), F.lit(0)).alias("__tok_off"),
    )
    return (
        ranked.join(F.broadcast(offsets), "__sb")
        .withColumn(
            "shuffle_rank", (F.col("__off") + F.col("__in_rank")).cast("bigint")
        )
        .withColumn(
            "tokens_before", (F.col("__tok_off") + F.col("__in_tok")).cast("bigint")
        )
        .withColumn(
            "shard_id",
            F.floor(F.col("tokens_before") / F.lit(budget)).cast("bigint"),
        )
        .drop("__sb", "__in_rank", "__in_tok", "__off", "__tok_off")
    )


def temperature_mix(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    alpha: float = 0.7,
    seed: int = 0,
) -> DataFrame:
    """Temperature-based source rebalancing (the multilingual-corpus
    p^α reweighting of Conneau & Lample 2019): target share of stratum
    s ∝ p_s^α.  Keeping stratum s with probability f_s ∝ p_s^(α−1)
    achieves it (kept counts n_s·f_s ∝ p_s^α); f is normalized by its
    largest value so every keep fraction is ≤ 1 with no rejection —
    for α<1 the reference is the SMALLEST stratum (kept whole, common
    strata down-sampled toward it), for α>1 the largest.  α=1 keeps
    everything.

    Membership is the md5 hash filter (row-pure, engine-portable).
    Two-pass but fully distributed: pass 1 is one tiny groupBy for
    stratum counts; the per-stratum thresholds ride back via a
    broadcast join; pass 2 is the narrow hash filter.  No driver-side
    data dependency — the threshold table is |strata| rows.
    """
    counts = df.groupBy(strata_col).agg(F.count("*").alias("__n"))
    # f_s = n_s^(alpha-1) / max_t n_t^(alpha-1); rounded so Spark and a
    # SQL replay compute the identical double threshold.  The scalar max
    # rides in as a broadcast 1-row aggregate (house pattern — no global
    # window, no driver action).
    g = F.pow(F.col("__n").cast("double"), F.lit(alpha - 1.0))
    gmax = counts.agg(F.max(g).alias("__gmax"))
    fracs = (
        counts.crossJoin(F.broadcast(gmax))
        .withColumn("__keep", F.round(g / F.col("__gmax"), 9))
        .select(F.col(strata_col).alias("__stratum"), "__keep")
    )
    # explicit floor: Spark's double->bigint cast truncates but SQL
    # engines round, so the boundary must be pinned on both sides
    thresh = F.floor(F.col("__keep") * _BUCKETS).cast("bigint")
    # null-safe join: a NULL stratum is a stratum like any other (its
    # count already participates in the normalization above) — a plain
    # equi join would silently drop those rows and break the alpha=1
    # identity contract
    return (
        df.join(
            F.broadcast(fracs),
            on=df[strata_col].eqNullSafe(fracs["__stratum"]),
        )
        .filter(hash_bucket(F.col(key_col), seed) < thresh)
        .drop("__stratum", "__keep")
    )


def weighted_sample_topk(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES),
    with the sampling key in column ``score``.

    Each row draws a deterministic uniform u∈(0,1) from its key; the k
    rows with the largest ``u^(1/w)`` — equivalently largest
    ``ln(u)/w`` — form the sample, giving inclusion probability ∝
    weight without replacement.  Hash-derived u keeps membership a pure
    function of the row (reruns/backfills/other engines agree), which
    ``df.sample`` cannot promise across repartitions.

    Scale: narrow projection + global top-k — Spark compiles
    ``orderBy().limit(k)`` to TakeOrderedAndProject (per-partition heap
    of k, single reduce), so no full sort at any data size.  u is exact
    in double ((h+0.5)/2^32, power-of-two divide); the score is rounded
    to 12 dp so libm ln() last-ulp differences can't reorder engines,
    and the key breaks residual ties.
    """
    u = (hash_bucket(F.col(key_col)) + F.lit(0.5)) / F.lit(float(_BUCKETS))
    score = F.round(F.log(u) / F.col(weight_col), 12)
    return (
        df.withColumn("score", score)
        .orderBy(F.col("score").desc(), F.col(key_col).asc())
        .limit(k)
    )


def epoch_replicate(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    epochs: dict[str, float],
    default_epochs: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """Epoch-weighted corpus replication — the "N epochs per source"
    data-mixture recipe (2 epochs of the curated source, 0.3 of the
    bulk crawl, ...).  Every row of stratum s is emitted floor(e_s) or
    ceil(e_s) times so the EXPECTED replication is exactly e_s; the
    fractional extra copy is granted by the row-pure md5 hash, so
    membership of the "partial epoch" is deterministic across reruns,
    repartitionings, and engines (same contract as ``hash_sample``).
    Output rows carry ``copy`` = 1..n; e_s < 1 strata become a plain
    deterministic subsample (some rows emit zero copies).

    Scale design: per-stratum (base, fractional-threshold) pairs are
    computed driver-side from the literal ``epochs`` dict and compiled
    into two flat CASE expressions — the whole operator is one narrow
    map + explode, no shuffle, no join, no aggregate; output size is
    sum_s e_s * n_s by construction.  NULL strata take the default
    epoch count.
    """
    def split(e: float) -> tuple[int, int]:
        base = int(e)
        return base, int(round((e - base) * _BUCKETS))

    dbase, dcut = split(float(default_epochs))
    base_col: Column = F.lit(dbase)
    cut_col: Column = F.lit(dcut)
    for s, e in sorted(epochs.items()):
        b, c = split(float(e))
        base_col = F.when(F.col(strata_col) == F.lit(s), F.lit(b)).otherwise(base_col)
        cut_col = F.when(F.col(strata_col) == F.lit(s), F.lit(c)).otherwise(cut_col)
    extra = (hash_bucket(F.col(key_col), seed) < cut_col.cast("bigint")).cast("int")
    n = (base_col + extra).alias("__n")
    copies = F.when(
        n >= 1, F.sequence(F.lit(1), n)
    ).otherwise(F.array().cast("array<int>"))
    return df.withColumn("copy", F.explode(copies))


def balanced_sample(
    df: DataFrame,
    class_col: str,
    key_col: str,
    per_class: int,
    seed: int = 0,
) -> DataFrame:
    """Class-balanced downsampling: keep exactly ``per_class`` rows per
    class (fewer when the class is smaller) — the majority-class
    undersampling step of classifier training prep, with the same
    determinism contract as the rest of the family: membership is a
    pure function of (row key, seed), so reruns, backfills, and other
    engines select the identical sample.

    Selection: per class, the ``per_class`` smallest by (md5 bucket,
    key).  Implemented as a rank window, which Spark 3.5+ compiles to
    WindowGroupLimit — a per-map-side partial top-k before the class
    shuffle, so a skewed majority class ships ~per_class rows per map
    task, not its whole population.
    """
    h = hash_bucket(F.col(key_col), seed)
    w = Window.partitionBy(F.col(class_col)).orderBy(
        h.asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= per_class)
        .drop("__rn")
    )


def target_mix_sample(
    df: DataFrame,
    stratum_col: str,
    key_col: str,
    target_shares: "dict[str, float]",
) -> DataFrame:
    """Downsample strata to hit an EXPLICIT target mixture (the
    complement of ``temperature_mix``, which only flattens): given
    target shares per stratum, each stratum keeps the deterministic
    hash-fraction that brings the kept corpus as close to the target
    proportions as possible WITHOUT upsampling — the binding stratum
    (largest target/current ratio) keeps everything, every other
    stratum downsamples to match.

    Rates are computed from the target dict and the per-stratum counts
    (one tiny agg, broadcast back); membership is the md5-bucket
    filter, so the sample is a pure row function.  Strata absent from
    ``target_shares`` get share 0 (dropped).  Returns the kept rows.
    """
    shares = [
        (k, float(v)) for k, v in sorted(target_shares.items())
    ]
    counts = df.groupBy(F.col(stratum_col).alias("__s")).agg(
        F.count("*").alias("__n")
    )
    # binding ratio r* = min over strata of (n_s / share_s): the kept
    # total T = r* makes kept_s = share_s * T <= n_s for every stratum
    with_share = counts.withColumn(
        "__share",
        F.create_map(*[F.lit(x) for kv in shares for x in kv])[F.col("__s")],
    ).filter(F.col("__share").isNotNull() & (F.col("__share") > 0))
    binding = with_share.agg(
        F.min(F.col("__n") / F.col("__share")).alias("__t")
    )
    rates = (
        with_share.crossJoin(F.broadcast(binding))
        .select(
            "__s",
            F.least(
                F.col("__share") * F.col("__t") / F.col("__n"), F.lit(1.0)
            ).alias("__rate"),
        )
    )
    out = df.join(
        F.broadcast(rates), F.col(stratum_col) == F.col("__s"), "inner"
    )
    cut = (F.col("__rate") * F.lit(float(_BUCKETS))).cast("bigint")
    kept = out.filter(hash_bucket(F.col(key_col)) < cut)
    return kept.drop("__s", "__rate")


def per_group_cap(df: DataFrame, group_col: str, key_col: str, cap: int) -> DataFrame:
    """Cap every group at ``cap`` rows, selection deterministic in the
    key — the per-domain document limit of web-corpus curation (one
    domain may not dominate the training mix no matter how large its
    crawl is).

    Selection is the ``cap`` smallest (md5 bucket, key) pairs per
    group: a pure function of the data, so reruns, backfills, and the
    DuckDB oracle agree row-for-row; the hash order makes the kept
    subset a uniform sample of the group rather than whatever the scan
    order happened to be.

    Scale shape: one window shuffle on the group key.  Group skew is
    the caveat — a giant domain sorts its whole partition to rank it.
    """
    w = Window.partitionBy(group_col).orderBy(hash_bucket(F.col(key_col)), F.col(key_col))
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= cap)
        .drop("__rk")
    )


def dsir_importance(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_col: str,
    dim: int = 256,
) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR, Xie et al.
    2023): score every document by how target-like its hashed n-gram
    profile is, so sampling by the score shifts the corpus mix toward
    a target domain WITHOUT training a classifier.

    Features are hashed word BIGRAMS (md5 % dim — the same
    engine-portable construction as ``hashed_bow``).  With add-1
    smoothed bucket distributions p_t (rows where ``target_col`` is
    true) and p_r (all rows), a doc's log importance weight is

        log w(doc) = sum_g c_g * ( ln p_t(g) − ln p_r(g) )

    normalized per-feature (mean, not sum) so short and long docs are
    comparable.  Rounded to 4 dp with the portable floor form — the
    same ulp-absorbing discipline as the bigram LM score.

    Scale shape: one explode_outer (a doc without a bigram keeps one
    NULL row, which counts 0) → (doc, bucket) hash aggregate with
    map-side combine (the only corpus-sized shuffle; both distributions
    and the per-doc fold read it), a dim-sized bucket-stats table
    broadcast back by a left join, one per-doc aggregate — no join
    back onto the input.  No vocabulary table, no model broadcast, no
    driver loop — the hashed sufficient statistics ARE the model.

    Output: ``(id, n_feats, log_w)`` for every input row (``id_col`` is
    a key); docs with no bigrams carry n_feats = 0 and NULL log_w.
    """
    doc_bucket = (
        df.select(
            F.col(id_col),
            F.col(target_col).cast("boolean").alias("__tgt"),
            tokens(F.col(text_col)).alias("__tk"),
        )
        .select(id_col, "__tgt", F.explode_outer(bigrams(F.col("__tk"))).alias("__g"))
        .select(
            id_col, "__tgt", (md5_hash64(F.col("__g")) % dim).cast("int").alias("__b")
        )
        .groupBy(id_col, "__tgt", "__b")
        .agg(F.count("__b").alias("__c"))
        # warm medians at sf0.1 on 4 vCPUs: dsir_weights 1.34 s with the
        # persist, 1.77 s without
        .persist()
    )
    stats = doc_bucket.groupBy("__b").agg(
        F.sum("__c").alias("__cr"),
        F.sum(F.when(F.col("__tgt"), F.col("__c")).otherwise(F.lit(0))).alias("__ct"),
    )
    totals = stats.agg(
        F.sum("__cr").alias("__tr"), F.sum("__ct").alias("__tt")
    )
    # ln p_t − ln p_r with add-1 smoothing, bucket table is dim-sized
    ratio = (
        stats.crossJoin(F.broadcast(totals))
        .select(
            "__b",
            (
                F.log((F.col("__ct") + 1).cast("double"))
                - F.log((F.col("__tt") + dim).cast("double"))
                - F.log((F.col("__cr") + 1).cast("double"))
                + F.log((F.col("__tr") + dim).cast("double"))
            ).alias("__lr"),
        )
    )
    per_doc = (
        doc_bucket.join(F.broadcast(ratio), "__b", "left")
        .groupBy(id_col)
        .agg(
            F.sum("__c").alias("n_feats"),
            F.sum(F.col("__c") * F.col("__lr")).alias("__sw"),
        )
    )
    scale = F.lit(1e4)
    log_w = F.floor(F.col("__sw") / F.col("n_feats") * scale + F.lit(0.5)) / scale
    return per_doc.select(
        id_col, "n_feats", F.when(F.col("n_feats") > 0, log_w).alias("log_w")
    )


def mixture_budget(
    df: DataFrame,
    source_col: str,
    token_col: str,
    weights: "dict[str, float]",
    budget_tokens: "F.Column | int",
    max_epochs: float = 4.0,
) -> DataFrame:
    """Training-mix budget planner: given target mixture ``weights``
    per source and a global token ``budget_tokens``, how many epochs
    of each source fill its share — the closed-form arithmetic behind
    every "we upsampled Wikipedia 3x" table in a pretraining paper.

    Per source: target = budget·weight; epochs = target/available,
    capped at ``max_epochs`` (repeating a tiny source forever degrades
    models faster than under-filling the share — the cap is the
    standard practice); tokens_used = floor(min(target,
    available·max_epochs)); ``satisfied`` marks shares the cap left
    unfilled.  Sources missing from ``weights`` get weight 0.

    One |sources|-row hash aggregate; everything downstream is
    broadcast-sized arithmetic.  All quantities derive from exact
    integer token counts by IEEE double ops both engines share;
    epochs is displayed at the 6-dp portable floor-round.

    Returns ``(source, available_tokens, weight, target_tokens,
    epochs, tokens_used, satisfied)``.
    """
    avail = df.groupBy(source_col).agg(
        F.sum(token_col).cast("bigint").alias("available_tokens")
    )
    wmap = F.create_map(
        *[F.lit(x) for kv in sorted(weights.items()) for x in kv]
    )
    budget = (
        budget_tokens
        if isinstance(budget_tokens, F.Column)
        else F.lit(float(budget_tokens))
    )
    out = avail.select(
        source_col,
        "available_tokens",
        F.coalesce(
            F.element_at(wmap, F.col(source_col)), F.lit(0.0)
        ).alias("weight"),
    ).withColumn("target_tokens", budget * F.col("weight"))
    epochs_raw = F.col("target_tokens") / F.col("available_tokens")
    epochs = F.least(epochs_raw, F.lit(float(max_epochs)))
    used = F.floor(
        F.least(
            F.col("target_tokens"),
            F.col("available_tokens") * F.lit(float(max_epochs)),
        )
    ).cast("bigint")
    return out.select(
        source_col,
        "available_tokens",
        "weight",
        "target_tokens",
        (F.floor(epochs * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("epochs"),
        used.alias("tokens_used"),
        (epochs_raw <= F.lit(float(max_epochs))).alias("satisfied"),
    )


def length_bucket_batches(
    df: DataFrame,
    id_col: str,
    len_col: str,
    batch_size: int = 8,
    buckets: tuple[int, ...] = (16, 32, 64, 128, 256, 512, 1024),
    shards: int = 8,
) -> DataFrame:
    """Length-grouped batch assignment for padded training (dynamic
    batching): each row lands in the smallest length bucket that holds
    it (the last bucket also takes overflow), and rows inside a bucket
    are packed into fixed-size batches in deterministic id order.
    Grouping near-equal lengths is what makes padded attention cheap —
    a batch's cost is ``batch_size · max_len_in_batch``, so mixing a
    20-token doc into a 1024-token batch wastes ~98% of the pad.

    Scale design: a single global sequence per bucket would serialize
    the window into |buckets| partitions (skew at 100 TB).  Batches do
    NOT need a global order — only same-bucket locality — so rows are
    first hash-sharded (md5 of the id, reproducible anywhere) and the
    row_number window runs per (bucket, shard): parallelism is
    buckets·shards, and each shard packs its own batch sequence.
    Raise ``shards`` with cluster size; determinism is unaffected
    because shard membership is a pure function of the id.

    Returns one row per (bucket, shard, batch) with the padding
    economics: row count, batch max length, total real tokens, padded
    slots, and the padding waste.  All integer arithmetic — no float
    knife edges anywhere.
    """
    last = buckets[-1]
    bucket = F.lit(int(last))
    for b in reversed(buckets):
        bucket = F.when(F.col(len_col) <= int(b), int(b)).otherwise(bucket)
    shard = (hash_bucket(F.col(id_col)) % int(shards)).cast("int")
    rows = df.select(
        F.col(id_col).alias("__id"),
        F.col(len_col).cast("bigint").alias("__len"),
        bucket.cast("int").alias("bucket_len"),
        shard.alias("shard"),
    )
    w = Window.partitionBy("bucket_len", "shard").orderBy("__id")
    batched = rows.withColumn(
        "batch_id",
        F.floor((F.row_number().over(w) - 1) / int(batch_size)).cast("bigint"),
    )
    return (
        batched.groupBy("bucket_len", "shard", "batch_id")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.max("__len").alias("batch_max_len"),
            F.sum("__len").alias("real_tokens"),
        )
        .withColumn(
            "padded_slots", F.col("n_rows") * F.col("batch_max_len")
        )
        .withColumn(
            "pad_waste", F.col("padded_slots") - F.col("real_tokens")
        )
    )


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    total_n: int,
    seed: int = 0,
    key_cols: "list[str] | None" = None,
) -> tuple[DataFrame, DataFrame]:
    """Variance-optimal stratified sampling (Neyman 1934): stratum h
    gets n_h = total_n · N_h·S_h / Σ N_g·S_g — more budget where the
    metric varies more — then n_h rows are drawn per stratum by
    deterministic md5-rank (the repo's replayable sampling primitive).
    The estimator-design workhorse for audit sampling and eval-set
    construction over skewed corpora.

    Determinism discipline: S_h comes from exact DECIMAL Σv / Σv²
    (population variance, textbook formula — never engine ``stddev``,
    whose ulps differ across engines); allocations are
    floor(share·total_n + 0.5) of shared-IEEE doubles; the draw ranks
    md5 hashes with id tie-break.  One aggregate over the data, one
    |strata|-row broadcast back, one rank window per stratum.

    Returns (sampled rows + ``__rank``, allocation table
    (stratum, n_rows, alloc_n)).
    """
    dec = "decimal(30,6)"
    stats = df.groupBy(F.col(stratum_col).alias("__h")).agg(
        F.count("*").alias("__nh"),
        F.sum(F.col(value_col).cast(dec)).alias("__s1"),
        F.sum((F.col(value_col).cast(dec) * F.col(value_col).cast(dec))).alias("__s2"),
    )
    nh = F.col("__nh").cast("double")
    mean = F.col("__s1").cast("double") / nh
    var = F.greatest(
        F.col("__s2").cast("double") / nh - mean * mean, F.lit(0.0)
    )
    alloc = stats.select(
        "__h", "__nh", (nh * F.sqrt(var)).alias("__w")
    )
    tot = alloc.agg(F.sum("__w").alias("__tw"))
    alloc = alloc.crossJoin(F.broadcast(tot)).select(
        "__h",
        "__nh",
        F.when(
            F.col("__tw") > 0,
            F.floor(F.col("__w") / F.col("__tw") * F.lit(float(total_n)) + F.lit(0.5)),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("__alloc"),
    )
    # deterministic per-stratum draw: rank on md5 over ``key_cols``
    # (seed-prefixed, unit-separator-joined) — no RNG state, identical
    # in any engine.  Callers with cross-engine replay needs pass an
    # integer/string unique key (float→string formatting differs
    # between engines); default is the full row.
    cols = key_cols or df.columns
    key = F.md5(F.concat_ws("\x1f", F.lit(str(seed)), *[F.col(c).cast("string") for c in cols]))
    win = Window.partitionBy(F.col(stratum_col)).orderBy(key.asc())
    ranked = df.withColumn("__rank", F.row_number().over(win))
    picked = (
        ranked.join(
            F.broadcast(alloc.select(F.col("__h").alias(stratum_col), "__alloc")),
            stratum_col,
        )
        .filter(F.col("__rank") <= F.col("__alloc"))
        .drop("__alloc")
    )
    return picked, alloc.select(
        F.col("__h").alias(stratum_col),
        F.col("__nh").alias("n_rows"),
        F.col("__alloc").alias("alloc_n"),
    )
