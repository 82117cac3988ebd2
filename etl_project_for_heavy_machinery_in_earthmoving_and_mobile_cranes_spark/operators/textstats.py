"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language ID, document fingerprinting.

All JVM-side Column expressions (split/filter/aggregate over token
arrays) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import bigrams, md5_hash64, normalize_for_dedup, shingle_array, tokens

# whitespace tokens; BPE-ish fallback splits punctuation off words
_TOKEN_RE = r"\s+"
BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

STOPWORDS = {
    "en": ["the", "a", "an", "of", "and", "to", "in", "is", "it", "for"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "una", "es", "por"],
    "fr": ["le", "la", "de", "et", "que", "en", "un", "une", "est", "pour"],
    "de": ["der", "die", "das", "und", "zu", "in", "ist", "ein", "eine", "von"],
}


def ws_tokens(col: Column) -> Column:
    return F.filter(F.split(F.trim(col), _TOKEN_RE), lambda t: t != "")


def token_count(col: Column) -> Column:
    return F.size(ws_tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """Count of BPE-ish segments (letter runs, digit runs, single
    punctuation) — a cheap proxy for subword token counts."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_ISH_RE), F.lit(0)))


def punct_ratio(col: Column) -> Column:
    nonword = F.length(F.regexp_replace(col, r"[A-Za-z0-9\s]", ""))
    return nonword / F.greatest(F.length(col), F.lit(1))


def stopword_hits(col: Column, lang: str = "en") -> Column:
    words = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    toks = F.split(F.lower(col), _TOKEN_RE)
    return F.size(F.filter(toks, lambda t: F.array_contains(words, t)))


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    return stopword_hits(col, lang) / F.greatest(token_count(col), F.lit(1))


def quality_score(col: Column) -> Column:
    """Heuristic quality in [0,1]: rewards reasonable length and stopword
    presence, penalizes punctuation soup.  Deterministic + SQL-expressible
    so the oracle can recompute it."""
    n_tok = token_count(col)
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    stop_score = F.least(stopword_ratio(col, "en") * 5.0, F.lit(1.0))
    punct_pen = F.greatest(F.lit(1.0) - punct_ratio(col) * 4.0, F.lit(0.0))
    return F.round((len_score + stop_score + punct_pen) / 3.0, 6)


def lang_id(col: Column) -> Column:
    """N-gram/stopword-hit language guess: the language with the most
    stopword hits wins; ties break alphabetically; zero hits → 'und'."""
    scored = [(lang, stopword_hits(col, lang)) for lang in sorted(STOPWORDS)]
    best_score = F.greatest(*[s for _, s in scored])
    out = F.lit("und")
    # reversed so earlier (alphabetical) languages win ties
    for lang, s in reversed(scored):
        out = F.when((s == best_score) & (best_score > 0), F.lit(lang)).otherwise(out)
    return out


def fingerprint(col: Column) -> Column:
    """Normalized-content fingerprint (md5 of casefolded token stream) —
    the key used for exact dedup across formatting variants."""
    return F.md5(normalize_for_dedup(col))


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    c = F.col(text_col)
    return (
        df.withColumn("n_tokens", token_count(c))
        .withColumn("n_bpe_tokens", bpe_ish_token_count(c))
        .withColumn("n_chars2", F.length(c))
        .withColumn("punct_ratio", F.round(punct_ratio(c), 6))
        .withColumn("stopword_ratio_en", F.round(stopword_ratio(c, "en"), 6))
        .withColumn("quality", quality_score(c))
        .withColumn("lang_guess", lang_id(c))
        .withColumn("fingerprint", fingerprint(c))
    )


# PII patterns kept to constructs with identical semantics in Java regex
# (Spark) and RE2 (DuckDB oracle): classes, \b, bounded repetition.
# Order matters: emails are redacted before bare digit runs so the local
# part's digits don't get double-redacted.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("longnum", r"\b\d{9,}\b", "<NUM>"),
)


def redact_pii(col: Column) -> Column:
    """Replace emails, IPv4 addresses, and long (≥9 digit) numeric runs
    with typed placeholder tokens.  Pure chained regexp_replace — one
    narrow projection, no shuffle, codegen-friendly at any scale."""
    out = col
    for _, pat, rep in PII_PATTERNS:
        out = F.regexp_replace(out, pat, rep)
    return out


def with_pii_redaction(df: DataFrame) -> DataFrame:
    """Adds per-kind PII hit counts and the redaction of the ``text``
    column.  The counts are computed on the ORIGINAL text (before any
    placeholder rewrite) so kinds don't interfere."""
    c = F.col("text")
    out = df
    for kind, pat, _ in PII_PATTERNS:
        out = out.withColumn(f"n_{kind}", F.regexp_count(c, F.lit(pat)))
    return out.withColumn("redacted", redact_pii(c))


def unigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Self-trained unigram language-model score per document: mean
    log-probability of the doc's tokens under the corpus's own unigram
    distribution.  Low scores flag gibberish / rare-token-heavy docs —
    the classic cheap LM-quality filter before real perplexity models.

    Shape: explode → per-doc token counts (cuts the join from n_tokens
    to n_distinct_tokens rows per doc) → global frequency table → join
    back → weighted mean.  The frequency table is vocabulary-sized, so
    AQE will broadcast it when small; at 100 TB it shuffle-joins on the
    token key, which is exactly the word-count partitioning already in
    place from the groupBy."""
    toks = tokens(F.col(text_col))
    dt = (
        df.select(F.col(id_col), F.explode(toks).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("k"))
    )
    freq = dt.groupBy("tok").agg(F.sum("k").alias("c"))
    total = freq.agg(F.sum("c").alias("t"))
    return (
        dt.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("k").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(F.col("k") * F.log(F.col("c") / F.col("t"))) / F.sum("k"), 4
            ).alias("avg_logprob"),
        )
    )


def bigram_logprob(
    df: DataFrame, id_col: str, text_col: str, lam: float = 0.7
) -> DataFrame:
    """Interpolated bigram language-model score per document
    (Jelinek-Mercer smoothing): mean over token positions i >= 2 of

        ln( lam * P(w_i | w_{i-1}) + (1 - lam) * P(w_i) )

    with both distributions estimated from the corpus itself —
    P(w|v) = c(v,w)/c(v,·), P(w) = c(w)/T.  A sharper gibberish /
    machine-spam filter than the unigram score: scrambled word salads
    keep their unigram mass but lose all bigram mass.  Documents with
    fewer than 2 tokens return n_bigrams = 0 and NULL score.
    ``id_col`` is a key: one output row per input row.

    Shape: per-doc bigram counts (``explode_outer`` of ``dedup.bigrams``,
    so a doc without a bigram keeps one NULL row and a count of 0 — no
    join back onto the input) → global bigram / context / unigram
    frequency tables → three left equi joins keyed on the bigram/word →
    weighted mean.  The frequency tables are vocabulary²-bounded; AQE
    broadcasts them when small and shuffle-joins on the token key at
    scale, same as word count.  The interpolation guarantees a nonzero
    probability for every observed bigram (cvw >= 1), so no log(0)
    guard is needed."""
    t = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__t"))
    dbc = (
        t.select(F.col(id_col), F.explode_outer(bigrams(F.col("__t"))).alias("bg"))
        .groupBy(id_col, "bg")
        .agg(F.count("bg").alias("k"))
    )
    # no token contains a space, so the pair splits exactly
    bgc = dbc.groupBy("bg").agg(F.sum("k").alias("cvw")).select(
        "bg",
        "cvw",
        F.substring_index("bg", " ", 1).alias("v"),
        F.substring_index("bg", " ", -1).alias("w"),
    )
    vc = bgc.groupBy("v").agg(F.sum("cvw").alias("cv"))
    uni = t.select(F.explode("__t").alias("w")).groupBy("w").agg(F.count("*").alias("c"))
    total = uni.agg(F.sum("c").alias("t"))
    return (
        dbc.join(bgc, "bg", "left")
        .join(vc, "v", "left")
        .join(uni, "w", "left")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("k").cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum(
                    F.col("k")
                    * F.log(
                        F.lit(lam) * (F.col("cvw") / F.col("cv"))
                        + F.lit(1.0 - lam) * (F.col("c") / F.col("t"))
                    )
                )
                / F.sum("k"),
                4,
            ).alias("avg_logprob"),
        )
    )


def repetition_stats(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Within-document repetition metrics (Gopher-style quality rules):
    duplicate-token fraction and duplicate-bigram fraction.  High values
    flag boilerplate/spam for corpus filtering.  Pure array expressions
    — tokens projected once, no explode, no shuffle."""
    toks = tokens(F.col(text_col))
    t = df.select(F.col(id_col), toks.alias("__t"))
    # NON-distinct bigrams (repetition is the signal, unlike shingling)
    t = t.withColumn("__b", bigrams(F.col("__t")))

    def dup_frac(arr: Column) -> Column:
        n = F.size(arr)
        d = F.size(F.array_distinct(arr))
        return F.when(
            n > 0, F.round(1.0 - d.cast("double") / n.cast("double"), 6)
        ).otherwise(F.lit(0.0))

    return t.select(
        F.col(id_col),
        F.size("__t").alias("n_tokens"),
        dup_frac(F.col("__t")).alias("dup_token_frac"),
        dup_frac(F.col("__b")).alias("dup_bigram_frac"),
    )


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF
    (``tf · ln(N/df)``) — the classic keyword/topic signal a corpus
    pipeline derives before heavier embedding models.

    Shape: explode → per-doc term counts → document-frequency table →
    join back on the term key → per-doc top-k window.  The df table is
    vocabulary-sized (AQE broadcasts it when small; term-partitioned
    hash join otherwise), and the top-k window compiles to a partial
    WindowGroupLimit before the doc-key shuffle, so only ~k rows per doc
    cross the wire.  Deterministic tie-break: score desc, term asc.

    The corpus size N rides in as a broadcast scalar aggregate
    (crossJoin of a 1-row countDistinct), keeping the operator ONE lazy
    plan — no driver-side ``count()`` barrier job mid-build.
    """
    toks = tokens(F.col(text_col))
    dt = (
        df.select(F.col(id_col), F.explode(toks).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    n_docs = dt.agg(
        F.countDistinct(id_col).cast("double").alias("__n_docs")
    )
    docfreq = dt.groupBy("term").agg(F.count("*").alias("df"))
    w = (
        Window.partitionBy(id_col)
        .orderBy(F.col("score").desc(), F.col("term").asc())
    )
    return (
        dt.join(docfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log(F.col("__n_docs") / F.col("df")), 4),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(id_col, "term", "tf", "score")
    )


def token_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document Shannon entropy (nats) of the token distribution —
    near-zero entropy flags degenerate/repetitive docs, unusually high
    entropy flags random-character noise.

    Single-pass identity ``H = ln(n) - (Σ k·ln k)/n`` over per-doc token
    counts: no join-back against a totals table, so the whole operator
    is explode → (doc, token) count → one per-doc aggregate — two
    map-side-combined shuffles, no Python.
    """
    toks = tokens(F.col(text_col))
    dt = (
        df.select(F.col(id_col), F.explode(toks).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("k"))
    )
    n = F.sum("k")
    return dt.groupBy(id_col).agg(
        n.cast("bigint").alias("n_tokens"),
        F.round(
            F.log(n) - F.sum(F.col("k") * F.log("k")) / n, 4
        ).alias("entropy"),
    )


def quality_percentile_filter(
    df: DataFrame, text_col: str = "text", min_rank: float = 0.5
) -> DataFrame:
    """Corpus curation by per-language quality percentile: score every
    document (quality_score + lang_id), rank it WITHIN its language by
    percent_rank, keep rows at or above ``min_rank``.  Per-language
    thresholds stop an English-tuned heuristic from discarding other
    languages wholesale.

    Scale note: percent_rank partitions by language — few, huge
    partitions at corpus scale (skew).  At 100 TB compute per-language
    cutoffs with percentile_approx instead, broadcast the k-row cutoff
    table, and filter — same semantics up to sketch error, no global
    sort per language.
    """
    c = F.col(text_col)
    scored = df.withColumn("quality", quality_score(c)).withColumn(
        "lang_guess", lang_id(c)
    )
    w = Window.partitionBy("lang_guess").orderBy("quality")
    ranked = scored.withColumn("q_rank", F.round(F.percent_rank().over(w), 6))
    return ranked.filter(F.col("q_rank") >= min_rank)


def distinctive_terms(
    df: DataFrame,
    group_col: str,
    text_col: str,
    k: int = 5,
    min_count: int = 5,
) -> DataFrame:
    """Top-k most distinctive terms per group by smoothed log-odds ratio.

    For term t in group g: ``lo = ln((c_g+½)/(n_g−c_g+½)) −
    ln((c_r+½)/(n_r−c_r+½))`` where c_g/n_g are the term/total token
    counts inside g and c_r/n_r the counts in the rest of the corpus
    (Monroe et al. 2008 "Fightin' Words" without the prior-variance
    term).  The corpus-contrast twin of TF-IDF: per-language or
    per-domain vocabulary drift is the standard triage step before
    re-balancing a training mix.

    Shape: one explode → (group, term) hash aggregate, then the
    term-marginal and group-marginal tables derive from the SAME
    grouped result, whose exchange the plan reuses.  Marginal
    join-backs are on the term / group keys of vocabulary- and group-cardinality-sized
    tables; the final top-k is a WindowGroupLimit over |groups| keys.
    """
    toks = tokens(F.col(text_col))
    gt = (
        df.select(F.col(group_col).alias("grp"), F.explode(toks).alias("term"))
        .groupBy("grp", "term")
        .agg(F.count("*").alias("c_g"))
    )
    grp_totals = gt.groupBy("grp").agg(F.sum("c_g").alias("n_g"))
    term_totals = gt.groupBy("term").agg(F.sum("c_g").alias("c_all"))
    corpus_total = gt.agg(F.sum("c_g").alias("n_all"))
    joined = (
        gt.join(F.broadcast(grp_totals), "grp")
        .join(term_totals, "term")
        .crossJoin(F.broadcast(corpus_total))
        .filter(F.col("c_g") >= min_count)
    )
    c_g, n_g = F.col("c_g"), F.col("n_g")
    c_r = F.col("c_all") - c_g
    n_r = F.col("n_all") - n_g
    score = F.round(
        F.log((c_g + 0.5) / (n_g - c_g + 0.5)) - F.log((c_r + 0.5) / (n_r - c_r + 0.5)),
        4,
    )
    w = Window.partitionBy("grp").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        joined.withColumn("score", score)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(F.col("grp").alias(group_col), "term", "c_g", "score")
    )


def bigram_pmi(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 3,
) -> DataFrame:
    """Bigram collocations scored by pointwise mutual information:
    ``pmi = ln( p(x,y) / (p(x)·p(y)) )`` with p(x,y) = c_xy / N_bigrams
    and p(x) = c_x / N_tokens.  The classic collocation detector
    (Church & Hanks 1990) — for corpus hygiene it surfaces boilerplate
    phrases and templated spans that unigram frequency misses.

    Shape: one tokenization projection read by the unigram and the
    bigram (``dedup.bigrams``, no posexplode self-join) count tables,
    which shuffle on the token key and split the pair after
    aggregating; the two marginal join-backs are vocabulary-sized.
    Scalar totals ride in via a broadcast cross join.  All ratio arithmetic is double with pinned left-to-right
    association so an external SQL oracle reproduces bit-identical
    inputs to ``ln``; the 6dp round absorbs the last-ulp ``ln``
    libm difference.

    Returns (x, y, c_xy, pmi) for bigrams seen >= ``min_count`` times.
    """
    toks = df.select(
        F.filter(
            F.split(F.lower(F.col(text_col)), " "), lambda t: t != F.lit("")
        ).alias("t")
    )
    uni = (
        toks.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    n_uni = uni.agg(F.sum("c").alias("n_uni"))
    # no token contains a space, so the pair splits exactly
    bi = (
        toks.select(F.explode(bigrams(F.col("t"))).alias("p"))
        .groupBy("p")
        .agg(F.count("*").alias("c_xy"))
        .select(
            F.substring_index("p", " ", 1).alias("x"),
            F.substring_index("p", " ", -1).alias("y"),
            "c_xy",
        )
    )
    n_bi = bi.agg(F.sum("c_xy").alias("n_bi"))
    ux = uni.select(F.col("tok").alias("x"), F.col("c").alias("c_x"))
    uy = uni.select(F.col("tok").alias("y"), F.col("c").alias("c_y"))
    joined = (
        bi.filter(F.col("c_xy") >= min_count)
        .join(ux, "x")
        .join(uy, "y")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
    )
    ratio = (
        F.col("c_xy").cast("double") * F.col("n_uni") * F.col("n_uni")
    ) / (F.col("n_bi").cast("double") * F.col("c_x") * F.col("c_y"))
    return joined.select(
        "x", "y", "c_xy", F.round(F.log(ratio), 6).alias("pmi")
    )


# ---------------------------------------------------------------------------
# model-based quality classification (fastText-style linear scorer)
# ---------------------------------------------------------------------------

# Default weights for the linear quality classifier.  In production these
# come from a trained model (fastText / logistic regression on labeled
# pages, the CCNet/LLaMA recipe); here they are literals because the
# ENGINE side of that recipe is the interesting part: featurize + score +
# threshold must be one JVM map pass over the corpus, no model server,
# no Python.  Insertion order is the evaluation order on both engines
# (bit-for-bit reproducible logit).
QUALITY_LOGIT_WEIGHTS: dict[str, float] = {
    "bias": -1.0,
    "len_score": 2.2,        # least(n_tokens/50, 1): reward substance
    "stopword_ratio": 4.0,   # natural-language-ness
    "punct_ratio": -6.0,     # punctuation soup
    "digit_ratio": -2.0,     # tables/serial dumps
    "mean_word_len": 0.15,   # mild reward for real words vs single chars
}


def digit_ratio(col: Column) -> Column:
    return F.length(F.regexp_replace(col, r"[^0-9]", "")) / F.greatest(
        F.length(col), F.lit(1)
    )


def mean_word_len(col: Column) -> Column:
    """Mean non-whitespace chars per whitespace token."""
    return F.length(F.regexp_replace(col, r"\s", "")) / F.greatest(
        token_count(col), F.lit(1)
    )


def quality_logit(col: Column) -> Column:
    """Linear quality score (the pre-sigmoid logit) over cheap JVM-side
    features.  Whole-stage-codegen'd expression — a 100 TB corpus scores
    in one map-only pass, which is exactly why production pipelines
    distill big quality models into linear scorers for the first pass."""
    w = QUALITY_LOGIT_WEIGHTS
    n_tok = token_count(col)
    feats = {
        "len_score": F.least(n_tok / F.lit(50.0), F.lit(1.0)),
        "stopword_ratio": stopword_ratio(col, "en"),
        "punct_ratio": punct_ratio(col),
        "digit_ratio": digit_ratio(col),
        "mean_word_len": mean_word_len(col),
    }
    z: Column = F.lit(float(w["bias"]))
    for name, feat in feats.items():
        z = z + F.lit(float(w[name])) * feat
    return z


def with_quality_logit(
    df: DataFrame,
    text_col: str = "text",
    threshold: float = 0.0,
) -> DataFrame:
    """Attach ``logit``, ``p_keep`` (sigmoid, 6 dp) and ``keep``
    (logit >= threshold — thresholded on the raw logit, not the rounded
    probability, so the decision boundary is exact)."""
    z = quality_logit(F.col(text_col))
    return (
        df.withColumn("__z", z)
        .withColumn("p_keep", F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("__z"))), 6))
        .withColumn("keep", F.col("__z") >= F.lit(float(threshold)))
        .withColumn("logit", F.round("__z", 6))
        .drop("__z")
    )


def quality_calibration(
    df: DataFrame,
    text_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability table for the linear quality scorer: bin documents
    by predicted keep-probability and report, per bin, the observed
    rate of a proxy label — the standard calibration diagnostic before
    a classifier's scores gate a 100 TB corpus (a scorer can rank well
    and still be badly calibrated, which breaks threshold semantics).

    Cross-engine determinism: the sigmoid is quantized to parts-per-
    million INTEGERS first (portable floor-round), the bin is integer
    arithmetic on that grid, and every reported statistic is an exact
    integer (counts, ppm means) — no float aggregation anywhere, so no
    summation-order sensitivity.  One map pass + one |bins|-sized hash
    aggregate.

    Returns (bin, n_docs, mean_pred_ppm, n_pos, frac_pos_ppm); a
    calibrated scorer has mean_pred_ppm ≈ frac_pos_ppm per bin.
    """
    if 1_000_000 % n_bins:
        raise ValueError("n_bins must divide 1e6 (the ppm grid)")
    z = quality_logit(F.col(text_col))
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    qp = F.floor(p * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
    rows = df.select(
        F.least(
            F.floor(qp / F.lit(1_000_000 // n_bins)), F.lit(n_bins - 1)
        ).cast("int").alias("bin"),
        qp.alias("__qp"),
        F.col(label_col).cast("int").alias("__y"),
    )
    return rows.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.floor(F.sum("__qp") / F.count("*") + F.lit(0.5))
        .cast("bigint")
        .alias("mean_pred_ppm"),
        F.sum("__y").cast("bigint").alias("n_pos"),
        F.floor(F.sum("__y") * F.lit(1000000.0) / F.count("*") + F.lit(0.5))
        .cast("bigint")
        .alias("frac_pos_ppm"),
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 ranked retrieval over the corpus for a bag of query terms —
    the lexical-search complement to the ANN operators (hybrid
    retrieval runs both and fuses):

        score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
        idf(t)   = ln(1 + (N − df + 0.5)/(df + 0.5))

    Returns ``(id, n_matched, score)`` for documents matching at least
    one term.

    Shape: the per-doc term-count table filters to the query terms
    FIRST (a broadcast literal-array membership — the corpus-side
    explode prunes to |terms| rows per doc before any join); document
    frequencies aggregate from that pruned table; N and avgdl ride one
    broadcast scalar aggregate (decimal length sum, exact).  Nothing
    in the plan scales with vocabulary — only with |query_terms|.
    """
    if not query_terms:
        raise ValueError("bm25_scores needs at least one query term")
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("__t")).select(
        F.col(id_col), F.col("__t"), F.size("__t").alias("__dl")
    )
    terms = F.array(*[F.lit(t) for t in query_terms])
    hits = (
        base.select(
            F.col(id_col), F.col("__dl"), F.explode("__t").alias("__tok")
        )
        .filter(F.array_contains(terms, F.col("__tok")))
        .groupBy(id_col, "__dl", "__tok")
        .agg(F.count("*").alias("__tf"))
    )
    dfreq = hits.groupBy("__tok").agg(F.count_distinct(F.col(id_col)).alias("__df"))
    stats = base.agg(
        F.count("*").alias("__n"),
        F.sum(F.col("__dl").cast("decimal(18,0)")).alias("__dlsum"),
    )
    avgdl = F.col("__dlsum").cast("double") / F.col("__n")
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("__df") + F.lit(0.5)) / (F.col("__df") + F.lit(0.5))
    )
    tf_term = (
        F.col("__tf") * F.lit(k1 + 1.0)
    ) / (
        F.col("__tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("__dl") / avgdl)
    )
    return (
        hits.join(F.broadcast(dfreq), "__tok")
        .crossJoin(F.broadcast(stats))
        .groupBy(F.col(id_col))
        .agg(
            F.count("*").cast("bigint").alias("n_matched"),
            F.round(F.sum(idf * tf_term), 4).alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge learning (tokenizer training)
# ---------------------------------------------------------------------------


def bpe_merge_steps(df: DataFrame, text_col: str, n_merges: int = 3) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges from the corpus — the
    statistics step of tokenizer training (Sennrich et al., "Neural
    Machine Translation of Rare Words with Subword Units"), expressed
    as ONE unrolled Spark DAG.

    Classic BPE trains on the WORD-FREQUENCY table, not the raw corpus:
    the corpus is tokenized once into ``(word, n)`` (the only
    corpus-sized shuffle, with map-side combine), after which every
    merge iteration runs over the vocabulary — millions of rows at
    100 TB corpus scale, not trillions.  Per iteration: adjacent
    symbol-pair counts (index-transform projection + explode, weighted
    by word frequency), the argmax pair via TakeOrderedAndProject
    (count desc, pair asc — deterministic tiebreak), then a broadcast
    scalar join applies the merge to every vocabulary entry with pure
    string expressions.

    The merge application mirrors reference BPE exactly: pairs merge
    left-to-right, non-overlapping.  Implemented engine-portably with
    plain ``replace`` on a DOUBLED-space symbol string (every token
    keeps its own boundary spaces, so consecutive matches don't consume
    each other's delimiter), then whitespace re-collapse.

    Cache discipline: at most TWO vocabulary-sized frames are cached
    at any moment — the live one and its immediate predecessor.  The
    predecessor is dropped right after the next step's argmax action
    runs, because that action fully computes (and caches) the live
    frame, after which the superseded cache is unreachable.  This
    keeps the per-step job count at exactly one (no extra
    materialization ``count()``), while still fixing the earlier lazy
    unrolled-DAG form that leaked every iteration's cache until
    executor storage evicted them.  The per-step argmax is a 1-row
    driver action (TakeOrderedAndProject with a deterministic
    count-desc, pair-asc tiebreak) — the same bounded-collect contract
    as the k-means centroid seeds; the vocabulary itself never leaves
    the executors.

    Returns one row per merge: ``(step, pair, merged, pair_count)``;
    fewer than ``n_merges`` rows when the vocabulary runs out of
    adjacent pairs.
    """
    toks = tokens(F.col(text_col))
    vocab = (
        df.select(F.explode(toks).alias("__w"))
        .groupBy("__w")
        .agg(F.count("*").cast("bigint").alias("__n"))
    )
    # "h e l l o": one symbol per char, space-separated.  Cached, else
    # step k re-runs k - 1 merges: 10 merges at sf0.1 on 4 vCPUs take
    # 3.2 s warm with the persists, 4.2 s without
    cur = vocab.select(
        "__n",
        F.trim(F.regexp_replace(F.col("__w"), r"(.)", r"$1 ")).alias("__seq"),
    ).persist()

    rows: list[tuple] = []
    prev: DataFrame | None = None
    try:
        for step in range(1, n_merges + 1):
            pairs = (
                cur.withColumn("__tk", F.split(F.col("__seq"), " "))
                .select("__n", F.explode(bigrams(F.col("__tk"))).alias("pair"))
                .groupBy("pair")
                .agg(F.sum("__n").alias("pair_count"))
            )
            best = pairs.orderBy(F.desc("pair_count"), F.asc("pair")).limit(1).first()
            # that action fully computed (and cached) `cur`, so the
            # superseded frame's cache can no longer be read — drop it
            if prev is not None:
                prev.unpersist()
                prev = None
            if best is None:
                break  # no adjacent pairs left anywhere in the vocab
            bp = best["pair"]
            rows.append((step, bp, bp.replace(" ", ""), int(best["pair_count"])))
            if step < n_merges:
                doubled = F.concat(
                    F.lit(" "),
                    F.replace(F.col("__seq"), F.lit(" "), F.lit("  ")),
                    F.lit(" "),
                )
                pat = F.lit(" " + bp.replace(" ", "  ") + " ")
                rep = F.lit(" " + bp.replace(" ", "") + " ")
                nxt = cur.select(
                    "__n",
                    F.trim(
                        F.regexp_replace(F.replace(doubled, pat, rep), " +", " ")
                    ).alias("__seq"),
                ).persist()
                prev, cur = cur, nxt
    finally:
        if prev is not None:
            prev.unpersist()
        cur.unpersist()
    return df.sparkSession.createDataFrame(
        rows, "step int, pair string, merged string, pair_count bigint"
    )


def doc_distinct_grams(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """``(id, __grams)`` with each document's DISTINCT word ``n``-gram
    shingles (``dedup.shingle_array``) — the shared base of
    ``novelty_score`` and the boilerplate template report.  Docs
    shorter than ``n`` tokens get an empty array (kept, not dropped).

    Doc rows are hash-spread before gram construction: a small input
    file count would otherwise serialize the expensive narrow stage
    onto one core.
    """
    return (
        df.select(F.col(id_col), F.col(text_col))
        .repartition(F.col(id_col))
        .select(F.col(id_col), shingle_array(F.col(text_col), n).alias("__grams"))
        # warm medians at sf0.1 on 4 vCPUs: boilerplate_ngrams 0.80 s
        # with the persist, 1.94 s without; novelty_scores 0.58 / 0.91 s
        .persist()
    )


def novelty_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Memorization-risk / novelty scoring: per document, the fraction
    of its distinct word ``n``-grams that occur in at least one OTHER
    document (``dup_gram_frac``; ``novelty = 1 − dup_gram_frac``) — the
    per-doc aggregate view of what the duplicate-span family locates
    positionally.  High dup_gram_frac docs are near-copies or heavy
    quoters; training on them raises verbatim-recall risk.

    Cross-doc support counts distinct DOCS per gram (a gram repeated
    within one doc is that doc's own text, not cross-doc duplication).
    Docs shorter than ``n`` tokens emit ``n_grams = 0`` with NULL
    fractions rather than dropping.  ``id_col`` is a key: one output
    row per input row.

    Scale shape: grams hash to int64 (``xxhash64`` JVM-intrinsic by
    default; ``"md5"`` for cross-engine oracle parity, same contract as
    the MinHash family) so the two shuffles (per-gram support window;
    per-doc fraction agg) move longs, not strings.  Within-doc
    ``array_distinct`` happens before explode — which both bounds
    fan-out AND makes cross-doc support a plain count window over the
    gram hash (each doc contributes a gram at most once), so there is
    no count_distinct and no join-back: ``explode_outer`` keeps a
    gram-less doc as one NULL row, which counts nothing.  The doc rows
    are hash-spread before gram construction — the gram explosion is
    the expensive narrow stage, and without the pre-spread a small
    input file count serializes it onto a few cores (one 5000-row
    shuffle vs 10× wall clock at sf0.1).  No all-pairs anything: cost is
    corpus-gram-linear, the same envelope as word count.
    """
    ghash = {"xxhash64": F.xxhash64, "md5": md5_hash64}.get(hash_fn)
    if ghash is None:
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    hashes = doc_distinct_grams(df, id_col, text_col, n).select(
        id_col, F.explode_outer(F.transform("__grams", lambda g: ghash(g))).alias("__h")
    )
    # per-doc-distinct grams => count over the hash IS the distinct doc
    # support; one window shuffle replaces count_distinct + join
    per_doc = (
        hashes.withColumn("__docs", F.count("__h").over(Window.partitionBy("__h")))
        .groupBy(id_col)
        .agg(
            F.count("__h").alias("n_grams"),
            F.count(F.when(F.col("__docs") >= 2, 1)).alias("n_dup_grams"),
        )
    )
    return per_doc.select(
        id_col,
        "n_grams",
        "n_dup_grams",
        F.when(F.col("n_grams") > 0, F.col("n_dup_grams") / F.col("n_grams")).alias(
            "dup_gram_frac"
        ),
    )


def bpe_encode_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: "list[str]",
) -> DataFrame:
    """Apply LEARNED BPE merges (see ``bpe_merge_steps``) to encode
    every document, returning per-doc subword statistics — the
    inference half of tokenizer training, and the honest way to count
    "tokens" for budget/packing decisions once a tokenizer exists.

    ``merges`` is the ordered merge list (each a space-separated symbol
    pair, e.g. ``["e s", "es t"]``); they apply in order, per word,
    left-to-right non-overlapping — the same doubled-space ``replace``
    construction the trainer uses, so train and encode agree exactly.

    Output: ``(id, n_words, n_chars_sym, n_subwords)`` where
    ``n_chars_sym`` is the pre-merge symbol count (alnum chars) and
    ``n_subwords`` the post-merge token count; their ratio is the
    tokenizer's compression on that doc.

    Scale shape: one narrow projection — per-word expression work
    inside ``transform``/``aggregate`` lambdas, no explode, no shuffle,
    no UDF.  Cost is O(corpus chars × merges).
    """
    toks = tokens(F.col(text_col))

    def encode(w):
        seq = F.trim(F.regexp_replace(w, r"(.)", r"$1 "))
        for m in merges:
            doubled = F.concat(
                F.lit(" "), F.replace(seq, F.lit(" "), F.lit("  ")), F.lit(" ")
            )
            pat = F.lit(" " + m.replace(" ", "  ") + " ")
            rep = F.lit(" " + m.replace(" ", "") + " ")
            seq = F.trim(
                F.regexp_replace(F.replace(doubled, pat, rep), " +", " ")
            )
        return seq

    enc = F.transform(F.col("__w"), encode)
    n_sub = F.aggregate(
        enc,
        F.lit(0),
        lambda acc, e: acc + F.size(F.split(e, " ")),
    )
    n_chars_sym = F.aggregate(
        F.col("__w"), F.lit(0), lambda acc, w: acc + F.length(w)
    )
    return df.select(F.col(id_col), toks.alias("__w")).select(
        id_col,
        F.size("__w").cast("bigint").alias("n_words"),
        n_chars_sym.cast("bigint").alias("n_chars_sym"),
        n_sub.cast("bigint").alias("n_subwords"),
    )


def hashed_bow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dim: int = 128,
) -> DataFrame:
    """Feature-hashing ("hashing trick") bag-of-words: each token maps
    to index ``md5(token) % dim``; per-doc counts aggregate per index —
    the fixed-width sparse featurization that feeds linear classifiers
    and cheap nearest-neighbor without a vocabulary table (no fit step,
    no dictionary broadcast, new tokens never break the width).

    md5-derived indices keep the featurization a pure row function —
    identical on any engine/rerun (the same contract as the sampling
    family).  Output: ``(id, indices array<int>, values array<bigint>)``
    with indices ascending; docs with no tokens get empty arrays.
    ``id_col`` is a key: one output row per input row.

    Scale shape: explode_outer (a token-less doc keeps one NULL row) →
    one (doc, index) hash aggregate (map-side combine) → per-doc sorted
    collect (bounded by dim entries per doc; the NULL row collects
    nothing).
    """
    idx = (md5_hash64(F.col("__t")) % dim).cast("int")
    per_idx = (
        df.select(F.col(id_col), F.explode_outer(tokens(F.col(text_col))).alias("__t"))
        .select(id_col, idx.alias("__i"))
        .groupBy(id_col, "__i")
        .agg(F.count("__i").alias("__c"))
    )
    packed = per_idx.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.when(F.col("__c") > 0, F.struct("__i", "__c")))
        ).alias("__p")
    )
    return packed.select(
        id_col,
        F.transform(F.col("__p"), lambda x: x["__i"]).alias("indices"),
        F.transform(F.col("__p"), lambda x: x["__c"]).alias("values"),
    )


def tail_token_coverage(
    df: DataFrame, id_col: str, text_col: str, max_tail_df: int = 2
) -> DataFrame:
    """Per-document coverage of the vocabulary TAIL: the fraction of a
    doc's distinct tokens whose corpus document-frequency is at most
    ``max_tail_df`` — the retention diagnostic for rare knowledge.
    Aggressive dedup/quality filtering tends to strip exactly the docs
    that carry tail vocabulary; tracking tail coverage before/after a
    curation pass shows what the pipeline is erasing.

    Scale shape: distinct (doc, token) pairs once (explode_outer +
    array_distinct before the explode bounds fan-out; a token-less doc
    keeps one NULL row), a window on the token annotates each pair with
    its df (no join-back), one per-doc aggregate.  All-integer
    arithmetic; the output fraction is a single exact IEEE division
    (bigint/bigint), deterministic on any engine.

    Output: ``(id, n_distinct_tokens, n_tail_tokens, tail_frac)`` for
    every input row (``id_col`` is a key); token-less docs carry zeros
    and NULL tail_frac.
    """
    toks = F.array_distinct(tokens(F.col(text_col)))
    pairs = df.select(F.col(id_col), F.explode_outer(toks).alias("__t"))
    # per-doc-distinct tokens => the count over the token IS its df
    # (0 on the NULL row of a token-less doc)
    per_doc = (
        pairs.withColumn("__df", F.count("__t").over(Window.partitionBy("__t")))
        .groupBy(id_col)
        .agg(
            F.count("__t").alias("n_distinct_tokens"),
            F.count(F.when(F.col("__df").between(1, max_tail_df), 1)).alias(
                "n_tail_tokens"
            ),
        )
    )
    return per_doc.select(
        id_col,
        "n_distinct_tokens",
        "n_tail_tokens",
        F.when(
            F.col("n_distinct_tokens") > 0,
            F.col("n_tail_tokens") / F.col("n_distinct_tokens"),
        ).alias("tail_frac"),
    )


# Gopher document-quality thresholds (Rae et al., "Scaling Language
# Models: Methods, Analysis & Insights from Training Gopher", 2021,
# Table A1) — the rule set web-corpus curation applies before training.
GOPHER_THRESHOLDS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "min_alpha_word_frac": 0.8,
    "max_symbol_ratio": 0.1,
    "min_stop_hits": 2,
    "max_top2gram_char_frac": 0.20,
}


def gopher_rules(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Gopher quality-rule signals + keep decision per document (Rae et
    al. 2021): word count bounds, mean word length bounds, fraction of
    words containing an alphabetic character, symbol-to-word ratio
    ('#' and ellipses), minimum stop-word hits, and the fraction of
    characters inside the single most frequent word 2-gram.

    Boundary: the paper's line-based rules (duplicate lines / chars in
    duplicate lines, bullet- and ellipsis-STARTING line ratios) need
    line structure the single-line test corpus lacks and are omitted
    here; duplicated-n-gram character coverage is the dup_span /
    repetition_stats machinery already in this module.

    Shape: every signal except the top-2-gram is a pure array
    expression over the projected token arrays (no shuffle); the
    top-2-gram is the one corpus-sized exchange — non-distinct bigram
    explode → (doc, gram) count → min_by((−count, gram)) hash argmax
    per doc, joined back.  All ratios are exact-integer quotients
    rendered at 6 dp with the portable floor-round.
    """
    t = GOPHER_THRESHOLDS
    raw = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    norm = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col),
        F.col(text_col).alias("__txt"),
        raw.alias("__rt"),
        norm.alias("__nt"),
    )

    n_words = F.size("__rt")
    char_sum = F.aggregate(
        "__rt", F.lit(0).cast("bigint"), lambda a, x: a + F.length(x)
    )
    mean_wl = F.when(
        n_words > 0, char_sum.cast("double") / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    alpha_frac = F.when(
        n_words > 0,
        F.size(F.filter("__rt", lambda x: x.rlike("[A-Za-z]"))).cast("double")
        / n_words.cast("double"),
    ).otherwise(F.lit(0.0))
    hash_n = F.length("__txt") - F.length(F.replace("__txt", F.lit("#"), F.lit("")))
    dots_n = (
        F.length("__txt") - F.length(F.replace("__txt", F.lit("..."), F.lit("")))
    ) / F.lit(3)
    uell_n = F.length("__txt") - F.length(
        F.replace("__txt", F.lit("…"), F.lit(""))
    )
    symbol_ratio = F.when(
        n_words > 0, (hash_n + dots_n + uell_n).cast("double") / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(F.filter("__nt", lambda x: F.array_contains(stop_arr, x)))
    nchars = F.aggregate(
        "__nt", F.lit(0).cast("bigint"), lambda a, x: a + F.length(x)
    )

    scalars = base.select(
        id_col,
        n_words.alias("n_words"),
        mean_wl.alias("__mwl"),
        alpha_frac.alias("__alpha"),
        symbol_ratio.alias("__sym"),
        stop_hits.alias("stop_hits"),
        nchars.alias("__nchars"),
        F.col("__nt"),
    )

    # the one exchange: most frequent (non-distinct) word 2-gram per doc
    top2 = (
        scalars.select(id_col, F.explode(bigrams(F.col("__nt"))).alias("__g"))
        .groupBy(id_col, "__g")
        .agg(F.count("*").alias("__c"))
        .groupBy(id_col)
        .agg(
            F.min_by(
                F.struct("__c", "__g"), F.struct(-F.col("__c"), F.col("__g"))
            ).alias("__top")
        )
        .select(
            id_col,
            (
                F.col("__top.__c")
                * F.length(F.replace(F.col("__top.__g"), F.lit(" "), F.lit("")))
            ).alias("__topchars"),
        )
    )

    rnd = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    top2_frac = F.when(
        F.col("__nchars") > 0,
        F.coalesce(F.col("__topchars"), F.lit(0)).cast("double")
        / F.col("__nchars").cast("double"),
    ).otherwise(F.lit(0.0))
    out = scalars.join(top2, id_col, "left").select(
        id_col,
        "n_words",
        rnd(F.col("__mwl")).alias("mean_word_len"),
        rnd(F.col("__alpha")).alias("alpha_word_frac"),
        rnd(F.col("__sym")).alias("symbol_ratio"),
        "stop_hits",
        rnd(top2_frac).alias("top2gram_char_frac"),
    )
    keep = (
        (F.col("n_words") >= t["min_words"])
        & (F.col("n_words") <= t["max_words"])
        & (F.col("mean_word_len") >= t["min_mean_word_len"])
        & (F.col("mean_word_len") <= t["max_mean_word_len"])
        & (F.col("alpha_word_frac") >= t["min_alpha_word_frac"])
        & (F.col("symbol_ratio") <= t["max_symbol_ratio"])
        & (F.col("stop_hits") >= t["min_stop_hits"])
        & (F.col("top2gram_char_frac") <= t["max_top2gram_char_frac"])
    )
    # keep compares the ROUNDED signals (the repo's rounded-comparison
    # determinism discipline) so the flag can never contradict the
    # reported columns
    return out.withColumn("keep", keep)


def ppl_buckets(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str,
) -> DataFrame:
    """CCNet-style head/middle/tail bucketing (Wenzek et al., "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl Data",
    LREC 2020): within each group (language), rank documents by LM
    score and split into thirds — head = the best-scoring third (CCNet
    buckets by Wikipedia-LM perplexity; with a log-prob score, higher
    is better).  NULL scores (too-short docs) bucket as 'unscored'.

    Determinism: bucket boundaries are INTEGER rank arithmetic
    (rn·3 ≤ n, rn·3 ≤ 2n) over the total order (score desc, id asc) —
    no quantile interpolation, no float thresholds, so any engine
    reproduces the exact same split.  One read of the input and one
    window shuffle on the group key: NULL scores sort last, so the
    scored rows hold ranks 1..n with n = count(score).
    """
    w = Window.partitionBy(group_col).orderBy(F.desc(score_col), F.asc(id_col))
    rn = F.row_number().over(w)
    n = F.count(score_col).over(Window.partitionBy(group_col))
    return df.withColumn(
        "ppl_bucket",
        F.when(F.col(score_col).isNull(), F.lit("unscored"))
        .when(rn * 3 <= n, F.lit("head"))
        .when(rn * 3 <= n * 2, F.lit("middle"))
        .otherwise(F.lit("tail")),
    )


C4_BLOCKLIST = ("javascript", "lorem ipsum", "cookie")
C4_MIN_WORDS = 5
C4_MIN_KEPT_LINES = 3


def c4_line_filters(
    df: DataFrame,
    id_col: str,
    lines_col: str,
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2): keep a
    line only if it ends in terminal punctuation (``. ! ? "``), has at
    least ``C4_MIN_WORDS`` whitespace words, and contains no
    ``C4_BLOCKLIST`` phrase; keep the DOCUMENT only if at least
    ``C4_MIN_KEPT_LINES`` lines
    survive.  Reference scope note: the reference pipeline has no web
    cleaning stage (its corpus is structured listings,
    ``data_processing_program_20240520.py`` pre_processing), so this is
    extension surface for the crawl-curation pipeline.

    Input is a ready ``array<string>`` lines column: line structure
    comes from upstream extraction (HTML → text), which is outside the
    engine — the same honest boundary as the multimodal codecs.

    Drop counts are reported with rule precedence (blocklist →
    no-terminal-punct → too-short) so every dropped line is counted
    exactly once.  ``clean_text`` rejoins surviving lines with
    newlines.

    Scale shape: pure array-lambda projection — zero shuffles, zero
    UDFs, linear in corpus characters; the keep decision composes with
    the quality/dedup stages as one narrow DAG.
    """
    lines = F.col(lines_col)
    block_arr = F.array(*[F.lit(b) for b in C4_BLOCKLIST])

    def has_block(l):  # noqa: E741
        return F.exists(block_arr, lambda b: F.contains(F.lower(l), b))

    def punct_ok(l):  # noqa: E741
        return l.rlike('[.!?"]$')

    def n_words(l):  # noqa: E741
        return F.size(F.filter(F.split(l, r"\s+"), lambda x: x != ""))

    keep_line = (
        lambda l: ~has_block(l) & punct_ok(l) & (n_words(l) >= C4_MIN_WORDS)
    )
    kept = F.filter(lines, keep_line)
    n_block = F.size(F.filter(lines, has_block))
    n_nopunct = F.size(
        F.filter(lines, lambda l: ~has_block(l) & ~punct_ok(l))
    )
    n_short = F.size(
        F.filter(
            lines,
            lambda l: ~has_block(l) & punct_ok(l) & (n_words(l) < C4_MIN_WORDS),
        )
    )
    return df.select(
        F.col(id_col),
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(kept).cast("bigint").alias("n_kept"),
        n_block.cast("bigint").alias("n_blocklist"),
        n_nopunct.cast("bigint").alias("n_nopunct"),
        n_short.cast("bigint").alias("n_short"),
        (F.size(kept) >= C4_MIN_KEPT_LINES).alias("keep"),
        F.array_join(kept, "\n").alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Character-distribution anomaly (gibberish / encoding-junk detection)
# and readability — two quality dimensions the ratio filters miss
# ---------------------------------------------------------------------------

_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def letter_counts(col: Column) -> Column:
    """26-long array of per-letter counts (case-folded).  One
    length-after-replace pass per letter — 26 codegen'd scans of the
    string per row, shuffle-free; the explode-and-count alternative is
    one pass but shuffles a (doc, char) row per CHARACTER, which at
    corpus scale costs far more than the wider map stage."""
    low = F.lower(col)
    return F.array(
        *[
            (F.length(low) - F.length(F.replace(low, F.lit(ch), F.lit("")))).cast(
                "bigint"
            )
            for ch in _LETTERS
        ]
    )


def charset_kl(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.5
) -> DataFrame:
    """Character-distribution anomaly score: KL(doc letter distribution
    ‖ corpus letter distribution), the cheap detector for gibberish,
    wrong-charset mojibake, and base64/hex blobs that sail through
    length/stopword/punctuation filters (letter RATIOS stay plausible
    while the letter MIX is impossible).  RedPajama/Dolma-class
    pipelines run exactly this family of distributional gates.

    Scale shape: per-doc letter counts are one shuffle-free projection;
    the corpus baseline is ONE 26-cell aggregate broadcast back as a
    scalar row (never a join); KL is a zip_with fold.  Smoothing: +1 on
    corpus cells (q > 0 everywhere); zero-count doc letters contribute
    0 (lim p→0 of p·ln(p/q)).  Docs with no letters score NULL, flagged
    separately.  All-integer counts → shared-IEEE double ops → the
    oracle replays bit-for-bit.

    Returns (id, n_letters, kl, anomalous).
    """
    counts = df.select(F.col(id_col), letter_counts(F.col(text_col)).alias("__lc"))
    total = counts.agg(
        *[F.sum(F.element_at("__lc", i + 1)).alias(f"q{i}") for i in range(26)]
    )
    q_smoothed = F.array(*[F.col(f"q{i}") + F.lit(1) for i in range(26)])
    qsum = sum(F.col(f"q{i}") for i in range(26)) + F.lit(26)
    scored = counts.crossJoin(F.broadcast(total)).select(
        id_col,
        F.aggregate("__lc", F.lit(0).cast("bigint"), lambda a, v: a + v).alias(
            "n_letters"
        ),
        F.zip_with(
            "__lc",
            q_smoothed,
            lambda p, q: F.when(
                p > 0,
                p * F.log(p.cast("double")) - p * F.log(q.cast("double") / qsum),
            ).otherwise(F.lit(0.0)),
        ).alias("__terms"),
    )
    kl = (
        F.aggregate("__terms", F.lit(0.0), lambda a, v: a + v)
        / F.col("n_letters")
        - F.log(F.col("n_letters").cast("double"))
    )
    return scored.select(
        id_col,
        "n_letters",
        F.when(F.col("n_letters") > 0, kl).alias("kl"),
        F.when(F.col("n_letters") > 0, kl > F.lit(threshold))
        .otherwise(F.lit(True))
        .alias("anomalous"),
    )


def flesch_reading_ease(col: Column) -> tuple[Column, Column, Column, Column]:
    """(words, sentences, syllables, flesch) — the classic readability
    score 206.835 − 1.015·(W/S) − 84.6·(Syl/W) with the standard cheap
    heuristics: sentences = [.!?]+ runs (min 1), syllables = vowel-group
    runs [aeiouy]+ (the silent-e refinement moves scores ~2 points and
    needs per-word logic; the vowel-group form is the one every
    large-corpus readability gate actually ships).  Pure regexp_count
    projections — shuffle-free, oracle-replayable."""
    words = token_count(col).cast("bigint")
    sentences = F.greatest(
        F.regexp_count(col, F.lit(r"[.!?]+")), F.lit(1)
    ).cast("bigint")
    syllables = F.regexp_count(F.lower(col), F.lit("[aeiouy]+")).cast("bigint")
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sentences.cast("double"))
        - F.lit(84.6) * (syllables.cast("double") / F.greatest(words, F.lit(1)).cast("double"))
    )
    return words, sentences, syllables, flesch
