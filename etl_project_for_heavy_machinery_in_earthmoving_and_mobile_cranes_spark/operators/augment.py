"""Deterministic text augmentation for LLM pre-training pipelines.

Span-corruption-style masking (the T5 / UL2 denoising objective's data
prep): a fraction of tokens is replaced by a sentinel and emitted
separately as the prediction target.  Selection is a pure function of
(doc, position) via the same md5 construction the dedup/sampling
family uses — reruns, backfills, and other engines mask the identical
positions, which row-random functions (``rand()``) cannot promise.

Scale notes
-----------
Pure per-row expression work: tokenize → one ``transform`` + one
indexed ``filter`` over the token array — no shuffle, no UDF, fully
whole-stage-codegen.  A 100 TB corpus masks in a single map pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import md5_hash64, tokens
from .sampling import _BUCKETS


def _pos_bucket(id_col: Column, pos: Column, seed: int) -> Column:
    """32-bit md5 bucket of (seed, doc id, token position) — the shared
    hash family (dedup.md5_hash64) keyed on 'doc:pos'."""
    return md5_hash64(
        F.concat(id_col.cast("string"), F.lit(":"), pos.cast("string")), seed
    )


def span_corruption(
    df: DataFrame,
    id_col: str,
    text_col: str,
    mask_rate: float = 0.15,
    seed: int = 0,
) -> DataFrame:
    """Mask ~``mask_rate`` of normalized tokens per document: token i of
    doc d is masked iff md5-bucket(seed, d, i) < rate — deterministic,
    position-independent Bernoulli.  Returns the corrupted text, the
    masked tokens (space-joined, in order — the denoising target), and
    audit counts.  A masked token reads ``<extra_id>`` in the corrupted
    text.

    The boolean mask array is MATERIALIZED as a projected column before
    the three outputs derive from it, so each token's md5 evaluates
    once per row — inlining the mask into transform/filter lambdas
    would re-evaluate it per consumer (Spark's subexpression
    elimination skips lambda-variable expressions, and CollapseProject
    keeps non-cheap multi-use aliases materialized)."""
    cut = int(mask_rate * _BUCKETS)
    idc = F.col(id_col)
    toks = tokens(F.col(text_col))
    mask = F.transform(toks, lambda x, i: _pos_bucket(idc, i, seed) < cut)
    t = df.select(idc, toks.alias("__t"), mask.alias("__m"))

    corrupted = F.array_join(
        F.zip_with(
            F.col("__t"), F.col("__m"),
            lambda x, m: F.when(m, "<extra_id>").otherwise(x),
        ),
        " ",
    )
    targets = F.transform(
        F.filter(
            F.zip_with(
                F.col("__t"), F.col("__m"),
                lambda x, m: F.struct(x.alias("x"), m.alias("m")),
            ),
            lambda p: p.getField("m"),
        ),
        lambda p: p.getField("x"),
    )
    return t.select(
        idc,
        corrupted.alias("corrupted"),
        F.array_join(targets, " ").alias("target"),
        F.size("__t").cast("int").alias("n_tokens"),
        F.size(F.filter(F.col("__m"), lambda m: m)).cast("int").alias("n_masked"),
    )
