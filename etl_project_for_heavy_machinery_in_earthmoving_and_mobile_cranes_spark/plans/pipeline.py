"""The reference cleaning pipeline as ONE lazy DataFrame chain.

Reference lifecycle (SURVEY §3.1, notebook cells 4→60): coerce/derive →
min-amount filter → normalize → brand/model containment match → type &
new/used & parts labels → two regex-KB passes → capacity-from-text →
band-join model inference → outlier marking → interval binning → FX
conversion → model de-spacing.

Internal representation uses typed NULLs (never 'UNKNOWN' sentinels);
``render_export`` writes sentinels at the boundary (SURVEY §1.4).

Plan shape: one linear chain; no stage joins back onto the fact table.
Each KB (model_ref, regex_kb) is aggregated once into a one-row array
of structs sorted by its priority key (``fuzzy_join.sorted_structs``)
and cross-joined (broadcast) onto every row; a row's winner is the
first array element that passes the row's predicate
(``fuzzy_join.first_hit``, the per-row pick the registry's containment
and regex lookups share) — the predicate work of a nested loop join,
with no shuffle and no join back.  Band inference (J5) and the outlier
median (X1) are windows over (brand, type) and (brand, model): the
plan's only two shuffles.  fx broadcasts.  No Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import labels as L
from ..functions import text as T
from ..operators import fuzzy_join as FJ
from ..operators import outliers as OU
from ..operators import range_join as RJ
from ..operators.fx import convert_usd_to_cny

# reference remark vocabulary (prog.py:102,107,111,162,198-205,251,275)
R_FULL = "Fully match"
R_BRAND_ONLY = "Brands existed but without models"
R_NONE = "No match"
R_PARTS = "Parts"
R_RX_UNIQUE = "Unique model match with regex"
R_RX_MULTI = "Keep the longest from the multiple matched"
R_RX_NB_UNIQUE = "No brand in description, and unique model match with regex"
R_RX_NB_MULTI = "No brand in description, and keep the longest from the multiple matched"
R_CAPACITY = "Description contains working capacity"
R_INFERRED = "Model is inferenced with existed infomation"  # sic (prog.py:275)

ID = "shipment_id"


# ---------------------------------------------------------------------------
# Stage 1 — coerce & derive (P1-P3, F1)
# ---------------------------------------------------------------------------


def coerce_and_derive(df: DataFrame) -> DataFrame:
    # F1 FIRST, on the RAW price column: notebook cell 11 runs two
    # sequential keeps (amount >= 10k AND price >= 10k) BEFORE the unit
    # price is recomputed in cell 13.
    keep = (F.col("amount_in_usd") >= 10000.0) & (F.col("price_in_usd") >= 10000.0)
    out = df.filter(keep)
    qty = F.col("qty").cast("double")
    weight = F.col("weight_in_kg").cast("double")
    return (
        out.withColumn("qty_n", qty)
        .withColumn("weight_kg_n", weight)
        .withColumn("date_parsed", F.to_date(F.col("date"), "yyyy/MM/dd"))
        .withColumn(
            "price_in_usd",
            F.when(qty != 0, F.col("amount_in_usd") / qty),
        )
        .withColumn(
            "unit_weight_in_ton",
            F.when(qty != 0, weight / qty / 1000),
        )
    )


# ---------------------------------------------------------------------------
# Stage 2 — normalize (T1-T3) + irrelevant anti-filter (F2)
# ---------------------------------------------------------------------------


def normalize(df: DataFrame) -> DataFrame:
    text = {"description2": "product_description", "supplier2": "supplier"}
    out = df.withColumns({c: T.normalize_text(F.col(src)) for c, src in text.items()})
    # F2 before the brand aliasing: no irrelevant keyword occurs inside
    # a canonical brand or across the space that prepends it, so the
    # aliased and the plain text keep the same rows, and each alias
    # reads the projected text instead of inlining its regex chain
    out = out.filter(T.irrelevant_keyword_filter(F.col("description2")))
    return out.withColumns({c: T.apply_brand_aliases(F.col(c)) for c in text})


# ---------------------------------------------------------------------------
# Stage 3 — containment matching (J1 brand, J2 model) + remark
# ---------------------------------------------------------------------------


def match_catalog(df: DataFrame, model_ref: DataFrame) -> DataFrame:
    ref = model_ref.withColumn("model_ref", T.despace(F.upper(F.col("model"))))
    # the catalog as one broadcast row of two priority-sorted arrays
    kb = ref.agg(
        # J1 order: a brand's first row in the ref table (prog.py:75-89)
        F.array_distinct(
            F.transform(FJ.sorted_structs("ref_idx", "brand"), lambda r: r["brand"])
        ).alias("__brands"),
        # J2 order: longest model first, ties → first ref row (prog.py:90-101)
        FJ.sorted_structs(
            (-F.length("model_ref")).alias("neg_len"), "ref_idx", "brand",
            "model_ref", "capacity", "type", "hp",
        ).alias("__models"),
    )
    d2, s2 = F.col("description2"), F.col("supplier2")

    # J1: first brand contained in description2 OR supplier2
    out = df.crossJoin(F.broadcast(kb)).withColumn(
        "brand", FJ.first_hit("__brands", lambda b: (F.instr(d2, b) > 0) | (F.instr(s2, b) > 0))
    )

    # J2: longest catalog model of the matched brand contained in
    # description2.  Containment on the raw text, plus a space-insensitive
    # variant for catalog keys that carry no spaces while the description
    # spells the model spaced ('MODEL 330 GC' vs key '330GC') — needed
    # when the catalog is reconstructed from de-spaced export values.
    # The variant is TOKEN-ANCHORED: the key must be a prefix of the
    # space-stripped text starting at some token boundary.  Naively
    # de-spacing the whole text would manufacture cross-token candidates
    # ('305' inside 'MODEL 313 05B' → '…31305B…'), which the reference
    # (plain substring on spaced text, prog.py:93-95) never produces —
    # caught against golden rows labeled 313.
    toks = F.split(d2, " ")
    out = out.withColumn(
        "__sufjoin",
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1))),
            lambda i: F.concat_ws("", F.slice(toks, i, 1_000_000)),
        ),
    )
    m = FJ.first_hit(
        "__models",
        lambda r: (r["brand"] == F.col("brand"))
        & (
            (F.instr(d2, r["model_ref"]) > 0)
            | F.exists("__sufjoin", lambda s: s.startswith(r["model_ref"]))
        ),
    )
    out = out.withColumn("__m", m).withColumns(
        {
            "model": F.col("__m.model_ref"),
            "capacity": F.col("__m.capacity"),
            "type": F.col("__m.type"),
            "hp": F.col("__m.hp"),
        }
    )

    remark = (
        F.when(F.col("brand").isNotNull() & F.col("model").isNotNull(), R_FULL)
        .when(F.col("brand").isNotNull(), R_BRAND_ONLY)
        .otherwise(R_NONE)
    )
    return out.withColumn("remark", remark).drop("__brands", "__models", "__sufjoin", "__m")


# ---------------------------------------------------------------------------
# Stage 4 — label cascades (C1-C4)
# ---------------------------------------------------------------------------


def label_cascades(
    df: DataFrame, file_type: str = "excavator", strict_reference_compat: bool = False
) -> DataFrame:
    d2 = F.col("description2")
    typer = L.excavator_type if file_type == "excavator" else L.crane_type
    out = df.withColumn("type", typer(d2, F.col("type")))
    out = out.withColumn("new_used", L.new_or_used(d2, strict_reference_compat))
    return out.withColumn(
        "remark", F.when(L.is_parts(d2), R_PARTS).otherwise(F.col("remark"))
    )


# ---------------------------------------------------------------------------
# Stage 5 — regex knowledge-base passes (J3)
# ---------------------------------------------------------------------------


def _regex_pass(
    df: DataFrame,
    scope: Column,
    brand_scoped: bool,
    remark_unique: str,
    remark_multi: str,
) -> DataFrame:
    """One search_regex pass (prog.py:167-236) over the in-scope rows.
    Candidates restricted to the row's brand when ``brand_scoped``; LAST
    matching pattern in table order wins (the ``__rx`` array is sorted
    by kb_order desc); extracted model = longest findall hit; capacity
    from the winning row's capacity_regex + starting_point code.
    """
    d2 = F.col("description2")

    def pred(r: Column) -> Column:
        hit = F.regexp_like(d2, r["model_regex"])
        return (r["brand"] == F.col("brand")) & hit if brand_scoped else hit

    out = df.withColumn("__w", F.when(scope, FJ.first_hit("__rx", pred)))
    pattern = F.col("__w.model_regex")
    out = out.withColumn("__rx_model", FJ.longest_regex_hit(d2, pattern))
    new_model = F.col("__rx_model")
    new_cap = F.when(
        F.col("__w.starting_point") == 2, F.lit(None).cast("double")
    ).otherwise(
        FJ.starting_point_capacity(
            new_model, F.col("__w.capacity_regex"), F.col("__w.starting_point")
        )
    )
    hits = F.regexp_extract_all(d2, pattern, F.lit(0))
    new_remark = F.when(F.size(F.array_distinct(hits)) > 1, remark_multi).otherwise(
        remark_unique
    )
    hit = new_model.isNotNull()
    return out.withColumns(
        {
            c: F.when(hit, v).otherwise(F.col(c))
            for c, v in [
                ("brand", F.col("__w.brand")),
                ("model", new_model),
                ("type", F.col("__w.category")),
                ("capacity", new_cap),
                ("remark", new_remark),
            ]
        }
    ).drop("__w", "__rx_model")


def regex_stage(df: DataFrame, regex_kb: DataFrame) -> DataFrame:
    # the KB as one broadcast row: patterns sorted by kb_order desc
    kb = regex_kb.agg(
        FJ.sorted_structs(
            (-F.col("kb_order")).alias("neg_order"), "brand", "model_regex",
            "capacity_regex", "category", "starting_point",
        ).alias("__rx")
    )
    out = df.crossJoin(F.broadcast(kb))
    # pass 1 (nb cell 29): brand-scoped, rows with brand but no model
    out = _regex_pass(out, F.col("remark") == R_BRAND_ONLY, True, R_RX_UNIQUE, R_RX_MULTI)
    # pass 2 (nb cell 30): global, rows still unmatched
    out = _regex_pass(out, F.col("remark") == R_NONE, False, R_RX_NB_UNIQUE, R_RX_NB_MULTI)
    return out.drop("__rx")


# ---------------------------------------------------------------------------
# Stage 6 — capacity from free text (T7)
# ---------------------------------------------------------------------------


def capacity_from_text(df: DataFrame) -> DataFrame:
    extracted = T.extract_capacity_tons(F.col("description2"))
    fired = F.col("capacity").isNull() & extracted.isNotNull()
    return df.withColumn(
        "remark",
        F.when(fired & (F.col("remark") == R_NONE), R_CAPACITY).otherwise(F.col("remark")),
    ).withColumn("capacity", F.when(fired, extracted).otherwise(F.col("capacity")))


# ---------------------------------------------------------------------------
# Stage 7 — band-join model inference (J5)
# ---------------------------------------------------------------------------


def infer_models(df: DataFrame) -> DataFrame:
    out = RJ.infer_unknown_models(df)
    return out.withColumn(
        "remark", F.when(F.col("__model_inferred"), R_INFERRED).otherwise(F.col("remark"))
    ).drop("__model_inferred")


# ---------------------------------------------------------------------------
# Stage 8 — outliers (X1), intervals (C5/C6), FX (J7), de-spacing (T4)
# ---------------------------------------------------------------------------


def mark_price_outliers(df: DataFrame) -> DataFrame:
    # prog.py:302 also bails when capacity is unknown, but the golden
    # output judges every capacity-UNKNOWN model-known new row ('no' ×9
    # in the batch) — the published run used model-unknown-or-used only
    # (COMPAT.md #15)
    unknown_if = F.col("model").isNull() | (F.col("new_used") == "used")
    # golden output (Output/Indonesia_excavator_2022_2024.07.xlsx) uses
    # lowercase 'unknown' in the outliers column — unlike the 'UNKNOWN'
    # sentinel everywhere else (COMPAT.md)
    return OU.mark_outliers(
        df, ["brand", "model"], "price_in_usd", lo=0.8, hi=1.2,
        unknown_if=unknown_if, unknown_label="unknown",
    )


def add_intervals(df: DataFrame, file_type: str = "excavator") -> DataFrame:
    if file_type == "excavator":
        evaluate = F.coalesce(F.col("capacity"), F.col("unit_weight_in_ton"))
    else:
        evaluate = F.col("capacity")
    return df.withColumn(
        "capacity_interval", L.load_interval(evaluate, kind=file_type)
    ).withColumn("type_interval", L.excavator_type_interval(evaluate))


def finalize(df: DataFrame, fx: DataFrame | None, datasource: str | None) -> DataFrame:
    out = df
    if fx is not None:
        out = convert_usd_to_cny(out, fx, date_col="date_parsed")
    out = out.withColumn("model", T.despace(F.col("model")))
    if datasource is not None:
        out = out.withColumn("datasource", F.lit(datasource))
    return out


def render_export(df: DataFrame) -> DataFrame:
    """Sentinel rendering at the export boundary (C7 / SURVEY §1.4)."""
    out = df
    for c in ["brand", "model", "type", "capacity", "outliers"]:
        out = out.withColumn(c, L.render_unknown(F.col(c)))
    return out


# ---------------------------------------------------------------------------
# Entry point
# ---------------------------------------------------------------------------


def run_pipeline(
    shipments: DataFrame,
    model_ref: DataFrame,
    regex_kb: DataFrame,
    fx_rates: DataFrame | None = None,
    file_type: str = "excavator",
    datasource: str | None = None,
    strict_reference_compat: bool = False,
) -> DataFrame:
    """Full cleaning pipeline; returns the enriched DataFrame with typed
    NULLs (call ``render_export`` for the sentinel-rendered view)."""
    df = coerce_and_derive(shipments)
    df = normalize(df)
    df = match_catalog(df, model_ref)
    df = label_cascades(df, file_type=file_type, strict_reference_compat=strict_reference_compat)
    df = regex_stage(df, regex_kb)
    df = capacity_from_text(df)
    df = infer_models(df)
    df = mark_price_outliers(df)
    df = add_intervals(df, file_type=file_type)
    return finalize(df, fx_rates, datasource)
