"""Unit tests for the Column-expression function library (T1-T7, C1-C7)."""

import pytest
from pyspark.sql import functions as F

from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.functions import (
    labels as L,
)
from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.functions import (
    text as T,
)


def one(spark, col, value):
    return spark.createDataFrame([(value,)], "s string").select(col.alias("r")).first()["r"]


def test_normalize_text(spark):
    got = one(spark, T.normalize_text(F.col("s")), "  Used, EXCAVATOR/ (KOMATSU) [PC200]: nice;  *")
    assert got == "USED EXCAVATOR KOMATSU PC200 NICE"


def test_brand_alias_token_exact_cat(spark):
    col = T.normalize_text(F.col("s"), alias_brands=True)
    # token-exact: 'CAT' as a token triggers, 'CATALOG' must not
    assert one(spark, col, "CAT 320D").startswith("CATERPILLAR ")
    assert not one(spark, col, "CATALOG 320D").startswith("CATERPILLAR")
    # no double-prepend when canonical already present
    assert one(spark, col, "CATERPILLAR CAT 320D").count("CATERPILLAR") == 1


def test_brand_alias_substring(spark):
    col = T.normalize_text(F.col("s"), alias_brands=True)
    assert one(spark, col, "XUZHOU CONSTRUCTION MACHINERY EXPORT").startswith("XCMG ")
    assert one(spark, col, "HİDROMEK MAKINA").startswith("HIDROMEK ")
    assert one(spark, col, "MARUBENI CORP").startswith("KOMATSU ")


def test_number_word(spark):
    assert one(spark, T.extract_number_word(F.col("s")), "TWO UNITS OF EXCAVATOR") == 2
    assert one(spark, T.extract_number_word(F.col("s")), "NOTHING HERE") is None
    # must be a word boundary: 'ONEROUS' should not match
    assert one(spark, T.extract_number_word(F.col("s")), "ONEROUS TERMS") is None


def test_extract_units(spark):
    assert one(spark, T.extract_units(F.col("s")), "3 UNITS EXCAVATOR") == 3
    assert one(spark, T.extract_units(F.col("s")), "12UNITS") == 12
    assert one(spark, T.extract_units(F.col("s")), "UNITS UNKNOWN") is None


def test_extract_capacity(spark):
    assert one(spark, T.extract_capacity_tons(F.col("s")), "ABOUT 21.5 TONS") == 21.5
    assert one(spark, T.extract_capacity_tons(F.col("s")), "20 METRIC TON") == 20.0
    assert one(spark, T.extract_capacity_tons(F.col("s")), "NO CAPACITY") is None
    # no partial-number match inside words
    assert one(spark, T.extract_capacity_tons(F.col("s")), "CARTONS 5") is None


def test_irrelevant_filter(spark):
    keep = T.irrelevant_keyword_filter(F.col("s"))
    assert one(spark, keep, "EXCAVATOR PC200") is True
    assert one(spark, keep, "TELEHANDLER 5T") is False
    assert one(spark, keep, "WHEEL LOADER") is False


def test_irrelevant_keywords_never_match_a_prepended_brand():
    """The pipeline applies F2 before the brand aliasing, which equals F2
    after it only while no irrelevant keyword occurs inside a canonical
    brand or across the space that joins a brand to the text (whatever
    text follows, a keyword whose head ends that joint would match)."""
    for canon in {c for _, c, _ in T.BRAND_ALIASES}:
        joint = canon + " "
        for kw in T.IRRELEVANT_KEYWORDS:
            assert kw not in canon, (kw, canon)
            assert not any(joint.endswith(kw[:i]) for i in range(1, len(kw) + 1)), (kw, canon)


def test_new_or_used(spark):
    c = L.new_or_used(F.col("s"))
    assert one(spark, c, "USED EXCAVATOR") == "used"
    assert one(spark, c, "EXCAVATOR YEAR 2015") == "used"
    assert one(spark, c, "SECOND HAND EXCAVATOR") == "used"      # documented intent
    assert one(spark, c, "EXCAVATOR 2020 MODEL") == "new"        # 2020 not in 1950-2018
    assert one(spark, c, "USED BUT UNUSED") == "new"             # override
    assert one(spark, c, "BRAND NEW MACHINE") == "new"


def test_excavator_type_rules(spark):
    df = spark.createDataFrame(
        [("CRAWLER EXCAVATOR", None), ("WHEEL EXCAVATOR X", None),
         ("WHEEL MACHINE", None),  # 'wheel' alone must NOT fire (prog.py:132 is AND)
         ("AMPHIBIOUS UNIT", None), ("WITH TIRE", "EXCAVATOR"), ("PLAIN", "KEEP")],
        "d string, t string",
    )
    got = [r["r"] for r in df.select(L.excavator_type(F.col("d"), F.col("t")).alias("r")).collect()]
    # 'tire' overwrites even a known type (reference prog.py:138)
    assert got == ["EXCAVATOR", "WHEEL EXCAVATOR", None, "AMPHIBIOUS EXCAVATOR",
                   "WHEEL EXCAVATOR", "KEEP"]


def test_load_interval_closed_form(spark):
    vals = [(None,), (0.0,), (3.0,), (7.5,), (10.0,), (25.0,), (90.0,), (255.0,)]
    df = spark.createDataFrame(vals, "v double")
    got = [r["r"] for r in df.select(L.load_interval(F.col("v"), 10).alias("r")).collect()]
    assert got == ["UNKNOWN", "UNKNOWN", "<5T", "5-10T", "10-20T", "20-30T", "90-100T", "250-260T"]
    # no gap for widths > 10 (documented-intent fix of the C5 gap bug):
    # values in [10, width) fall into the closed-form '0-20T' bucket
    # instead of the reference's NaN→UNKNOWN
    got20 = [r["r"] for r in df.select(L.load_interval(F.col("v"), 20).alias("r")).collect()]
    assert got20 == ["UNKNOWN", "UNKNOWN", "<5T", "5-10T", "0-20T", "20-40T", "80-100T", "240-260T"]


def test_type_interval(spark):
    vals = [(None,), (0.0,), (4.0,), (9.9,), (29.0,), (69.0,), (89.0,), (95.0,)]
    df = spark.createDataFrame(vals, "v double")
    got = [r["r"] for r in df.select(L.excavator_type_interval(F.col("v")).alias("r")).collect()]
    assert got == ["UNKNOWN", "UNKNOWN", "<5T", "5-10T", "10-30T", "30-70T", "70-90T", "≥90T"]


def test_python_udtf_lateral_sentence_split(spark):
    """Spark 4 Python UDTF at the Python boundary: a table function
    usable in SQL LATERAL position.  The engine's hot paths stay JVM
    (sentence chunking has a pure-SQL operator, packing.sentence_chunks);
    the UDTF is the escape hatch for imperative row-to-rows logic the
    expression language can't state — registered and exercised here so
    the pattern is covered."""
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="idx int, sentence string")
    class SplitSentences:
        def eval(self, text: str):
            for i, s in enumerate(re.split(r"(?<=[.!?])\s+", text or "")):
                if s:
                    yield i, s

    spark.udtf.register("split_sentences_py", SplitSentences)
    rows = spark.sql(
        "SELECT t.doc_id, s.idx, s.sentence "
        "FROM VALUES (1, 'One two. Three! Four?'), (2, '') AS t(doc_id, txt), "
        "LATERAL split_sentences_py(t.txt) s "
        "ORDER BY t.doc_id, s.idx"
    ).collect()
    assert [(r["doc_id"], r["idx"], r["sentence"]) for r in rows] == [
        (1, 0, "One two."),
        (1, 1, "Three!"),
        (1, 2, "Four?"),
    ]


def test_charset_kl_flags_gibberish_not_english(spark):
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        textstats,
    )

    normal = [
        "the quick brown fox jumps over the lazy dog and runs home",
        "it was the best of times it was the worst of times",
        "a small boat drifted slowly along the quiet river at dawn",
        "she read the letter twice before setting it on the table",
        "rain fell all morning and the streets emptied one by one",
        "the old clock in the hall struck nine and nobody noticed",
    ]
    rows = [(i + 1, t) for i, t in enumerate(normal)]
    # base64-ish blob: plausible punct/length ratios, impossible letter mix
    rows.append((97, "zzqx jjqz xqzj qzxj jzzq xjqz zqxj qjzx zxqj jqzz qzjx zzjq"))
    rows.append((98, "!!! ??? ... 123 456"))  # no letters at all
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # short sentences score noisy KL (~0.2-0.6) against a tiny mixed
    # baseline; the blob lands ~3x above the noisiest normal doc, so
    # the unit threshold sits between (the registry query's 0.25 is
    # tuned to the longer generated docs where normals sit ~0.03-0.5)
    got = {
        r["doc_id"]: (r["kl"], r["anomalous"], r["n_letters"])
        for r in textstats.charset_kl(df, "doc_id", "text", threshold=1.0).collect()
    }
    for i in range(1, 7):
        assert got[i][1] is False, i
    assert got[97][1] is True and got[97][0] > max(got[i][0] for i in range(1, 7))
    assert got[98] == (None, True, 0)  # letterless: NULL score, flagged


def test_flesch_reading_ease_known_value(spark):
    from pyspark.sql import functions as F

    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        textstats,
    )

    df = spark.createDataFrame([(1, "The cat sat. The dog ran.")], "i long, text string")
    w, s, y, fl = textstats.flesch_reading_ease(F.col("text"))
    row = df.select(
        w.alias("w"), s.alias("s"), y.alias("y"), F.round(fl, 4).alias("fl")
    ).first()
    # 6 words, 2 sentences, 6 vowel groups
    assert (row["w"], row["s"], row["y"]) == (6, 2, 6)
    assert row["fl"] == round(206.835 - 1.015 * 3.0 - 84.6 * 1.0, 4)
