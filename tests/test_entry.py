"""Smoke tests for the driver contract (full oracle comparison lives in
tools/check_oracle.py, driven at sf0.01)."""

import pytest

import __spark_entry__ as entry


def test_entry_flagship(spark):
    df = entry.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_disc_price" in df.columns


def test_queries_and_oracles_aligned():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert len(qs) >= 30
    missing = set(oracles) - set(qs)
    assert not missing, f"oracle without query: {missing}"
    # every registered query is oracle-checked (media_features via the
    # deterministic metadata projection; minhash_pairs_fast via the
    # candidates+exact-verify construction)
    assert set(qs) - set(oracles) == set()


def test_selected_queries_run(spark, sf_dir):
    qs = entry.queries()
    for name in ["pricing_summary", "containment_first", "minhash_signatures"]:
        assert qs[name](spark, sf_dir).count() > 0


def test_driver_contract_under_vanilla_session():
    """The external driver builds a BARE SparkSession (ANSI on, no
    nanosAsLong): entry() and a sample of queries spanning the risky
    contracts (events timestamp scan, division/cast discipline, persist
    paths, window ops) must run there.  Runs in a subprocess so the
    vanilla session can't collide with the tuned test session."""
    import subprocess
    import sys

    code = """
import sys
sys.path.insert(0, ".")
from pyspark.sql import SparkSession
import __spark_entry__ as e
spark = SparkSession.builder.master("local[4]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
assert e.entry(spark).count() > 0
qs = e.queries()
for name in ["resampled_series", "lineitem_derived", "novelty_scores",
             "cusum_alarms", "bpe_merges", "dsir_weights",
             "centroid_outliers", "best_quality_canonical"]:
    assert qs[name](spark, "/root/testdata/sf0.001").count() >= 0, name
print("VANILLA_OK")
"""
    r = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, timeout=420, cwd="/root/repo",
    )
    assert "VANILLA_OK" in r.stdout, r.stdout[-2000:] + r.stderr[-2000:]


def test_lsh_prefilter_flag_gates_candidate_trim(spark, sf_dir, monkeypatch):
    """set_lsh_prefilter(True) (the bench scale path) may only ever
    TRIM candidates ahead of the exact-Jaccard verify: the final
    verified pair set must be identical with and without the flag on
    the test corpus; the gate default is off and is recall-exact by
    construction (no est_jaccard filter in the plan).  The flag is an
    explicit in-process call — a stray env var must NOT flip it."""
    qs = entry.queries()

    assert entry._LSH_PREFILTER_ENABLED is False  # correctness default
    # ambient process state must not affect plan-build behavior
    monkeypatch.setenv("SPARK_GRAFT_LSH_PREFILTER", "1")
    assert entry._LSH_PREFILTER_ENABLED is False
    gate = {tuple(r) for r in qs["minhash_pairs_fast"](spark, sf_dir).collect()}

    entry.set_lsh_prefilter(True)
    try:
        bench = {tuple(r) for r in qs["minhash_pairs_fast"](spark, sf_dir).collect()}
    finally:
        entry.set_lsh_prefilter(False)

    assert gate == bench and len(gate) > 0


@pytest.fixture(scope="module")
def edge_sf_dir(sf_dir, tmp_path_factory):
    """``sf_dir`` plus an empty and a punctuation-only document."""
    from tools import edge_docs

    dst = str(tmp_path_factory.mktemp("edge") / "sf")
    edge_docs.main(sf_dir, dst)
    return dst


@pytest.mark.parametrize("name", ["span_corruption", "overlapping_chunks"])
def test_token_less_docs_match_the_oracle(spark, edge_sf_dir, monkeypatch, name):
    """A doc that normalizes to '' keeps one row with empty text and
    zero counts, in the engine and in its DuckDB oracle, bit-exactly."""
    duckdb = pytest.importorskip("duckdb")
    from tools import check_oracle

    monkeypatch.setattr(check_oracle, "EXACT", True)
    sdf = entry.queries()[name](spark, edge_sf_dir)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{edge_sf_dir}/documents.parquet'")
    res = con.execute(entry.oracle_sql()[name])
    got = check_oracle.canon([tuple(r) for r in sdf.collect()], sdf.columns)
    want = check_oracle.canon(res.fetchall(), [d[0] for d in res.description])
    assert got == want
