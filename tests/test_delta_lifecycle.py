"""The Delta write lifecycle under failure: no staged file survives a
lost or aborted commit, a crash inside the commit leaves the table as
it was, a ``txn`` already in the log makes a racing retry a no-op, and
degenerate customs batches pass through the upsert and the reports.

Races use the same pattern as ``tests/test_delta.py``: ``_commit`` is
replaced so that its first call lets a concurrent winner commit at the
version under contention and then reports the loss.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark import (
    fixtures,
)
from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
    analysis,
    history,
)
from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.plans import (
    pipeline,
)
from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.schemas import (
    MODEL_REF_SCHEMA,
    REGEX_KB_SCHEMA,
    SHIPMENTS_SCHEMA,
)
from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
    delta_lite as dl,
)
from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.streaming import (
    jobs,
)


def _kv(spark, rows, schema="k long, v string"):
    return spark.createDataFrame(rows, schema)


def _unreferenced(table: str) -> set:
    """Data files, DV sidecars and bloom sidecars on disk that no
    committed add names (by path, ``tags['dv']`` or ``tags['bloom_*']``)."""
    referenced = set()
    for v in dl._list_versions(table):
        with open(dl._version_file(table, v)) as fh:
            for ln in fh:
                add = json.loads(ln).get("add") if ln.strip() else None
                if add is None:
                    continue
                referenced.add(add["path"])
                for k, tag in (add.get("tags") or {}).items():
                    if k == "dv" or k.startswith("bloom_"):
                        referenced.add(tag)
    on_disk = set()
    for root, dirs, files in os.walk(table):
        rel = os.path.relpath(root, table)
        for f in files:
            if f.endswith(".parquet") or (rel == "_bloom" and f.endswith(".json")):
                on_disk.add(f if rel == "." else f"{rel}/{f}")
    return on_disk - referenced


def _lose_first_commit(monkeypatch, winner):
    """Make the next ``_commit`` run ``winner(table, version)`` with the
    real commit restored, then report the version as taken."""
    real = dl._commit

    def racing(table, version, actions):
        monkeypatch.setattr(dl, "_commit", real)
        winner(table, version)
        return False

    monkeypatch.setattr(dl, "_commit", racing)


def _steal(table, version):
    dl._commit(table, version, [{"commitInfo": {
        "timestamp": 0, "operation": "WRITE", "operationParameters": {},
        "engineInfo": "racer"}}])


def _flat(spark, t, n=6):
    dl.write_delta(_kv(spark, [(k, f"v{k}") for k in range(n)]).repartition(2), t)


def test_write_schema_race_leaves_no_staged_file(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "t")
    _flat(spark, t)

    def evolve(table, version):
        _, meta, _, _ = dl._read_actions(table)
        schema = json.loads(meta["schemaString"])
        schema["fields"].append(
            {"name": "extra", "type": "long", "nullable": True, "metadata": {}}
        )
        evolved = {**meta, "schemaString": json.dumps(schema)}
        dl._commit(table, version, [{"metaData": evolved}])

    _lose_first_commit(monkeypatch, evolve)
    with pytest.raises(RuntimeError, match="schema"):
        dl.write_delta(_kv(spark, [(9, "x")]), t, mode="append")
    assert _unreferenced(t) == set()


def test_merge_lost_race_retries_without_leaking(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "t")
    dl.upsert_delta(spark, t, _kv(spark, [(1, "a"), (2, "b")]), ["k"], n_buckets=2)

    def concurrent_upsert(table, version):
        dl.upsert_delta(spark, table, _kv(spark, [(2, "CONCURRENT")]), ["k"])

    _lose_first_commit(monkeypatch, concurrent_upsert)
    v = dl.upsert_delta(spark, t, _kv(spark, [(1, "MINE")]), ["k"])
    assert v == 2
    got = {(r["k"], r["v"]) for r in dl.read_delta(spark, t).collect()}
    assert got == {(1, "MINE"), (2, "CONCURRENT")}
    assert _unreferenced(t) == set()


def test_compact_abort_leaves_no_staged_file(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "t")
    _flat(spark, t)
    _lose_first_commit(monkeypatch, _steal)
    with pytest.raises(RuntimeError, match="aborted"):
        dl.compact(spark, t)
    assert _unreferenced(t) == set()


def test_dv_delete_abort_leaves_no_sidecar(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "t")
    _flat(spark, t)
    _lose_first_commit(monkeypatch, _steal)
    with pytest.raises(RuntimeError, match="aborted"):
        dl.delete_where(spark, t, "k = 1", use_dv=True)
    assert _unreferenced(t) == set()


def test_update_abort_leaves_no_staged_file(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "t")
    _flat(spark, t)
    _lose_first_commit(monkeypatch, _steal)
    with pytest.raises(RuntimeError, match="aborted"):
        dl.update_where(spark, t, {"v": "'u'"}, "k = 1")
    assert _unreferenced(t) == set()


def test_bloom_index_lost_race_leaves_no_sidecar(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "t")
    _flat(spark, t)
    _lose_first_commit(monkeypatch, _steal)
    with pytest.raises(RuntimeError, match="aborted"):
        dl.add_bloom_index(spark, t, "v")
    assert _unreferenced(t) == set()


def test_merge_concurrent_creation_leaves_no_staged_file(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "t")

    def create(table, version):
        dl.write_delta(_kv(spark, [(7, "theirs")]), table)

    _lose_first_commit(monkeypatch, create)
    with pytest.raises(RuntimeError, match="MERGE table creation"):
        dl.upsert_delta(spark, t, _kv(spark, [(1, "mine")]), ["k"])
    assert _unreferenced(t) == set()
    assert [r["v"] for r in dl.read_delta(spark, t).collect()] == ["theirs"]


def test_commit_crash_keeps_snapshot_and_vacuum_reclaims(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "t")
    dl.upsert_delta(spark, t, _kv(spark, [(1, "a"), (2, "b")]), ["k"], n_buckets=2)
    before = sorted(dl.read_delta(spark, t).collect())

    def crash(table, version, actions):
        raise OSError("disk vanished mid-commit")

    monkeypatch.setattr(dl, "_commit", crash)
    with pytest.raises(OSError, match="mid-commit"):
        dl.upsert_delta(spark, t, _kv(spark, [(1, "z"), (3, "c")]), ["k"])
    monkeypatch.undo()
    assert dl.current_version(t) == 0
    assert sorted(dl.read_delta(spark, t).collect()) == before
    orphans = _unreferenced(t)
    assert orphans  # the commit may have landed, so nothing was deleted
    assert set(dl.vacuum(t, 0)) >= orphans
    assert _unreferenced(t) == set()
    assert sorted(dl.read_delta(spark, t).collect()) == before


# ---------------------------------------------------------------------------
# A txn already committed makes the losing retry a no-op
# ---------------------------------------------------------------------------


def test_rollup_batch_applied_once_under_a_racing_replay(spark, tmp_path, monkeypatch):
    down = str(tmp_path / "down")
    changes = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "grp string, val long, _change_type string"
    )
    jobs.apply_changes_rollup_batch(
        changes([("a", 1, "insert"), ("b", 2, "insert")]), 0, down, ["grp"], ["val"]
    )
    batch = changes([("a", 10, "insert"), ("c", 5, "insert")])

    def same_batch(table, version):
        jobs.apply_changes_rollup_batch(batch, 1, table, ["grp"], ["val"])

    _lose_first_commit(monkeypatch, same_batch)
    jobs.apply_changes_rollup_batch(batch, 1, down, ["grp"], ["val"])
    got = {
        r["grp"]: (r["n"], r["sum_val"])
        for r in dl.read_delta(spark, down).collect()
    }
    assert got == {"a": (2, 11), "b": (1, 2), "c": (1, 5)}
    assert dl.current_version(down) == 1
    assert _unreferenced(down) == set()


def test_write_retry_with_committed_txn_is_a_noop(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "t")
    _flat(spark, t, n=2)
    batch = _kv(spark, [(5, "e")])

    def same_write(table, version):
        dl.write_delta(batch, table, mode="append", txn=("app", 3))

    _lose_first_commit(monkeypatch, same_write)
    v = dl.write_delta(batch, t, mode="append", txn=("app", 3))
    assert v == 1 == dl.current_version(t)
    assert dl.read_delta(spark, t).filter("k = 5").count() == 1
    assert _unreferenced(t) == set()


# ---------------------------------------------------------------------------
# Degenerate customs batches through upsert -> snapshot -> reports
# ---------------------------------------------------------------------------


def _export(spark, shipments, model_ref=None, regex_kb=None):
    """The cleaned batch, materialized as the batch job does before its
    upsert (which reads the batch several times)."""
    out = pipeline.run_pipeline(
        shipments,
        model_ref if model_ref is not None else fixtures.model_ref_df(spark),
        regex_kb if regex_kb is not None else fixtures.regex_kb_df(spark),
        fixtures.fx_rates_df(spark),
    )
    return pipeline.render_export(out).localCheckpoint()


def _rows(rows) -> list:
    return sorted(rows, key=repr)


def _reports(snap) -> dict:
    """The four report shapes of a batch, each as sorted rows."""
    reports = {
        "brand_share": analysis.fold_others(
            analysis.group_share(snap, "brand", "amount_in_usd", qty_col="qty_n")
            .select("brand", "amount", "amount_prop"),
            "brand",
        ).collect(),
        "interval_share": analysis.group_share(
            snap, "capacity_interval", "amount_in_usd", qty_col="qty_n"
        ).collect(),
        "top3": analysis.top_k(
            analysis.group_share(snap, "brand", "amount_in_usd"), "amount", 3
        ).collect(),
        "year_slice": history.year_slice(snap, "date_parsed", 2024)
        .groupBy("month").count().collect(),
    }
    return {name: _rows(rows) for name, rows in reports.items()}


def test_degenerate_batches_through_upsert_and_reports(spark, tmp_path):
    """Empty, fully filtered and KB-less batches upserted into an
    844-row history (the frozen pipeline output of seed 1): the first
    two leave the snapshot and the reports unchanged, the third
    replaces the fixture rows with UNKNOWN-labelled ones."""
    t = str(tmp_path / "history")
    key = [pipeline.ID]
    golden = os.path.join(
        os.path.dirname(__file__), "golden", "pipeline_snapshot_seed1.parquet"
    )
    dl.upsert_delta(spark, t, spark.read.parquet(golden), key)
    history_rows = _rows(dl.read_delta(spark, t).collect())
    history_reports = _reports(dl.read_delta(spark, t))

    shipments = fixtures.shipments_df(spark)
    empty = _export(spark, spark.createDataFrame([], SHIPMENTS_SCHEMA))
    filtered = _export(spark, shipments.filter(F.col(pipeline.ID).isin(8, 13)))
    for batch in (empty, filtered):
        dl.upsert_delta(spark, t, batch, key)
        snap = dl.read_delta(spark, t)
        assert _rows(snap.collect()) == history_rows
        assert _reports(snap) == history_reports

    no_kb = _export(
        spark,
        shipments,
        spark.createDataFrame([], MODEL_REF_SCHEMA),
        spark.createDataFrame([], REGEX_KB_SCHEMA),
    )
    new_rows = no_kb.collect()
    assert new_rows and {r["brand"] for r in new_rows} == {"UNKNOWN"}
    dl.upsert_delta(spark, t, no_kb, key)
    snap = dl.read_delta(spark, t)
    new_ids = {r[pipeline.ID] for r in new_rows}
    kept = [r for r in history_rows if r[pipeline.ID] not in new_ids]
    assert len(kept) < len(history_rows)
    assert _rows(snap.collect()) == _rows(kept + new_rows)
    reports = _reports(snap)
    assert len(reports["top3"]) <= 3
    assert "UNKNOWN" in {r["brand"] for r in reports["brand_share"]}
    assert _unreferenced(t) == set()
