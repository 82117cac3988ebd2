"""The maintained-table lifecycle: every foreachBatch sink in
``streaming/jobs`` publishes through ``delta_lite`` — ``merge_touched``,
``upsert_delta`` or a ``write_delta`` append — with the batch's ``txn``
in the same commit, and no sink writes through a ``DataFrameWriter``.

- a replay of an applied batch reads the log and starts no Spark job;
- a runner whose commit loses a race to another batch re-runs its merge
  on the winner's snapshot, so both batches are kept;
- ``delta_lite.restore_table`` and ``delta_lite.compact`` keep the
  ``txn``, so a replay after either is still a no-op;
- a compacted maintained table is read through the log, never from the
  superseded files still under its root;
- a path holding non-Delta data is refused before anything is written.

Races use the pattern of ``tests/test_delta_lifecycle.py``: ``_commit``
is replaced so that its first call lets a concurrent winner commit at
the version under contention and then reports the loss.
"""

from __future__ import annotations

import ast
import datetime as dt
import json
import os
import pathlib
import re

import pytest

from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
    delta_lite as dl,
)
from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.streaming import (
    jobs,
)

_EVENTS = "event_id long, ts timestamp, user_id long, event_type string, value double"
_T0 = dt.datetime(2024, 1, 1)


def _events(spark, b: int, n: int = 40):
    """Batch ``b`` of a small event stream: ids and timestamps grow
    with the batch, users and types repeat across batches."""
    rows = [
        (
            b * n + i,
            _T0 + dt.timedelta(minutes=b * n + i),
            (b * n + i) % 7,
            ("click", "view", "purchase")[(b + i) % 3],
            float((b * n + i) % 50),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, _EVENTS)


def _changes(spark, b: int):
    """Batch ``b`` of an insert-only change feed (committed at version b)."""
    rows = [(f"g{(b + i) % 3}", b * 10 + i, "insert", b) for i in range(6)]
    return spark.createDataFrame(
        rows, "grp string, val long, _change_type string, _commit_version long"
    )


_BENCH_TEXT = "the quick brown fox jumps over the lazy dog"


def _docs(spark, b: int, n: int = 6):
    """Batch ``b`` of a small document stream: every third doc is
    ``_BENCH_TEXT`` (a near-duplicate across batches, and contaminated
    for a benchmark holding that text); the rest share no word."""
    rows = [
        (
            b * n + i,
            _BENCH_TEXT if i % 3 == 0
            else " ".join(f"w{(b * n + i) * 10 + j}" for j in range(8)),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _bench_shingles(spark):
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        dedup,
    )

    bench = spark.createDataFrame([(0, _BENCH_TEXT)], "doc_id long, text string")
    return dedup.shingle_rows(bench, "doc_id", "text", 3).select("__sh").distinct()


# name -> apply(spark, batch_id, path)
_MAINTAINERS = {
    "rollup": lambda s, b, p: jobs.apply_rollup_batch(_events(s, b), b, p),
    "drift_counts": lambda s, b, p: jobs._apply_drift_counts_batch(
        _events(s, b), b, p, "event_type", "value", 0.0, 50.0, n_bins=5
    ),
    "heavy_hitters": lambda s, b, p: jobs.apply_heavy_hitters_batch(
        _events(s, b), b, p, key_col="user_id", capacity=4
    ),
    "hll": lambda s, b, p: jobs.apply_hll_batch(_events(s, b), b, p, b=4),
    "reservoir": lambda s, b, p: jobs.apply_reservoir_batch(_events(s, b), b, p, k=3),
    "cms": lambda s, b, p: jobs.apply_cms_batch(_events(s, b), b, p, depth=2, width=8),
    "upsert": lambda s, b, p: jobs.apply_upsert_batch(
        _events(s, b), b, p, ["user_id"], n_buckets=2
    ),
    "scd2": lambda s, b, p: jobs.apply_scd2_batch(
        _events(s, b), b, p, "user_id", "ts", ["event_type"], n_buckets=2
    ),
    "changes_rollup": lambda s, b, p: jobs.apply_changes_rollup_batch(
        _changes(s, b), b, p, ["grp"], ["val"], n_buckets=2
    ),
    # insert-only batches take the fold path: the upstream is never read
    "gauge_rollup": lambda s, b, p: jobs.apply_gauge_rollup_batch(
        _changes(s, b), b, p, p + "_upstream", ["grp"], ["val"], n_buckets=2
    ),
    "scd2_changes": lambda s, b, p: jobs.apply_scd2_changes_batch(
        _changes(s, b), b, p, "grp", ["val"], n_buckets=2
    ),
    "experiment_units": lambda s, b, p: jobs.apply_experiment_units_batch(
        _events(s, b), b, p, cut_us=int(_T0.timestamp() * 1e6) + 60_000_000,
        n_buckets=2,
    ),
    # the append-only sinks: one write_delta append per batch
    "history_append": lambda s, b, p: jobs.apply_history_append_batch(
        _events(s, b), b, p
    ),
    "decontaminate": lambda s, b, p: jobs.apply_decontaminate_batch(
        _docs(s, b), b, _bench_shingles(s), p, n=3
    ),
    # ``p`` is the signature index; the pair feed sits beside it
    "lsh_dedup": lambda s, b, p: jobs.apply_lsh_dedup_batch(
        _docs(s, b), b, p, p + "_pairs", num_hashes=4
    ),
}
_SNAPSHOT = ["rollup", "drift_counts", "heavy_hitters", "hll", "reservoir", "cms"]


def _rows(spark, path):
    return sorted(tuple(r) for r in jobs.read_maintained_table(spark, path).collect())


def _lose_first_commit(monkeypatch, winner):
    """Make the next ``_commit`` run ``winner(table, version)`` with the
    real commit restored, then report the version as taken."""
    real = dl._commit

    def racing(table, version, actions):
        monkeypatch.setattr(dl, "_commit", real)
        winner(table, version)
        return False

    monkeypatch.setattr(dl, "_commit", racing)


@pytest.mark.parametrize("name", sorted(_MAINTAINERS))
def test_replay_of_an_applied_batch_starts_no_spark_job(spark, tmp_path, name):
    apply = _MAINTAINERS[name]
    path = str(tmp_path / name)
    apply(spark, 0, path)
    apply(spark, 1, path)
    before, version = _rows(spark, path), dl.current_version(path)
    sc = spark.sparkContext
    group = f"replay-{name}"
    sc.setJobGroup(group, "maintainer replay")
    try:
        apply(spark, 1, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert dl.current_version(path) == version
    assert _rows(spark, path) == before


@pytest.mark.parametrize("name", _SNAPSHOT)
def test_racing_runner_keeps_both_batches(spark, tmp_path, monkeypatch, name):
    """Runner A applies batch 2; inside A's commit, runner B commits
    batch 1.  A loses the version, re-runs its merge on B's snapshot
    and commits, so the table equals batches 0, 1, 2 applied in turn.
    (The winner's batch id is the lower one: a ``txn`` marks every
    batch up to its version applied, the contract of one streaming
    query whose batch ids only grow.)"""
    apply = _MAINTAINERS[name]
    want_path = str(tmp_path / "sequential")
    for b in range(3):
        apply(spark, b, want_path)

    path = str(tmp_path / name)
    apply(spark, 0, path)
    _lose_first_commit(monkeypatch, lambda table, version: apply(spark, 1, table))
    apply(spark, 2, path)
    assert _rows(spark, path) == _rows(spark, want_path)
    assert dl.current_version(path) == 2
    assert dl.last_txn_version(path, jobs._TXN_APP) == 2


def test_near_dup_replay_after_a_crash_between_its_two_commits(
    spark, tmp_path, monkeypatch
):
    """The near-dup sink commits its pairs, then its index.  A crash
    between the two leaves the batch in the pair feed only; the replay
    skips the applied pair append, pairs the batch against the index
    without it and lands the index append, so both tables hold what an
    uninterrupted run writes."""
    apply = _MAINTAINERS["lsh_dedup"]
    path = str(tmp_path / "index")
    apply(spark, 0, path)
    real = dl.write_delta

    def crash_before_index_commit(df, table, *args, **kwargs):
        if table == path:
            raise RuntimeError("crash before the index commit")
        return real(df, table, *args, **kwargs)

    monkeypatch.setattr(dl, "write_delta", crash_before_index_commit)
    with pytest.raises(RuntimeError, match="crash before the index commit"):
        apply(spark, 1, path)
    monkeypatch.setattr(dl, "write_delta", real)
    assert dl.last_txn_version(path + "_pairs", jobs._TXN_APP) == 1
    assert dl.last_txn_version(path, jobs._TXN_APP) == 0

    apply(spark, 1, path)
    assert [r[0] for r in _rows(spark, path)] == list(range(12))
    # every pair of the four ``_BENCH_TEXT`` docs, once
    assert [r[:2] for r in _rows(spark, path + "_pairs")] == [
        (0, 3), (0, 6), (0, 9), (3, 6), (3, 9), (6, 9)
    ]
    assert dl.last_txn_version(path, jobs._TXN_APP) == 1


def test_restore_rolls_back_a_maintained_table_and_replay_stays_noop(spark, tmp_path):
    """``delta_lite.restore_table`` serves an earlier version of a
    maintained table.  Caveat: the restore keeps the ``txn``, so a
    replay of a rolled-back batch is still a no-op; re-ingesting the
    interval needs new batch ids."""
    path = str(tmp_path / "rollup")
    jobs.apply_rollup_batch(_events(spark, 0), 0, path)
    after_0 = _rows(spark, path)
    jobs.apply_rollup_batch(_events(spark, 1), 1, path)
    after_1 = _rows(spark, path)
    assert after_1 != after_0
    with pytest.raises(ValueError):
        dl.restore_table(path, version=5)  # no such version
    assert dl.restore_table(path, version=0) == 2
    assert _rows(spark, path) == after_0
    jobs.apply_rollup_batch(_events(spark, 1), 1, path)  # replay: no-op
    assert _rows(spark, path) == after_0 and dl.current_version(path) == 2
    # rolling forward again is one more restore
    dl.restore_table(path, version=1)
    assert _rows(spark, path) == after_1


def test_rollup_keeps_its_column_order_across_batches(spark, tmp_path):
    """A merged rollup keeps the column order of its first batch
    (``history.merge_rollups`` orders its output like its first part),
    so the maintained table's schema never moves under its readers."""
    path = str(tmp_path / "rollup")
    columns = []
    for b in range(3):
        jobs.apply_rollup_batch(_events(spark, b), b, path)
        columns.append(jobs.read_maintained_table(spark, path).columns)
    assert columns == [["event_type", "n", "sum_value"]] * 3


def test_summed_snapshots_commit_their_schema_once(spark, tmp_path):
    """The maintainers that merge into their stored table (rollup,
    drift counts, count-min, both SCD2 folds, experiment units) store
    the first batch with the schema every later merge produces, so only
    the first commit carries a ``metaData`` action."""
    summed = ("rollup", "drift_counts", "cms")
    names = (*summed, "scd2", "scd2_changes", "experiment_units")
    with_meta = {}
    for name in names:
        path = tmp_path / name
        # the other three stored a flipped schema at v1 only
        for b in range(3 if name in summed else 2):
            _MAINTAINERS[name](spark, b, str(path))
        with_meta[name] = [
            log.name
            for log in sorted((path / "_delta_log").glob("*.json"))
            if any("metaData" in json.loads(ln) for ln in log.read_text().splitlines())
        ]
    assert with_meta == {name: ["00000000000000000000.json"] for name in names}


def test_compaction_of_a_maintained_table_is_data_identical(spark, tmp_path):
    """``delta_lite.compact`` on an upsert-maintained table rewrites it
    in one layout-only commit: same rows, a replay afterwards is a
    no-op, and the pre-compaction version still restores."""
    path = str(tmp_path / "profiles")
    for b in range(3):
        jobs.apply_upsert_batch(_events(spark, b), b, path, ["user_id"], n_buckets=4)
    before = _rows(spark, path)
    dl.compact(spark, path)
    assert _rows(spark, path) == before
    assert dl.current_version(path) == 3
    assert dl.delta_history(path)[-1]["operation"] == "OPTIMIZE"
    jobs.apply_upsert_batch(_events(spark, 2), 2, path, ["user_id"], n_buckets=4)
    assert dl.current_version(path) == 3
    dl.restore_table(path, version=2)
    assert _rows(spark, path) == before


def test_compaction_of_a_maintained_table_reads_through_the_log(spark, tmp_path):
    """After ``delta_lite.compact`` the superseded files of every earlier
    version are still under the table root; ``read_maintained_table``
    goes through the log, so it serves the one live version and never
    resurrects a superseded row."""
    path = str(tmp_path / "t")
    for b in range(3):
        df = spark.createDataFrame([(1, f"x{b}", b)], "user_id long, v string, ts long")
        jobs.apply_upsert_batch(df, b, path, ["user_id"])
    before = _rows(spark, path)
    assert before == [(1, "x2", 2)]
    assert dl.compact(spark, path) == 3  # one OPTIMIZE commit
    assert _rows(spark, path) == before
    assert len(dl._read_actions(path)[0]) == 1
    raw = {r["v"] for r in spark.read.parquet(path).collect()}
    assert {"x0", "x1"} <= raw  # the superseded rows are on disk


def test_maintainers_refuse_foreign_directories(spark, tmp_path):
    """A non-empty directory without ``_delta_log`` — or a table of the
    pre-Delta versioned-directory layout — is refused with a ValueError
    naming the path, and nothing is written; a missing or empty path
    starts a new Delta table."""
    foreign = tmp_path / "foreign"
    foreign.mkdir()
    (foreign / "data.parquet").write_bytes(b"not ours")
    # the old layout: a symlink to a version directory, or a versions
    # directory alone (its pointer-file variant)
    versions = tmp_path / "old.versions" / "v0"
    versions.mkdir(parents=True)
    (versions / "part-0.parquet").write_bytes(b"old")
    linked = tmp_path / "old"
    os.symlink(versions, linked)
    pointer_only = tmp_path / "pointer"
    (tmp_path / "pointer.versions").mkdir()
    # the old append-sink layout: one parquet directory per batch
    batch_dirs = tmp_path / "batch_dirs"
    (batch_dirs / "batch=0").mkdir(parents=True)
    (batch_dirs / "batch=0" / "part-0.parquet").write_bytes(b"old")

    for path in (foreign, linked, pointer_only, batch_dirs):
        listing = sorted(os.listdir(path)) if os.path.isdir(path) else None
        for name in (
            "rollup", "upsert", "scd2", "hll",
            "history_append", "decontaminate", "lsh_dedup",
        ):
            with pytest.raises(ValueError, match=re.escape(str(path))):
                _MAINTAINERS[name](spark, 0, str(path))
        with pytest.raises(ValueError, match=re.escape(str(path))):
            jobs.read_maintained_table(spark, str(path))
        assert (sorted(os.listdir(path)) if os.path.isdir(path) else None) == listing
    # the near-dup pair feed is checked before its index is touched
    fresh_index = tmp_path / "fresh_index"
    with pytest.raises(ValueError, match=re.escape(str(batch_dirs))):
        jobs.apply_lsh_dedup_batch(
            _docs(spark, 0), 0, str(fresh_index), str(batch_dirs)
        )
    assert not fresh_index.exists()

    empty = tmp_path / "empty"
    empty.mkdir()
    missing = tmp_path / "missing"
    for path in (empty, missing):
        assert jobs.read_maintained_table(spark, str(path)) is None
        jobs.apply_rollup_batch(_events(spark, 0), 0, str(path))
        assert dl.is_delta_table(str(path))


def test_streaming_sinks_do_not_use_dataframe_writer():
    """Every table written under ``streaming/`` goes through
    ``delta_lite``: no module there touches ``DataFrame.write`` (the
    ``DataFrameWriter`` behind ``.parquet(path)`` and ``.saveAsTable``)
    or calls ``saveAsTable`` / ``insertInto``.  A plain parquet sink
    has no ``txn``, so a replayed batch would be written twice."""
    found = []
    for src in sorted(pathlib.Path(jobs.__file__).parent.glob("*.py")):
        tree = ast.parse(src.read_text(), filename=str(src))
        called = {
            id(node.func) for node in ast.walk(tree) if isinstance(node, ast.Call)
        }
        for node in ast.walk(tree):
            if not isinstance(node, ast.Attribute):
                continue
            # ``df.write`` is a property; ``fh.write(...)`` is a call
            writer = node.attr == "write" and id(node) not in called
            if writer or node.attr in ("saveAsTable", "insertInto"):
                found.append(f"{src.name}:{node.lineno} .{node.attr}")
    assert found == []


def test_streaming_sinks_start_through_one_foreach_batch_runner():
    """Every foreachBatch sink under ``streaming/`` starts through
    ``jobs._run_foreach_batch``: no other function there calls
    ``foreachBatch`` or ``.trigger``, apart from the memory-sink drain
    ``run_available_now``."""
    allowed = {"_run_foreach_batch", "run_available_now"}
    found = []
    for src in sorted(pathlib.Path(jobs.__file__).parent.glob("*.py")):
        tree = ast.parse(src.read_text(), filename=str(src))
        for top in tree.body:
            if getattr(top, "name", None) in allowed:
                continue
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("foreachBatch", "trigger")
                ):
                    found.append(f"{src.name}:{node.lineno} .{node.func.attr}")
    assert found == []


def test_sources_have_one_log_parser_and_one_schema_decode():
    """Under ``sources/``, Delta log lines are parsed in one function,
    ``delta_lite._log_actions`` (``_read_log_file`` is it plus the
    reader-feature gate, so a second parser is a reader that skips the
    gate), and a metaData ``schemaString`` is decoded in one,
    ``delta_lite._schema_of``.  Flagged: a ``json.loads`` inside a
    ``with open(...)`` block, a loop or comprehension over
    ``open(...)``, or of an ``open(...)`` read, outside
    ``_log_actions`` and the CDF source's reader of Spark's streaming
    offset log (``_checkpoint_committed_version``, not a Delta log);
    and a ``json.loads`` or ``fromJson`` of a ``schemaString`` outside
    ``_schema_of``."""
    parsers = {"_log_actions", "_checkpoint_committed_version"}
    comps = (ast.ListComp, ast.SetComp, ast.GeneratorExp, ast.DictComp)
    found = set()

    def call_of(node, name):
        return isinstance(node, ast.Call) and ast.unparse(node.func).endswith(name)

    def scan(node, src, fn, in_open):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn, in_open = node.name, False
        in_open = (
            in_open
            or isinstance(node, ast.With)
            and any(call_of(i.context_expr, "open") for i in node.items)
            or isinstance(node, ast.For) and call_of(node.iter, "open")
            or isinstance(node, comps)
            and any(call_of(g.iter, "open") for g in node.generators)
        )
        if call_of(node, "json.loads") or call_of(node, ".fromJson"):
            inner = [n for a in node.args for n in ast.walk(a)]
            consts = {n.value for n in inner if isinstance(n, ast.Constant)}
            if "schemaString" in consts:
                if fn != "_schema_of":
                    found.add(f"{src.name}:{node.lineno} {fn} decodes schemaString")
            elif call_of(node, "json.loads") and fn not in parsers and (
                in_open or any(call_of(n, "open") for n in inner)
            ):
                found.add(f"{src.name}:{node.lineno} {fn} parses a file line")
        for child in ast.iter_child_nodes(node):
            scan(child, src, fn, in_open)

    for src in sorted(pathlib.Path(dl.__file__).parent.glob("*.py")):
        scan(ast.parse(src.read_text(), filename=str(src)), src, None, False)
    assert sorted(found) == []


def test_similarity_has_one_top_k_window_and_one_pair_dedup():
    """``operators/similarity.py`` ranks through one ``row_number()``
    call (``_top_k``), and dedups (query_id, neighbor_id) pairs only in
    ``ann_union_knn``, whose two retrievers can both find a pair."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        similarity,
    )

    src = pathlib.Path(similarity.__file__)
    windows, dedups = [], []
    for top in ast.parse(src.read_text(), filename=str(src)).body:
        for node in ast.walk(top):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            if node.func.attr == "row_number":
                windows.append(top.name)
            elif node.func.attr == "dropDuplicates" and any(
                isinstance(a, ast.List)
                and ast.literal_eval(a) == ["query_id", "neighbor_id"]
                for a in node.args
            ):
                dedups.append(top.name)
    assert (windows, dedups) == (["_top_k"], ["ann_union_knn"])
