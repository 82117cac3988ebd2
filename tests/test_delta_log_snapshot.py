"""Frozen Delta log shapes: every public ``delta_lite`` writer is driven
once on tiny tables, and each commit's actions are compared with
``tests/golden/delta_log_shapes.json``.

Each commit is stored as a sorted multiset of its actions.  Volatile
fields are normalised first: 32-hex uuids (file names, physical column
names) become ``<uuid>`` and the table root becomes ``<root>``; the
fields ``timestamp``, ``deletionTimestamp``, ``modificationTime``,
``createdTime``, ``size``, ``lastUpdated`` and ``metaData.id`` are
dropped.  Everything else -- tags, ``dataChange``, ``partitionValues``,
``stats``, ``operationParameters``, ``txn``, ``protocol`` and
``metaData`` -- must match exactly, so a change to the table layout,
the commit shape or a file's statistics fails here.

Regenerate (only for an intended change of log shape):

    python tests/test_delta_log_snapshot.py
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.session import (  # noqa: E402
    RUNTIME_CONF,
)
from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (  # noqa: E402
    delta_lite as dl,
)

GOLDEN = os.path.join(HERE, "golden", "delta_log_shapes.json")
MASTER = "local[8]"
SHUFFLE_PARTITIONS = "8"
_DROP = ("timestamp", "deletionTimestamp", "modificationTime", "createdTime",
         "size", "lastUpdated")
_UUID = re.compile(r"[0-9a-f]{32}")

SCENARIOS: dict = {}


def scenario(fn):
    SCENARIOS[fn.__name__] = fn
    return fn


def _kv(spark, rows, schema="k long, v string"):
    return spark.createDataFrame(rows, schema)


@scenario
def flat_writes_and_maintenance(spark, root):
    t = os.path.join(root, "flat")
    rows = [(k, f"v{k % 3}", k * 10) for k in range(1, 9)]
    schema = "k long, v string, n long"
    dl.write_delta(_kv(spark, rows, schema).repartition(3), t)
    dl.write_delta(_kv(spark, [(9, "v0", 90)], schema), t, mode="append")
    dl.add_bloom_index(spark, t, "v")
    dl.delete_where(spark, t, "k = 2", predicate=("k", 2, 2))
    dl.delete_where(spark, t, "k = 3", use_dv=True)
    dl.reorg_purge_dv(spark, t)
    dl.optimize_small_files(spark, t)
    dl.optimize_zorder(spark, t, "k", "n", n_files=2)
    dl.optimize_cluster(spark, t, ["k"], n_files=2)
    dl.write_delta(_kv(spark, [(10, "v1", 100)], schema), t, mode="append")
    dl.optimize_cluster_incremental(spark, t, ["k"], min_files=1)
    dl.update_where(spark, t, {"n": "n + 1"}, "k >= 8", predicate=("k", 8, None))
    dl.compact(spark, t)
    dl.write_delta(_kv(spark, [(1, "x", 1)], schema), t)
    return [t]


@scenario
def partitioned_layouts(spark, root):
    t = os.path.join(root, "part")
    schema = "k long, v string, p string"
    dl.write_delta(
        _kv(spark, [(1, "a", "x"), (2, "b", "y"), (3, "c", "x")], schema),
        t, partition_by=["p"],
    )
    dl.write_delta(
        _kv(spark, [(4, "d", "x"), (5, "e", None)], schema), t, mode="append"
    )
    dl.optimize_where(spark, t, ("p", "x", "x"))
    dl.compact(spark, t)
    dl.upsert_delta(spark, t, _kv(spark, [(1, "A", "x")], schema), ["k"], n_buckets=2)
    dl.upsert_delta(spark, t, _kv(spark, [(6, "f", "y")], schema), ["k"])
    dl.optimize_where(spark, t, ("p", "x", "y"), min_files=1)
    dl.compact(spark, t)
    dl.delete_where(spark, t, "k = 3", predicate=("p", "x", "x"))
    dl.update_where(spark, t, {"p": "'y'"}, "k = 4")
    return [t]


@scenario
def generated_columns(spark, root):
    t = os.path.join(root, "gen")
    schema = "id long, day string"
    dl.write_delta(
        _kv(spark, [(1, "2020-03-01"), (2, "2021-07-09")], schema),
        t, partition_by=["yr"], generated={"yr": "substring(day, 1, 4)"},
    )
    dl.write_delta(_kv(spark, [(3, "2021-01-02")], schema), t, mode="append")
    dl.update_where(spark, t, {"day": "'2022-05-05'"}, "id = 1")
    dl.delete_where(spark, t, "day < '2021-06-01'", predicate=("day", None, "2021-06-01"))
    return [t]


@scenario
def keyed_merges(spark, root):
    t = os.path.join(root, "merge")
    dl.upsert_delta(
        spark, t, _kv(spark, [(k, f"v{k}") for k in range(20)]), ["k"], n_buckets=4
    )
    dl.upsert_delta(spark, t, _kv(spark, [(3, "x"), (25, "y")]), ["k"], txn=("app", 1))
    dl.upsert_delta(spark, t, _kv(spark, []), ["k"])
    dl.upsert_delta_evolve(
        spark, t, _kv(spark, [(4, "z", 1)], "k long, v string, w long"), ["k"]
    )
    dl.delete_keys(spark, t, _kv(spark, [(5,)], "k long"), ["k"])
    dl.add_bloom_index(spark, t, "v")
    dl.compact(spark, t)
    dl.optimize_small_files(spark, t)
    dl.delete_where(spark, t, "k = 7")
    dl.update_where(spark, t, {"v": "'u'"}, "k = 8")
    return [t]


@scenario
def metadata_operations(spark, root):
    t = os.path.join(root, "meta")
    c = os.path.join(root, "clone")
    dl.write_delta(_kv(spark, [(1, "a"), (2, "b")]), t)
    dl.enable_column_mapping(t)
    dl.rename_column(t, "v", "v2")
    dl.add_column(t, "w", "long")
    dl.write_delta(_kv(spark, [(3, "c", 7)], "k long, v2 string, w long"), t, mode="append")
    dl.drop_column(t, "w")
    dl.set_check_constraint(spark, t, "kpos", "k > 0")
    dl.drop_check_constraint(t, "kpos")
    dl.restore_table(t, version=1)
    dl.clone_table(t, c)
    return [t, c]


def _normalise(action: dict, root: str) -> str:
    (kind, body), = action.items()
    body = {k: v for k, v in body.items() if k not in _DROP}
    if kind == "metaData":
        body.pop("id", None)
    text = json.dumps({kind: body}, sort_keys=True).replace(root, "<root>")
    return _UUID.sub("<uuid>", text)


def log_shapes(table: str, root: str) -> list:
    out = []
    for v in dl._list_versions(table):
        with open(dl._version_file(table, v)) as fh:
            acts = [json.loads(ln) for ln in fh if ln.strip()]
        out.append([json.loads(s) for s in sorted(_normalise(a, root) for a in acts)])
    return out


def run_scenario(spark, name: str, root: str) -> dict:
    spark.conf.set("spark.sql.shuffle.partitions", SHUFFLE_PARTITIONS)
    for k, v in RUNTIME_CONF.items():
        spark.conf.set(k, v)
    tables = SCENARIOS[name](spark, root)
    return {os.path.basename(t): log_shapes(t, root) for t in tables}


@pytest.mark.parametrize("name", sorted(SCENARIOS))
def test_log_shapes_match_golden(spark, tmp_path, name):
    with open(GOLDEN) as fh:
        want = json.load(fh)[name]
    got = run_scenario(spark, name, str(tmp_path))
    assert sorted(got) == sorted(want)
    for table in want:
        assert len(got[table]) == len(want[table]), f"{table}: version count"
        for v, (w, g) in enumerate(zip(want[table], got[table])):
            assert g == w, f"{table} v{v}: want {w}\n got {g}"


def write_golden() -> None:
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.session import (
        get_spark,
    )

    spark = get_spark(
        app_name="delta-log-snapshot", master=MASTER,
        shuffle_partitions=int(SHUFFLE_PARTITIONS),
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for name in sorted(SCENARIOS):
        with tempfile.TemporaryDirectory() as root:
            out[name] = run_scenario(spark, name, root)
    with open(GOLDEN, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(GOLDEN)
    spark.stop()


if __name__ == "__main__":
    write_golden()
