"""The benchmark workloads, timed from outside the program.

Each workload has ``setup`` and ``op`` (one unit of timed work followed
by its untimed output checks); set-up work, wherever it runs, adds to
the workload's ``setup_s`` and never to an operation's time.  With a
tracer, ``op`` takes the traced path: spans around every public call
and, for the customs pipeline, a ``localCheckpoint`` cut after each
stage so each stage's time is its own.  The cuts shorten every later
stage's plan, so the traced ``pipeline.build_s`` (the sum of the stage
builds) reads lower than the untraced ``run_pipeline`` call.
"""

from __future__ import annotations

import importlib.util
import json
import os
import statistics
import time

from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

import gen
from spans import NULL_TRACER, job_counts, plan_metrics

from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark import fixtures
from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import analysis as A
from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import dedup as D
from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import history as H
from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.plans import pipeline as P
from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.schemas import (
    MODEL_REF_SCHEMA,
    REGEX_KB_SCHEMA,
    SHIPMENTS_SCHEMA,
)
from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import delta_lite as DL

ID = P.ID


class CheckFailed(AssertionError):
    pass


def check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _expected_fixture_labels() -> dict:
    """shipment_id -> (brand, model, remark) as the golden pipeline test
    asserts them, with NULLs rendered as the export sentinel."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "perfbench_golden", os.path.join(root, "tests", "test_pipeline.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return {
        sid: (brand or "UNKNOWN", model or "UNKNOWN", remark)
        for sid, (brand, model, _t, _c, remark, _nu, _o) in mod.EXPECTED.items()
    }


# report queries run this many times on each fresh result, as several
# readers of one dashboard would; report_p50_s is the median over all
# runs.  The one cheap cluster summary gets more rounds for a steady median.
REPORT_ROUNDS = 2
SUMMARY_ROUNDS = 20


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


# ---------------------------------------------------------------------------
# batch_ingest
# ---------------------------------------------------------------------------

# stage sequence and arguments of P.run_pipeline's defaults
STAGES = [
    ("coerce_and_derive", lambda df, w: P.coerce_and_derive(df)),
    ("normalize", lambda df, w: P.normalize(df)),
    ("match_catalog", lambda df, w: P.match_catalog(df, w.model_ref)),
    ("label_cascades", lambda df, w: P.label_cascades(df)),
    ("regex_stage", lambda df, w: P.regex_stage(df, w.regex_kb)),
    ("capacity_from_text", lambda df, w: P.capacity_from_text(df)),
    ("infer_models", lambda df, w: P.infer_models(df)),
    ("mark_price_outliers", lambda df, w: P.mark_price_outliers(df)),
    ("add_intervals", lambda df, w: P.add_intervals(df)),
    ("finalize", lambda df, w: P.finalize(df, w.fx, None)),
]
RX_REMARKS = [P.R_RX_UNIQUE, P.R_RX_MULTI, P.R_RX_NB_UNIQUE, P.R_RX_NB_MULTI]

REPORTS = {
    "brand_share": lambda s: A.fold_others(
        A.group_share(s, "brand", "amount_in_usd", qty_col="qty_n").select(
            "brand", "amount", "amount_prop"
        ),
        "brand",
    ).collect(),
    "interval_share": lambda s: A.group_share(
        s, "capacity_interval", "amount_in_usd", qty_col="qty_n"
    ).collect(),
    "top3": lambda s: A.top_k(A.group_share(s, "brand", "amount_in_usd"), "amount", 3).collect(),
    "year_slice": lambda s: H.year_slice(s, "date_parsed", 2024).groupBy("month").count().collect(),
}


class BatchIngest:
    """Sequential ~1.3k-row customs batches: run_pipeline -> render_export
    -> upsert_delta on shipment_id into a history preloaded with ~100k
    cleaned rows -> the four report queries on the new snapshot."""

    name = "batch_ingest"

    def __init__(self, spark, work: str, seed: int, tracer=None,
                 batch_rows: int = 1300, preload_rows: int = 100_000):
        self.spark, self.sc = spark, spark.sparkContext
        self.table = os.path.join(work, "history")
        self.seed, self.tracer = seed, tracer
        self.batch_rows, self.preload_rows = batch_rows, preload_rows
        self.expected = _expected_fixture_labels()
        self.op_s: list[float] = []      # raw batch -> committed in history
        self.report_s: list[float] = []  # one report query on the new snapshot
        self.setup_s = 0.0
        self.busy_s = 0.0
        self.items = 0
        self.sizes: dict = {}
        self._preloaded = False

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        t0 = time.perf_counter()
        kb = gen.extended_kb(self.seed)
        self.model_ref = self.spark.createDataFrame(kb.model_ref, MODEL_REF_SCHEMA)
        self.regex_kb = self.spark.createDataFrame(kb.regex_kb, REGEX_KB_SCHEMA)
        self.fx = fixtures.fx_rates_df(self.spark)
        self.gen = gen.CustomsGen(self.seed, kb, set(self.expected))
        # the preload's ids are known before it is written, so the first
        # batch already re-delivers some of them as corrections
        self.gen.add_history(range(gen.PRELOAD_ID_BASE, gen.PRELOAD_ID_BASE + self.preload_rows))
        self.sizes = {
            "batch_rows": self.batch_rows,
            "preload_rows": self.preload_rows,
            "kb_models": len(kb.model_ref),
            "kb_patterns": len(kb.regex_kb),
        }
        self.setup_s += time.perf_counter() - t0

    def _preload(self, cleaned) -> None:
        """The history: ``preload_rows`` rows with ids from
        ``gen.PRELOAD_ID_BASE`` up, row ``j`` a copy of the first batch's
        cleaned row ``j mod n``, written by one upsert."""
        t0 = time.perf_counter()
        spark = self.spark
        rows = sorted(cleaned.collect(), key=lambda r: r[ID])
        template = spark.createDataFrame(
            [tuple(r) + (i,) for i, r in enumerate(rows)],
            StructType(cleaned.schema.fields + [StructField("__i", IntegerType())]),
        ).drop(ID)
        preload = (
            spark.range(self.preload_rows)
            .withColumn("__i", (F.col("id") % len(rows)).cast("int"))
            .join(F.broadcast(template), "__i")
            .withColumn(ID, F.col("id") + gen.PRELOAD_ID_BASE)
            .select(*cleaned.columns)
        )
        DL.upsert_delta(spark, self.table, preload, [ID])
        self._preloaded = True
        self.setup_s += time.perf_counter() - t0

    def _raw(self, batch):
        return self.spark.createDataFrame(batch.rows, SHIPMENTS_SCHEMA)

    # -- one batch ---------------------------------------------------------

    def op(self, b: int) -> None:
        """One batch, timed from the raw rows to the commit, then the
        reports.  Before the first commit the history does not exist yet:
        it is built from this batch's cleaned rows, and that time goes to
        ``setup_s``, not to the batch."""
        batch = self.gen.batch(self.batch_rows)
        raw = self._raw(batch)
        tr = self.tracer or NULL_TRACER
        with tr.span("batch.clean", b):
            out, t_clean = _timed(lambda: self._clean(raw, b, tr))
        if not self._preloaded:
            self._preload(out)
        t0 = time.perf_counter()
        with tr.span("batch.commit", b):
            with tr.span("delta.upsert", b):
                version = DL.upsert_delta(self.spark, self.table, out, [ID])
            t1 = time.perf_counter()
            with tr.span("delta.snapshot", b):
                snap = DL.read_delta(self.spark, self.table)
            for _ in range(REPORT_ROUNDS):
                for name, q in REPORTS.items():
                    with tr.span(f"report.{name}", b):
                        self.report_s.append(_timed(lambda: q(snap))[1])
        self.op_s.append(t_clean + t1 - t0)
        self.busy_s += t_clean + time.perf_counter() - t0
        self.items += len(batch.rows)
        self.sizes.update(corrections_per_batch=batch.corrections,
                          kept_rows_per_batch=len(batch.kept_ids), row_mix=batch.mix)
        n = out.count()
        if self.tracer is not None:
            self._count_winners(b)
            self._count_commit(version, n, b)
        check(n == len(batch.kept_ids), f"batch {b}: {n} rows after F1/F2, expected {len(batch.kept_ids)}")
        self._check_fixtures(out.filter(F.col(ID) <= max(gen.FIXTURE_IDS)).collect())
        self.gen.add_history(batch.kept_ids)
        self._check_history(snap)
        self.spark.catalog.clearCache()

    def _clean(self, raw, b, tr):
        """Raw batch -> materialized cleaned rows: the ``run_pipeline``
        call untraced, the stage-cut path traced."""
        if self.tracer is None:
            out = P.render_export(P.run_pipeline(raw, self.model_ref, self.regex_kb, self.fx))
            return out.localCheckpoint(eager=True)
        return self._cut_pipeline(raw, b, tr)

    def _cut_pipeline(self, raw, b, tr):
        """run_pipeline's stages with a checkpoint cut after each, plus the
        plan, job and join counts of every stage.  The cut outputs of the
        two join stages are kept for ``_count_winners``."""
        self.sc.setJobGroup(f"pipeline-{b}", "pipeline")
        build = plan = execute = 0.0
        shuffle = cand = 0
        self._join_cuts = {}
        df = raw
        with tr.span("pipeline", b):
            for name, step in STAGES:
                with tr.span(f"stage.{name}", b):
                    df, t_build = _timed(lambda: step(df, self))
                    _, t_plan = _timed(lambda: df._jdf.queryExecution().executedPlan())
                    cut, t_exec = _timed(lambda: df.localCheckpoint(eager=True))
                build, plan, execute = build + t_build, plan + t_plan, execute + t_exec
                pm = plan_metrics(df)
                shuffle += pm["shuffle_bytes"]
                if name in ("match_catalog", "regex_stage"):
                    cand += pm["cond_join_rows"]
                    self._join_cuts[name] = cut
                df = cut
            with tr.span("pipeline.materialize", b):
                out, t_build = _timed(lambda: P.render_export(df))
                out, t_exec = _timed(lambda: out.localCheckpoint(eager=True))
            build, execute = build + t_build, execute + t_exec
        jobs, tasks = job_counts(self.sc, f"pipeline-{b}")
        self.sc.setLocalProperty("spark.jobGroup.id", None)  # later jobs are not the pipeline's
        for k, v in [
            ("pipeline.build_s", build), ("pipeline.plan_s", plan),
            ("pipeline.exec_s", execute), ("pipeline.jobs", jobs),
            ("pipeline.tasks", tasks), ("pipeline.shuffle_bytes", shuffle),
            ("fuzzy_join.candidate_rows", cand),
        ]:
            tr.count(k, v, b)
        self._join_cand = cand
        return out

    def _count_winners(self, b: int) -> None:
        """Rows that got a brand, model or regex winner, over the join
        candidates; counted after the batch, outside every span and outside
        the pipeline's job group."""
        catalog, regex = self._join_cuts["match_catalog"], self._join_cuts["regex_stage"]
        winners = (
            catalog.filter(F.col("brand").isNotNull()).count()
            + catalog.filter(F.col("model").isNotNull()).count()
            + regex.filter(F.col("remark").isin(RX_REMARKS)).count()
        )
        cand = self._join_cand
        self.tracer.count("fuzzy_join.winner_ratio", winners / cand if cand else 0.0, b)

    def _count_commit(self, version: int, batch_rows: int, b: int) -> None:
        adds, removes = [], 0
        log = os.path.join(self.table, "_delta_log", f"{version:020d}.json")
        with open(log) as f:
            for line in f:
                action = json.loads(line)
                if "add" in action:
                    adds.append(action["add"])
                removes += "remove" in action
        rows = sum(json.loads(a["stats"])["numRecords"] for a in adds if a.get("stats"))
        for k, v in [
            ("delta.bytes_written", sum(a["size"] for a in adds)),
            ("delta.write_amp", rows / batch_rows),
            ("delta.files_added", len(adds)),
            ("delta.files_removed", removes),
        ]:
            self.tracer.count(k, v, b)

    # -- checks ------------------------------------------------------------

    def _check_fixtures(self, rows) -> None:
        got = {
            r[ID]: (r["brand"], r["model"], r["remark"])
            for r in rows if r[ID] in gen.FIXTURE_IDS
        }
        check(got == self.expected, f"planted fixture rows changed: {_diff(got, self.expected)}")

    def _check_history(self, snap) -> None:
        n, distinct, total = snap.agg(
            F.count("*"), F.countDistinct(ID), F.sum(ID)
        ).first()
        want = self.gen.history
        check(
            (n, distinct, total) == (len(want), len(want), sum(want)),
            f"history holds {n} rows / {distinct} ids (sum {total}); "
            f"expected {len(want)} distinct ids (sum {sum(want)})",
        )

    # -- results -----------------------------------------------------------

    COUNTED = ["pipeline.build_s", "pipeline.plan_s", "pipeline.exec_s",
               "pipeline.jobs", "pipeline.tasks", "pipeline.shuffle_bytes",
               "fuzzy_join.candidate_rows", "fuzzy_join.winner_ratio",
               "delta.bytes_written", "delta.write_amp",
               "delta.files_added", "delta.files_removed"]
    LAYER_METRICS = [
        *COUNTED, *[f"stage.{name}_s" for name, _ in STAGES],
        "delta.upsert_s", "delta.snapshot_s", *[f"report.{name}_s" for name in REPORTS],
        "trace.cycle_s", "trace.cycle_remainder_s",
    ]

    def layer_metrics(self) -> dict:
        tr = self.tracer
        out = {k: tr.count_median(k) for k in self.COUNTED}
        for name, _ in STAGES:
            out[f"stage.{name}_s"] = tr.median(f"stage.{name}")
        out["delta.upsert_s"] = tr.median("delta.upsert")
        out["delta.snapshot_s"] = tr.median("delta.snapshot")
        for name in REPORTS:
            out[f"report.{name}_s"] = tr.median(f"report.{name}")
        cycle = ("batch.clean", "batch.commit")
        out["trace.cycle_s"] = statistics.median(tr.batch_sums(cycle))
        # the cycle's time outside every stage, Delta and report span
        uncovered = (*cycle, "pipeline")
        out["trace.cycle_remainder_s"] = statistics.median(tr.batch_sums(uncovered, self_time=True))
        return out


def _diff(got: dict, want: dict) -> dict:
    return {k: (got.get(k), want.get(k)) for k in set(got) | set(want) if got.get(k) != want.get(k)}


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------

NUM_HASHES, BANDS, SHINGLE_N, VERIFY_JACCARD = 16, 4, 3, 0.7


class CorpusDedup:
    """minhash_signatures -> lsh_similar_pairs -> exact-Jaccard verify ->
    connected_components -> cluster summary over a generated corpus
    amplified with planted exact and near duplicates."""

    name = "corpus_dedup"

    def __init__(self, spark, work: str, seed: int, tracer=None, n_base: int = 5000):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.n_base = n_base
        self.op_s: list[float] = []      # signatures -> clusters
        self.report_s: list[float] = []  # cluster summary query
        self.busy_s = 0.0
        self.items = 0
        self.sizes: dict = {}

    def setup(self) -> None:
        t0 = time.perf_counter()
        self.corpus = gen.corpus(self.seed, n_base=self.n_base)
        self.docs = self.spark.createDataFrame(self.corpus.docs, "doc_id long, text string")
        self.sizes = {
            "docs": len(self.corpus.docs),
            "dup_share": round(self.corpus.dup_share, 4),
            "exact_groups": len(self.corpus.exact_groups),
            "near_copies": self.corpus.near_copies,
        }
        self.setup_s = time.perf_counter() - t0

    def op(self, r: int) -> None:
        """One dedup pass over the corpus, then the summary rounds."""
        tr = self.tracer or NULL_TRACER
        docs = self.docs
        t0 = time.perf_counter()
        with tr.span("dedup", r):
            with tr.span("dedup.signatures", r):
                sigs = D.minhash_signatures(docs, "doc_id", "text", NUM_HASHES, SHINGLE_N)
                sigs = sigs.localCheckpoint(eager=True)
            with tr.span("dedup.candidates", r):
                cand = D.lsh_similar_pairs(sigs, "doc_id", NUM_HASHES, BANDS)
                cand = cand.localCheckpoint(eager=True)
            with tr.span("dedup.verify", r):
                verified = self._verify(docs, cand)
                if self.tracer is not None:
                    verified = verified.localCheckpoint(eager=True)
            with tr.span("dedup.components", r):
                comps = D.connected_components(verified)
        t1 = time.perf_counter()
        for _ in range(SUMMARY_ROUNDS):
            with tr.span("dedup.summary", r):
                summary, t_summary = _timed(lambda: self._summary(comps))
            self.report_s.append(t_summary)
        self.op_s.append(t1 - t0)
        self.busy_s += time.perf_counter() - t0
        self.items += len(self.corpus.docs)
        if self.tracer is not None:
            n_cand, n_ver = cand.count(), verified.count()
            tr.count("dedup.candidate_pairs", n_cand, r)
            tr.count("dedup.verified_pairs", n_ver, r)
            tr.count("dedup.verify_precision", n_ver / n_cand if n_cand else 0.0, r)
        self._check(comps, summary, self.corpus)

    @staticmethod
    def _verify(docs, cand):
        pairs = D.exact_jaccard_of_pairs(docs, cand.select("id_a", "id_b"), "doc_id", "text", SHINGLE_N)
        return pairs.filter(F.col("jaccard") >= VERIFY_JACCARD).select("id_a", "id_b")

    @staticmethod
    def _summary(comps):
        return (
            comps.groupBy("label")
            .agg(F.count("*").alias("cluster_size"), F.min("node").alias("keep_doc_id"))
            .collect()
        )

    @staticmethod
    def _check(comps, summary, corpus) -> None:
        labels = dict(comps.collect())
        check(sum(r["cluster_size"] for r in summary) == len(labels),
              "cluster sizes do not add up to the clustered documents")
        check(all(r["keep_doc_id"] == r["label"] for r in summary),
              "a cluster label is not its smallest member")
        split = [g for g in corpus.exact_groups if len({labels.get(d) for d in g}) != 1 or g[0] not in labels]
        check(not split, f"{len(split)} planted exact-duplicate groups split, e.g. {split[:3]}")

    SPANS = ["signatures", "candidates", "verify", "components"]
    COUNTED = ["dedup.candidate_pairs", "dedup.verified_pairs", "dedup.verify_precision"]
    LAYER_METRICS = [*[f"dedup.{k}_s" for k in SPANS], *COUNTED, "trace.dedup_run_s"]

    def layer_metrics(self) -> dict:
        tr = self.tracer
        out = {f"dedup.{k}_s": tr.median(f"dedup.{k}") for k in self.SPANS}
        for k in self.COUNTED:
            out[k] = tr.count_median(k)
        out["trace.dedup_run_s"] = tr.median("dedup")
        return out


WORKLOADS = {w.name: w for w in (BatchIngest, CorpusDedup)}


def probe_for(workload: str, spark, work: str, seed: int, tracer):
    """The other workload at a small size, so a traced run measures
    every layer; its numbers describe the probe input, not ``workload``."""
    if workload == BatchIngest.name:
        return CorpusDedup(spark, work, seed, tracer, n_base=500)
    return BatchIngest(spark, work, seed, tracer, batch_rows=300, preload_rows=5000)


_COUNT_UNITS = {"jobs": "count", "tasks": "count", "shuffle_bytes": "bytes",
                "candidate_rows": "count", "winner_ratio": "ratio",
                "bytes_written": "bytes", "write_amp": "ratio",
                "files_added": "count", "files_removed": "count",
                "candidate_pairs": "count", "verified_pairs": "count",
                "verify_precision": "ratio"}
LAYER_UNITS = {
    k: "s" if k.endswith("_s") else _COUNT_UNITS[k.split(".", 1)[1]]
    for k in ["session.start_s", *BatchIngest.LAYER_METRICS, *CorpusDedup.LAYER_METRICS]
}
