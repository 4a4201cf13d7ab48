"""The benchmark's workloads.

Each op is one fixed unit of work of a few seconds: a report, a pass, a
drain cycle or an index cycle. Inputs and reference answers are made
from the seed before any timer starts; every op checks its answers and
reports failures instead of raising.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen
from harness import OpResult
from oracle import Oracle, answer_diff


class Ctx:
    """Per-run state shared by a workload's set-up and ops."""

    def __init__(self, spark, seed: int, work_dir: str, spans, tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.spans = spans
        self.tracer = tracer
        self._dirs = 0

    def new_dir(self, name: str) -> str:
        """A fresh, empty directory under this run's work directory."""
        self._dirs += 1
        path = os.path.join(self.work_dir, f"{name}-{self._dirs}")
        os.makedirs(path)
        return path

    @contextmanager
    def member(self, name: str):
        """Span plus (when tracing) a job sub-group for one op member."""
        with self.spans.span(name):
            if self.tracer is None:
                yield
            else:
                with self.tracer.member(name):
                    yield


def _copy_inputs(src: str, dst: str, tables: list[str]) -> None:
    for t in tables:
        shutil.copyfile(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")


class Workload:
    """Interface: ``inputs`` (untimed), ``setup`` (timed, repeated),
    ``build`` (timed, once), ``op`` (timed, checked)."""

    name = ""
    #: untimed ops run after set-up, before the timed window
    warmup_ops = 1
    #: the fewest ops a run times, whatever its length in seconds
    timed_ops = 1

    def inputs(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def setup(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def build(self, ctx: Ctx) -> None:
        """Set-up work too costly to repeat, run once after ``setup``."""

    def op(self, ctx: Ctx, i: int) -> OpResult:
        raise NotImplementedError

    def facts(self) -> dict:
        """Per-run counts this workload adds to the run record."""
        return {}


class _RegistryOps(Workload):
    """Ops that run registry query keys over a table directory and compare
    each answer with DuckDB's (``oracle.answer_diff``)."""

    keys: list[str] = []
    tables: list[str] = []

    def _span(self, key: str) -> str:
        return f"query.{key}"

    def _reference(self, data_dir: str) -> None:
        from dask_hivemetastore_spark import plans

        duck = Oracle(data_dir)
        try:
            self.want = {k: duck.answer(plans.ORACLES[k]) for k in self.keys}
        finally:
            duck.close()

    def setup(self, ctx: Ctx) -> None:
        # a fresh table directory per set-up: the engine memoizes scans and
        # scatter copies per directory, so no state crosses set-ups
        self.sf_dir = ctx.new_dir("tables")
        _copy_inputs(self.data_dir, self.sf_dir, self.tables)

    def _run_key(self, ctx: Ctx, key: str, res: OpResult) -> float:
        from dask_hivemetastore_spark import plans

        fn = plans.QUERIES[key]
        t0 = time.perf_counter()
        with ctx.member(self._span(key)):
            with ctx.spans.span("plans.build"):
                df = fn(ctx.spark, self.sf_dir)
            with ctx.spans.span("exec.action"):
                pdf = df.toPandas()
        dt = time.perf_counter() - t0
        diff = answer_diff(pdf, self.want[key])
        if diff is not None:
            res.failures.append(f"{key}: {diff}")
        return dt


# --------------------------------------------------------------- warehouse

REPORT_KEYS = [
    "q1_pricing_summary", "q3_top_orders", "q5_local_supplier",
    "q9_product_profit", "q18_large_orders", "q21_suppliers_waiting",
]

_EVENTS_AGG_SQL = """
SELECT event_type, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events
WHERE CAST(strftime(ts, '%Y%m%d%H') AS INTEGER) >= {lo}
  AND CAST(strftime(ts, '%Y%m%d%H') AS INTEGER) < {hi}
GROUP BY event_type
"""

_LINEITEM_AGG_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
WHERE CAST(strftime(l_shipdate, '%Y%m') AS INTEGER) BETWEEN {lo} AND {hi}
GROUP BY l_returnflag, l_linestatus
"""


class WarehouseQuery(_RegistryOps):
    """One op = one report: six TPC-H registry queries, then two
    partition-pruned aggregates read through ``ThinCatalog``."""

    name = "warehouse_query"
    keys = REPORT_KEYS
    tables = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem"]
    scale = datagen.Scale(sf=0.05, events=60_000)

    def inputs(self, ctx: Ctx) -> None:
        self.data_dir = ctx.new_dir("inputs")
        datagen.write_tpch(self.data_dir, ctx.seed, self.scale)
        events = datagen.events_table(ctx.seed, self.scale.events)
        pq.write_table(events, f"{self.data_dir}/events.parquet")
        # the seed places the predicates; their widths are fixed so every
        # seed keeps the same number of partitions (7 days, 18 months)
        rng = random.Random(ctx.seed)
        day0 = rng.randrange(0, 23)
        self.hours = (_hour_key(day0, 0), _hour_key(day0 + 7, 0))
        m0 = rng.randrange(0, 60)
        self.months = (_month_key(m0), _month_key(m0 + 17))
        self._reference(self.data_dir)
        duck = Oracle(self.data_dir)
        try:
            lo, hi = self.hours
            self.want["events_by_hour"] = duck.answer(
                _EVENTS_AGG_SQL.format(lo=lo, hi=hi))
            lo, hi = self.months
            self.want["lineitem_by_month"] = duck.answer(
                _LINEITEM_AGG_SQL.format(lo=lo, hi=hi))
        finally:
            duck.close()
        # the Hive-partitioned copies' contents, partition key attached
        ev = events.select(["event_id", "user_id", "event_type", "value"])
        hour = pc.cast(pc.strftime(events["ts"], "%Y%m%d%H"), pa.int32())
        self.events_part = ev.append_column("hour", hour)
        li = pq.read_table(f"{self.data_dir}/lineitem.parquet", columns=[
            "l_orderkey", "l_quantity", "l_extendedprice", "l_discount",
            "l_returnflag", "l_linestatus", "l_shipdate"])
        month = pc.cast(pc.strftime(li["l_shipdate"], "%Y%m"), pa.int32())
        self.lineitem_part = li.drop(["l_shipdate"]).append_column(
            "ship_month", month)

    def setup(self, ctx: Ctx) -> None:
        from dask_hivemetastore_spark.sources.metastore import TableDef, ThinCatalog

        super().setup(ctx)
        root = ctx.new_dir("hive")
        cat = ThinCatalog()
        for name, table, key, cols in [
            ("events_by_hour", self.events_part, "hour",
             [("event_id", "bigint"), ("user_id", "bigint"),
              ("event_type", "string"), ("value", "double")]),
            ("lineitem_by_month", self.lineitem_part, "ship_month",
             [("l_orderkey", "bigint"), ("l_quantity", "double"),
              ("l_extendedprice", "double"), ("l_discount", "double"),
              ("l_returnflag", "string"), ("l_linestatus", "string")]),
        ]:
            loc = f"{root}/{name}"
            pq.write_to_dataset(table, loc, partition_cols=[key])
            cat.register(TableDef(name=name, location=loc, columns=cols,
                                  partition_keys=[(key, "int")]))
        self.catalog = cat
        self.filters = {
            "events_by_hour": "hour >= {} AND hour < {}".format(*self.hours),
            "lineitem_by_month": "ship_month >= {} AND ship_month <= {}".format(
                *self.months),
        }

    def _catalog_query(self, ctx: Ctx, name: str, res: OpResult) -> float:
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        with ctx.member(f"query.{name}"):
            with ctx.spans.span("plans.build"):
                with ctx.spans.span("metastore.read_table"):
                    df = self.catalog.read_table(
                        ctx.spark, name, partition_filter=self.filters[name])
                if name == "events_by_hour":
                    df = df.groupBy("event_type").agg(
                        F.count("*").alias("n_events"),
                        F.round(F.sum("value"), 2).alias("total_value"),
                        F.countDistinct("user_id").alias("n_users"))
                else:
                    df = df.groupBy("l_returnflag", "l_linestatus").agg(
                        F.count("*").alias("n_lines"),
                        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                        F.round(F.sum(F.col("l_extendedprice")
                                      * (1 - F.col("l_discount"))), 2)
                        .alias("revenue"))
            with ctx.spans.span("exec.action"):
                pdf = df.toPandas()
        dt = time.perf_counter() - t0
        diff = answer_diff(pdf, self.want[name])
        if diff is not None:
            res.failures.append(f"{name}: {diff}")
        return dt

    def op(self, ctx: Ctx, i: int) -> OpResult:
        res = OpResult()
        res.seconds = sum(self._run_key(ctx, k, res) for k in self.keys)
        for name in ("events_by_hour", "lineitem_by_month"):
            res.seconds += self._catalog_query(ctx, name, res)
        res.items = len(self.keys) + 2
        return res

    def facts(self) -> dict:
        out = {}
        for name in ("events_by_hour", "lineitem_by_month"):
            out[f"metastore.{name}.partitions_listed"] = len(
                self.catalog.list_partitions(name))
            out[f"metastore.{name}.partitions_kept"] = len(
                self.catalog.list_partitions(name, self.filters[name]))
        return out


def _hour_key(day: int, hour: int) -> int:
    d = np.datetime64("2024-01-01") + np.timedelta64(day, "D")
    return int(str(d).replace("-", "")) * 100 + hour


def _month_key(m: int) -> int:
    return (1995 + m // 12) * 100 + m % 12 + 1


# ---------------------------------------------------------------- curation

CURATION_KEYS = [
    "quality_score_docs", "decontaminate_docs", "quality_report_by_status",
]
#: streaming keys; a pass drains each once
STREAM_KEYS = ["stream_dedup_near_docs"]


class CorpusCuration(_RegistryOps):
    """One op = one curation pass over the seeded corpus: the batch
    curation keys, then one drain of the streaming near-dedup, whose
    answer equals the batch ``dedup_near_minhash`` answer."""

    name = "corpus_curation"
    keys = CURATION_KEYS + STREAM_KEYS
    tables = ["documents", "lineitem"]
    scale = datagen.Scale(sf=0.01, docs=1_000, near_dups=80)

    def _span(self, key: str) -> str:
        return f"{'stream' if key in STREAM_KEYS else 'curation'}.{key}"

    def inputs(self, ctx: Ctx) -> None:
        self.data_dir = ctx.new_dir("inputs")
        datagen.write_tpch(self.data_dir, ctx.seed, self.scale)
        docs = datagen.documents_table(ctx.seed, self.scale.docs,
                                       self.scale.near_dups)
        self.n_docs = docs.num_rows
        pq.write_table(docs, f"{self.data_dir}/documents.parquet")
        self._reference(self.data_dir)

    def op(self, ctx: Ctx, i: int) -> OpResult:
        res = OpResult()
        res.seconds = 0.0
        for k in self.keys:
            if k in STREAM_KEYS and ctx.tracer is not None:
                ctx.tracer.expect_stream(1)
            res.seconds += self._run_key(ctx, k, res)
        res.items = self.n_docs
        return res


# ------------------------------------------------------------------ vector

class VectorIndex(Workload):
    """An IVF index built in set-up; one op = one index cycle of
    ``appends`` × (append one batch, probe one query batch), then one
    compaction. Probes are scored against numpy brute force."""

    name = "vector_index"
    # a cycle takes 4-5 s, so a time-boxed window would time one cycle on
    # some runs and two on others; a fixed count of two keeps runs alike.
    # After one warm-up cycle the next is still 10-25% slower than the one
    # after it, so set-up runs two.
    warmup_ops = 2
    timed_ops = 2
    base_rows = 8_000
    batch_rows = 400
    query_batch = 16
    appends = 1
    k = 10
    nprobe = 4
    n_cells = 16
    max_batches = 40

    def inputs(self, ctx: Ctx) -> None:
        self.data_dir = ctx.new_dir("inputs")
        total = self.base_rows + self.batch_rows * self.max_batches
        # many more clusters than cells keep cell sizes, and so probe
        # cost, alike across seeds
        self.vecs = datagen.clustered_vectors(ctx.seed, total, clusters=128)
        pq.write_table(datagen.embeddings_table(self.vecs[:self.base_rows]),
                       f"{self.data_dir}/base.parquet")
        self.rng = np.random.default_rng([ctx.seed, 5])
        self.recalls: list[float] = []
        self.files: list[tuple[int, int]] = []

    def _batch_path(self, b: int) -> str:
        if b >= self.max_batches:
            raise RuntimeError(f"more than {self.max_batches} append batches")
        path = f"{self.data_dir}/batch{b}.parquet"
        if not os.path.exists(path):
            lo = self.base_rows + b * self.batch_rows
            pq.write_table(datagen.embeddings_table(
                self.vecs[lo:lo + self.batch_rows], lo), path)
        return path

    def setup(self, ctx: Ctx) -> None:
        self.index = os.path.join(ctx.new_dir("index"), "ivf")
        self.base = ctx.spark.read.parquet(f"{self.data_dir}/base.parquet")
        self.n_resident = self.base_rows
        self.n_batches = 0

    def build(self, ctx: Ctx) -> None:
        # one build per run: a rebuild costs ~5 s warm, and the run budget
        # (all runs of every workload in under an hour) has no room for three
        from dask_hivemetastore_spark.operators import similarity as sim

        with ctx.spans.span("similarity.build"):
            sim.ivf_build_index(self.base, self.index, n_cells=self.n_cells,
                                seed=ctx.seed, drift_reference=False)

    def _check_probe(self, pdf, qids: list[int]) -> tuple[list[str], float]:
        corpus = self.vecs[:self.n_resident]
        errs, recall = [], 0.0
        for q in qids:
            rows = pdf[pdf["q_id"] == q]
            scores = corpus @ corpus[q]
            scores[q] = -np.inf
            truth = set(np.argsort(-scores, kind="stable")[:self.k].tolist())
            ids = rows["vec_id"].astype(int).tolist()
            if len(ids) != self.k or len(set(ids)) != self.k or any(
                    not 0 <= v < self.n_resident for v in ids):
                errs.append(f"probe q={q}: malformed ids {ids}")
                continue
            if not np.allclose(rows["cosine"].to_numpy(), scores[ids], atol=2e-5):
                errs.append(f"probe q={q}: cosines differ from the vectors' dot")
            recall += len(truth & set(ids)) / self.k
        return errs, recall / max(1, len(qids))

    def op(self, ctx: Ctx, i: int) -> OpResult:
        from dask_hivemetastore_spark.operators import similarity as sim

        res = OpResult()
        res.seconds = 0.0
        spark = ctx.spark
        for _ in range(self.appends):
            batch = spark.read.parquet(self._batch_path(self.n_batches))
            t0 = time.perf_counter()
            with ctx.member("similarity.append"):
                sim.ivf_append(batch, self.index)
            res.seconds += time.perf_counter() - t0
            self.n_resident += self.batch_rows
            self.n_batches += 1
            qids = sorted(int(q) for q in self.rng.choice(
                self.base_rows, self.query_batch, replace=False))
            t0 = time.perf_counter()
            with ctx.member("similarity.probe_batch"):
                pdf = sim.ivf_probe_indexed_batch(
                    self.base, self.index, qids, k=self.k,
                    nprobe=self.nprobe).toPandas()
            res.seconds += time.perf_counter() - t0
            errs, recall = self._check_probe(pdf, qids)
            res.failures.extend(errs)
            self.recalls.append(recall)
            res.items += len(qids)
        t0 = time.perf_counter()
        with ctx.member("similarity.compact"):
            info = sim.ann_index_compact(spark, self.index)
        res.seconds += time.perf_counter() - t0
        n_in, n_out = int(info["n_files_in"]), int(info["n_files_out"])
        self.files.append((n_in, n_out))
        if n_out > n_in:
            res.failures.append(f"compact: {n_in} files became {n_out}")
        return res

    def facts(self) -> dict:
        return {
            "vectors_appended": self.n_batches * self.batch_rows,
            "recall_at_10": float(np.mean(self.recalls)) if self.recalls else None,
            "files_before_compact": float(np.median([f[0] for f in self.files]))
            if self.files else None,
            "files_after_compact": float(np.median([f[1] for f in self.files]))
            if self.files else None,
        }


WORKLOADS = {w.name: w for w in (WarehouseQuery, CorpusCuration, VectorIndex)}
