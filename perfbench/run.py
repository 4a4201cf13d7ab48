#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload warehouse_query --seed 1 \
        --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is the full run record: every metric by name with
its unit and sample count, the answer checks, and the box state.

Everything the run writes goes under ``.perfbench_work/`` at the
repository root and is removed at exit. Spark runs ``local[N]`` with
``N = SPARK_GRAFT_CPUS`` (default 4), capped at the core count.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procfs  # noqa: E402
import stats  # noqa: E402

#: set-up repetitions per run; ``setup_s`` takes their median
SETUP_REPS = 3
DEFAULT_CPUS = 4


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(work: str) -> int:
    """Pin cores and keep every scratch path inside ``work``."""
    cpus = min(int(os.environ.get("SPARK_GRAFT_CPUS", DEFAULT_CPUS)),
               os.cpu_count() or 1)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # every JVM, the launcher's too, keeps temp files under ``work``
        # and writes no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return cpus


def start_spark(work: str, name: str):
    from dask_hivemetastore_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{name}", extra_confs={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    spark.sparkContext.setLogLevel("FATAL")
    return spark


def settle(spark) -> None:
    """Start the timed window from a collected heap on both sides and give
    background JIT compilation a moment to finish."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.5)


def stop_spark(spark) -> None:
    """Stop Spark, shut the JVM down and wait until it and its Python
    workers have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    reap_children()


def reap_children(timeout_s: float = 20.0) -> None:
    """Wait for every descendant process; kill any still alive at the end."""
    deadline = time.monotonic() + timeout_s
    while True:
        kids = procfs.descendants(os.getpid())
        if not kids:
            return
        if time.monotonic() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 5.0
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean_per_op(samples: list[float], n_ops: int) -> float:
    return sum(samples) / n_ops if n_ops else 0.0


def run(args: argparse.Namespace, work: str) -> tuple[dict, dict]:
    from harness import Spans, Tracer, closed_loop
    from workloads import WORKLOADS, Ctx

    t_start = time.perf_counter()
    cpus = pin_environment(work)
    box = procfs.box_state()
    stat0 = procfs.read_proc_stat()
    wl = WORKLOADS[args.workload]()
    ctx = Ctx(None, args.seed, os.path.join(work, "run"), Spans(), None)
    with procfs.RssSampler() as rss:
        # inputs and reference answers need no Spark: make them while the
        # JVM starts
        with ThreadPoolExecutor(1) as pool:
            inputs = pool.submit(wl.inputs, ctx)
            t0 = time.perf_counter()
            spark = start_spark(work, wl.name)
            session_s = time.perf_counter() - t0
        try:
            inputs.result()
            ctx.spark = spark
            prep = []
            for _ in range(SETUP_REPS):
                t0 = time.perf_counter()
                wl.setup(ctx)
                prep.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.build(ctx)
            build_s = time.perf_counter() - t0
            setup_spans = ctx.spans
            ctx.spans = Spans()
            warm = closed_loop(lambda i: wl.op(ctx, i), 0.0,
                               min_ops=wl.warmup_ops)
            warmup_s = sum(warm.latencies)
            settle(spark)
            ctx.spans = Spans()
            if args.trace:
                ctx.tracer = Tracer(spark, cpus)
            # a traced run needs a traced and an untraced op at least, to
            # report the tracing overhead
            loop = closed_loop(lambda i: wl.op(ctx, i), args.seconds,
                               ctx.tracer, wl.name,
                               min_ops=max(wl.timed_ops, 2 if args.trace else 1))
            facts = wl.facts()
        finally:
            stop_spark(spark)
    stat1 = procfs.read_proc_stat()
    box.update({
        "load1_after": procfs.load1(),
        "steal_ticks": procfs.steal_delta(stat0, stat1),
        "seed": args.seed,
    })

    failures = warm.failures + loop.failures
    attempted = warm.attempted + loop.attempted
    failed = warm.failed + loop.failed
    n_ops = loop.attempted
    window = sum(loop.latencies)
    setup_s = statistics.median(prep) + build_s + warmup_s
    sp = ctx.spans.samples
    tr = ctx.tracer

    report = {}

    def put(name, value, unit, n):
        report[name] = {"value": value, "unit": unit, "n": n}

    put("setup_s", setup_s, "s", SETUP_REPS)
    put("latency_p50_s", _median(loop.latencies), "s", n_ops)
    tail = stats.tail(loop.latencies)
    if tail is not None:
        put(f"latency_p{tail['p']:g}_s", tail["value"], "s", n_ops)
    put("throughput_per_s", loop.items / window if window else 0.0,
        "1/s", n_ops)
    put("peak_rss_mb", rss.peak["total"], "MiB", 1)
    put("fail_frac", failed / attempted, "fraction", attempted)
    rate = {"warehouse_query": ("queries_per_s", "1/s"),
            "corpus_curation": ("docs_per_s", "docs/s")}.get(wl.name)
    if rate:
        put(rate[0], loop.items / window if window else 0.0, rate[1], n_ops)

    probe = sp.get("similarity.probe_batch", [])
    ingest = sp.get("similarity.append", []) + sp.get("similarity.compact", [])
    if wl.name == "vector_index":
        put("probe_qps", loop.items / sum(probe) if probe else 0.0,
            "queries/s", len(probe))
        put("ingest_vectors_per_s",
            len(sp.get("similarity.append", [])) * wl.batch_rows / sum(ingest)
            if ingest else 0.0, "vectors/s", len(ingest))
        put("recall_at_10", facts["recall_at_10"], "fraction", len(probe))
        ptail = stats.tail(probe)
        if ptail is not None:
            put(f"probe_latency_p{ptail['p']:g}_s", ptail["value"], "s", len(probe))

    layer = {}

    def lay(name, value, unit, n):
        layer[name] = {"value": value, "unit": unit, "n": n}

    lay("session.start_s", session_s, "s", 1)
    lay("setup.prep_s", statistics.median(prep) + build_s, "s", SETUP_REPS)
    lay("setup.warmup_s", warmup_s, "s", warm.attempted)
    lay("plans.build_s", _mean_per_op(sp.get("plans.build", []), n_ops), "s", n_ops)
    lay("exec.action_s", _mean_per_op(sp.get("exec.action", []), n_ops), "s", n_ops)
    lay("metastore.read_table_s",
        _mean_per_op(sp.get("metastore.read_table", []), n_ops), "s", n_ops)
    listed = sum(v for k, v in facts.items() if k.endswith("partitions_listed"))
    kept = sum(v for k, v in facts.items() if k.endswith("partitions_kept"))
    lay("metastore.partitions_listed", listed, "count", 1)
    lay("metastore.partitions_kept", kept, "count", 1)

    ops = tr.ops if tr else []
    for name, key, unit in [
        ("spark.driver_gap_s", "driver_gap_s", "s"),
        ("spark.jobs_per_op", "jobs", "count"),
        ("spark.tasks_per_op", "tasks", "count"),
        ("spark.slot_busy_frac", "slot_busy_frac", "fraction"),
        ("spark.input_bytes_per_op", "input_bytes", "bytes"),
        ("spark.shuffle_bytes_per_op", "shuffle_bytes", "bytes"),
        ("spark.spill_bytes_per_op", "spill_bytes", "bytes"),
        ("jvm.gc_s", "gc_s", "s"),
    ]:
        lay(name, _median(o[key] for o in ops), unit, len(ops))

    from workloads import CURATION_KEYS, REPORT_KEYS, STREAM_KEYS

    for key in REPORT_KEYS + ["events_by_hour", "lineitem_by_month"]:
        xs = sp.get(f"query.{key}", [])
        lay(f"query.{key}.p50_s", _median(xs), "s", len(xs))
    for key in CURATION_KEYS:
        xs = sp.get(f"curation.{key}", [])
        lay(f"curation.{key}.p50_s", _median(xs), "s", len(xs))

    probe_in = [o["member_input_bytes"].get("similarity.probe_batch", 0)
                for o in ops if "similarity.probe_batch" in o["member_input_bytes"]]
    lay("similarity.probe_batch_s", _median(probe), "s", len(probe))
    lay("similarity.probe_input_bytes", _median(probe_in), "bytes", len(probe_in))
    for name in ("build", "append", "compact"):
        xs = (setup_spans if name == "build" else ctx.spans).samples.get(
            f"similarity.{name}", [])
        lay(f"similarity.{name}_s", _median(xs), "s", len(xs))
    lay("similarity.files_before_compact", facts.get("files_before_compact") or 0,
        "count", len(ops))
    lay("similarity.files_after_compact", facts.get("files_after_compact") or 0,
        "count", len(ops))

    for key in STREAM_KEYS:
        xs = sp.get(f"stream.{key}", [])
        lay(f"stream.{key}.drain_s", _median(xs), "s", len(xs))
    batches = tr.stream_batches if tr else []
    traced_ops = len(ops)
    lay("stream.batches", len(batches) / traced_ops if traced_ops else 0,
        "count", len(batches))
    for name, field in [("stream.batch_ms_p50", "triggerExecution"),
                        ("stream.add_batch_ms", "addBatch"),
                        ("stream.planning_ms", "queryPlanning")]:
        lay(name, _median(b["duration_ms"].get(field, 0) for b in batches),
            "ms", len(batches))
    lay("stream.state_rows",
        max((sum(s[0] for s in b["state"]) for b in batches), default=0),
        "rows", len(batches))
    lay("stream.state_bytes",
        max((sum(s[1] for s in b["state"]) for b in batches), default=0),
        "bytes", len(batches))
    lay("peak_rss_mb", rss.peak["total"], "MiB", 1)
    lay("proc.jvm_rss_mb", rss.peak["jvm"], "MiB", 1)
    lay("proc.py_workers_rss_mb", rss.peak["py_workers"], "MiB", 1)

    # the end-to-end figures of the traced run, under names of their own
    layer["op.latency_p50_s"] = report["latency_p50_s"]
    layer["op.throughput_per_s"] = report["throughput_per_s"]
    for name, unit in [("fail_frac", "fraction"), ("queries_per_s", "1/s"),
                       ("docs_per_s", "docs/s"), ("probe_qps", "queries/s"),
                       ("ingest_vectors_per_s", "vectors/s"),
                       ("recall_at_10", "fraction")]:
        # every workload reports every layer; 0 where it has no such work
        layer[name] = report.get(name, {"value": 0, "unit": unit, "n": 0})
    traced = [t for t, f in zip(loop.latencies, loop.traced) if f]
    untraced = [t for t, f in zip(loop.latencies, loop.traced) if not f]
    lay("latency_p50_s.traced", _median(traced), "s", len(traced))
    lay("latency_p50_s.untraced", _median(untraced), "s", len(untraced))
    if traced and untraced:
        lay("trace.overhead_frac", _median(traced) / _median(untraced) - 1.0,
            "fraction", len(loop.latencies))

    record = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "box": box,
        "attempted": attempted,
        "failed": failed,
        "failures": failures[:20],
        "latencies_s": loop.latencies,
        "warmup_latencies_s": warm.latencies,
        "setup_prep_s": prep,
        "build_s": build_s,
        "warmup_s": warmup_s,
        "wall_s": time.perf_counter() - t_start,
        "facts": facts,
        "spans": {k: {"n": len(v), "p50_s": _median(v)}
                  for k, v in sorted(sp.items())},
        "end_to_end": report,
        "per_layer": layer if args.trace else {},
    }
    return record, {"attempted": attempted, "failed": failed,
                    "e2e": report, "layer": layer}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dask_hivemetastore_spark")):
        print("perfbench: no dask_hivemetastore_spark package next to "
              f"{HERE}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(work)
    try:
        record, res = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    pool = res["layer"] if args.trace else res["e2e"]
    metrics = {}
    for m in wanted:
        entry = pool.get(m["name"])
        if entry is None:
            print(f"perfbench: metric {m['name']} was not measured",
                  file=sys.stderr)
            return 3
        metrics[m["name"]] = {"value": entry["value"], "unit": m["unit"]}
    print(json.dumps(record), flush=True)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
