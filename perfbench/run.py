#!/usr/bin/env python3
"""perfbench: the engine's benchmark of record.

    python3 perfbench/run.py --workload {olap,curation,recommend,stream}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. One run: start a local Spark session
(pinned resources below), warm the workload up once while checking
every output against its oracle, then measure steady passes for about
``--seconds`` seconds. ``--trace 1`` measures the same untraced passes,
then as many traced ones, and prints the per-layer metrics instead of
the end-to-end ones (tracing overhead = traced − untraced ``pass_s``).

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``;
the line before it carries diagnostics (host canary, settings, sample
counts, failures). Inputs and Spark scratch live under
``perfbench/.work/`` and are deleted at exit. Exits 2 without a result
when the engine package is not next to ``perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "pyspark_movie_recommender_spark"

TABLE_SF = 0.01  # 60k lineitem, 10k events, 500 documents, 500 embeddings
TABLE_SEED = 20260101  # fixed tables; --seed orders the calls on them
DRIVER_MEM = "3g"
# the JVM is still warming up after one pass; a run's pass_s is the
# median of at least this many, so one slow pass cannot set it
MIN_PASSES = 2


def canary() -> float:
    """Seconds for the fixed NumPy matmul of ``bench.py:rig_canary`` —
    timed before and after each run so a slow host shows apart from
    slow code."""
    import numpy as np

    a = np.arange(2000 * 2000, dtype="float64").reshape(2000, 2000) / 1e6
    t0 = time.perf_counter()
    for _ in range(3):
        a = a @ a / 1e3
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of this machine since boot, from
    /proc/stat: time the hypervisor gave to other guests shows as steal."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it): the highest nearest-rank
    percentile with min(10, n // 4) samples beyond it."""
    xs = sorted(samples)
    n = len(xs)
    beyond = min(10, n // 4)
    return xs[n - 1 - beyond], 100.0 * (n - beyond) / n, beyond


def pin_environment(work: str) -> dict[str, str]:
    """Resource settings of every run; must precede the engine import
    (the session module reads SPARK_GRAFT_CPUS when it loads)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    settings = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # no hsperfdata files in /tmp from the spark-submit launcher JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    os.environ.update(settings)
    for var in ("SPARK_GRAFT_CHECKPOINT_DIR", "SPARK_GRAFT_CKPT_DISABLE", "SPARK_GRAFT_SF_DIR"):
        os.environ.pop(var, None)
    return settings


def spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat[stat.rindex(")") + 2 :].split()[1]) == pid:
            kids.append(int(entry))
    return kids


def _tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) over this process, the JVM
    and its Python workers."""
    kb = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, close the gateway and wait for the JVM and every
    Python worker under it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while _tree(os.getpid())[1:] and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in _tree(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def measure(wl, seconds: float) -> tuple[list[float], list[float], float]:
    """(pass seconds, request latency samples, untimed warm-up seconds)
    of a closed loop.

    ``recommend`` runs one training pass and its serving warm-up, then
    requests for ``seconds``; each request is a sample. Query workloads
    run whole passes, at least ``MIN_PASSES``, until ``seconds`` are up;
    each query call is a sample. (A tail taken over the dozen per-query
    means sits in a gap between two queries and jumped by a fifth
    between runs; over every call of two passes it moves less.)"""
    passes: list[float] = []
    requests: list[float] = []
    warm_s = 0.0
    t_end = time.perf_counter() + seconds
    if hasattr(wl, "request"):
        passes.append(wl.steady_pass())
        warm_s = wl.serve_warm_up()
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end:
            dt = wl.request()
            if dt is not None:  # a failed request has no latency
                requests.append(dt)
    else:
        wl.call_log.clear()
        while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
            passes.append(wl.steady_pass())
        requests = [dt for v in wl.call_log.values() for dt in v]
    return passes, requests, warm_s


def layer_metrics(probe, passes, untraced_passes, requests, cores, extra) -> dict:
    """Per-layer metrics of the traced passes, per pass."""
    n = max(1, len(passes))
    ps, rs, sp = probe.pass_spans, probe.request_spans, probe.spark_totals
    pass_s = statistics.median(passes)
    m: dict[str, tuple[float, str]] = {}
    for key, unit in SPAN_KEYS:
        span, field = key.rsplit(".", 1)
        src = rs if span == "recommend.request" else ps
        div = max(1, len(requests)) if span == "recommend.request" else n
        m[key] = ((src[span][0] if field == "calls" else src[span][1]) / div, unit)
    # recommend: jobs of one recommend_for_user; query workloads: of one
    # query call (``requests`` holds one sample per call)
    jobs = probe.request_jobs or [sp["jobs"] / max(1, len(requests))]
    m["spark.jobs_per_request"] = (statistics.mean(jobs), "count")
    for k, unit in SPARK_UNITS.items():
        m[f"spark.{k}"] = (sp[k] / n, unit)
    m["spark.core_busy_ratio"] = (sp["executor_run_s"] / n / (pass_s * cores), "ratio")
    m["trace.overhead_s"] = (pass_s - statistics.median(untraced_passes), "s")
    m.update(extra)
    return m


SPARK_UNITS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "input_bytes": "B",
    "shuffle_write_bytes": "B",
    "shuffle_read_bytes": "B",
    "spill_bytes": "B",
    "python_bytes": "B",
}
SPAN_KEYS = [
    ("sources.load_table.calls", "count"),
    ("sources.load_table.s", "s"),
    ("relational.calls", "count"),
    ("relational.s", "s"),
    ("udf_ops.calls", "count"),
    ("udf_ops.s", "s"),
    ("lineage.ckpt.calls", "count"),
    ("lineage.ckpt.s", "s"),
    ("cache.track.calls", "count"),
    ("cache.release_all.s", "s"),
    ("driver_scalar.calls", "count"),
    ("driver_scalar.s", "s"),
    ("recommend.grid_search.s", "s"),
    ("recommend.fold_in.s", "s"),
    ("recommend.request.s", "s"),
]
STREAM_UNITS = {
    "batches": "count",
    "trigger_ms": "ms",
    "add_batch_ms": "ms",
    "planning_ms": "ms",
    "commit_ms": "ms",
    "state_rows": "count",
    "state_mem_bytes": "B",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["olap", "curation", "recommend", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not __debug__:
        print("perfbench: the output checks are asserts; run without -O", file=sys.stderr)
        return 2

    for need in (os.path.join(PKG, "__init__.py"), os.path.join("tests", "oracle.py")):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; nothing to measure", file=sys.stderr)
            return 2
    sys.path[:0] = [ROOT, HERE]

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    settings = pin_environment(work)
    cores = int(settings["SPARK_GRAFT_CPUS"])
    canary_pre = canary()
    steal_pre = cpu_ticks()

    import datagen
    from tracing import Probe, Spans, StreamProgress
    from workloads import Checks, WORKLOADS

    data_dir = os.path.join(work, "data")
    datagen.write_tables(data_dir, TABLE_SF, TABLE_SEED)

    spans = None
    if args.trace:
        spans = Spans()
        spans.install()  # before anything imports the query registry

    from pyspark_movie_recommender_spark import get_spark

    checks = Checks()
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=spark_conf(work))
    session_s = time.perf_counter() - t0
    try:
        t1 = time.perf_counter()
        wl = WORKLOADS[args.workload](spark, data_dir, args.seed, checks)
        init_s = time.perf_counter() - t1
        warm_s = wl.warm_up()
        passes, requests, serve_warm_s = measure(wl, args.seconds)
        # set-up is every untimed warm-up step, wherever the workload takes it
        warm_s += serve_warm_s
        setup_s = session_s + init_s + warm_s
        call_log = dict(getattr(wl, "call_log", {}))
        traced = None
        if args.trace:
            stream = None
            if any(n.startswith("streaming_") for n in getattr(wl, "names", ())):
                stream = StreamProgress()
                spark.streams.addListener(stream.listener)
            wl.probe = Probe(spark, spans, stream)
            spans.active = True
            traced = measure(wl, args.seconds)
            spans.active = False
            if stream is not None:
                stream.wait_terminated()
        rss_mb = peak_rss_mb()
    finally:
        stop_spark(spark)
    steal_post = cpu_ticks()
    canary_post = canary()

    if not requests:
        checks.fail("no request completed")
        requests = [math.nan]
    req_tail, tail_pct, beyond = tail(requests)
    diag = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "canary_s": [round(canary_pre, 4), round(canary_post, 4)],
        "cpu_steal_share": round((steal_post[0] - steal_pre[0]) / max(1, steal_post[1] - steal_pre[1]), 4),
        "settings": {**settings, "master": f"local[{cores}]", "clients": 1, "table_sf": TABLE_SF},
        "passes_s": [round(p, 4) for p in passes],
        "calls_s": {k: [round(x, 4) for x in v] for k, v in call_log.items()},
        "requests": len(requests),
        "requests_s": [round(r, 4) for r in requests],
        "request_tail": {"percentile": round(tail_pct, 1), "beyond": beyond, "samples": len(requests)},
        "session_s": round(session_s, 4),
        "warm_up_s": round(warm_s, 4),
        "peak_rss_mb": round(rss_mb, 1),
        "error_rate": checks.failed / max(1, checks.attempted),
        "failures": checks.failures[:10],
    }
    if args.workload == "recommend":
        diag["test_rmse"] = wl.test_rmse
        diag["best_rank"] = wl.best_rank

    if traced is None:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (statistics.median(passes), "s"),
            "request_p50_s": (statistics.median(requests), "s"),
            "request_tail_s": (req_tail, "s"),
        }
    else:
        t_passes, t_requests, _ = traced
        extra = {
            "session.start_s": (session_s, "s"),
            "setup.warm_up_s": (warm_s, "s"),
            # per-layer, not end-to-end: JVM heap growth makes it vary by
            # up to a fifth between runs
            "peak_rss_mb": (rss_mb, "MB"),
        }
        # zero on workloads with no streaming replay
        st = wl.probe.stream.totals if wl.probe.stream is not None else defaultdict(float)
        n = len(t_passes)
        # state sizes are peaks; the rest are per-pass sums
        extra.update(
            {f"streaming.{k}": (st[k] if k.startswith("state") else st[k] / n, u) for k, u in STREAM_UNITS.items()}
        )
        # input rows over replay time (sum of micro-batch trigger times)
        replay_s = st["trigger_ms"] / 1e3
        extra["streaming.events_per_s"] = (st["input_rows"] / replay_s if replay_s else 0.0, "1/s")
        metrics = layer_metrics(wl.probe, t_passes, passes, t_requests, cores, extra)
        diag["traced_passes_s"] = [round(p, 4) for p in t_passes]

    for name, (value, unit) in metrics.items():
        if not math.isfinite(value):
            checks.fail(f"metric {name} is {value}")
    print(json.dumps(diag, default=str))
    print(
        json.dumps(
            {
                "correct": checks.failed == 0,
                "attempted": checks.attempted,
                "failed": checks.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
