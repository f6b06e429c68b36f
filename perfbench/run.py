"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Starts a local Spark session on every
core, sets the workload up several times (``setup_s`` is the median CPU
seconds of a set-up), runs untimed warm-up rounds, then closed-loop rounds
with one client until ``--seconds`` have passed (``round_cpu_s`` is the
median CPU seconds of a round), then the run's output checks.  A traced run
then makes the workload's write phase.  The last line of standard output
is one JSON object: end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``.  Everything the run writes stays
under ``.perfbench_work/`` in the checkout; a traced run leaves its spans
and deterministic counters in ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

WORK_DIR = ".perfbench_work"

END_TO_END = {"setup_s": "s", "round_cpu_s": "s"}

# (ops, fields): the per-call Spark counters and times reported per op
_UNITS = {"wall_ms": "ms", "jobs": "count", "tasks": "count",
          "cpu_ms": "ms", "shuffle_bytes": "bytes", "input_rows": "count",
          "driver_ms": "ms", "self_ms": "ms"}
OP_GROUPS = (
    (("db.search", "db.search_text", "db.search_batch", "db.search_hybrid",
      "db.add_batch", "db.remove_docs", "db.get_docs"),
     ("jobs", "tasks", "cpu_ms", "shuffle_bytes", "input_rows", "driver_ms",
      "self_ms")),
    # set-up calls: their spans below give the split
    (("db.add_batch_df", "db.build_text_index", "db.to_local_searcher"),
     ("wall_ms", "jobs", "cpu_ms")),
    (tuple(f"queries.{q}" for q in (
        "dedup_minhash_pairs", "dedup_simhash_pairs", "dedup_lsh_jaccard",
        "dedup_semantic_clusters", "dedup_incremental_batch",
        "dedup_incremental_persisted", "curation_funnel")),
     ("wall_ms", "jobs", "cpu_ms", "shuffle_bytes", "input_rows",
      "driver_ms")),
)
STORAGE = {"files_live": "count", "db_bytes": "bytes", "versions": "count",
           "space_amp": "ratio", "add_batch.bytes_written": "bytes",
           "add_batch.files_written": "count", "add_batch.write_amp": "ratio",
           "remove_docs.bytes_written": "bytes"}
# layers whose call count is reported beside their time
COUNTED = ("textindex.compact",)
# phases whose calls the per-layer metrics average (warm-up is left out)
TIMED = ("setup", "measure", "write")
PROCESS = {"proc.driver_rss_peak_mb": "MB", "proc.jvm_rss_peak_mb": "MB",
           "spark.session_start_s": "s", "trace.overhead_frac": "ratio"}


def per_layer_units() -> dict[str, str]:
    from perfbench.tracing import LAYERS
    units = {f"{op}.{f}": _UNITS[f]
             for ops, fields in OP_GROUPS for op in ops for f in fields}
    units.update({f"{name}.ms": "ms" for name, _m, _p in LAYERS})
    units.update({f"{name}.calls": "count" for name in COUNTED})
    units["local_serve.search.p90_ms"] = "ms"
    units["round.wall_s"] = "s"
    units["setup.wall_s"] = "s"
    units.update({f"storage.{k}": u for k, u in STORAGE.items()})
    units.update(PROCESS)
    return units


def quantile(values, q: float) -> float:
    """The q-quantile, refused unless at least ten samples lie beyond it
    (so a p90 needs 100 samples); the median needs just one."""
    vals = sorted(values)
    if not vals:
        raise ValueError("no samples")
    need = round(10 / (1 - q)) if q > 0.5 else 1
    if len(vals) < need:
        raise ValueError(f"p{q * 100:g} needs {need} samples, "
                         f"got {len(vals)}")
    if q == 0.5:
        return statistics.median(vals)
    return statistics.quantiles(vals, n=100, method="inclusive")[
        round(q * 100) - 1]


def start_spark(root: str, work: str):
    cpus = len(os.sched_getaffinity(0))
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join((
            f"--conf spark.sql.warehouse.dir={work}/warehouse",
            f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={work}/tmp",
            "--conf spark.ui.enabled=false",
            "pyspark-shell")),
    })
    import tempfile
    tempfile.tempdir = os.path.join(work, "tmp")
    from binaryvectordb_spark.session import get_spark
    spark = get_spark("perfbench", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run(spark, workload: str, seed: int, seconds: float, trace: bool,
        work: str, sizes: dict | None = None) -> dict:
    """Set up, check and measure one workload; returns the run record."""
    from perfbench.tracing import Tracer, patch_layers, tree_cpu_s
    from perfbench.workloads import WORKLOADS

    tr = Tracer(spark.sparkContext if trace else None)
    wl = WORKLOADS[workload](spark, work, seed, tr, **(sizes or {}))
    attempted = failed = 0
    rounds: list[float] = []
    rounds_cpu: list[float] = []

    def do_steps(steps, phase: str, i: int) -> float:
        nonlocal attempted, failed
        total = 0.0
        tr.phase = (phase, i)
        for name, fn, args, check, uses_spark in steps:
            attempted += 1
            try:
                res, dt = tr.call(name, fn, *args, spark=uses_spark)
                total += dt
                if not check(res):
                    failed += 1
                    print(f"perfbench: output check failed: {name} "
                          f"{phase} {i}", file=sys.stderr)
            except Exception:
                failed += 1
                traceback.print_exc(file=sys.stderr)
        return total

    with patch_layers(tr) if trace else nullcontext():
        setup_s, setup_cpu_s = [], []
        # a traced run reports no setup_s, so it sets up once
        for rep in range(1 if trace else wl.SETUP_REPS):
            tr.phase = ("setup", rep)
            c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
            wl.setup(rep)
            setup_s.append(time.perf_counter() - t0)
            setup_cpu_s.append(tree_cpu_s(os.getpid()) - c0)
        for i in range(wl.WARMUP_ROUNDS):
            do_steps(wl.round(i), "warmup", i)
        t_end = time.perf_counter() + seconds
        i = wl.WARMUP_ROUNDS
        while True:
            c0 = tree_cpu_s(os.getpid())
            rounds.append(do_steps(wl.round(i), "measure", i))
            rounds_cpu.append(tree_cpu_s(os.getpid()) - c0)
            i += 1
            if time.perf_counter() >= t_end:
                break
        tr.phase = ("checks", 0)
        checks = wl.run_checks()
        # the write phase feeds per-layer metrics only, so untraced runs,
        # which report none, skip it
        if trace:
            do_steps(wl.write_phase(), "write", 0)
    print(f"perfbench: {workload} seed {seed}: set-ups "
          f"{[round(s, 2) for s in setup_s]} s, set-up cpu "
          f"{[round(s, 2) for s in setup_cpu_s]} s, rounds "
          f"{[round(r, 2) for r in rounds]} s, round cpu "
          f"{[round(r, 2) for r in rounds_cpu]} s, checks {checks}",
          file=sys.stderr)
    attempted += len(checks)
    for name, ok in checks:
        if not ok:
            failed += 1
            print(f"perfbench: run check failed: {name}", file=sys.stderr)
    measured = [c for c in tr.calls if c["phase"][0] == "measure"]
    return {"workload": workload, "seed": seed, "attempted": attempted,
            "failed": failed, "setup_s": setup_s,
            "setup_cpu_s": setup_cpu_s, "rounds_s": rounds,
            "rounds_cpu_s": rounds_cpu,
            "calls": tr.calls, "measured": measured, "spans": tr.spans,
            "checks": checks, "storage": wl.storage(),
            "recall_at_10": getattr(wl, "recall", None)}


def end_to_end(rec: dict) -> dict[str, float]:
    return {"setup_s": statistics.median(rec["setup_cpu_s"]),
            "round_cpu_s": statistics.median(rec["rounds_cpu_s"])}


def per_layer(rec: dict, session_start_s: float, jvm_pid) -> dict[str, float]:
    from perfbench.tracing import driver_rss_peak_mb, pid_rss_peak_mb
    units = per_layer_units()
    # every per-layer metric is reported; one the workload does not reach
    # reads 0
    out = dict.fromkeys(units, 0.0)
    # per-call means over every call outside warm-up
    timed = [c for c in rec["calls"] if c["phase"][0] in TIMED]
    for ops, fields in OP_GROUPS:
        for op in ops:
            cs = [c for c in timed if c["name"] == op]
            for f in fields:
                if cs:
                    out[f"{op}.{f}"] = statistics.fmean(c[f] for c in cs)
    phase_of = {c["op"]: c["phase"][0] for c in rec["calls"]}
    by_layer: dict[str, list[float]] = {}
    for s in rec["spans"]:
        if s["op"] is not None and phase_of[s["op"]] in TIMED:
            by_layer.setdefault(s["name"], []).append(
                (s["end"] - s["start"]) * 1e3)
    for name in by_layer:
        if f"{name}.ms" in out:
            out[f"{name}.ms"] = statistics.fmean(by_layer[name])
        if name in COUNTED:
            out[f"{name}.calls"] = len(by_layer[name])
    local = by_layer.get("local_serve.search", [])
    if len(local) >= 100:
        out["local_serve.search.p90_ms"] = quantile(local, 0.9)
    for k, v in rec["storage"].items():
        out[f"storage.{k}"] = v
    out["round.wall_s"] = statistics.median(rec["rounds_s"])
    out["setup.wall_s"] = statistics.median(rec["setup_s"])
    # counter and span reading after each measured call, over the wall of
    # the measured calls
    overhead = sum(c["overhead_ms"] for c in rec["measured"])
    measured = sum(c["wall_ms"] for c in rec["measured"])
    out.update({"proc.driver_rss_peak_mb": driver_rss_peak_mb(),
                "proc.jvm_rss_peak_mb": pid_rss_peak_mb(jvm_pid),
                "spark.session_start_s": session_start_s,
                "trace.overhead_frac": overhead / measured})
    return out


def deterministic_counters(rec: dict) -> dict[str, float]:
    """Counts that repeat exactly for one seed: per call of the first
    set-up, the first measured round and the write phase, plus the DB's
    storage shape and the bytes the writes left."""
    out = {}
    first_round = min(c["phase"][1] for c in rec["measured"])
    first = {("setup", 0), ("measure", first_round), ("write", 0)}
    seen: dict[tuple, int] = {}
    for c in rec["calls"]:
        phase = tuple(c["phase"])
        n = seen[phase] = seen.get(phase, -1) + 1   # position in its phase
        if phase in first and c["spark"]:
            for f in ("jobs", "tasks", "input_rows"):
                out[f"{phase[0]}.{n}.{c['name']}.{f}"] = c[f]
    for k in ("files_live", "db_bytes", "versions", "add_batch.bytes_written",
              "add_batch.files_written", "remove_docs.bytes_written"):
        if k in rec["storage"]:
            out[f"storage.{k}"] = rec["storage"][k]
    return out


def write_trace(path: str, rec: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"workload": rec["workload"], "seed": rec["seed"],
                   "counters": deterministic_counters(rec),
                   "checks": rec["checks"],
                   "recall_at_10": rec["recall_at_10"],
                   "calls": rec["calls"], "spans": rec["spans"]}, f)


def _jvm(spark):
    """The JVM process the session launched (None for an attached one)."""
    return getattr(spark.sparkContext._gateway, "proc", None)


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM, and with it the Python
    workers, to exit."""
    gateway, proc = spark.sparkContext._gateway, _jvm(spark)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "binaryvectordb_spark")):
        print("perfbench: run from the root of a binaryvectordb_spark "
              "checkout (no binaryvectordb_spark/ here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench.workloads import WORKLOADS
    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(root, WORK_DIR, f"run-{a.workload}-{os.getpid()}")
    t0 = time.perf_counter()
    spark = start_spark(root, work)
    session_start_s = time.perf_counter() - t0
    try:
        rec = run(spark, a.workload, a.seed, a.seconds, bool(a.trace), work)
        if a.trace:
            metrics = per_layer(rec, session_start_s,
                                getattr(_jvm(spark), "pid", None))
            units = per_layer_units()
            write_trace(os.path.join(root, WORK_DIR, "traces",
                                     f"{a.workload}-seed{a.seed}-"
                                     f"{os.getpid()}.json"), rec)
        else:
            metrics, units = end_to_end(rec), END_TO_END
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    correct = rec["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"],
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
