#!/usr/bin/env python3
"""Same-host benchmark of the transcript-lakehouse engine.

    python3 perfbench/run.py --workload impute_pass --seed 1 --seconds 5 \
        --trace 0

Run from the repository root. One driver process at ``local[<usable cpus>]``
with one client thread runs the named workload (perfbench/workloads.py)
against the engine's public functions, checks every op's output, and prints
a report line followed by the result line the metric names in
BENCHMARK.json are read from: the ``end_to_end`` metrics with ``--trace 0``,
the ``per_layer`` ones with ``--trace 1`` (spans, job groups, status-store
stage metrics and ENGINE_TIMING phase marks, perfbench/trace.py).
Everything the run writes stays under ``.bench_work/`` in the repository.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
# op kinds whose first (cold) run is reported as session.first_op_cold_s.*
COLD_KINDS = ["maintain_pass", "full_scan", "ingest", "upsert",
              "point_read", "range_read", "cadence"]


def storage_policy() -> dict:
    """Fixed storage for every run: Spark scratch and temp files on the
    checkout's own file system. engine/session.py turns shuffle compression
    off only when SPARK_LOCAL_DIRS is under /dev/shm, so the medium is part
    of the configuration and is recorded with the result."""
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # the engine's session warm-up (engine/session.py) costs ~18 s per
        # fresh JVM on a 4-vCPU host; the workloads warm up with their own
        # build and first ops instead (session.first_op_cold_s)
        "ENGINE_WARM_SESSION": "0",
    })
    return {"SPARK_LOCAL_DIRS": os.path.relpath(local, ROOT),
            "tmpfs": _fs_type(local) == "tmpfs"}


def _fs_type(path: str) -> str:
    best, fstype = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, typ = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) \
                    and len(mnt) > len(best):
                best, fstype = mnt, typ
    return fstype


class TreeRss:
    """Peak resident memory of this process and all its descendants,
    sampled from /proc every 0.2 s on a daemon thread."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._t = threading.Thread(target=self._run, daemon=True)
        self._t.start()

    def tree(self) -> list[int]:
        parent = {}
        for p in os.listdir("/proc"):
            if p.isdigit():
                try:
                    with open(f"/proc/{p}/stat") as f:
                        parent[int(p)] = int(f.read().rsplit(")", 1)[1]
                                             .split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        out, frontier = [], [os.getpid()]
        while frontier:
            pid = frontier.pop()
            out.append(pid)
            frontier += [c for c, pp in parent.items() if pp == pid]
        return out

    def sample(self) -> None:
        total = 0
        for pid in self.tree():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.wait(0.2):
            self.sample()

    def stop(self) -> float:
        self._stop.set()
        self._t.join()
        self.sample()
        return self.peak / (1024 * 1024)


def fingerprint(seed: int, storage: dict) -> dict:
    import pyspark
    cpus = sorted(os.sched_getaffinity(0))
    return {"nproc": len(cpus), "cpu_set": cpus,
            "loadavg_before": os.getloadavg(),
            "spark": pyspark.__version__,
            "python": platform.python_version(), "seed": seed, **storage}


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def geomean(xs: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isfile(os.path.join(ROOT, "engine", "__init__.py")):
        print("perfbench: engine/ not found beside BENCHMARK.json; run from "
              "the repository root", file=sys.stderr)
        return 2

    storage = storage_policy()
    sys.path.insert(0, ROOT)
    from perfbench import trace, workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}",
              file=sys.stderr)
        return 2
    rss = TreeRss()
    env = fingerprint(args.seed, storage)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    from engine.session import get_spark
    cpus = env["nproc"]
    extra = ({"spark.ui.retainedJobs": "100000",
              "spark.ui.retainedStages": "100000"} if args.trace else {})
    t0 = time.perf_counter()
    spark = get_spark(app=f"perfbench-{args.workload}",
                      master=f"local[{cpus}]", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        tracer = trace.Tracer(spark.sparkContext, enabled=bool(args.trace))
        r = workloads.Round(spark, tracer, args.seconds)
        with tracer.patched():
            res = workloads.WORKLOADS[args.workload](r, run_dir, args.seed)
        layers = tracer.layer_metrics(spark) if args.trace else None
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    peak_mb = rss.stop()
    env["loadavg_after"] = os.getloadavg()

    setup_s = session_s + res["setup_s"]
    kinds = {k: statistics.median(v) for k, v in r.samples.items()}
    writes, reads = ([x for k in res["gated"][g] for x in r.samples[k]]
                     for g in ("write", "read"))
    e2e = {
        "setup_s": (setup_s, "s", 1),
        "write_p50_s": (statistics.median(writes), "s", len(writes)),
        "read_p50_s": (statistics.median(reads), "s", len(reads)),
        "op_geomean_s": (geomean(list(kinds.values())), "s",
                         sum(len(v) for v in r.samples.values())),
        "peak_rss_mb": (peak_mb, "MB", 1),
    }
    detail = {
        "setup_s": (setup_s, "s", 1),
        "failed_ops_frac": (r.failed / max(1, r.attempted), "fraction",
                            r.attempted),
        "peak_rss_mb": e2e["peak_rss_mb"],
        **res["e2e"],
    }
    report = {
        "workload": args.workload, "trace": args.trace, "env": env,
        "rounds": res["rounds"], "table_rows": res["table_rows"],
        "metrics": {k: _fmt(v) for k, v in detail.items()},
        "op_samples_s": r.samples, "cold_s": r.cold,
        "session_start_s": session_s,
        "failures": r.failures,
    }
    if args.trace:
        metrics = per_layer(spec, layers, r, res, session_s, e2e)
        report["span_calls"] = layers["span_calls"]
        report["phase_marks"] = {
            k: {"sum_s": tracer.marks.sums[k], "n": tracer.marks.counts[k]}
            for k in sorted(tracer.marks.sums)}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print("perfbench-report " + json.dumps(report, default=str))
    print(json.dumps({"correct": r.failed == 0, "attempted": r.attempted,
                      "failed": r.failed, "metrics": metrics}))
    return 0


def _fmt(v: tuple) -> dict:
    out = {"value": v[0], "unit": v[1], "n": v[2]}
    if len(v) > 3:
        out.update(v[3])
    return out


def per_layer(spec: dict, layers: dict, r, res: dict, session_s: float,
              e2e: dict) -> dict:
    """Every ``per_layer`` metric named in BENCHMARK.json. Span metrics are
    means per call; phase seconds and counts are per round of the timed
    window; file-pruning fractions are means per read. A layer the
    workload does not cross reads 0."""
    rounds = max(1, res["rounds"])
    vals = dict(layers["metrics"])
    for label, total in r.tracer.marks.sums.items():
        vals[f"{label}_s"] = total / rounds
    for name, xs in r.counts.items():
        per_read = name.startswith("scan.")
        vals[name] = statistics.fmean(xs) if per_read else sum(xs) / rounds
    vals.update(res["layers"])
    vals["session.start_s"] = session_s
    for k in COLD_KINDS:
        vals[f"session.first_op_cold_s.{k}"] = r.cold.get(k, 0.0)
    for k in ("write_p50_s", "read_p50_s", "op_geomean_s"):
        vals[f"traced.{k}"] = e2e[k][0]
    return {m["name"]: {"value": float(vals.get(m["name"], 0.0)),
                        "unit": m["unit"]} for m in spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
