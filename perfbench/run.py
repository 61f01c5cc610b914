#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see ``perfbench/README.md``) against the engine's
public Python API from the checkout this file sits in, checks every
output, prints the workload's named metrics for people, and prints as
the last line of stdout one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics (a separate, traced run).  Exit code 0 only when
every correctness check passed; 2 when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
# setup_s is the median of this many set-ups, each launching a JVM; at
# 10-15 s a set-up, a third one would push the gated runs past their
# time budget on a 4-core host
SETUPS = 2


class Run:
    """State of one benchmark run: the session, the operation log and
    the correctness checks.  Workloads issue operations through
    :meth:`op`, which times them and never lets one failure stop the
    run."""

    def __init__(self, workload: str, seed: int, host: dict,
                 tracer=None) -> None:
        from perfbench.harness import Session

        self.workload, self.seed, self.host = workload, seed, host
        self.work = WORK
        self.scratch = os.path.join(WORK, "runs", f"{workload}-{seed}")
        shutil.rmtree(self.scratch, ignore_errors=True)
        os.makedirs(self.scratch)
        self.session = Session(WORK, host)
        self.spark = None
        self.ops: list[dict] = []
        self.seen: set[str] = set()   # op kinds already run in this context
        self.checks: dict[str, dict] = {}
        self.known_defects: list[dict] = []
        self.tracer = tracer

    # -- operations --------------------------------------------------------
    def op(self, kind: str, fn, raw: int = 0, output: str | None = None,
           warm_up: bool = False):
        """Run and time one operation.  The first operation of each kind
        on a SparkContext is marked ``cold`` (it pays one-time planning,
        code generation and worker memory growth) and is left out of
        every median, as is every operation a workload issues with
        ``warm_up`` set."""
        op = {"id": f"op-{len(self.ops):04d}", "kind": kind, "raw": raw,
              "output": output, "cold": warm_up or kind not in self.seen}
        self.seen.add(kind)
        sc = self.spark.sparkContext
        sc.setLocalProperty("perfbench.op", op["id"])
        if self.tracer:
            self.tracer.begin_op(op)
        op["t0"] = time.time()
        p0 = time.perf_counter()
        try:
            res, op["ok"] = fn(), True
        except Exception as e:   # noqa: BLE001 — counted in `failed`
            res, op["ok"] = None, False
            op["error"] = f"{type(e).__name__}: {str(e)[:400]}"
        op["wall"] = time.perf_counter() - p0
        op["t1"] = time.time()
        sc.setLocalProperty("perfbench.op", None)
        op["result"] = res
        self.ops.append(op)
        if self.tracer:
            self.tracer.end_op(op)
        return res

    def timed(self, kind: str, ops: list[dict] | None = None) -> list[dict]:
        return [o for o in (self.ops if ops is None else ops)
                if o["kind"] == kind and o["ok"] and not o["cold"]]

    def walls(self, kind: str, ops: list[dict] | None = None) -> list[float]:
        return [o["wall"] for o in self.timed(kind, ops)]

    def rates(self, kind: str) -> list[float]:
        """Raw MB per second of each successful ``kind`` operation."""
        from perfbench.harness import MB

        return [o["raw"] / MB / o["wall"] for o in self.timed(kind)]

    def check(self, name: str, ok, detail=None) -> None:
        c = self.checks.setdefault(name, {"passed": 0, "failed": 0})
        if ok:
            c["passed"] += 1
        else:
            c["failed"] += 1
            c["detail"] = repr(detail)[:300]

    # -- set-up ----------------------------------------------------------------
    def start_context(self, cores: int | None = None,
                      event_log_dir: str | None = None) -> None:
        """A new SparkContext (the previous one must be stopped): every
        op kind is cold again on it."""
        self.spark = self.session.start(cores, event_log_dir)
        self.seen = set()

    def setup(self, n: int = SETUPS) -> dict:
        """Session start plus warm-up, ``n`` times, each from no
        JVM at all: the start launches the JVM and its SparkContext, the
        warm-up brings up the Python workers.  Returns the per-set-up
        seconds."""
        from perfbench.workloads import warm_up

        starts, warms = [], []
        for _ in range(n):
            self.session.close()   # shutting down is not part of set-up
            p0 = time.perf_counter()
            self.start_context()
            p1 = time.perf_counter()
            warm_up(self)
            p2 = time.perf_counter()
            starts.append(p1 - p0)
            warms.append(p2 - p1)
        return {"start_s": starts, "warmup_s": warms,
                "setup_s": [a + b for a, b in zip(starts, warms)]}

    def close(self) -> None:
        self.session.close()
        self.spark = None


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _print_named(run: Run, setup: dict, named: dict, rss,
                 attempted: int, failed: int) -> None:
    from perfbench.harness import MB, median

    rows = [("setup_s", median(setup["setup_s"]),
             f"s (median of {len(setup['setup_s'])}: "
             + " ".join(f"{x:.3f}" for x in setup["setup_s"]) + ")"),
            ("peak_rss_mb", rss.peak / MB,
             f"MB (client peak {rss.peak_client / MB:.0f}, JVM and "
             f"workers peak {rss.peak_engine / MB:.0f})"),
            ("failed_ops_share", failed / attempted,
             f"ratio ({failed}/{attempted})")]
    rows += [(k, v, u) for k, (v, u) in named.items()]
    print(f"== {run.workload} seed={run.seed} host: nproc="
          f"{run.host['nproc']} mem={run.host['mem_total_gb']}GB "
          f"heap={run.host['driver_mem_gb']}g probe={run.host['probe']}")
    for name, value, unit in rows:
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"   {name:<22} {shown:>12}  {unit}")
    for k in sorted({o["kind"] for o in run.ops}):
        w = run.walls(k)
        cold = [o["wall"] for o in run.ops if o["kind"] == k and o["cold"]]
        print(f"   op {k:<19} n={len(w):<3} p50={median(w):.4f}s  "
              + " ".join(f"{x:.2f}" for x in w)
              + f"  (cold first: {' '.join(f'{x:.2f}' for x in cold)})")
    for c, v in sorted(run.checks.items()):
        state = "ok" if not v["failed"] else f"FAILED {v.get('detail')}"
        print(f"   check {c:<40} {v['passed']} passed  {state}")
    for d in run.known_defects:
        print(f"   known defect {d['name']}: {d['call']} -> {d['status']}")
    for o in run.ops:
        if not o["ok"]:
            print(f"   failed op {o['id']} {o['kind']}: {o.get('error')}")


def main(argv=None) -> int:
    args = parse_args(argv)
    from perfbench.harness import MB, RssSampler, host_info, median
    from perfbench.workloads import WORKLOADS

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    host = host_info()
    tracer = None
    if args.trace:
        from perfbench.tracing import Tracer
        tracer = Tracer()
    run = Run(args.workload, args.seed, host, tracer)
    wl = WORKLOADS[args.workload](run)
    try:
        wl.prepare()
        with RssSampler() as rss:
            if tracer:
                setup = tracer.traced_run(run, wl, args.seconds)
            else:
                setup = run.setup()
                wl.loop(args.seconds)
                if hasattr(wl, "loop_one_core"):
                    wl.loop_one_core(args.seconds / 2)
    finally:
        run.close()
    if tracer:
        from perfbench.tracing import LAYER_METRICS

        layers = tracer.layers(run, wl, setup)
    shutil.rmtree(run.scratch, ignore_errors=True)
    attempted = len(run.ops)
    failed = sum(1 for o in run.ops if not o["ok"])
    correct = failed == 0 and all(not c["failed"]
                                  for c in run.checks.values())
    if tracer:
        tracer.print_report(run, wl, layers)
        units = {n: u for n, u, _ in LAYER_METRICS}
        metrics = {k: {"value": v, "unit": units[k]}
                   for k, v in layers.items()}
    else:
        e2e, named = wl.summary()
        e2e["setup_s"] = median(setup["setup_s"])
        e2e["peak_rss_mb"] = rss.peak / MB
        metrics = {k: {"value": v, "unit": UNITS[k]}
                   for k, v in sorted(e2e.items())}
        _print_named(run, setup, named, rss, attempted, failed)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "footprint_vs_snappy": "ratio",
         "op_vs_parquet": "ratio"}


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    try:
        import vcf2parquet_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        sys.exit(2)
    sys.exit(main())
