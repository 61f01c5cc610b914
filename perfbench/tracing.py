"""The traced run: per-layer numbers measured from outside the engine.

Four sources, all read from the benchmark's side:

1. wrappers on driver-side public functions, patched at their module
   attributes (``table.commit_snapshot`` / ``live_parts`` /
   ``committed_parts`` / ``snapshots``, ``decode.plan_decode_parts``,
   ``encode.plan_partitions_arrow`` / ``plan_file_units``,
   ``sources.read_corpus``);
2. Spark's event log, turned on through ``get_spark(extra_conf=...)``:
   job, stage and task spans with shuffle bytes, fetch wait and GC;
3. the per-unit ``metrics`` the engine writes into each manifest
   (``stage_seconds``, ``ipc_seconds``) and the ``pack_metrics/`` files;
4. in-process replays with no JVM: ``kernels`` on arrays cut from the
   inputs (``kernel_table``), ``decode.read_blocks_file`` on the blocks
   files the traced operations read, and ``select.choose_codecs`` on
   the profiles recorded in the manifests.

Stage walls are split into layers by each layer's share of the stage's
summed task time; whatever no layer claims is reported as the layer
group's ``unattributed_s``, so the layers of every wall sum back to it.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time

from perfbench.harness import median

ENCODE_OPS = ("encode", "encode_clustered", "append")
DECODE_OPS = ("verify", "full_decode", "lookup", "sql", "read_blocks")
LOG_SCANS = ("table.live_parts", "table.committed_parts", "table.snapshots")
PLANNERS = ("encode.plan_partitions_arrow", "encode.plan_file_units")


def _mod(name: str):
    # ``vcf2parquet_spark.encode`` / ``.decode`` are shadowed on the
    # package by the re-exported functions of the same name
    return sys.modules[name]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op: dict | None = None
        self.patches: list[tuple] = []
        self.op_data: dict[str, dict] = {}
        self.event_log_dir: str | None = None

    # -- spans ------------------------------------------------------------
    def _open(self, name: str, **attrs) -> dict:
        span = {"id": len(self.spans), "name": name, "start": time.time(),
                "end": None,
                "parent": self.stack[-1] if self.stack else None,
                "op": self.op["id"] if self.op else None, **attrs}
        self.spans.append(span)
        self.stack.append(span["id"])
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.time()
        self.stack.pop()

    def begin_op(self, op: dict) -> None:
        self.op = op
        op["span"] = self._open(f"op.{op['kind']}")

    def end_op(self, op: dict) -> None:
        self._close(op["span"])
        op["span"] = op["span"]["id"]
        self.op = None
        if self.patches:          # only ops of the traced phase
            self.op_data[op["id"]] = self._collect(op)

    # -- wrappers ---------------------------------------------------------
    def wrap(self, module, attr: str, name: str, describe=None) -> None:
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            span = tracer._open(name)
            try:
                out = orig(*args, **kwargs)
                if describe:
                    span.update(describe(out, kwargs))
                return out
            finally:
                tracer._close(span)

        setattr(module, attr, traced)
        self.patches.append((module, attr, orig))

    def install(self) -> None:
        table = _mod("vcf2parquet_spark.table")
        for fn in ("commit_snapshot", "live_parts", "committed_parts",
                   "snapshots"):
            self.wrap(table, fn, f"table.{fn}")
        self.wrap(_mod("vcf2parquet_spark.decode"), "plan_decode_parts",
                  "decode.plan_decode_parts",
                  lambda out, kw: {
                      "planned": list(out),
                      "candidates": len(kw["manifests"])
                      if kw.get("manifests") is not None else None})
        enc = _mod("vcf2parquet_spark.encode")
        self.wrap(enc, "plan_partitions_arrow", "encode.plan_partitions_arrow")
        self.wrap(enc, "plan_file_units", "encode.plan_file_units")
        self.wrap(_mod("vcf2parquet_spark.sources"), "read_corpus",
                  "sources.read_corpus")

    def uninstall(self) -> None:
        for module, attr, orig in reversed(self.patches):
            setattr(module, attr, orig)
        self.patches = []

    # -- per-op side data (manifests, pack metrics, planned files) ----------
    def _collect(self, op: dict) -> dict:
        from vcf2parquet_spark import table as tbl

        out, res = op["output"], op["result"]
        data: dict = {}
        if out is None or not op["ok"]:
            return data
        if op["kind"] in ENCODE_OPS and isinstance(res, dict):
            units = []
            for pid in res.get("encoded_this_run", []):
                with open(tbl.manifest_path(out, pid)) as f:
                    units.append(json.load(f))
            data["units"] = units
            data["pack_s"] = 0.0
            for p in glob.glob(os.path.join(out, "pack_metrics", "*.json")):
                with open(p) as f:
                    data["pack_s"] += json.load(f)["pack_seconds"]
        data["n_snapshots"] = len(tbl.snapshot_files(out))
        data["n_manifests"] = len(os.listdir(
            os.path.join(out, tbl.MANIFEST_DIR)))
        if op["kind"] in DECODE_OPS:
            live = self._orig("live_parts")(out)
            planned = [s for s in self.spans if s["op"] == op["id"]
                       and s["name"] == "decode.plan_decode_parts"]
            parts = planned[-1]["planned"] if planned else sorted(live)
            data["files"] = [tbl.data_path(out, p) for p in parts]
            data["candidates"] = (planned[-1]["candidates"] if planned
                                  and planned[-1]["candidates"] is not None
                                  else len(live))
        return data

    def _orig(self, fn: str):
        for module, attr, orig in self.patches:
            if attr == fn:
                return orig
        return getattr(_mod("vcf2parquet_spark.table"), fn)

    # -- the traced run ------------------------------------------------------
    def traced_run(self, run, wl, seconds: float) -> dict:
        """One set-up, an untraced phase, then a traced phase on a fresh
        context with the event log and the wrappers on.  Returns set-up
        seconds."""
        from perfbench.workloads import warm_up

        setup = run.setup(1)
        wl.with_reference = False    # no reference ops between the layers
        wl.loop(seconds / 2, min_samples=1)
        self.event_log_dir = os.path.join(run.scratch, "eventlog")
        run.session.stop_context()
        run.start_context(event_log_dir=self.event_log_dir)
        self.install()
        try:
            warm_up(run)
            self.first_traced = len(run.ops)
            wl.loop(seconds / 2, min_samples=1)
            self.probe_idle_layers(run, wl)
        finally:
            self.uninstall()
        return setup

    def probe_idle_layers(self, run, wl) -> None:
        """Time the layers the workload's own loop never enters on its
        last table — a repo lookup (``decode`` planning and pruning), a
        ``read_blocks`` projection (``datasource``) and a ``compact()``
        (``maintenance``) — so every per-layer metric is measured on
        every workload."""
        from perfbench import inputs
        from perfbench.workloads import lookup, projection
        from vcf2parquet_spark import table as tbl
        from vcf2parquet_spark.maintenance import compact

        table = wl.last_table
        if table is None:           # the loop failed before writing one
            return
        kinds = {o["kind"] for o in run.ops[self.first_traced:]}
        if "lookup" not in kinds:
            repo, expect = wl.lookup_target()
            got = run.op("lookup", lambda: lookup(run.spark, table, repo),
                         output=table)
            run.check("lookup", got == expect, (repo, got))
        if "read_blocks" not in kinds:
            n_rows = tbl.read_table_meta(table)["n_rows"]
            got = run.op("read_blocks", lambda: projection(run.spark, table),
                         output=table)
            run.check("read_blocks projection rows",
                      got and sum(n for n, _ in got.values()) == n_rows, got)
        if "compact" not in kinds:
            # merge into 4-unit parts: the default 250k-row target would
            # rewrite a whole standard table as one unit on one core
            res = run.op("compact", lambda: compact(
                run.spark, table, target_rows=4 * inputs.UNIT_ROWS),
                output=table)
            run.check("compact committed",
                      res and res.get("status") == "committed", res)

    # -- after the run ---------------------------------------------------------
    def layers(self, run, wl, setup: dict) -> dict:
        from perfbench.kernel_table import kernel_table

        ev = parse_event_logs(self.event_log_dir)
        ops = [o for o in run.ops[self.first_traced:] if o["ok"]]
        replay = DecodeReplay()
        per_op = {}
        for op in ops:
            jobs = ev.jobs_of(op["id"])
            data = self.op_data.get(op["id"], {})
            if op["kind"] in ENCODE_OPS:
                per_op[op["id"]] = encode_layers(op, jobs, ev, data, self)
            elif op["kind"] in DECODE_OPS:
                per_op[op["id"]] = decode_layers(
                    op, jobs, ev, data, replay,
                    wl.decode_columns.get(op["kind"]))
            else:
                per_op[op["id"]] = {"wall_s": op["wall"]}
            for j in jobs:
                self.spans.append({
                    "id": len(self.spans), "name": "spark.job",
                    "start": j["submit"], "end": j["end"],
                    "parent": op["span"], "op": op["id"],
                    "job_id": j["id"]})
                job_span = self.spans[-1]["id"]
                for s in ev.stages_of(j):
                    self.spans.append({
                        "id": len(self.spans), "name": "spark.stage",
                        "start": s["submit"], "end": s["end"],
                        "parent": job_span, "op": op["id"],
                        "stage_id": s["id"], "tasks": s["tasks"],
                        "run_s": s["run_s"], "gc_s": s["gc_s"]})

        def pick(kind: str | None, key: str) -> float:
            """Median over the traced ops of ``kind``; cold (first) ops
            only count when no warm op of that kind ran."""
            of_kind = [o for o in ops if o["kind"] == kind]
            warm = [o for o in of_kind if not o["cold"]]
            vals = [per_op[o["id"]][key] for o in warm or of_kind
                    if key in per_op[o["id"]]]
            return median(vals) if vals else 0.0

        m = {name: 0.0 for name, _, _ in LAYER_METRICS}
        m["session.start_s"] = median(setup["start_s"])
        m["session.warmup_s"] = median(setup["warmup_s"])
        for key in ENCODE_KEYS:
            m[key] = pick(wl.encode_kind, key)
        for key in DECODE_KEYS:
            kind = wl.plan_kind if key in PLAN_KEYS else wl.decode_kind
            m[key] = pick(kind, key)
        for key in ("table.commit_s", "table.log_scan_s"):
            m[key] = pick(wl.encode_kind, key)
        for key in ("table.snapshots", "table.manifests"):   # at the end
            m[key] = max((per_op[o["id"]].get(key, 0) for o in ops
                          if o["kind"] == wl.encode_kind), default=0.0)
        m["datasource.read_s"] = pick("read_blocks", "wall_s")
        m["datasource.partitions"] = pick("read_blocks",
                                          "decode.parts_planned")
        m["maintenance.compact_s"] = pick("compact", "wall_s")
        rewritten = [len(o["result"].get("rewritten_parts", []))
                     for o in ops if o["kind"] == "compact"]
        m["maintenance.rewritten_parts"] = median(rewritten) if rewritten \
            else 0.0
        untraced = run.walls(wl.headline, run.ops[:self.first_traced])
        traced = run.walls(wl.headline, run.ops[self.first_traced:])
        if traced and untraced:
            m["trace.overhead_share"] = median(traced) / median(untraced) - 1
        kern, roundtrip = kernel_table(run.seed)
        m.update(kern)
        for pair, ok in roundtrip.items():
            run.check(f"kernel round trip {pair}", ok)
        self.per_op = per_op
        self.write_spans(run)
        return {name: m[name] for name, _, _ in LAYER_METRICS}

    def write_spans(self, run) -> None:
        path = os.path.join(run.work, "traces",
                            f"{run.workload}-{run.seed}.spans.jsonl")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                s = dict(s)
                s.pop("planned", None)
                f.write(json.dumps(s, default=str) + "\n")
        self.spans_path = path

    def print_report(self, run, wl, m: dict) -> None:
        print(f"== {run.workload} seed={run.seed} traced run; spans: "
              f"{os.path.relpath(self.spans_path, os.getcwd())}")
        for op in run.ops[self.first_traced:]:
            lay = self.per_op.get(op["id"])
            if op["kind"] not in ENCODE_OPS + DECODE_OPS or not lay:
                continue
            group = "encode" if op["kind"] in ENCODE_OPS else "decode"
            share = lay.get(f"{group}.layers_sum_share", 0.0)
            parts = " ".join(f"{k}={v:.3f}" for k, v in lay.items()
                             if k.endswith("_s") and k != "wall_s" and v)
            verdict = ("layers sum within 10%" if share >= 0.9 else
                       f"GAP {group}.unattributed_s="
                       f"{lay.get(f'{group}.unattributed_s', 0):.3f}")
            print(f"   {op['id']} {op['kind']:<12} wall={lay['wall_s']:.3f}"
                  f" {verdict}: {parts}")
        for name, unit, _ in LAYER_METRICS:
            print(f"   {name:<44} {m[name]:>12.6g}  {unit}")
        codecs = sorted({(c, k) for o in run.ops[self.first_traced:]
                         for u in self.op_data.get(o["id"], {})
                         .get("units", []) for c, k in u["codecs"].items()})
        for col, codec in codecs:
            print(f"   label select.codec.{col} = {codec}")


# --- Spark event log --------------------------------------------------------

class EventLog:
    def __init__(self) -> None:
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}

    def jobs_of(self, op_id: str) -> list[dict]:
        return sorted((j for j in self.jobs.values()
                       if j["op"] == op_id and j["end"] is not None),
                      key=lambda j: j["submit"])

    def stages_of(self, job: dict) -> list[dict]:
        return sorted((self.stages[s] for s in job["stage_ids"]
                       if s in self.stages and self.stages[s]["end"]),
                      key=lambda s: s["submit"])


def _new_stage(sid: int) -> dict:
    return {"id": sid, "submit": None, "end": None, "tasks": 0,
            "run_s": 0.0, "gc_s": 0.0, "fetch_wait_s": 0.0,
            "shuffle_write_s": 0.0, "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "input_bytes": 0}


def parse_event_logs(path: str) -> EventLog:
    ev = EventLog()
    files = sorted(os.path.join(d, n) for d, _, names in os.walk(path)
                   for n in names if not n.startswith((".", "appstatus")))
    for f in files:        # rolling logs: eventlog_v2_<app>/events_<n>_<app>
        with open(f) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    ev.jobs[e["Job ID"]] = {
                        "id": e["Job ID"], "submit": e["Submission Time"] / 1e3,
                        "end": None, "stage_ids": e["Stage IDs"],
                        "op": (e.get("Properties") or {}).get("perfbench.op")}
                elif kind == "SparkListenerJobEnd":
                    ev.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    s = ev.stages.setdefault(info["Stage ID"],
                                             _new_stage(info["Stage ID"]))
                    s["submit"] = info["Submission Time"] / 1e3
                    s["end"] = info["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    s = ev.stages.setdefault(e["Stage ID"],
                                             _new_stage(e["Stage ID"]))
                    tm = e.get("Task Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    s["tasks"] += 1
                    s["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    s["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    s["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                    s["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0))
                    s["shuffle_write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
                    s["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    s["input_bytes"] += (tm.get("Input Metrics") or {}).get(
                        "Bytes Read", 0)
    return ev


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _split(wall: float, run_s: float, parts: dict[str, float]) -> dict:
    """Split a stage wall into layers by their share of the summed task
    time; the unclaimed remainder is returned under ``None``."""
    claimed = sum(parts.values())
    scale = wall / max(run_s, claimed, 1e-9)
    out = {k: v * scale for k, v in parts.items()}
    out[None] = max(wall - claimed * scale, 0.0)
    return out


# --- per-op attribution ----------------------------------------------------------

def _span_total(tracer: Tracer, op_id: str, names, outermost=False,
                after: float | None = None) -> float:
    """Summed seconds of the op's spans named ``names`` (``outermost``:
    not counting spans nested in another of them), clipped to the time
    after ``after`` when given."""
    byid = {s["id"]: s for s in tracer.spans}
    total = 0.0
    for s in tracer.spans:
        if s["op"] != op_id or s["name"] not in names or s["end"] is None:
            continue
        if outermost and s["parent"] is not None and \
                byid[s["parent"]]["name"] in names:
            continue
        start = s["start"] if after is None else max(s["start"], after)
        total += max(s["end"] - start, 0.0)
    return total


def encode_layers(op: dict, jobs: list[dict], ev: EventLog, data: dict,
                  tracer: Tracer) -> dict:
    from vcf2parquet_spark.select import choose_codecs

    wall = op["wall"]
    stages = sorted((s for j in jobs for s in ev.stages_of(j)),
                    key=lambda s: s["submit"])
    # planning ends with the driver-side planner; every stage submitted
    # after it belongs to the encode pipeline (AQE runs each shuffle
    # stage as a job of its own, so jobs do not delimit it)
    plan_end = max((s["end"] for s in tracer.spans if s["op"] == op["id"]
                    and s["name"] in PLANNERS), default=op["t0"])
    pipe = [s for s in stages if s["submit"] >= plan_end]
    if not pipe:
        return {"wall_s": wall}
    pipe_end = max(s["end"] for s in pipe)
    units = data.get("units", [])
    usum = {k: sum(u["metrics"]["stage_seconds"].get(k, 0.0) for u in units)
            for k in ("load", "sort", "profile", "kernel", "write")}
    ipc = sum(u["metrics"].get("ipc_seconds", 0.0) for u in units)
    t0 = time.perf_counter()
    for u in units:
        choose_codecs(u["profiles"])
    select_s = time.perf_counter() - t0
    lay = dict.fromkeys(ENCODE_KEYS, 0.0)
    lay["encode.wall_s"] = wall
    lay["encode.plan_s"] = pipe[0]["submit"] - op["t0"]
    busy = _union([(s["submit"], s["end"]) for s in pipe])
    # after the last stage only the snapshot commit and its log reads
    # are named; the rest of that driver-side tail stays unattributed
    attributed = lay["encode.plan_s"] + _span_total(
        tracer, op["id"], ("table.commit_snapshot",) + LOG_SCANS,
        outermost=True, after=pipe_end)
    for s in pipe:
        w = s["end"] - s["submit"]
        lay["encode.gc_s"] += w * s["gc_s"] / max(s["run_s"], 1e-9)
        lay["encode.exchange_write_bytes"] += s["shuffle_write_bytes"]
        lay["encode.exchange_read_bytes"] += s["shuffle_read_bytes"]
        if s["shuffle_write_bytes"]:     # map side: scan + pack + write
            pack = data.get("pack_s", 0.0) if s["input_bytes"] else 0.0
            scan = max(s["run_s"] - pack - s["shuffle_write_s"], 0.0)
            parts = {"sources.scan_s": scan, "encode.pack_s": pack,
                     "encode.exchange_wait_s": s["shuffle_write_s"]}
        else:                            # reduce side: the unit loop
            parts = {"encode.exchange_wait_s": s["fetch_wait_s"],
                     "encode.ipc_s": ipc, "encode.load_s": usum["load"],
                     "encode.sort_s": usum["sort"],
                     "profile.s": usum["profile"], "select.s": select_s,
                     "kernels.encode_s": usum["kernel"],
                     "table.write_s": usum["write"]}
        # stages may overlap; each claims its share of the busy time
        sp = _split(w * busy / max(sum(x["end"] - x["submit"]
                                       for x in pipe), 1e-9),
                    s["run_s"], parts)
        sp.pop(None)                     # JVM side: left unattributed
        for k, v in sp.items():
            lay[k] += v
            attributed += v
    lay["sources.input_bytes"] = sum(st["input_bytes"] for j in jobs
                                     for st in ev.stages_of(j))
    lay["table.commit_s"] = _span_total(tracer, op["id"],
                                        ("table.commit_snapshot",))
    lay["table.log_scan_s"] = _span_total(tracer, op["id"], LOG_SCANS,
                                          outermost=True)
    lay["table.snapshots"] = data.get("n_snapshots", 0)
    lay["table.manifests"] = data.get("n_manifests", 0)
    walls = sorted(u["metrics"]["seconds"] for u in units)
    if walls:
        p50 = median(walls)
        lay.update({"encode.units": len(walls), "encode.unit_s_p50": p50,
                    "encode.unit_s_max": walls[-1],
                    "encode.unit_skew": walls[-1] / p50 if p50 else 0.0})
    lay["encode.unattributed_s"] = max(wall - attributed, 0.0)
    lay["encode.layers_sum_share"] = min(attributed / wall, 1.0)
    lay["wall_s"] = wall
    return lay


class DecodeReplay:
    """``decode.read_blocks_file`` replayed in-process (no JVM), with
    ``decode_column`` timed separately: per-file seconds for the blocks
    read and the decode kernels."""

    def __init__(self) -> None:
        self.cache: dict[tuple, tuple[float, float]] = {}

    def cost(self, path: str, cols: list[str]) -> tuple[float, float]:
        key = (path, tuple(cols))
        if key not in self.cache:
            dec = _mod("vcf2parquet_spark.decode")
            orig = dec.decode_column
            spent = [0.0]

            def timed(*a, **k):
                t = time.perf_counter()
                try:
                    return orig(*a, **k)
                finally:
                    spent[0] += time.perf_counter() - t

            dec.decode_column = timed
            try:
                t0 = time.perf_counter()
                for _ in dec.read_blocks_file(path, cols):
                    pass
                total = time.perf_counter() - t0
            finally:
                dec.decode_column = orig
            self.cache[key] = (total - spent[0], spent[0])
        return self.cache[key]


def decode_layers(op: dict, jobs: list[dict], ev: EventLog, data: dict,
                  replay: DecodeReplay, cols: list[str] | None) -> dict:
    from vcf2parquet_spark import table as tbl

    wall = op["wall"]
    lay = dict.fromkeys(DECODE_KEYS, 0.0)
    lay["wall_s"] = lay["decode.wall_s"] = wall
    files = data.get("files", [])
    lay["decode.parts_planned"] = len(files)
    lay["decode.parts_pruned"] = max(data.get("candidates", 0) - len(files),
                                     0)
    lay["decode.bytes_read"] = sum(os.path.getsize(f) for f in files
                                   if os.path.exists(f))
    if not jobs:
        return lay
    if cols is None and files:
        with open(tbl.manifest_path(op["output"], _part_of(files[0]))) as f:
            cols = json.load(f)["schema_columns"]
    read_s = kern_s = 0.0
    for f in files:
        if os.path.exists(f):
            r, k = replay.cost(f, cols)
            read_s += r
            kern_s += k
    stages = [s for j in jobs for s in ev.stages_of(j)]
    busy = _union([(s["submit"], s["end"]) for s in stages])
    run_s = sum(s["run_s"] for s in stages)
    sp = _split(busy, run_s, {"decode.blocks_read_s": read_s,
                              "decode.kernel_s": kern_s})
    lay["decode.handoff_s"] = sp.pop(None)
    lay.update(sp)
    lay["decode.gc_s"] = sum((s["end"] - s["submit"]) * s["gc_s"]
                             / max(s["run_s"], 1e-9) for s in stages)
    lay["decode.plan_s"] = jobs[0]["submit"] - op["t0"]
    attributed = lay["decode.plan_s"] + busy
    lay["decode.unattributed_s"] = max(wall - attributed, 0.0)
    lay["decode.layers_sum_share"] = min(attributed / wall, 1.0)
    return lay


def _part_of(path: str) -> int:
    return int(os.path.basename(path).split("-")[1].split(".")[0])


ENCODE_KEYS = (
    "encode.wall_s", "encode.plan_s", "encode.pack_s",
    "encode.exchange_write_bytes", "encode.exchange_read_bytes",
    "encode.exchange_wait_s", "encode.ipc_s", "encode.load_s",
    "encode.sort_s", "encode.units", "encode.unit_s_p50",
    "encode.unit_s_max", "encode.unit_skew", "encode.gc_s",
    "encode.unattributed_s", "encode.layers_sum_share", "profile.s",
    "select.s", "kernels.encode_s", "table.write_s", "sources.scan_s",
    "sources.input_bytes")
PLAN_KEYS = ("decode.plan_s", "decode.parts_planned", "decode.parts_pruned",
             "decode.bytes_read")
DECODE_KEYS = PLAN_KEYS + (
    "decode.wall_s", "decode.blocks_read_s", "decode.kernel_s",
    "decode.handoff_s", "decode.gc_s", "decode.unattributed_s",
    "decode.layers_sum_share")

_COUNTS = {"encode.exchange_write_bytes": ("B", "lower"),
           "encode.exchange_read_bytes": ("B", "lower"),
           "encode.units": ("count", "higher"),
           "encode.unit_skew": ("ratio", "lower"),
           "encode.layers_sum_share": ("ratio", "higher"),
           "decode.layers_sum_share": ("ratio", "higher"),
           "sources.input_bytes": ("B", "lower"),
           "decode.parts_planned": ("count", "lower"),
           "decode.parts_pruned": ("count", "higher"),
           "decode.bytes_read": ("B", "lower"),
           "datasource.partitions": ("count", "lower"),
           "table.snapshots": ("count", "lower"),
           "table.manifests": ("count", "lower"),
           "maintenance.rewritten_parts": ("count", "higher"),
           "trace.overhead_share": ("ratio", "lower")}


def _layer_metrics() -> list[tuple[str, str, str]]:
    from perfbench.kernel_table import KERNEL_METRICS

    # encode.load_s stays in the per-op report only: the gated workloads
    # never load row groups in the worker, so it would read 0 every run
    names = (["session.start_s", "session.warmup_s"]
             + [k for k in ENCODE_KEYS if k != "encode.load_s"]
             + list(DECODE_KEYS)
             + ["table.commit_s", "table.log_scan_s", "table.snapshots",
                "table.manifests", "datasource.read_s",
                "datasource.partitions", "maintenance.compact_s",
                "maintenance.rewritten_parts", "trace.overhead_share"])
    out = [(n, *_COUNTS.get(n, ("s", "lower"))) for n in names]
    return out + KERNEL_METRICS


LAYER_METRICS = _layer_metrics()
