"""The four workloads.  Each is a closed loop: one client in one
process issues the next operation when the previous one returns.

A workload has two parts:

* ``prepare`` builds inputs (cached per seed and size, never timed);
* ``loop`` issues timed operations for a given number of seconds and
  checks their outputs.

Set-up (session start plus :func:`warm_up`) is the same for every
workload and is timed separately as ``setup_s``.

Each headline operation is paired with a reference: Spark's own
Parquet+snappy write (or read) of the same rows, run right before or
after it (see :meth:`Workload.paired`).  The gated latency metric is
the ratio of their medians, so a change of the host's speed between
runs falls on both sides alike.

``summary`` turns the recorded operations into the end-to-end metrics
that ``BENCHMARK.json`` lists (the same names on every workload) plus
the workload's own named metrics, printed for people.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.compute as pc

from perfbench import inputs
from perfbench.harness import median, pin_tree, tail

import vcf2parquet_spark as vp
from vcf2parquet_spark import table as tbl
from vcf2parquet_spark import sources

MIN_SAMPLES = 2      # warm operations per median, after the cold first
LOOKUP_COLUMNS = ["repo", "path", "lang"]
DEFECT_COLUMNS = ["path", "lang"]     # projection without the filter column
PROJECTION = ["lang", "path"]         # columns of the read_blocks aggregate


def spark_content_digest(df) -> tuple[int, int, int]:
    """Spark-side twin of ``inputs.content_digest``."""
    from pyspark.sql import functions as F

    h = F.conv(F.substring(F.sha2(F.col("content"), 256), 1, 15),
               16, 10).cast("long")
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.sum(F.col("content").isNull().cast("long")).alias("nulls"),
               F.bit_xor(h).alias("x")).collect()[0]
    return int(r["n"]), int(r["nulls"] or 0), int(r["x"] or 0)


def _import_engine(batches):
    import vcf2parquet_spark.encode  # noqa: F401
    import vcf2parquet_spark.decode  # noqa: F401
    yield from batches


def warm_up(run) -> None:
    """The warm-up of every set-up: one job with a task per core that
    imports the engine, so every Python worker is up with the engine
    loaded before the first operation.  The first operation of each
    kind still pays its own cold costs; ``Run.op`` marks it cold and
    leaves it out of the medians."""
    n = run.session.cores
    got = (run.spark.range(n, numPartitions=n)
           .mapInArrow(_import_engine, "id long").count())
    run.check("warm-up job", got == n, got)


def probe_known_defect(run, table: str, repo: str) -> None:
    """decode(columns without the filter column, filters=...) fails
    today: the row filter is applied after the projection.  Recorded by
    name in every run, outside the timed loop and outside ``failed``."""
    from pyspark.sql import functions as F

    call = (f"decode(columns={DEFECT_COLUMNS}, "
            f"filters=[('repo', '==', {repo!r})])")
    try:
        vp.decode(run.spark, table, columns=DEFECT_COLUMNS,
                  filters=[("repo", "==", repo)]).agg(
            F.count(F.lit(1))).collect()
        status = "passes (defect fixed?)"
    except Exception as e:   # noqa: BLE001 — recorded, not raised
        status = f"fails: {type(e).__name__}"
    run.known_defects.append({
        "name": "lookup_projection_without_filter_column",
        "call": call, "status": status})


def lookup(spark, table: str, repo: str,
           columns: list[str] = LOOKUP_COLUMNS) -> tuple[int, int]:
    """A repo lookup: ``decode(columns, filters=[("repo", "==", repo)])``,
    returning (row count, summed path length)."""
    from pyspark.sql import functions as F

    r = (vp.decode(spark, table, columns=columns,
                   filters=[("repo", "==", repo)])
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(F.length("path")).alias("s")).collect()[0])
    return int(r["n"]), int(r["s"] or 0)


def projection(spark, table: str) -> dict:
    """The ``read_blocks`` (``vcfblocks`` reader) projection aggregate:
    per-lang row count and summed path length."""
    from pyspark.sql import functions as F

    rows = (vp.read_blocks(spark, table, columns=PROJECTION)
            .groupBy("lang").agg(F.count(F.lit(1)).alias("n"),
                                 F.sum(F.length("path")).alias("s"))
            .collect())
    return {r["lang"]: (int(r["n"]), int(r["s"])) for r in rows}


def parquet_write(spark, src: str, out: str, mode: str) -> None:
    """The reference write: Spark's built-in Parquet+snappy writer over
    the same input files, no engine code on the path."""
    (spark.read.parquet(src).write.mode(mode)
     .option("compression", "snappy").parquet(out))


def parquet_lookup(spark, src: str, repo: str) -> tuple[int, int]:
    """The reference lookup: the same filter and aggregate as
    :func:`lookup`, run by Spark over the Parquet+snappy input."""
    from pyspark.sql import functions as F

    r = (spark.read.parquet(src).filter(F.col("repo") == repo)
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(F.length("path")).alias("s")).collect()[0])
    return int(r["n"]), int(r["s"] or 0)


def expect_by(t, key: str) -> dict:
    """Expected (row count, summed path length) per ``key`` value."""
    t = t.append_column(
        "plen", pc.utf8_length(t.column("path")).cast(pa.int64()))
    g = t.group_by(key).aggregate([("plen", "sum"), ("plen", "count")])
    return {k: (n, s) for k, s, n in zip(
        g.column(key).to_pylist(), g.column("plen_sum").to_pylist(),
        g.column("plen_count").to_pylist())}


def blocks_bytes(table: str) -> int:
    """On-disk bytes of the live partitions' blocks files."""
    return sum(os.path.getsize(tbl.data_path(table, p))
               for p in tbl.live_parts(table))


class Workload:
    name = ""
    # op kinds the traced run reads its layer metrics from
    headline = encode_kind = decode_kind = plan_kind = None
    reference = "parquet_write"   # the op kind paired with ``headline``
    reference_repeats = 1         # reference ops per headline op
    # columns each decode-side op kind reads (None: the table schema)
    decode_columns: dict[str, list[str]] = {"lookup": LOOKUP_COLUMNS,
                                            "read_blocks": PROJECTION}

    def __init__(self, run) -> None:
        self.run = run
        self.last_table: str | None = None   # the last table written
        self.last_rows: pa.Table | None = None   # and the rows it holds
        self.with_reference = True   # the traced run turns it off

    def prepare(self) -> None:
        pass

    def loop(self, seconds: float, min_samples: int) -> None:
        raise NotImplementedError

    def summary(self) -> tuple[dict, dict]:
        raise NotImplementedError

    def paired(self, i: int, engine, reference):
        """Issue one engine operation and ``reference_repeats``
        reference operations back to back.  ``engine`` and ``reference``
        each issue one :meth:`Run.op`; which goes first alternates with
        ``i``.  Returns the engine op's result."""
        if not self.with_reference:
            return engine()
        if i % 2:
            for _ in range(self.reference_repeats):
                reference()
            return engine()
        res = engine()
        for _ in range(self.reference_repeats):
            reference()
        return res

    def e2e(self) -> tuple[dict, dict]:
        """The gated metrics, and the latency lines printed for people.
        ``op_vs_parquet`` is the median wall of the headline op over
        the median wall of its reference op."""
        op = median(self.run.walls(self.headline))
        ref = self.run.walls(self.reference)
        ratio = op / median(ref)
        return ({"op_vs_parquet": ratio,
                 "footprint_vs_snappy": self.footprint},
                {"op_p50_s": (op, "s"),
                 "parquet_p50_s": (median(ref), "s"),
                 "op_vs_parquet": (ratio, f"ratio ({len(ref)} warm "
                                   "reference ops)")})

    def fresh_table(self, tag: str) -> str:
        path = os.path.join(self.run.scratch, tag)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def check_verify(self, name: str, v: dict | None) -> None:
        self.run.check(name, bool(v) and v["ok"]
                       and v["missing"] == 0 and v["extra"] == 0
                       and v["rows_in"] == v["rows_out"], v)

    def check_footprint(self, fp: float) -> None:
        self.run.check("footprint_vs_snappy<=1.0", fp <= 1.0, round(fp, 4))

    def lookup_target(self) -> tuple[str, tuple[int, int]]:
        """A repo of the last table, drawn by row-count weight from the
        seed, with its expected (row count, summed path length)."""
        expect = expect_by(self.last_rows, "repo")
        repos = sorted(expect)
        repo = inputs.zipf_pick(repos, [expect[r][0] for r in repos], 1,
                                self.run.seed)[0]
        return repo, expect[repo]


class IngestShuffle(Workload):
    """``encode()`` of half the standard corpus, read with ``read_corpus``:
    the only workload where planning, map-side pack, exchange and
    reduce-side IPC do real work; content (~90% of the bytes) goes to
    ``plain+brotli9``.  One ``verify()`` of the last output."""
    name = "ingest_shuffle"
    headline, encode_kind, decode_kind, plan_kind = (
        "encode", "encode", "verify", "lookup")
    # the reference write (~0.6 s) is a tenth of an encode and still
    # speeding up over its first five runs: two per encode give five
    # warm samples for its median at little cost
    reference_repeats = 2

    def prepare(self) -> None:
        self.src = inputs.standard_dir(self.run.work, self.run.seed)
        self.rows = inputs.read_dir(self.src)
        self.raw = inputs.raw_bytes(self.rows)

    def loop(self, seconds: float, min_samples: int = MIN_SAMPLES) -> None:
        """Encodes until ``seconds`` have passed and ``min_samples`` ran
        after the cold first one; then one verify() of the last output."""
        spark = self.run.spark
        sizes = set()
        i = 0
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds or i <= min_samples:
            out = self.fresh_table(f"enc-{i % 2}")
            ref = self.fresh_table("ref")
            job = self.paired(i, lambda: self.run.op(
                "encode", lambda: vp.encode(
                    spark, sources.read_corpus(spark, self.src), out,
                    target_rows=inputs.UNIT_ROWS), raw=self.raw, output=out),
                lambda: self.run.op("parquet_write", lambda: parquet_write(
                    spark, self.src, ref, "overwrite"), raw=self.raw))
            self.run.check("encode rows", job and job["n_rows"]
                           == self.rows.num_rows, job and job["n_rows"])
            sizes.add(job and job["enc_bytes"])
            i += 1
        self.run.check("encode deterministic", len(sizes) == 1, sizes)
        self.last_table, self.last_rows = out, self.rows
        v = self.run.op("verify", lambda: vp.verify(
            spark, sources.read_corpus(spark, self.src), out),
            raw=self.raw, output=out)
        self.check_verify("verify", v)
        self.footprint = blocks_bytes(out) / inputs.parquet_bytes(self.src)
        self.check_footprint(self.footprint)
        probe_known_defect(self.run, out,
                           self.rows.column("repo")[0].as_py())

    def summary(self) -> tuple[dict, dict]:
        e2e, named = self.e2e()
        named.update({
            "encode_mbps": (median(self.run.rates("encode")), "MB/s"),
            "footprint_vs_snappy": (self.footprint, "ratio")})
        return e2e, named


class RoundtripClusteredShort(Workload):
    """``encode_clustered()`` + ``verify()`` on content cut to 160 chars:
    FSST encode and decode dominate, nothing is exchanged, no brotli —
    the control for ``ingest_shuffle``.  Then the same encode on one
    pinned CPU for ``scaling_eff_1to4``."""
    name = "roundtrip_clustered_short"
    headline, encode_kind, decode_kind, plan_kind = (
        "encode_clustered", "encode_clustered", "verify", "verify")

    def prepare(self) -> None:
        self.src = inputs.short_dir(self.run.work, self.run.seed)
        self.rows = inputs.read_dir(self.src)
        self.raw = inputs.raw_bytes(self.rows)
        self.n = 0

    def encode_once(self, kind: str = "encode_clustered") -> tuple[str, dict]:
        spark = self.run.spark
        out = self.fresh_table(f"cl-{self.n}")
        self.n += 1
        job = self.run.op(kind, lambda: vp.encode_clustered(
            spark, self.src, out, target_rows=inputs.SHORT_RG_ROWS),
            raw=self.raw, output=out)
        self.run.check(f"{kind} rows", job and job["n_rows"]
                       == self.rows.num_rows, job and job["n_rows"])
        return out, job

    def loop(self, seconds: float, min_samples: int = MIN_SAMPLES) -> None:
        spark = self.run.spark
        n0 = self.n
        t0 = time.perf_counter()
        while (time.perf_counter() - t0 < seconds
               or self.n - n0 <= min_samples):
            ref = self.fresh_table("ref")
            out, job = self.paired(
                self.n, self.encode_once,
                lambda: self.run.op("parquet_write", lambda: parquet_write(
                    spark, self.src, ref, "overwrite"), raw=self.raw))
            v = self.run.op("verify", lambda: vp.verify(
                spark, sources.read_corpus(spark, self.src), out),
                raw=self.raw, output=out)
            self.check_verify("verify", v)
        self.footprint = blocks_bytes(out) / inputs.parquet_bytes(self.src)
        self.check_footprint(self.footprint)
        self.enc_bytes = job and job["enc_bytes"]
        self.last_table, self.last_rows = out, self.rows

    def loop_one_core(self, seconds: float) -> None:
        """Scaling denominator: the same encode with the JVM, its Python
        workers and this process pinned to one CPU (``taskset -a``
        semantics) on a fresh ``local[1]`` context."""
        all_cpus = os.sched_getaffinity(0)
        self.run.session.stop_context()
        pin_tree(os.getpid(), {min(all_cpus)})
        try:
            self.run.start_context(cores=1)
            n0 = self.n
            t0 = time.perf_counter()
            while (time.perf_counter() - t0 < seconds
                   or self.n - n0 <= MIN_SAMPLES):
                _, job = self.encode_once("encode_1core")
                self.run.check("local[1] bytes == local[N] bytes",
                               job and job["enc_bytes"] == self.enc_bytes,
                               job and job["enc_bytes"])
        finally:
            pin_tree(os.getpid(), all_cpus)

    def summary(self) -> tuple[dict, dict]:
        enc = self.run.walls("encode_clustered")
        one = self.run.walls("encode_1core")
        e2e, named = self.e2e()
        named.update({
            "encode_mbps": (median(self.run.rates("encode_clustered")),
                            "MB/s"),
            "decode_mbps": (median(self.run.rates("verify")), "MB/s"),
            "footprint_vs_snappy": (self.footprint, "ratio")})
        if one:
            named["scaling_eff_1to4"] = (
                median(one) / median(enc) / self.run.host["nproc"], "ratio")
        return e2e, named


LOOKUPS_PER_ROUND = 4
GROUP_BY_LANG = "SELECT lang, count(*) AS n FROM corpus GROUP BY lang"


class ScanMix(Workload):
    """Read-only rounds on an ``encode()``d table: a full decode checked
    against the input digest, Zipf-drawn repo lookups, one ``sql()``
    GROUP BY and one ``read_blocks`` projection.  Every encode layer is
    idle."""
    name = "scan_mix"
    headline, encode_kind, decode_kind, plan_kind = (
        "lookup", None, "full_decode", "lookup")
    reference = "parquet_lookup"
    decode_columns = {"lookup": LOOKUP_COLUMNS, "sql": ["lang"],
                      "read_blocks": PROJECTION}

    def prepare(self) -> None:
        self.src = inputs.standard_dir(self.run.work, self.run.seed)
        t = self.last_rows = inputs.read_dir(self.src)
        self.raw = inputs.raw_bytes(t)
        self.digest = inputs.content_digest(t.column("content"))
        self.expect_repo = expect_by(t, "repo")
        self.expect_lang = expect_by(t, "lang")
        repos = sorted(self.expect_repo)
        self.repos = inputs.zipf_pick(
            repos, [self.expect_repo[r][0] for r in repos], 400,
            self.run.seed)

    def build_table(self) -> None:
        """The scanned table: one encode() of the standard corpus (input
        preparation, not a timed operation)."""
        spark = self.run.spark
        self.last_table = self.fresh_table("scan")
        vp.encode(spark, sources.read_corpus(spark, self.src),
                  self.last_table, target_rows=inputs.UNIT_ROWS)
        self.footprint = (blocks_bytes(self.last_table)
                          / inputs.parquet_bytes(self.src))
        self.check_footprint(self.footprint)
        probe_known_defect(self.run, self.last_table, self.repos[0])

    def round(self, i: int) -> None:
        spark, table = self.run.spark, self.last_table
        d = self.run.op("full_decode", lambda: spark_content_digest(
            vp.decode(spark, table)), raw=self.raw, output=table)
        self.run.check("full decode digest", d == self.digest, d)
        for k in range(LOOKUPS_PER_ROUND):
            repo = self.repos[(i * LOOKUPS_PER_ROUND + k) % len(self.repos)]
            got = self.paired(k, lambda: self.run.op(
                "lookup", lambda: lookup(spark, table, repo), output=table),
                lambda: self.run.op("parquet_lookup", lambda: parquet_lookup(
                    spark, self.src, repo)))
            self.run.check("lookup", got == self.expect_repo.get(repo),
                           (repo, got))
        rows = self.run.op("sql", lambda: vp.sql(
            spark, table, GROUP_BY_LANG).collect(), output=table)
        self.run.check("sql group by", rows is not None and {
            r["lang"]: r["n"] for r in rows} == {
            k: v[0] for k, v in self.expect_lang.items()}, rows)
        got = self.run.op("read_blocks", lambda: projection(spark, table),
                          output=table)
        self.run.check("read_blocks projection", got == self.expect_lang,
                       got)

    def loop(self, seconds: float, min_samples: int = MIN_SAMPLES) -> None:
        if self.last_table is None:
            self.build_table()
        t0 = time.perf_counter()
        i = 0
        while time.perf_counter() - t0 < seconds or i <= min_samples:
            self.round(i)
            i += 1

    def summary(self) -> tuple[dict, dict]:
        look = self.run.walls("lookup")
        proj = [a + b for a, b in zip(self.run.walls("sql"),
                                      self.run.walls("read_blocks"))]
        e2e, named = self.e2e()
        named.update({
            "decode_mbps": (median(self.run.rates("full_decode")), "MB/s"),
            "lookup_p50_s": (median(look), "s"),
            "lookup_tail_s": tail_row(look),
            "projection_scan_s": (median(proj), "s")})
        return e2e, named


APPENDS_PER_CYCLE = 6
WARM_UP_APPENDS = 3


class AppendCompact(Workload):
    """Warm-up appends, then cycles of 1k-row
    ``encode(part_id_offset=...)`` appends, one snapshot each, then
    ``compact()`` and a ``verify()`` decode: per-job fixed cost and the
    snapshot log dominate, the kernels are idle."""
    name = "append_compact"
    headline, encode_kind, decode_kind, plan_kind = (
        "append", "append", "verify", "lookup")
    reference = "parquet_append"

    def prepare(self) -> None:
        self.src = inputs.append_dir(self.run.work, self.run.seed)
        self.files = sorted(os.path.join(self.src, f)
                            for f in os.listdir(self.src))
        self.cycle = 0
        self.warmed = False
        self.last_table, self.footprint = None, float("nan")

    def append(self, i: int, table: str, f: str, next_id: int,
               warm_up: bool = False) -> dict | None:
        """One append of the input file ``f`` into ``table``, paired with
        Spark's Parquet append of the same file into ``table``'s
        reference directory."""
        spark = self.run.spark
        return self.paired(i, lambda: self.run.op(
            "append", lambda: vp.encode(
                spark, sources.read_corpus(spark, f), table,
                part_id_offset=next_id),
            raw=inputs.raw_bytes(inputs.read_dir(f)), output=table,
            warm_up=warm_up),
            lambda: self.run.op("parquet_append", lambda: parquet_write(
                spark, f, table + "-parquet", "append"), warm_up=warm_up))

    def warm_up(self) -> None:
        """``WARM_UP_APPENDS`` appends into a throwaway table, left out
        of every median.  On a new JVM the first appends run slow while
        its JIT compiles the write path (4.5 s, 3.7 s, then about 2 s,
        settling near 1.5 s on a 4-core host); measured from the first,
        the median slid down that slope by a different amount each
        run."""
        table = self.fresh_table("app-warm-up")
        next_id = 0
        for i, f in enumerate(self.files[-WARM_UP_APPENDS:]):
            job = self.append(i, table, f, next_id, warm_up=True)
            if not job:
                return
            next_id = job["next_part_id"]
        self.warmed = True

    def one_cycle(self) -> None:
        from vcf2parquet_spark.maintenance import compact

        spark = self.run.spark
        table = self.fresh_table(f"app-{self.cycle}")
        k0 = (self.cycle * APPENDS_PER_CYCLE) % len(self.files)
        files = [self.files[(k0 + i) % len(self.files)]
                 for i in range(APPENDS_PER_CYCLE)]
        rows = pa.concat_tables(inputs.read_dir(f) for f in files)
        self.cycle += 1
        next_id = 0
        for i, f in enumerate(files):
            job = self.append(i, table, f, next_id)
            if not job:
                return
            next_id = job["next_part_id"]
        n_snap = len(tbl.snapshot_files(table))
        self.run.check("one snapshot per append", n_snap == len(files),
                       n_snap)
        res = self.run.op("compact", lambda: compact(spark, table),
                          output=table)
        self.run.check("compact rewrote every append",
                       res and len(res.get("rewritten_parts", []))
                       == len(files), res)
        v = self.run.op("verify", lambda: vp.verify(
            spark, spark.read.parquet(*files), table),
            raw=inputs.raw_bytes(rows), output=table)
        self.check_verify("verify after compact", v)
        self.footprint = blocks_bytes(table) / sum(
            os.path.getsize(f) for f in files)
        self.last_table, self.last_rows = table, rows

    def loop(self, seconds: float, min_samples: int = MIN_SAMPLES) -> None:
        """Cycles until ``seconds`` have passed (at least one), after the
        warm-up appends on the run's first loop; each cycle gives
        ``APPENDS_PER_CYCLE`` append samples."""
        if not self.warmed:
            self.warm_up()
        t0 = time.perf_counter()
        self.one_cycle()
        while time.perf_counter() - t0 < seconds:
            self.one_cycle()
        if self.last_table:
            probe_known_defect(self.run, self.last_table, "org0/repo0")

    def summary(self) -> tuple[dict, dict]:
        app = self.run.walls("append")
        e2e, named = self.e2e()
        named.update({"append_p50_s": (median(app), "s"),
                      "append_tail_s": tail_row(app),
                      "footprint_vs_snappy": (self.footprint, "ratio")})
        return e2e, named


def tail_row(xs: list[float]) -> tuple[float | None, str]:
    t = tail(xs)
    return (t[1], f"s ({t[0]}, n={len(xs)})") if t else (
        None, f"s (n={len(xs)}: fewer than 11 samples)")


WORKLOADS = {w.name: w for w in (IngestShuffle, RoundtripClusteredShort,
                                 ScanMix, AppendCompact)}
