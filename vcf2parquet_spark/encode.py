"""Distributed encode pipeline: corpus DataFrame → encoded blocks + manifests.

Spark-first dataflow (SURVEY.md §3.4), designed for 1000-executor /
100 TB scale and exercised here on local[N]:

1. **Partition planning** (driver): ``groupBy(repo).count()`` — a tiny
   aggregate (#repos rows, map-side partials) — then deterministic
   assignment of work units: repos above ``target_rows`` are *salted*
   into ``ceil(rows/target)`` units (explicit skew handling for hot
   repos — the north rule requirement AQE alone can't give us, because
   each unit must be a durable, resumable manifest); small repos are
   bundled into shared units.  The plan is a small DataFrame that is
   **broadcast** — no shuffle of the big side for the join.
2. **Checkpoint filter**: committed partition ids (from the manifest
   dir) are anti-filtered out — exact resume; re-running after a crash
   encodes only missing partitions.
3. **One shuffle**: the map side packs each (input batch × part_id)
   group into one zstd-1 Arrow-IPC blob; ``repartition('part_id')`` +
   ``sortWithinPartitions('part_id')`` lays each work unit out
   contiguously; a ``mapInArrow`` stream kernel reopens the blobs and
   encodes each unit entirely in Arrow (zero pandas/Python-object
   materialization — "vectorized Arrow UDFs, no per-row Python").
4. **Inside the kernel** (executor, per work unit): sort by (repo, path,
   commit, content) so block bytes are independent of shuffle
   nondeterminism; profile columns; auto-select codecs; derive integer
   columns (size_bytes, n_lines → bit-pack/FOR); encode in row batches
   of ``batch_size`` (default 100_000 — the reference's default,
   /root/reference/src/cli.rs:114-116); write the blocks parquet, then
   the manifest JSON, each tmp+atomic-rename (manifest last = commit).

Scale notes: executor-side file writes target shared storage (local FS
here; pyarrow.fs handles s3://... URIs identically on a real cluster —
or swap step 4's sink for an Iceberg ``writeTo`` once the runtime jar
is present).  The only shuffle moves each row exactly once, partition
sizes are bounded by construction (salting), and the small plan/
checkpoint tables are broadcast, so the job scales linearly with
executors until the shuffle fabric saturates.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession, functions as F

from vcf2parquet_spark import table as tbl
from vcf2parquet_spark.errors import SchemaError
from vcf2parquet_spark.kernels import encode_column
from vcf2parquet_spark.profile import profile_arrow
from vcf2parquet_spark.select import choose_codecs

DEFAULT_BATCH = 100_000          # rows per block (reference default batch size)
DEFAULT_TARGET_ROWS = 250_000    # rows per work unit before salting kicks in
_I32_CAP = (1 << 31) - (1 << 24)  # byte budget per 32-bit-offset framing
#                                   unit: int32 capacity minus 16 MiB of
#                                   headroom so an incompressible block's
#                                   ENCODED payload (codec headers, zlib
#                                   worst-case ~0.03% expansion) still
#                                   fits int32.  A SINGLE value past it
#                                   is unencodable (SchemaError).
_I32_ELEMS = _I32_CAP // 8       # child-element budget per block: int32
                                 # list offsets need n < 2^31, and the
                                 # per-element framing METADATA (packed
                                 # lengths, ≤8 B/element worst case)
                                 # must itself fit the byte cap — n*8 ≤
                                 # _I32_CAP bounds both at once

# One definition of the per-partition job summary row; the DDL string
# (mapInArrow's schema argument) is derived so the two can never drift.
SUMMARY_ARROW = pa.schema([
    ("part_id", pa.int64()), ("n_rows", pa.int64()),
    ("raw_bytes", pa.int64()), ("enc_bytes", pa.int64()),
    ("n_blocks", pa.int32()), ("n_columns", pa.int32()),
    ("seconds", pa.float64()), ("status", pa.string())])
_DDL_NAMES = {pa.int64(): "long", pa.int32(): "int",
              pa.float64(): "double", pa.string(): "string"}
SUMMARY_SCHEMA = ", ".join(
    f"{f.name} {_DDL_NAMES[f.type]}" for f in SUMMARY_ARROW)


@dataclass
class EncodeOptions:
    """Mirrors the reference's Python-binding kwargs where meaningful
    (/root/reference/python/src/lib.rs:35-44): batch_size default
    100_000; ``codec_overrides`` generalizes its single ``compression``
    enum to per-column choices; ``nullable`` mirrors ``info_optional``.
    """
    batch_size: int = DEFAULT_BATCH
    target_rows: int = DEFAULT_TARGET_ROWS
    codec_overrides: dict = field(default_factory=dict)
    residual: str = "zlib"    # general-purpose residual stage behind the
                              # auto-selected base codec: one of zlib/
                              # zstd/lz4/brotli/gzip/snappy — the breadth
                              # analogue of the reference's file-level
                              # codec enum (cli.rs:119-136; lzo excluded,
                              # see kernels/codecs.py CASCADES note)
    nullable: bool = True     # False = strict schema: any NULL in any
                              # input column raises SchemaError instead
                              # of encoding a validity bitmap (the
                              # reference's --info-optional flips INFO
                              # fields between nullable and required —
                              # cli.rs:69-71, schema.rs:86-124)
    resume: bool = True
    derived_columns: bool = True
    sort_columns: tuple = ("repo", "path", "commit", "content")
    shuffle_oversub: int = 16  # shuffle partitions per core (see encode())
    snapshot: bool = True     # False: skip the snapshot commit (used by
                              # compaction, which commits its own swap)
    manifest_tags: dict = field(default_factory=dict)  # extra manifest
                              # fields (e.g. compaction's pending_rewrite
                              # marker, which excludes the partition from
                              # dangling-part adoption until the swap)
    part_id_offset: int = 0   # namespace for incremental/streaming appends
    parquet_version: str = "2.6"  # blocks container pages (ref: cli.rs:139-145)
    arrow_cpu: int = 2        # >0: pin pyarrow's per-process CPU pool to
                              # this many threads inside each Spark task's
                              # Python worker.  pyarrow defaults to
                              # os.cpu_count() threads PER PROCESS, so a
                              # 32-task executor host runs 32x32 threads
                              # during parquet reads/writes — pure
                              # contention (measured: clustered encode min
                              # 5.3s -> 3.9s at local[32] with pin=2, and
                              # the cold-start outlier 15.8s -> 4.4s on
                              # the stream path).  On a real cluster set
                              # ~= spark.task.cpus.  0 = pyarrow default.
    long_strings: str = "plain"  # DEFAULT since round 4: string columns
                              # with mean length >= select.LONG_STRING go
                              # to plain+brotli-9 instead of fsst+residual
                              # — measured 3.3x faster AND tighter on the
                              # bench content column (ratio 15.33 @ 28
                              # MB/s/core vs 12.64 @ 8.7); FSST keeps the
                              # short-string columns either way.  "fsst"
                              # restores the round-1..3 routing.
    read_mode: str = "mmap"   # clustered-path rowgroup reads: "mmap"
                              # (page-cache-backed, no copy into a fresh
                              # arena — best on local/NVMe), "pre_buffer"
                              # (coalesced range reads — best on object
                              # stores like S3), or "plain"
    block_bytes: int = 1 << 30  # byte cap per block for any one string/
                              # binary column: blocks are split early when
                              # 100k rows of large source files would sum
                              # past this, keeping every block inside the
                              # kernels' int32 offset framing (a 2 GiB+
                              # single-column block would ArrowInvalid in
                              # combine_chunks — the failure class fixed
                              # on the decode side).  Parquet sizes row
                              # groups by bytes for the same reason.
                              # Row-count-only batching is unchanged when
                              # no column crosses the cap (goldens pinned).


def _pin_arrow(n: int) -> None:
    """Worker-side: bound pyarrow's intra-process parallelism (see
    EncodeOptions.arrow_cpu).  Idempotent, cheap."""
    if n and n > 0:
        pa.set_cpu_count(n)
        pa.set_io_thread_count(max(2, n))


def _plan_core(cnt, target_rows: int, offset: int):
    """Vectorized unit assignment over count-DESC-sorted repo counts.

    Returns (base_part_id int64[n], fanout int64[n], next free id).
    Hot repos (count > target) are salted across ``fanout`` units; small
    repos are packed into shared units by prefix-sum chunking — a unit
    exceeds target by at most one small repo (< 2×target).  Pure numpy
    (C-level prefix sums): planning stays sub-second at 10^7+ repos.
    """
    import numpy as np
    n_in = len(cnt)
    hot_n = int(np.searchsorted(-cnt, -target_rows, side="left"))

    # hot repos: one salted unit range each, fanout = ceil(count/target)
    fanout_hot = -(-cnt[:hot_n] // target_rows)
    hot_base = (offset + np.concatenate(
        ([0], np.cumsum(fanout_hot)[:-1])).astype(np.int64)
        if hot_n else np.zeros(0, np.int64))
    next_id = offset + (int(fanout_hot.sum()) if hot_n else 0)

    # small repos: shared units — unit = (rows before this repo) // target
    small_cnt = cnt[hot_n:]
    starts = np.cumsum(small_cnt) - small_cnt
    unit = next_id + starts // target_rows

    base = np.concatenate([hot_base, unit]).astype(np.int64)
    fan = np.concatenate([fanout_hot,
                          np.ones(n_in - hot_n, np.int64)]).astype(np.int64)
    if n_in - hot_n:
        next_id = int(unit[-1]) + 1
    return base, fan, next_id


def plan_partitions_arrow(repo, cnt, target_rows: int,
                          offset: int = 0) -> tuple[pa.Table, int]:
    """Deterministic work-unit plan, Arrow end-to-end: (repo, count)
    columns in → plan pa.Table (repo, base_part_id, fanout) out, with
    ZERO per-repo Python objects — at 10^7-10^8 repos the previous
    ``collect()`` materialized multi-GB of Row objects on the driver
    before numpy ever saw them.  The repo strings ride Arrow buffers
    through the sort (``pc.take``) straight into ``createDataFrame``.

    Sort order (must match the legacy list path exactly, since part ids
    are positional): count desc, then repo asc with the (single
    possible) NULL repo after all names — pyarrow ``null_placement=
    'at_end'`` reproduces numpy's (name, null-flag) lexsort keys.
    """
    import numpy as np
    repo = pa.chunked_array([repo]) if isinstance(repo, pa.Array) else repo
    t = pa.table({"repo": repo.cast(pa.string()),
                  "cnt": (cnt if isinstance(cnt, (pa.Array, pa.ChunkedArray))
                          else pa.array(np.asarray(cnt, np.int64)))})
    if t.num_rows == 0:
        empty = pa.table({"repo": pa.array([], pa.string()),
                          "base_part_id": pa.array([], pa.int64()),
                          "fanout": pa.array([], pa.int32())})
        return empty, offset
    order = pc.sort_indices(
        t, sort_keys=[("cnt", "descending"), ("repo", "ascending")],
        null_placement="at_end")
    t = t.take(order)
    cnt_sorted = t.column("cnt").combine_chunks().to_numpy(
        zero_copy_only=False).astype(np.int64, copy=False)
    base, fan, next_id = _plan_core(cnt_sorted, target_rows, offset)
    plan = pa.table({"repo": t.column("repo"),
                     "base_part_id": pa.array(base),
                     "fanout": pa.array(fan.astype(np.int32))})
    return plan, next_id


def plan_partitions(counts: list[tuple[str, int]], target_rows: int,
                    offset: int = 0) -> tuple[list[dict], int]:
    """Deterministic work-unit plan from (repo, row_count) pairs.

    Returns (plan rows [{repo, base_part_id, fanout}], next free id).
    Thin list-of-dicts wrapper over :func:`plan_partitions_arrow` (the
    zero-Python-object path :func:`encode` uses) — both paths share the
    same sort + ``_plan_core`` assignment, so plans are identical.
    ``offset`` namespaces the ids (incremental/streaming appends).
    """
    repo = pa.array([r for r, _ in counts], type=pa.string())
    cnt = pa.array([c for _, c in counts], type=pa.int64())
    plan, next_id = plan_partitions_arrow(repo, cnt, target_rows, offset)
    # columnar-to-pylist (3 bulk C conversions), not Table.to_pylist
    # (per-row dict building is ~3x slower at 10^6 rows)
    d = plan.to_pydict()
    rows = [{"repo": r, "base_part_id": b, "fanout": f}
            for r, b, f in zip(d["repo"], d["base_part_id"], d["fanout"])]
    return rows, next_id


def anti_join_committed(spark: SparkSession, with_part: DataFrame,
                        committed: set[int]) -> DataFrame:
    """Drop rows of already-committed partitions via a broadcast
    left_anti join, NOT a literal ``isin``: a long-lived table has
    1e4-1e5 committed partitions, and inlining them as expression
    literals explodes the plan (and costs O(n) per row); the anti-join
    against a small broadcast side is O(1) per row and keeps the plan
    constant-size (SURVEY.md §2.12 prescription)."""
    committed_df = spark.createDataFrame(
        [(int(p),) for p in sorted(committed)], "part_id long")
    return with_part.join(F.broadcast(committed_df), "part_id", "left_anti")


def _derive_int_columns(t: pa.Table) -> pa.Table:
    """Derived integer columns -> exercises bit-pack / FOR (north rule)."""
    if "content" not in t.column_names:
        return t
    # operate on the column as-is: binary_length/count_substring accept
    # both string and large_string, and a down-cast here would overflow
    # int32 offsets on a >2 GiB single-chunk column (post-sort take)
    content = t.column("content")
    size_bytes = pc.binary_length(content).cast(pa.int64())
    n_lines = pc.add(
        pc.count_substring(content, "\n").cast(pa.int64()), 1)
    t = t.append_column("size_bytes", size_bytes)
    t = t.append_column("n_lines", n_lines)
    return t


def _i32_safe_pieces(chunk: pa.Array):
    """Yield slices of a large_string chunk that each cast safely to
    32-bit-offset ``pa.string()``.  Plain string chunks pass through
    whole (Arrow's own int32 framing already bounds them).

    One of THREE sites sharing the cumsum-lengths + searchsorted
    byte-cap motif — the others are :func:`_block_bounds` (multi-column
    ∩ row cap) and ``profile._entropy_sample`` (prefix cover).  They
    cut on different axes so they stay separate, but a fix to the cut
    arithmetic (e.g. the ``max(lo+1, ...)`` single-giant-value clamp)
    likely applies to all three."""
    if not pa.types.is_large_string(chunk.type):
        yield chunk
        return
    import numpy as np
    ln = pc.coalesce(pc.binary_length(chunk).cast(pa.int64()),
                     pa.scalar(0, pa.int64()))
    cum = np.zeros(len(chunk) + 1, np.int64)
    np.cumsum(ln.to_numpy(zero_copy_only=False), out=cum[1:])
    lo = 0
    while lo < len(chunk):
        if cum[lo + 1] - cum[lo] > _I32_CAP:
            # a 1-row piece past the cap cannot cast to 32-bit offsets
            # anywhere downstream — fail with the real reason instead
            # of pyarrow's ArrowInvalid offset-overflow
            raise SchemaError(
                f"a single string value of {int(cum[lo + 1] - cum[lo]):,}"
                f" bytes exceeds the {_I32_CAP:,}-byte per-value limit "
                "of 32-bit string offsets (split the value upstream)")
        hi = int(np.searchsorted(cum, cum[lo] + _I32_CAP,
                                 side="right")) - 1
        hi = max(lo + 1, min(hi, len(chunk)))
        yield chunk.slice(lo, hi - lo)
        lo = hi


def _content_digest(t: pa.Table) -> str:
    """sha256 of the sorted content column (offsets + bytes) — the
    partition-level integrity check recorded in the manifest.

    Streams CHUNK-WISE: hashing the int64 offsets (rebased onto a
    running total) of every chunk, then every chunk's data bytes,
    produces bytes IDENTICAL to the old whole-column
    ``combine_chunks()`` + ``str_buffers`` hash — but never builds one
    contiguous array, so a partition whose content sums past 2 GiB no
    longer overflows string int32 offsets in ``combine_chunks``
    (ArrowInvalid — the same failure class fixed in decode.py's
    large_binary cast).  Digests recorded by earlier versions verify
    unchanged."""
    if "content" not in t.column_names:
        return ""
    import numpy as np
    from vcf2parquet_spark.kernels.codecs import str_buffers
    col = t.column("content")
    if isinstance(col, pa.Array):
        col = pa.chunked_array([col])
    h = hashlib.sha256()
    h.update(np.int64(0).tobytes())      # leading offsets[0] == 0
    base = 0
    datas = []
    for chunk in col.chunks:
        for piece in _i32_safe_pieces(chunk):
            if piece.null_count:
                piece = pc.fill_null(piece, "")
            data, offsets = str_buffers(piece.cast(pa.string()))
            h.update((offsets[1:] + base).tobytes())
            if len(offsets) > 1:
                base += int(offsets[-1])
            datas.append(data)
    for data in datas:                   # all offsets first, then all data
        h.update(data)                   # ndarray buffer — no tobytes copy
    return h.hexdigest()


def encode_partition(part_id: int, t: pa.Table, output: str,
                     opts: EncodeOptions, schema_columns: list[str],
                     loader=None, extra_metrics: dict | None = None) -> dict:
    """Encode one work unit (runs on an executor). Returns summary dict.

    ``loader``: optional zero-arg callable returning the table — used by
    the clustered path so the parquet rowgroup read is timed as part of
    the unit's work (``metrics.seconds`` in the manifest).

    ``extra_metrics`` merges into ``manifest['metrics']`` — the shuffle
    path passes its reduce-side Arrow-IPC unpack seconds here so the
    scaling report can attribute wall time per pipeline segment.

    The manifest's ``metrics`` record the per-stage decomposition
    (``load/sort/profile/kernel/write`` seconds) alongside the total:
    at two cluster sizes the per-segment sums show WHERE any Σudf
    inflation lives (codec kernels vs the memcpy-bound byte path) —
    the evidence the N-vs-4N scaling criterion needs.
    """
    t0 = time.time()
    stage = dict.fromkeys(("load", "sort", "profile", "kernel", "write"), 0.0)
    if loader is not None:
        t = loader()
        stage["load"] = time.time() - t0
    if not opts.nullable:
        bad = {c: t.column(c).null_count for c in t.column_names
               if t.column(c).null_count}
        if bad:
            from vcf2parquet_spark.errors import SchemaError
            raise SchemaError(
                f"nullable=False but partition {part_id} has NULLs in "
                f"{sorted(bad)} (counts {bad})")
    # Whole-unit ops below (sort take, profile combine) merge chunks;
    # a string column summing past int32 offsets must ride large_string
    # (64-bit offsets) through them.  Byte-transparent: the byte-capped
    # blocks cast back down inside the kernels, and encode_column
    # records type "string" for both representations.  Blocks keep the
    # invariant via _block_bounds' block_bytes cap regardless.
    from vcf2parquet_spark.profile import INT32_SAFE_BYTES
    for i, c in enumerate(t.column_names):
        col = t.column(c)
        if pa.types.is_string(col.type) and col.nbytes >= INT32_SAFE_BYTES:
            t = t.set_column(i, c, col.cast(pa.large_string()))
    sort_keys = [(c, "ascending") for c in opts.sort_columns
                 if c in t.column_names]
    if sort_keys:
        ts = time.time()
        t = t.take(pc.sort_indices(t, sort_keys=sort_keys))
        stage["sort"] = time.time() - ts
    if opts.derived_columns:
        t = _derive_int_columns(t)
    tp = time.time()
    profiles = {c: profile_arrow(t.column(c), c) for c in t.column_names}
    stage["profile"] = time.time() - tp
    codecs = choose_codecs(profiles, opts.codec_overrides,
                           residual=opts.residual,
                           long_strings=opts.long_strings)

    rows: dict[str, list] = {k: [] for k in
                             ("part_id", "block_idx", "column", "codec",
                              "n_rows", "raw_bytes", "enc_bytes", "meta", "data")}
    n = t.num_rows
    n_blocks = 0
    raw_total = 0
    enc_total = 0
    tk = time.time()
    for b, (lo, hi) in enumerate(_block_bounds(t, opts.batch_size,
                                               opts.block_bytes)):
        chunk = t.slice(lo, hi - lo)
        for col in t.column_names:
            arr = chunk.column(col).combine_chunks()
            payload, meta = encode_column(arr, codecs[col])
            rows["part_id"].append(part_id)
            rows["block_idx"].append(b)
            rows["column"].append(col)
            rows["codec"].append(codecs[col])
            rows["n_rows"].append(len(arr))
            rows["raw_bytes"].append(_raw_bytes(arr))
            rows["enc_bytes"].append(len(payload))
            rows["meta"].append(json.dumps(meta, sort_keys=True))
            rows["data"].append(payload)
            enc_total += len(payload)
        n_blocks += 1
    raw_total = sum(rows["raw_bytes"])
    stage["kernel"] = time.time() - tk

    tw = time.time()
    blocks = _blocks_table(rows)
    tbl.write_blocks_file(tbl.data_path(output, part_id), blocks,
                          parquet_version=opts.parquet_version)
    stage["write"] = time.time() - tw

    seconds = time.time() - t0
    manifest = {
        "part_id": part_id,
        "n_rows": n,
        "n_blocks": n_blocks,
        "schema_columns": schema_columns,
        "all_columns": list(t.column_names),
        "codecs": codecs,
        "profiles": profiles,
        "raw_bytes": raw_total,
        "enc_bytes": enc_total,
        "content_sha256": _content_digest(t),
        "sort_columns": list(opts.sort_columns),
        "metrics": {"seconds": seconds,
                    "rows_per_s": n / seconds if seconds > 0 else None,
                    "stage_seconds": {k: round(v, 4)
                                      for k, v in stage.items()},
                    **(extra_metrics or {})},
        "status": "committed",
    }
    manifest.update(opts.manifest_tags)
    tbl.commit_manifest(output, part_id, manifest)
    return {"part_id": part_id, "n_rows": n, "raw_bytes": raw_total,
            "enc_bytes": enc_total, "n_blocks": n_blocks,
            "n_columns": len(t.column_names), "seconds": seconds,
            "status": "committed"}


def _block_bounds(t: pa.Table, batch_size: int,
                  block_bytes: int) -> list[tuple[int, int]]:
    """(lo, hi) row bounds per encode block: ``batch_size`` rows, split
    earlier wherever a single string/binary column's payload would
    exceed ``block_bytes`` — every downstream consumer (combine_chunks
    here, the kernels' checked-i32 list/string framing, decode's block
    reassembly) assumes one block column fits 32-bit offsets, so blocks
    must be bounded by BYTES, not just rows (100k rows of >10 KiB
    source files blows the row-only bound).  Columns whose whole-unit
    payload is under the cap — the overwhelmingly common case — cost
    one vectorized length scan and leave the bounds untouched, so
    existing goldens/digests are byte-identical.

    Sibling byte-cap cuts: :func:`_i32_safe_pieces`,
    ``profile._entropy_sample`` (see the note on the former)."""
    import numpy as np
    n = t.num_rows
    # the 32-bit offset framing is a hard downstream constraint, so a
    # user-raised block_bytes can never loosen the cut past _I32_CAP
    eff = min(block_bytes, _I32_CAP)
    # (name, prefix-sum, cap, hard) per constrained axis: string/binary
    # columns cut on payload BYTES; list columns cut on child BYTES
    # (var-width child) or a conservative 8 B/element, AND on child
    # COUNT (the kernels' list framing writes checked int32 offsets).
    # ``cap`` is where blocks are cut (min'd with block_bytes); ``hard``
    # is the framing limit a SINGLE row may never exceed.
    cums: list[tuple[str, "np.ndarray", int, int]] = []

    def _prefix(values) -> "np.ndarray":
        cum = np.zeros(len(values) + 1, np.int64)
        np.cumsum(values, out=cum[1:])
        return cum

    for name in t.column_names:
        c = t.column(name)
        if (pa.types.is_string(c.type) or pa.types.is_large_string(c.type)
                or pa.types.is_binary(c.type)
                or pa.types.is_large_binary(c.type)):
            ln = pc.coalesce(pc.binary_length(c).cast(pa.int64()),
                             pa.scalar(0, pa.int64()))
            cum = _prefix(ln.to_numpy(zero_copy_only=False))
            if int(cum[-1]) > eff:  # can this column overflow at all?
                cums.append((name, cum, eff, _I32_CAP))
        elif pa.types.is_list(c.type) or pa.types.is_large_list(c.type):
            counts = pc.coalesce(
                pc.list_value_length(c).cast(pa.int64()),
                pa.scalar(0, pa.int64()))
            ccum = _prefix(counts.to_numpy(zero_copy_only=False))
            if int(ccum[-1]) > _I32_ELEMS:
                cums.append((name, ccum, _I32_ELEMS, _I32_ELEMS))
            child = pc.list_flatten(c)
            if (pa.types.is_string(child.type)
                    or pa.types.is_large_string(child.type)
                    or pa.types.is_binary(child.type)
                    or pa.types.is_large_binary(child.type)):
                cl = pc.coalesce(pc.binary_length(child).cast(pa.int64()),
                                 pa.scalar(0, pa.int64()))
                childcum = _prefix(cl.to_numpy(zero_copy_only=False))
                bcum = childcum[ccum]     # per-ROW child-bytes prefix
            else:
                bcum = ccum * 8           # fixed-width child, ≤8 B/elem
            if int(bcum[-1]) > eff:
                cums.append((name, bcum, eff, _I32_CAP))
    bounds = []
    lo = 0
    while lo < n:
        hi = min(lo + batch_size, n)
        for _, cum, cap, _hard in cums:
            if cum[hi] - cum[lo] > cap:
                h = int(np.searchsorted(cum, cum[lo] + cap,
                                        side="right")) - 1
                hi = min(hi, max(lo + 1, h))  # ≥1 row: a single giant
                #                               value can't be split
        if hi == lo + 1:
            # the single-row clamp fired; a lone value is fine past
            # block_bytes (one over-size block) but NOT past the 32-bit
            # framing caps every downstream consumer assumes
            for name, cum, cap, hard in cums:
                # ``hard`` is the axis's framing limit; a single value
                # may exceed block_bytes (one oversize block) but never
                # this
                if cum[hi] - cum[lo] > hard:
                    raise SchemaError(
                        f"column {name!r} row {lo} holds "
                        f"{int(cum[hi] - cum[lo]):,} bytes/elements in "
                        f"one value — over the {hard:,} 32-bit framing "
                        "limit (split the value upstream)")
        bounds.append((lo, hi))
        lo = hi
    return bounds


def _blocks_table(rows: dict[str, list]) -> pa.Table:
    """The blocks table for one work unit.  The ``data`` column is
    ``pa.binary()`` (int32 offsets): ONE ``pa.array`` over a unit whose
    encoded payloads sum past ~2 GiB raises ArrowCapacityError, so when
    the unit is that large every column is built CHUNKED on boundaries
    where each chunk's payload stays under the cap (parquet writes
    chunked columns transparently; block order is preserved — decode
    reads by block_idx).  The overwhelmingly common small unit takes
    the single-chunk path, byte-identical to the old construction."""
    sizes = [len(d) for d in rows["data"]]
    bounds = [0]
    run = 0
    for i, s in enumerate(sizes):
        if run + s > _I32_CAP and i > bounds[-1]:
            bounds.append(i)
            run = 0
        run += s
    bounds.append(len(sizes))
    if len(bounds) == 2:
        return pa.table(
            {k: pa.array(v, type=tbl.BLOCKS_SCHEMA.field(k).type)
             for k, v in rows.items()},
            schema=tbl.BLOCKS_SCHEMA)
    return pa.table(
        {k: pa.chunked_array(
            [pa.array(v[a:b], type=tbl.BLOCKS_SCHEMA.field(k).type)
             for a, b in zip(bounds, bounds[1:])])
         for k, v in rows.items()},
        schema=tbl.BLOCKS_SCHEMA)


def _raw_bytes(arr: pa.Array) -> int:
    t = arr.type
    n_vals = len(arr) - arr.null_count
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return int(pc.sum(pc.binary_length(arr.cast(pa.string()))).as_py() or 0)
    if pa.types.is_boolean(t):
        return n_vals
    if pa.types.is_float32(t):
        return 4 * n_vals
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        vals = arr.drop_null() if arr.null_count else arr
        return 8 * n_vals + (_raw_bytes(vals.flatten()) if len(vals) else 0)
    return 8 * n_vals


def encode(spark: SparkSession, df: DataFrame, output: str,
           opts: EncodeOptions | None = None, **kwargs) -> dict:
    """Encode ``df`` (corpus-shaped) into ``output``. Returns job summary.

    kwargs are EncodeOptions fields (batch_size=, codec_overrides=, ...).
    """
    opts = opts or EncodeOptions(**kwargs)
    tbl.init_layout(output)
    schema_columns = df.columns

    # 1. partition plan from the tiny repo-count aggregate — collected
    # as ARROW (toArrow), not Rows: at 10^7-10^8 repos a Row collect is
    # multi-GB of Python objects; the Arrow table feeds the numpy
    # planner and goes straight back via createDataFrame(pa.Table),
    # zero per-repo Python objects end-to-end
    agg = df.groupBy("repo").agg(F.count("*").alias("cnt")).toArrow()
    plan_tbl, n_parts = plan_partitions_arrow(
        agg.column("repo"), agg.column("cnt"), opts.target_rows,
        offset=opts.part_id_offset)
    plan_df = spark.createDataFrame(plan_tbl)

    # 2. checkpoint: skip committed partitions (exact resume)
    committed = set(tbl.committed_parts(output)) if opts.resume else set()

    # 3. assign part ids: broadcast join + deterministic salt for hot
    # repos.  Null-SAFE on repo (still a BroadcastHashJoin — Spark
    # treats eqNullSafe as an equi-join key): a name-list join would
    # silently DROP every NULL-repo row from the encode.
    plan_r = plan_df.withColumnRenamed("repo", "_plan_repo")
    with_part = (
        df.join(F.broadcast(plan_r),
                F.col("repo").eqNullSafe(F.col("_plan_repo")))
        .drop("_plan_repo")
        .withColumn(
            "part_id",
            (F.col("base_part_id")
             + F.when(F.col("fanout") > 1,
                      F.pmod(F.xxhash64("path", "commit"), F.col("fanout")))
              .otherwise(F.lit(0))).cast("long"))
        .drop("base_part_id", "fanout"))
    if committed:
        with_part = anti_join_committed(spark, with_part, committed)

    # 4. shuffle once by part_id, encode each unit in Arrow on executors
    out_cols = schema_columns
    opts_b = opts
    _sum_schema = SUMMARY_ARROW

    def _materialize(parts: list) -> pa.Table:
        """One work unit's collected shuffle slices → its row table.

        Each slice row is a zstd-compressed Arrow-IPC blob of a map-side
        sub-batch; open each blob zero-copy (``as_buffer``) and
        concatenate.  The rows are opaque to the exchange, so the
        deterministic sort happens inside encode_partition.  The
        concatenation stays CHUNKED (no combine_chunks): a work unit
        whose string column sums past 2 GiB would overflow int32
        offsets in a combine (the decode-side failure class fixed in
        round 4); encode_partition handles chunked columns — its
        kernels combine per 100k-row batch slice, which is bounded."""
        tables = []
        for rb in parts:
            blob_col = rb.column("blob")
            for i in range(len(blob_col)):
                tables.append(pa.ipc.open_stream(
                    blob_col[i].as_buffer()).read_all())
        return pa.concat_tables(tables).drop_columns(["part_id"])

    def _encode_stream(batches):
        """mapInArrow kernel: consume the shuffle partition's (part_id-
        sorted) batch stream, cut it at part_id boundaries, and encode
        each work unit — with a bounded prefetch thread so the Arrow
        IPC read of the NEXT unit overlaps the codec kernels of the
        current one.  Block bytes do not depend on which blobs the
        exchange delivers first: encode_partition sorts each unit."""
        import queue
        import threading

        import numpy as np

        import vcf2parquet_spark._alloc  # noqa: F401 (executor mallopt)
        _pin_arrow(opts_b.arrow_cpu)

        DONE, ERR = object(), object()
        q: queue.Queue = queue.Queue(maxsize=8)
        # stop flag: if the consumer below raises mid-stream (e.g. a
        # kernel error in encode_partition), the reader must NOT keep
        # draining the socket-backed batch iterator — a reused Python
        # worker's next task would race the stale reads.  The reader
        # checks the flag around every (bounded-timeout) put; the
        # consumer sets it and JOINS the reader in a finally block
        # before propagating.  This MITIGATES (not eliminates) the
        # stale-read race: a reader blocked inside next(batches) — a
        # socket read — cannot observe the flag, so the join below can
        # time out with the daemon thread still alive; that case is
        # loudly reported (stderr) instead of silently proceeding.
        stop = threading.Event()

        def _put(item) -> bool:
            while not stop.is_set():
                try:
                    q.put(item, timeout=0.1)
                    return True
                except queue.Full:
                    continue
            return False

        def _reader():
            try:
                for b in batches:
                    if not _put(b):
                        return
                _put(DONE)
            except BaseException as e:   # propagate into the main thread
                if _put(ERR):
                    _put(e)

        reader = threading.Thread(target=_reader, daemon=True)
        reader.start()

        cur_pid: int | None = None
        parts: list[pa.RecordBatch] = []

        def _flush():
            nonlocal cur_pid, parts
            if cur_pid is None:
                return None
            ti = time.time()
            t = _materialize(parts)
            ipc_s = time.time() - ti
            parts = []
            summary = encode_partition(cur_pid, t, output, opts_b,
                                       list(out_cols),
                                       extra_metrics={
                                           "ipc_seconds": round(ipc_s, 4)})
            cur_pid = None
            return pa.RecordBatch.from_pylist([summary],
                                              schema=_sum_schema)

        try:
            while True:
                b = q.get()
                if b is DONE:
                    break
                if b is ERR:
                    raise q.get()
                pids = b.column("part_id").to_numpy(zero_copy_only=False)
                cuts = (np.flatnonzero(pids[1:] != pids[:-1]) + 1).tolist()
                bounds = [0, *cuts, len(pids)]
                for i in range(len(bounds) - 1):
                    lo, hi = bounds[i], bounds[i + 1]
                    if hi == lo:
                        continue
                    pid = int(pids[lo])
                    if cur_pid is not None and pid != cur_pid:
                        out = _flush()
                        if out is not None:
                            yield out
                    cur_pid = pid
                    parts.append(b.slice(lo, hi - lo))
            out = _flush()
            if out is not None:
                yield out
        finally:
            stop.set()
            try:                      # unblock a put stuck on a full queue
                while True:
                    q.get_nowait()
            except queue.Empty:
                pass
            reader.join(timeout=10.0)
            if reader.is_alive():
                # blocked in next(batches) (socket read) — it cannot see
                # the stop flag there.  Don't raise (that would mask the
                # propagating exception, if any); make the hazard loud so
                # a stale-read symptom on a reused worker is attributable.
                import sys as _sys
                print(f"vcf2parquet_spark: WARNING: shuffle prefetch "
                      f"reader still alive after 10s join (part "
                      f"{cur_pid}); a reused python worker may race "
                      f"stale reads", file=_sys.stderr, flush=True)

    # Explicit shuffle width: work units hashed into only ~#cores buckets
    # make the largest bucket the wall clock (and AQE would coalesce
    # them further).  The stream kernel encodes a shuffle partition's
    # units one after another, so the wall tail is the fullest BUCKET,
    # not the slowest unit; heavy oversubscription (default 16x cores,
    # capped by the unit count) pushes buckets toward one unit each and
    # the tail toward a single unit — this is what keeps the N->4N
    # scaling linear.  Extra near-empty tasks cost ~ms each.
    n_shuffle = max(1, min(n_parts - opts.part_id_offset,
                           spark.sparkContext.defaultParallelism
                           * opts.shuffle_oversub))

    def _pack_stream(batches):
        """Map-side packer: group each input Arrow batch's rows by
        part_id and emit ONE row per (batch, part_id) group — a
        zstd-1-compressed Arrow-IPC blob holding the group's rows.  The
        serialize/sort/IPC path then moves the compressed blob bytes
        instead of every row byte (~8.7x less uncompressed volume on
        source text — BENCH/SHUFFLE_BYTES.json; the on-wire shuffle
        size barely changes because Spark lz4s shuffle blocks either
        way).  At cluster scale the win is the
        per-node serialization + IPC memcpy budget, which Spark never
        compresses.  Vectorized: one argsort + one IPC write per
        group, no per-row Python.

        Map-side seconds (the loop body only — waiting on the upstream
        scan/join iterator is NOT pack work) are written to
        ``{output}/pack_metrics/pack_<taskPartitionId>.json`` so the
        scaling report can split the engine's compute budget into
        map-side pack vs reduce-side kernel segments."""
        import os as _os
        import numpy as np
        from pyspark import TaskContext

        import vcf2parquet_spark._alloc  # noqa: F401 (executor mallopt)
        _pin_arrow(opts_b.arrow_cpu)
        ipc_opts = pa.ipc.IpcWriteOptions(compression=pa.Codec("zstd", 1))
        pack_s = 0.0
        for b in batches:
            tb0 = time.time()
            pids = b.column("part_id").to_numpy(zero_copy_only=False)
            order = np.argsort(pids, kind="stable")
            bs = b.take(pa.array(order))
            ps = pids[order]
            cuts = (np.flatnonzero(ps[1:] != ps[:-1]) + 1).tolist()
            bounds = [0, *cuts, len(ps)]
            out_pids: list[int] = []
            out_blobs: list = []
            for i in range(len(bounds) - 1):
                lo, hi = bounds[i], bounds[i + 1]
                if hi == lo:
                    continue
                sl = bs.slice(lo, hi - lo)
                sink = pa.BufferOutputStream()
                with pa.ipc.new_stream(sink, sl.schema,
                                       options=ipc_opts) as w:
                    w.write_batch(sl)
                out_pids.append(int(ps[lo]))
                # to_pybytes: pa.array rejects Buffer objects; the copy
                # is of COMPRESSED bytes only
                out_blobs.append(sink.getvalue().to_pybytes())
            if out_pids:
                out_b = pa.record_batch(
                    {"part_id": pa.array(out_pids, pa.int64()),
                     "blob": pa.array(out_blobs, pa.binary())})
                pack_s += time.time() - tb0
                yield out_b
            else:
                pack_s += time.time() - tb0
        tc = TaskContext.get()
        mdir = _os.path.join(output, "pack_metrics")
        _os.makedirs(mdir, exist_ok=True)
        # keyed by the task's partition id, written via the table's
        # tmp+rename primitive: a retried/speculative attempt replaces
        # its predecessor atomically instead of double-counting — or
        # tearing the JSON under a concurrent zombie attempt, which
        # would crash the scaling report's collector
        tbl.atomic_write_bytes(
            _os.path.join(mdir,
                          f"pack_{tc.partitionId() if tc else 0}.json"),
            json.dumps({"pack_seconds": round(pack_s, 4)}).encode())

    # fresh per-job pack metrics: these side-files are run diagnostics,
    # not table state — nothing else cleans them, and stale files from a
    # previous run of this output would double-count in the scaling
    # report's segment split
    shutil.rmtree(os.path.join(output, "pack_metrics"), ignore_errors=True)
    # the stream kernel cuts the batch stream at part_id boundaries, so
    # each unit's blobs must be contiguous
    summaries = (with_part
                 .mapInArrow(_pack_stream, schema="part_id long, blob binary")
                 .repartition(n_shuffle, "part_id")
                 .sortWithinPartitions(F.col("part_id"))
                 .mapInArrow(_encode_stream, schema=SUMMARY_SCHEMA)
                 .collect())

    return _finalize_job(output, opts, schema_columns, n_parts, summaries)


def _finalize_job(output: str, opts: EncodeOptions,
                  schema_columns: list[str], n_parts: int,
                  summaries: list) -> dict:
    """Table-level metadata + snapshot-log entry (time travel / lineage);
    totals come from the snapshot's LIVE set (not every manifest on
    disk — compaction leaves superseded partitions behind for time
    travel until expire_snapshots reclaims them)."""
    if opts.snapshot:
        snap = tbl.commit_snapshot(output, operation="encode",
                                   wall_time=time.time())
    else:   # caller commits the snapshot; summarize without writing one
        live = tbl.live_parts(output)
        snap = {"snapshot_id": None,
                "summary": {"n_partitions": len(live),
                            "n_rows": sum(m["n_rows"] for m in live.values()),
                            "raw_bytes": sum(m["raw_bytes"]
                                             for m in live.values()),
                            "enc_bytes": sum(m["enc_bytes"]
                                             for m in live.values())}}
    committed_now = tbl.committed_parts(output)
    next_part_id = max(n_parts,
                       (max(committed_now) + 1) if committed_now else 0)
    job = {
        "current_snapshot_id": snap["snapshot_id"],
        "format": "vcf2parquet_spark.blocks.v1",
        "schema_columns": schema_columns,
        # live partition COUNT (the datasource writer records the same);
        # next_part_id is THE id watermark for part_id_offset= appends —
        # one past every id ever committed (this run's plan alone would
        # under-count after another writer, a compact, or a streaming
        # epoch touched the table)
        "n_partitions": snap["summary"]["n_partitions"],
        "next_part_id": next_part_id,
        "n_committed": snap["summary"]["n_partitions"],
        "n_rows": snap["summary"]["n_rows"],
        "raw_bytes": snap["summary"]["raw_bytes"],
        "enc_bytes": snap["summary"]["enc_bytes"],
        "batch_size": opts.batch_size,
        "target_rows": opts.target_rows,
        "encoded_this_run": [s["part_id"] for s in summaries],
    }
    tbl.write_table_meta(output, job)
    return job


def plan_file_units(input_dir: str, target_rows: int,
                    offset: int = 0) -> tuple[list[dict], int, list[str]]:
    """Deterministic work units over a parquet table's PHYSICAL layout:
    contiguous rowgroup ranges of ~``target_rows`` rows per file, from
    the sorted file list.  Returns (units, next id, schema column names).

    Rowgroups are the stable split quantum — the same table yields the
    same units at any parallelism, so block bytes are reproducible and
    resume is exact.  A single hot file fans out into many units (skew
    bounded by rowgroup-range sizing, the clustered-path analogue of
    hot-repo salting).  Footer metadata only — no data is read.  At
    Iceberg scale the file list comes from the table manifest and this
    loop distributes trivially (one footer read per file); driver-side
    is fine up to ~10^5 files.
    """
    import glob as _glob

    import pyarrow.parquet as pq

    files = sorted(_glob.glob(f"{input_dir.rstrip('/')}/*.parquet"))
    if not files:
        from vcf2parquet_spark.errors import StorageError
        raise StorageError(f"no parquet files under {input_dir!r}")
    units: list[dict] = []
    pid = offset
    schema_cols: list[str] = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        if not schema_cols:
            schema_cols = list(md.schema.to_arrow_schema().names)
        lo, acc = 0, 0
        for i in range(md.num_row_groups):
            acc += md.row_group(i).num_rows
            if acc >= target_rows or i == md.num_row_groups - 1:
                if acc > 0:
                    units.append({"part_id": pid, "path": f,
                                  "rg_lo": lo, "rg_hi": i + 1})
                    pid += 1
                lo, acc = i + 1, 0
    return units, pid, schema_cols


def encode_clustered(spark: SparkSession, input_dir: str, output: str,
                     opts: EncodeOptions | None = None, **kwargs) -> dict:
    """Shuffle-free encode of an already-materialized parquet table —
    the Iceberg-partition path the north star describes: each work unit
    is a physical rowgroup range that an executor's Python worker reads
    DIRECTLY with pyarrow and encodes in place.  Content bytes never
    enter the JVM, a shuffle, or Arrow IPC; the only distributed rows
    are (part_id, path, rg_lo, rg_hi) — the mirror image of the decode
    path, and the Spark analogue of the reference's file-in →
    encoded-file-out unit (/root/reference/src/lib.rs:34-118).

    Compared to :func:`encode` (the general path for arbitrary row
    layouts, which groups rows by repo via one shuffle + hot-repo
    salting): this path preserves the table's physical clustering, so
    use it when the input is already laid out the way you want units cut
    (e.g. an Iceberg table partitioned by repo).  Determinism at any
    parallelism, exact resume, and bounded unit size all hold by
    construction (see :func:`plan_file_units`).  ``part_id``s are
    positional over the sorted file list, so resume assumes an immutable
    input snapshot — exactly what an Iceberg snapshot id pins.
    """
    opts = opts or EncodeOptions(**kwargs)
    tbl.init_layout(output)
    units, n_parts, schema_columns = plan_file_units(
        input_dir, opts.target_rows, opts.part_id_offset)
    committed = set(tbl.committed_parts(output)) if opts.resume else set()
    todo = [u for u in units if u["part_id"] not in committed]

    _sum_schema = SUMMARY_ARROW
    opts_b = opts
    out_cols = list(schema_columns)

    def _encode_unit(batches):
        import pyarrow.parquet as pq

        import vcf2parquet_spark._alloc  # noqa: F401 (executor mallopt)
        _pin_arrow(opts_b.arrow_cpu)

        def _load(p, a, z):
            if opts_b.read_mode == "mmap":
                # page-cache-backed mapping: decompression reads the OS
                # cache directly instead of first copying every byte
                # into a fresh arena buffer
                src = pa.memory_map(p)
            else:
                src = p
            f = pq.ParquetFile(src,
                               pre_buffer=(opts_b.read_mode == "pre_buffer"))
            try:
                return f.read_row_groups(list(range(a, z)))
            finally:
                f.close()

        for b in batches:
            pids = b.column("part_id").to_pylist()
            paths = b.column("path").to_pylist()
            los = b.column("rg_lo").to_pylist()
            his = b.column("rg_hi").to_pylist()
            for pid, path, lo, hi in zip(pids, paths, los, his):
                summary = encode_partition(
                    int(pid), None, output, opts_b, out_cols,
                    loader=lambda p=path, a=lo, z=hi: _load(p, a, z))
                yield pa.RecordBatch.from_pylist([summary],
                                                 schema=_sum_schema)

    summaries: list = []
    if todo:
        fdf = spark.createDataFrame(
            [(u["part_id"], u["path"], u["rg_lo"], u["rg_hi"])
             for u in todo],
            "part_id long, path string, rg_lo int, rg_hi int")
        width = max(1, min(len(todo),
                           spark.sparkContext.defaultParallelism
                           * opts.shuffle_oversub))
        summaries = (fdf.repartition(width)   # file-name rows only
                     .mapInArrow(_encode_unit, SUMMARY_SCHEMA)
                     .collect())
    return _finalize_job(output, opts, list(schema_columns), n_parts,
                         summaries)
