"""Benchmark inputs, generated from the seed and cached per (seed, size).

Generation uses the engine's own deterministic corpus generator
(``corpus.synth_corpus_arrow``, no JVM) and is never timed.  Every
cache entry is built in a temporary directory and renamed into place,
so an interrupted run never leaves a half-written input behind.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from vcf2parquet_spark.corpus import synth_corpus_arrow

STD_ROWS = 100_000         # half the standard corpus: ~100 MB raw, content ~0.9 KB
SHORT_ROWS = 160_000       # short corpus: content cut to 160 chars, ~43 MB
SHORT_CHARS = 160
SHORT_RG_ROWS = 8_000      # ~2 MB row groups
STD_FILES = 8              # the source scan gets one task per file
UNIT_ROWS = 2_500          # encode() target_rows, as the standard encode: ~40 units
APPEND_ROWS = 1_000
APPEND_FILES = 40


def _cached(path: str, build) -> str:
    if not os.path.isdir(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        _in_child(build, tmp)
        os.replace(tmp, path)
    return path


def _in_child(fn, *args) -> None:
    """Run ``fn`` in a forked child and wait for it.  The memory that
    generation takes goes back to the OS with the child, so whether an
    input was cached does not change the client's RSS."""
    pid = os.fork()
    if pid == 0:
        code = 1
        try:
            fn(*args)
            code = 0
        finally:
            os._exit(code)
    _, status = os.waitpid(pid, 0)
    if os.waitstatus_to_exitcode(status) != 0:
        raise RuntimeError(f"input generation failed: {fn.__name__}{args}")


def _write_files(t: pa.Table, out: str, n_files: int,
                 row_group_rows: int | None = None) -> None:
    step = -(-t.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(t.slice(i * step, step),
                       os.path.join(out, f"part-{i:05d}.parquet"),
                       compression="snappy", row_group_size=row_group_rows)


def standard_table(seed: int, n_rows: int = STD_ROWS) -> pa.Table:
    return synth_corpus_arrow(n_rows, seed=seed)


def short_table(seed: int, n_rows: int = SHORT_ROWS) -> pa.Table:
    t = synth_corpus_arrow(n_rows, seed=seed)
    cut = pc.utf8_slice_codeunits(t.column("content"), 0, SHORT_CHARS)
    return t.set_column(t.schema.get_field_index("content"), "content", cut)


def standard_dir(work: str, seed: int, n_rows: int = STD_ROWS) -> str:
    """Parquet+snappy standard corpus in ``STD_FILES`` files."""
    return _cached(os.path.join(work, "inputs", f"std-{seed}-{n_rows}"),
                   lambda d: _write_files(standard_table(seed, n_rows), d,
                                          STD_FILES))


def short_dir(work: str, seed: int, n_rows: int = SHORT_ROWS) -> str:
    """Parquet+snappy short-content corpus, one file of ~2 MB row groups
    (``encode_clustered`` cuts its units from the row groups)."""
    return _cached(os.path.join(work, "inputs", f"short-{seed}-{n_rows}"),
                   lambda d: _write_files(short_table(seed, n_rows), d, 1,
                                          SHORT_RG_ROWS))


def append_dir(work: str, seed: int) -> str:
    """``APPEND_FILES`` files of ``APPEND_ROWS`` rows each, cut from a
    standard corpus whose ids start at a seed-derived offset (so the
    appended rows differ from the scan table's)."""
    def build(d):
        t = synth_corpus_arrow(APPEND_ROWS * APPEND_FILES, seed=seed + 1)
        for i in range(APPEND_FILES):
            pq.write_table(t.slice(i * APPEND_ROWS, APPEND_ROWS),
                           os.path.join(d, f"append-{i:05d}.parquet"),
                           compression="snappy")
    return _cached(os.path.join(work, "inputs", f"append-{seed}"), build)


def read_dir(path: str) -> pa.Table:
    return pq.read_table(path)


def parquet_bytes(path: str) -> int:
    """On-disk bytes of the parquet files under ``path`` — the
    Parquet+snappy footprint of the same rows."""
    return sum(os.path.getsize(os.path.join(path, f))
               for f in os.listdir(path) if f.endswith(".parquet"))


def raw_bytes(t: pa.Table) -> int:
    """Raw value bytes of the corpus columns (string payloads only),
    the basis of every MB/s figure."""
    return sum(int(pc.sum(pc.binary_length(t.column(c))).as_py() or 0)
               for c in t.column_names)


def content_digest(values: pa.ChunkedArray | pa.Array) -> tuple[int, int, int]:
    """(count, nulls, xor of the first 60 bits of each value's sha256).
    Order-independent, so it compares with the Spark-side digest
    computed in ``workloads.spark_content_digest``."""
    acc, nulls = 0, 0
    for v in values.to_pylist():
        if v is None:
            nulls += 1
            continue
        h = hashlib.sha256(v.encode("utf-8")).hexdigest()[:15]
        acc ^= int(h, 16)
    return len(values), nulls, acc


def zipf_pick(repos: list[str], counts: list[int], k: int,
              seed: int) -> list[str]:
    """``k`` repos drawn by row-count weight, seeded — hot repos recur,
    cold ones still appear."""
    rng = np.random.default_rng(seed)
    w = np.asarray(counts, dtype=np.float64)
    idx = rng.choice(len(repos), size=k, p=w / w.sum())
    return [repos[i] for i in idx]
