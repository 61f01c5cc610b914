"""No-JVM kernel table: encode/decode MB/s and ratio per (codec, column).

The pairs are the ones the selector picks on the standard corpus
(``repo`` rle, ``path`` fsst+zlib, ``commit`` rle, ``lang`` dict,
``content`` plain+brotli9, the derived ints bitpack) and on the
160-char corpus (``content`` fsst+zlib), plus the alternatives a
selector change would move to (``repo`` dict, FOR on the derived ints)
and a ``plain+zstd`` reference on ``content``.  Arrays are cut from the
seeded inputs, sorted the way ``encode_partition`` sorts a unit, and
every pair is round-trip checked.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from perfbench import inputs
from perfbench.harness import MB, median

PAIRS = (("plain+brotli9", "content", "std"), ("plain+zstd", "content", "std"),
         ("fsst+zlib", "content", "short"), ("fsst+zlib", "path", "std"),
         ("rle", "repo", "std"), ("dict", "repo", "std"),
         ("rle", "commit", "std"), ("dict", "lang", "std"),
         ("bitpack", "size_bytes", "std"), ("for", "size_bytes", "std"),
         ("bitpack", "n_lines", "std"), ("for", "n_lines", "std"))
ROWS = {"std": 4_000, "short": 16_000}    # ~3.7 MB / ~2.6 MB of content
SOURCE_ROWS = 20_000      # the seeded corpus the arrays are cut from
MIN_REPS, MIN_SECONDS = 3, 0.15


def _name(codec: str, column: str, what: str) -> str:
    return f"kernels.{codec.replace('+', '-')}.{column}.{what}"


KERNEL_METRICS = [
    (_name(c, col, what), unit, "higher")
    for c, col, _ in PAIRS
    for what, unit in (("enc_mbps", "MB/s"), ("dec_mbps", "MB/s"),
                       ("ratio", "ratio"))]


def _unit(t: pa.Table, rows: int, seed: int) -> pa.Table:
    from vcf2parquet_spark.encode import _derive_int_columns

    lo = int(np.random.default_rng(seed).integers(0, t.num_rows - rows + 1))
    t = t.slice(lo, rows)
    keys = [(c, "ascending") for c in ("repo", "path", "commit", "content")]
    return _derive_int_columns(t.take(pc.sort_indices(t, sort_keys=keys)))


def _raw(arr: pa.Array) -> int:
    if pa.types.is_string(arr.type):
        return int(pc.sum(pc.binary_length(arr)).as_py() or 0)
    return 8 * len(arr)


def _timed(fn) -> tuple[float, object]:
    times, out = [], None
    t_end = time.perf_counter() + MIN_SECONDS
    while len(times) < MIN_REPS or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return median(times), out


def kernel_table(seed: int) -> tuple[dict, dict]:
    """Returns (metrics, round-trip result per pair)."""
    from vcf2parquet_spark.kernels import decode_column, encode_column

    n = SOURCE_ROWS
    units = {"std": _unit(inputs.standard_table(seed, n), ROWS["std"], seed),
             "short": _unit(inputs.short_table(seed, n), ROWS["short"],
                            seed)}
    metrics, roundtrip = {}, {}
    for codec, column, src in PAIRS:
        arr = units[src].column(column).combine_chunks()
        raw = _raw(arr)
        enc_s, (payload, meta) = _timed(lambda: encode_column(arr, codec))
        dec_s, back = _timed(lambda: decode_column(payload, meta))
        roundtrip[f"{codec}/{column}"] = back.equals(arr)
        metrics[_name(codec, column, "enc_mbps")] = raw / MB / enc_s
        metrics[_name(codec, column, "dec_mbps")] = raw / MB / dec_s
        metrics[_name(codec, column, "ratio")] = raw / len(payload)
    return metrics, roundtrip
