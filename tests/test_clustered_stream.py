"""Tests for ``encode_clustered`` — the shuffle-free Iceberg-partition
path: work units are physical parquet rowgroup ranges read directly by
the executor's Python worker (mirrors the reference's file-in →
encoded-file-out unit, /root/reference/src/lib.rs:34-118).
"""

from __future__ import annotations

import glob
import hashlib
import os

import pyarrow.parquet as pq

from vcf2parquet_spark import table as tbl
from vcf2parquet_spark.corpus import synth_corpus
from vcf2parquet_spark.encode import (EncodeOptions, encode_clustered,
                                      plan_file_units)
from vcf2parquet_spark.decode import decode, verify

N_ROWS = 5_000


def _block_digests(out: str) -> dict[str, str]:
    per_part = {}
    for f in sorted(glob.glob(f"{out}/data/*.parquet")):
        t = pq.read_table(f)
        h = hashlib.sha256()
        for col in ("column", "codec", "meta"):
            h.update("".join(t.column(col).to_pylist()).encode())
        for d in t.column("data").to_pylist():
            h.update(d)
        per_part[os.path.basename(f)] = h.hexdigest()
    return per_part


def _write_clustered_input(spark, df, path: str, row_group_size: int = 600):
    """Materialize df as a 2-file parquet table with small rowgroups so
    plan_file_units has real ranges to cut."""
    pdf = df.toPandas()
    import pyarrow as pa
    t = pa.Table.from_pandas(pdf, preserve_index=False)
    os.makedirs(path, exist_ok=True)
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), f"{path}/part-000.parquet",
                   row_group_size=row_group_size)
    pq.write_table(t.slice(half), f"{path}/part-001.parquet",
                   row_group_size=row_group_size)


def test_plan_file_units_deterministic(spark, tmp_path):
    df = synth_corpus(spark, N_ROWS, seed=11, partitions=2)
    src = str(tmp_path / "src")
    _write_clustered_input(spark, df, src)
    units1, n1, cols1 = plan_file_units(src, target_rows=1_200)
    units2, n2, cols2 = plan_file_units(src, target_rows=1_200)
    assert units1 == units2 and n1 == n2 and cols1 == cols2
    assert n1 == len(units1) > 2          # multiple units per file
    assert cols1[:2] == ["repo", "path"]
    # units cover every rowgroup exactly once, in order
    for f in sorted({u["path"] for u in units1}):
        rgs = [r for u in units1 if u["path"] == f
               for r in range(u["rg_lo"], u["rg_hi"])]
        assert rgs == list(range(pq.ParquetFile(f).metadata.num_row_groups))


def test_encode_clustered_roundtrip_and_resume(spark, tmp_path):
    df = synth_corpus(spark, N_ROWS, seed=11, partitions=2)
    src = str(tmp_path / "src")
    _write_clustered_input(spark, df, src)
    out = str(tmp_path / "blocks")
    job = encode_clustered(spark, src, out, target_rows=1_200)
    assert job["n_committed"] == job["n_partitions"] > 2
    assert job["n_rows"] == N_ROWS
    # sha256 round-trip against the table as Spark reads it
    res = verify(spark, spark.read.parquet(src), out)
    assert res["ok"], res
    # exact resume: nothing left to encode on a second run
    job2 = encode_clustered(spark, src, out, target_rows=1_200)
    assert job2["encoded_this_run"] == []
    assert job2["n_committed"] == job["n_committed"]
    # partial resume: drop one partition's manifest, only it re-encodes
    victim = sorted(tbl.committed_parts(out))[0]
    os.remove(os.path.join(out, "manifests", f"part-{victim:05d}.json"))
    job3 = encode_clustered(spark, src, out, target_rows=1_200)
    assert job3["encoded_this_run"] == [victim]
    res = verify(spark, spark.read.parquet(src), out)
    assert res["ok"], res


def test_encode_clustered_deterministic_bytes(spark, tmp_path):
    """Same input table ⇒ same block bytes, independent of session
    parallelism (units are cut from the physical layout, not the DAG)."""
    df = synth_corpus(spark, N_ROWS, seed=13, partitions=2)
    src = str(tmp_path / "src")
    _write_clustered_input(spark, df, src)
    digests = []
    for i, oversub in enumerate((1, 16)):
        out = str(tmp_path / f"b{i}")
        encode_clustered(spark, src, out,
                         EncodeOptions(target_rows=1_200,
                                       shuffle_oversub=oversub))
        digests.append(_block_digests(out))
    assert digests[0] == digests[1]
    # ...and independent of the rowgroup read strategy
    for i, mode in enumerate(("pre_buffer", "plain")):
        out = str(tmp_path / f"m{i}")
        encode_clustered(spark, src, out,
                         EncodeOptions(target_rows=1_200, read_mode=mode))
        assert _block_digests(out) == digests[0], mode


def test_encode_clustered_decode_columns(spark, tmp_path):
    df = synth_corpus(spark, 2_000, seed=17, partitions=1)
    src = str(tmp_path / "src")
    _write_clustered_input(spark, df, src, row_group_size=500)
    out = str(tmp_path / "blocks")
    encode_clustered(spark, src, out, target_rows=1_000)
    got = decode(spark, out).select("repo", "path", "content")
    want = spark.read.parquet(src).select("repo", "path", "content")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
