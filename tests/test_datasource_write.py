"""The write half of the ``vcfblocks`` format:
``df.write.format("vcfblocks").mode(...).save(out)``.

Spark's writer commit protocol is mapped onto the table's snapshot log:
every task encodes its input partition via ``encode_partition`` (same
kernels, manifests, atomic file commits as ``encode()``), the driver's
``commit()`` appends ONE snapshot — ``append`` keeps the previous live
set, ``overwrite`` is an Iceberg-style LOGICAL overwrite (old parts
leave the live set but remain for time travel).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from vcf2parquet_spark import table as tbl
from vcf2parquet_spark.corpus import synth_corpus
from vcf2parquet_spark.datasource import register_data_source
from vcf2parquet_spark.decode import decode, verify
from vcf2parquet_spark.encode import encode

N_ROWS = 2_000


@pytest.fixture(scope="module")
def reg(spark):
    register_data_source(spark)
    return spark


def test_write_roundtrip_sha256(reg, tmp_path):
    spark = reg
    out = str(tmp_path / "w_blocks")
    df = synth_corpus(spark, N_ROWS, seed=11, partitions=4)
    df.write.format("vcfblocks").mode("append").save(out)

    got = decode(spark, out)
    assert got.count() == N_ROWS
    # the engine's own sha256 verifier: decoded content bit-identical
    rep = verify(spark, df, out)
    assert rep["ok"], rep
    # one snapshot, 4 partitions (one per input partition)
    snaps = tbl.snapshots(out)
    assert len(snaps) == 1 and snaps[0]["operation"] == "append"
    assert snaps[0]["summary"]["n_partitions"] == 4
    meta = tbl.read_table_meta(out)
    assert meta["n_rows"] == N_ROWS


def test_write_matches_encode_blocks(reg, tmp_path):
    """Same rows, same unit split → byte-identical manifests' digests as
    the encode() clustered-style path (deterministic kernels)."""
    spark = reg
    df = synth_corpus(spark, N_ROWS, seed=12, partitions=2)
    out_w = str(tmp_path / "via_writer")
    df.repartition(2, "repo").write.format("vcfblocks").mode("append").save(out_w)
    got = decode(spark, out_w)
    want = df
    assert got.count() == want.count()
    assert got.select(*want.columns).exceptAll(want).count() == 0
    assert want.exceptAll(got.select(*want.columns)).count() == 0


def test_append_then_read_and_time_travel(reg, tmp_path):
    spark = reg
    out = str(tmp_path / "a_blocks")
    d1 = synth_corpus(spark, 800, seed=1, partitions=2)
    d1.write.format("vcfblocks").mode("append").save(out)
    sid1 = tbl.read_table_meta(out)["current_snapshot_id"]
    d2 = (synth_corpus(spark, 600, seed=2, partitions=2)
          .withColumn("repo", F.concat(F.lit("v2/"), F.col("repo"))))
    d2.write.format("vcfblocks").mode("append").save(out)

    now = spark.read.format("vcfblocks").load(out)
    assert now.count() == 1400
    asof = (spark.read.format("vcfblocks")
            .option("snapshot_id", sid1).load(out))
    assert asof.count() == 800
    assert asof.filter(F.col("repo").startswith("v2/")).count() == 0


def test_overwrite_is_logical_snapshot(reg, tmp_path):
    spark = reg
    out = str(tmp_path / "o_blocks")
    d1 = synth_corpus(spark, 900, seed=3, partitions=3)
    d1.write.format("vcfblocks").mode("append").save(out)
    sid1 = tbl.read_table_meta(out)["current_snapshot_id"]
    n_manifests_before = len(tbl.committed_parts(out))

    d2 = synth_corpus(spark, 400, seed=4, partitions=2)
    d2.write.format("vcfblocks").mode("overwrite").save(out)

    now = spark.read.format("vcfblocks").load(out)
    assert now.count() == 400                       # only the new live set
    snaps = tbl.snapshots(out)
    assert snaps[-1]["operation"] == "overwrite"
    # old parts remain on disk for time travel until expire_snapshots
    assert len(tbl.committed_parts(out)) == n_manifests_before + 2
    asof = (spark.read.format("vcfblocks")
            .option("snapshot_id", sid1).load(out))
    assert asof.count() == 900


def test_writer_interops_with_encode_api(reg, tmp_path):
    """A table started by encode() accepts writer appends: part ids
    continue past the committed set, both snapshots line up."""
    spark = reg
    out = str(tmp_path / "mix_blocks")
    d1 = synth_corpus(spark, 700, seed=5, partitions=2)
    job = encode(spark, d1, out, target_rows=400)
    d2 = (synth_corpus(spark, 300, seed=6, partitions=2)
          .withColumn("repo", F.concat(F.lit("w/"), F.col("repo"))))
    d2.write.format("vcfblocks").mode("append").save(out)

    assert decode(spark, out).count() == 1000
    new_ids = set(tbl.committed_parts(out)) - set(range(job["next_part_id"]))
    assert new_ids and min(new_ids) >= job["next_part_id"]


def test_writer_options_respected(reg, tmp_path):
    spark = reg
    out = str(tmp_path / "opt_blocks")
    df = synth_corpus(spark, 500, seed=7, partitions=1)
    (df.write.format("vcfblocks").mode("append")
       .option("residual", "zstd").option("long_strings", "fsst")
       .save(out))
    m = next(iter(tbl.committed_parts(out).values()))
    assert m["codecs"]["content"].startswith("fsst")
    got = decode(spark, out)
    assert got.count() == 500
    assert got.select(*df.columns).exceptAll(df).count() == 0


def test_schema_changing_overwrite_and_time_travel(reg, tmp_path):
    """After an overwrite with a DIFFERENT schema, current reads present
    the new schema and a snapshot_id read presents the OLD parts' schema
    (column set comes from the selected manifests, not the table file)."""
    spark = reg
    out = str(tmp_path / "sc_blocks")
    d1 = synth_corpus(spark, 300, seed=13, partitions=1)
    d1.write.format("vcfblocks").mode("append").save(out)
    sid1 = tbl.read_table_meta(out)["current_snapshot_id"]

    d2 = (synth_corpus(spark, 200, seed=14, partitions=1)
          .withColumnRenamed("commit", "rev"))          # new schema
    d2.write.format("vcfblocks").mode("overwrite").save(out)

    now = spark.read.format("vcfblocks").load(out)
    assert "rev" in now.columns and "commit" not in now.columns
    asof = (spark.read.format("vcfblocks")
            .option("snapshot_id", sid1).load(out))
    assert "commit" in asof.columns and "rev" not in asof.columns
    assert asof.count() == 300
    old = decode(spark, out, snapshot_id=sid1)
    assert "commit" in old.columns and old.count() == 300


def test_empty_overwrite_schema_is_newest(reg, tmp_path):
    """write(A) → overwrite(B) → overwrite(empty B): the live set is
    empty, so schema() falls back to a committed manifest — the newest
    one (B's schema), not the oldest (A's)."""
    spark = reg
    out = str(tmp_path / "eo_blocks")
    synth_corpus(spark, 100, seed=21, partitions=1) \
        .write.format("vcfblocks").mode("append").save(out)
    d2 = (synth_corpus(spark, 100, seed=22, partitions=1)
          .withColumnRenamed("commit", "rev"))
    d2.write.format("vcfblocks").mode("overwrite").save(out)
    d2.limit(0).write.format("vcfblocks").mode("overwrite").save(out)
    assert tbl.live_parts(out) == {}

    now = spark.read.format("vcfblocks").load(out)
    assert "rev" in now.columns and "commit" not in now.columns


def test_append_schema_mismatch_raises(reg, tmp_path):
    spark = reg
    out = str(tmp_path / "mm_blocks")
    synth_corpus(spark, 100, seed=15, partitions=1) \
        .write.format("vcfblocks").mode("append").save(out)
    bad = (synth_corpus(spark, 100, seed=16, partitions=1)
           .withColumnRenamed("commit", "rev"))
    with pytest.raises(Exception) as ei:
        bad.write.format("vcfblocks").mode("append").save(out)
    assert "schema" in str(ei.value).lower()


def test_compact_writer_table(reg, tmp_path):
    """Streaming/writer appends accumulate small partitions — the exact
    small-file case compact() exists for.  A writer-written table
    compacts like any other: fewer live parts, same rows, and the data
    source reads the post-compact live set."""
    from vcf2parquet_spark.maintenance import compact

    spark = reg
    out = str(tmp_path / "c_blocks")
    df = synth_corpus(spark, 1200, seed=17, partitions=1)
    df.repartition(6).write.format("vcfblocks").mode("append").save(out)
    assert len(tbl.live_parts(out)) == 6

    rep = compact(spark, out, target_rows=2000)
    assert rep["status"] != "noop"
    assert len(tbl.live_parts(out)) < 6
    got = spark.read.format("vcfblocks").load(out)
    assert got.count() == 1200
    assert got.exceptAll(df).count() == 0 and df.exceptAll(got).count() == 0


def test_empty_partitions_are_skipped(reg, tmp_path):
    spark = reg
    out = str(tmp_path / "e_blocks")
    df = synth_corpus(spark, 50, seed=8, partitions=1).repartition(8)
    df.write.format("vcfblocks").mode("append").save(out)
    # at most 8 parts; empty splits must not create phantom partitions
    parts = tbl.committed_parts(out)
    assert all(m["n_rows"] > 0 for m in parts.values())
    assert decode(spark, out).count() == 50


def test_empty_prune_schema_tracks_live_set(reg, tmp_path):
    """When filters prune EVERY partition, the empty DataFrame's schema
    must come from the selection decode() reads (the live set), not
    from the oldest committed manifest — after a schema-changing
    logical overwrite those disagree (code-review r5)."""
    import pytest as _pytest

    from vcf2parquet_spark.errors import StorageError

    spark = reg
    out = str(tmp_path / "blocks")
    df = synth_corpus(spark, 200, seed=9)
    encode(spark, df, out)                         # 5-column schema
    df.select("repo", "path", "commit", "lang") \
      .write.format("vcfblocks").mode("overwrite").save(out)

    nothing = [("repo", "==", "zzzz-no-match")]
    e = decode(spark, out, filters=nothing)
    assert e.columns == ["repo", "path", "commit", "lang"]
    assert e.count() == 0
    # time travel back to the old snapshot keeps the OLD schema
    snaps = [s["snapshot_id"] for s in tbl.snapshots(out)]
    e0 = decode(spark, out, snapshot_id=snaps[0], filters=nothing)
    assert e0.columns == ["repo", "path", "commit", "lang", "content"]
    # an explicitly requested column missing from the live schema is a
    # StorageError, not a KeyError
    with _pytest.raises(StorageError, match="unknown columns"):
        decode(spark, out, columns=["content"], filters=nothing)
