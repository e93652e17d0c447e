"""End-to-end MPHF invariants on Spark (the canonical oracle of
RandomizedTest.java:1324-1347): build on the deterministic sequences table,
serialize, reload, evaluate EVERY key, assert bijection onto [0, n);
plus determinism, token-array equality (input_hint per-row invariant),
and checkpoint/resume byte-identity."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from recsplit_spark.data import sequence_batch, sequences
from recsplit_spark.mphf import MPHFDescriptor, RecSplitBuilder


@pytest.fixture(scope="module")
def seq10k(spark):
    df = sequences(spark, 10_000, partitions=4).cache()
    df.count()
    return df


def _assert_bijection(df_with_idx, n):
    stats = df_with_idx.agg(
        F.count("*").alias("cnt"),
        F.countDistinct("mphf_index").alias("dst"),
        F.min("mphf_index").alias("mn"),
        F.max("mphf_index").alias("mx"),
    ).collect()[0]
    assert stats["cnt"] == n and stats["dst"] == n
    assert stats["mn"] == 0 and stats["mx"] == n - 1


def test_build_evaluate_bijection(spark, seq10k):
    desc = RecSplitBuilder(leaf_size=8, avg_bucket_size=128).build(seq10k, "doc_id")
    assert desc.n == 10_000
    # always evaluate through the serialized descriptor (never in-memory
    # state) — reference always reloads via `new BitBuffer(data)`
    desc2 = MPHFDescriptor.from_bytes(desc.to_bytes())
    _assert_bijection(desc2.evaluate(seq10k, "doc_id"), 10_000)


def test_bits_per_key_gate(spark):
    # BASELINE.md target: <= 2.0 bits/key at leaf 8. Constant header/list
    # overhead amortizes with n (reference grid used 30M keys); 30k is the
    # smallest size where the asymptotic rate dominates.
    df = sequences(spark, 30_000, partitions=4)
    desc = RecSplitBuilder(leaf_size=8, avg_bucket_size=128).build(df, "doc_id")
    assert desc.bits_per_key <= 2.0  # BASELINE.md target
    assert desc.bits_per_key >= 1.44  # information-theoretic lower bound


@pytest.mark.parametrize("leaf,avg", [(4, 32), (8, 64), (10, 256)])
def test_parameter_sweep(spark, leaf, avg):
    df = sequences(spark, 3_000, partitions=2)
    desc = RecSplitBuilder(leaf_size=leaf, avg_bucket_size=avg).build(df, "doc_id")
    desc2 = MPHFDescriptor.from_bytes(desc.to_bytes())
    _assert_bijection(desc2.evaluate(df, "doc_id"), 3_000)


def test_build_deterministic_across_partitionings(spark):
    """Different input partitioning / kernel parallelism -> identical
    descriptor bytes (associative merge; FIXTURES.md F5)."""
    a = sequences(spark, 5_000, partitions=2)
    b = sequences(spark, 5_000, partitions=7)
    d1 = RecSplitBuilder(leaf_size=8, avg_bucket_size=128, partitions=2).build(a, "doc_id")
    d2 = RecSplitBuilder(leaf_size=8, avg_bucket_size=128, partitions=5).build(b, "doc_id")
    assert d1.to_bytes() == d2.to_bytes()


def test_token_array_equality(spark, seq10k):
    """input_hint per-row invariant: joining mphf_index back reproduces each
    row's tokens exactly."""
    desc = RecSplitBuilder(leaf_size=8, avg_bucket_size=128).build(seq10k, "doc_id")
    indexed = desc.evaluate(seq10k, "doc_id").select("doc_id", "mphf_index", "tokens")
    rejoin = indexed.alias("a").join(
        indexed.select("mphf_index", F.col("tokens").alias("tokens_b")).alias("b"),
        on="mphf_index",
    )
    bad = rejoin.filter(F.col("tokens") != F.col("tokens_b")).count()
    assert bad == 0
    assert rejoin.count() == 10_000  # 1:1 join through the index


def test_evaluate_subset_and_order(spark, seq10k):
    desc = RecSplitBuilder(leaf_size=8, avg_bucket_size=128).build(seq10k, "doc_id")
    full = {
        r["doc_id"]: r["mphf_index"]
        for r in desc.evaluate(seq10k, "doc_id").select("doc_id", "mphf_index").collect()
    }
    sub = seq10k.filter(F.col("source") == "web")
    for r in desc.evaluate(sub, "doc_id").select("doc_id", "mphf_index").collect():
        assert full[r["doc_id"]] == r["mphf_index"]


def test_duplicate_keys_fail(spark):
    df = spark.createDataFrame([("a",), ("b",), ("a",)], "doc_id string")
    with pytest.raises(RuntimeError, match="salt re-rolls"):
        RecSplitBuilder(max_salt_retries=2).build(df, "doc_id")


def test_long_keys(spark):
    """FIXTURES F2: 64-bit key set via a LongType column."""
    df = spark.range(5_000).select(F.xxhash64("id").alias("key"))
    desc = RecSplitBuilder(leaf_size=8, avg_bucket_size=64).build(df, "key")
    _assert_bijection(
        MPHFDescriptor.from_bytes(desc.to_bytes()).evaluate(df, "key"), 5_000
    )


def test_empty_and_tiny(spark):
    empty = spark.createDataFrame([], "doc_id string")
    d0 = RecSplitBuilder().build(empty, "doc_id")
    assert d0.n == 0
    one = spark.createDataFrame([("x",)], "doc_id string")
    d1 = RecSplitBuilder().build(one, "doc_id")
    out = MPHFDescriptor.from_bytes(d1.to_bytes()).evaluate(one, "doc_id").collect()
    assert out[0]["mphf_index"] == 0


def test_checkpoint_resume_byte_identical(spark, tmp_path):
    """Kill-and-resume: build ranges partially, then resume — final
    descriptor must be byte-identical to a direct build (SURVEY §7)."""
    df = sequences(spark, 8_000, partitions=4).cache()
    df.count()
    direct = RecSplitBuilder(leaf_size=8, avg_bucket_size=128).build(df, "doc_id")

    ckpt = str(tmp_path / "ckpt")
    b = RecSplitBuilder(leaf_size=8, avg_bucket_size=128, checkpoint_dir=ckpt)
    full = b.build(df, "doc_id")
    assert full.to_bytes() == direct.to_bytes()

    # simulate a crash: drop half the checkpointed ranges, then resume
    import glob as _glob
    import os as _os

    part_files = sorted(_glob.glob(f"{ckpt}/salt=0/part-*"))
    assert part_files, "expected checkpoint part files"
    for f in part_files[: max(1, len(part_files) // 2)]:
        _os.remove(f)
    resumed = RecSplitBuilder(
        leaf_size=8, avg_bucket_size=128, checkpoint_dir=ckpt
    ).build(df, "doc_id")
    assert resumed.to_bytes() == direct.to_bytes()


def test_build_checkpoint_manifest_guards(spark, tmp_path):
    """The build checkpoint pins (leaf_size, avg_bucket_size, rule_gen,
    blog2): resuming with a different leaf_size (same bucket geometry)
    would merge blobs encoded under a different rule table with newly
    built blocks — key-count and stream-length checks still pass, so the
    descriptor silently misdecodes. Must fail loudly instead; same for a
    pre-manifest checkpoint (committed blocks, no manifest)."""
    import glob as _glob
    import os as _os
    import shutil

    import pytest

    df = sequences(spark, 4_000, partitions=4).cache()
    df.count()
    ckpt = str(tmp_path / "ckpt_manifest")
    RecSplitBuilder(leaf_size=8, avg_bucket_size=128, checkpoint_dir=ckpt).build(
        df, "doc_id"
    )
    # drop a block file so a resume actually has work to do
    part_files = sorted(_glob.glob(f"{ckpt}/salt=0/part-*"))
    assert part_files
    _os.remove(part_files[0])
    # changed leaf_size -> loud mismatch, not a silent mixed-rule merge
    with pytest.raises(Exception, match="manifest mismatch"):
        RecSplitBuilder(
            leaf_size=10, avg_bucket_size=128, checkpoint_dir=ckpt
        ).build(df, "doc_id")
    # pre-manifest checkpoint (blocks committed, manifest gone) -> loud
    shutil.rmtree(f"{ckpt}/_manifest")
    with pytest.raises(Exception, match="no readable manifest"):
        RecSplitBuilder(
            leaf_size=8, avg_bucket_size=128, checkpoint_dir=ckpt
        ).build(df, "doc_id")
    df.unpersist()


def test_sequence_batch_deterministic():
    a = sequence_batch(100, 200)
    b = sequence_batch(100, 200)
    assert a[0] == b[0]
    assert all((x == y).all() for x, y in zip(a[1], b[1]))


def test_fixture_matches_spec():
    """doc_id formula from FIXTURES.md F1 (mix64(i ^ golden) hex)."""
    doc_ids, tokens, n_tok, src = sequence_batch(0, 3)
    from recsplit_spark.hashing import mix64_scalar

    for i in range(3):
        h = mix64_scalar(i ^ 0x9E3779B97F4A7C15)
        assert doc_ids[i] == f"doc-{h:016x}"
        assert 16 <= n_tok[i] <= 512
        assert len(tokens[i]) == n_tok[i]
        assert tokens[i].max() < 50_257


def test_read_sequences_roundtrip(spark, tmp_path):
    import pytest as _pt

    from recsplit_spark.data import sequences
    from recsplit_spark.io import read_sequences, write_sequences

    df = sequences(spark, 1_000, partitions=2)
    path = str(tmp_path / "seqs")
    write_sequences(df, path)
    back = read_sequences(spark, path)  # schema contract validated
    assert back.count() == 1_000

    bad_path = str(tmp_path / "bad")
    df.select("doc_id", "source").write.parquet(bad_path)  # missing columns
    with _pt.raises(ValueError, match="schema mismatch"):
        read_sequences(spark, bad_path)


def test_register_sql_function(spark, sf_dir):
    """SQL surface: SELECT mphf_eval(key) gives the same bijection as the
    DataFrame evaluate path (hashing stays JVM-side inside the SQL UDF)."""
    import pyspark.sql.functions as F

    from recsplit_spark.mphf import MPHFDescriptor, RecSplitBuilder
    from recsplit_spark.session import ship_package

    ship_package(spark)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey").distinct()
    desc = MPHFDescriptor.from_bytes(
        RecSplitBuilder(leaf_size=8, avg_bucket_size=64).build(orders, "o_orderkey").to_bytes()
    )
    desc.register_sql(spark, "mphf_eval_t")
    orders.createOrReplaceTempView("ok_keys")
    got = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT mphf_eval_t(o_orderkey)) AS d,"
        " min(mphf_eval_t(o_orderkey)) AS mn, max(mphf_eval_t(o_orderkey)) AS mx"
        " FROM ok_keys"
    ).collect()[0]
    assert got["n"] == got["d"] == desc.n and got["mn"] == 0 and got["mx"] == desc.n - 1
    # agrees row-for-row with the DataFrame path
    df_path = desc.evaluate(orders, "o_orderkey")
    sql_path = spark.sql(
        "SELECT o_orderkey, mphf_eval_t(o_orderkey) AS mphf_index FROM ok_keys"
    )
    assert df_path.exceptAll(sql_path).count() == 0


def test_checkpoint_resume_at_1024_ranges(spark, tmp_path):
    """Resume must stay cheap when the checkpoint holds >= 1024 committed
    bucket ranges: the round-2 OR-chain of per-range predicates built a
    Catalyst expression tree thousands of nodes deep; the membership test
    is now a broadcast-bounds binary search (flat plan at any range
    count). Build with partitions=1024, drop a few ranges, resume — the
    result must stay byte-identical to a direct build."""
    import glob as _glob
    import os as _os

    import pyspark.sql.functions as F

    n = 1 << 17  # bucket count 1024 at avg_bucket_size=128
    df = spark.range(0, n, 1, 32).select(F.xxhash64("id").alias("key")).cache()
    df.count()
    direct = RecSplitBuilder(leaf_size=8, avg_bucket_size=128).build(df, "key", n=n)

    ckpt = str(tmp_path / "ckpt1024")
    b = RecSplitBuilder(
        leaf_size=8, avg_bucket_size=128, partitions=1024, checkpoint_dir=ckpt
    )
    full = b.build(df, "key", n=n)
    assert full.to_bytes() == direct.to_bytes()
    import pyarrow.parquet as pq

    n_ranges = sum(
        pq.read_table(f, columns=["min_bucket"]).num_rows
        for f in _glob.glob(f"{ckpt}/salt=0/part-*")
    )
    assert n_ranges >= 1000, n_ranges  # repartitionByRange may fuse a boundary

    part_files = sorted(_glob.glob(f"{ckpt}/salt=0/part-*"))
    for f in part_files[: max(1, len(part_files) // 8)]:
        _os.remove(f)
    resumed = RecSplitBuilder(
        leaf_size=8, avg_bucket_size=128, partitions=1024, checkpoint_dir=ckpt
    ).build(df, "key", n=n)
    assert resumed.to_bytes() == direct.to_bytes()


def test_range_membership_handles_overlapping_spans(spark):
    """Resume rebuild partitions span contiguous ranges of the REMAINING
    buckets, so committed spans can straddle earlier holes — membership is
    the UNION of spans (the semantics the round-2 OR-chain had). The
    binary-search filter must union-merge overlaps or a second resume
    double-builds buckets inside straddled spans (review finding)."""
    import pyspark.sql.functions as F

    from recsplit_spark.mphf import _range_membership_udf

    ranges = [(10, 20), (0, 30), (40, 45), (44, 50), (60, 60)]
    udf = _range_membership_udf(spark, ranges)
    rows = (
        spark.range(0, 70)
        .select(F.col("id").alias("bucket"))
        .withColumn("hit", udf(F.col("bucket")))
        .collect()
    )
    got = {r["bucket"] for r in rows if r["hit"]}
    want = {b for b in range(70) if any(lo <= b <= hi for lo, hi in ranges)}
    assert got == want


def test_space_priority_builder_end_to_end(spark):
    """RecSplitBuilder(space_priority=True): distributed build stamps
    rule generation 2, round-trips through bytes, and the bijection
    holds through the normal evaluate path."""
    import pyspark.sql.functions as F

    from recsplit_spark.data import sequences
    from recsplit_spark.mphf import MPHFDescriptor, RecSplitBuilder

    df = sequences(spark, 60_000, partitions=4).select("doc_id")
    desc = RecSplitBuilder(
        leaf_size=12, avg_bucket_size=256, space_priority=True
    ).build(df, "doc_id")
    assert desc.rule_gen == 2
    rt = MPHFDescriptor.from_bytes(desc.to_bytes())
    assert rt.rule_gen == 2
    out = rt.evaluate(df, "doc_id")
    row = out.agg(
        F.count("*").alias("n"),
        F.countDistinct("mphf_index").alias("d"),
        F.min("mphf_index").alias("lo"),
        F.max("mphf_index").alias("hi"),
    ).collect()[0]
    assert (row["n"], row["d"], row["lo"], row["hi"]) == (
        60_000, 60_000, 0, 59_999,
    )


def test_skewed_input_layout_rebalanced(spark):
    """P7 (similar-size repartition) direct exercise: a pathologically
    skewed INPUT layout — every key in one partition — must still build
    and biject, because the bucket scatter is a repartitionByRange on
    bucket id (+ AQE), not the input partitioning."""
    import pyspark.sql.functions as F

    from recsplit_spark.data import sequences
    from recsplit_spark.mphf import RecSplitBuilder

    df = sequences(spark, 20_000, partitions=8).select("doc_id").coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    desc = RecSplitBuilder(leaf_size=8, avg_bucket_size=128).build(df, "doc_id")
    out = desc.evaluate(df, "doc_id")
    row = out.agg(
        F.count("*").alias("n"), F.countDistinct("mphf_index").alias("d")
    ).collect()[0]
    assert (row["n"], row["d"]) == (20_000, 20_000)


def test_space_priority_max_builder_end_to_end(spark):
    """RecSplitBuilder(space_priority='max'): distributed build stamps
    rule generation 3 (the extreme-space leaf-14 regime), round-trips
    through bytes, and the bijection holds through the normal evaluate
    path. Kept small: gen 3 pays ~92K trial-elements/key by design."""
    import pyspark.sql.functions as F
    import pytest

    from recsplit_spark.data import sequences
    from recsplit_spark.mphf import MPHFDescriptor, RecSplitBuilder

    df = sequences(spark, 8_000, partitions=4).select("doc_id")
    desc = RecSplitBuilder(
        leaf_size=14, avg_bucket_size=512, space_priority="max"
    ).build(df, "doc_id")
    assert desc.rule_gen == 3
    rt = MPHFDescriptor.from_bytes(desc.to_bytes())
    assert rt.rule_gen == 3
    out = rt.evaluate(df, "doc_id")
    row = out.agg(
        F.count("*").alias("n"),
        F.countDistinct("mphf_index").alias("d"),
        F.min("mphf_index").alias("lo"),
        F.max("mphf_index").alias("hi"),
    ).collect()[0]
    assert (row["n"], row["d"], row["lo"], row["hi"]) == (
        8_000, 8_000, 0, 7_999,
    )
    with pytest.raises(ValueError, match="space_priority"):
        RecSplitBuilder(space_priority="fastest")


def test_worker_gates_zip_invalidation(spark):
    """A Python worker that imports the package runs with the stat-gated
    ``zipimporter.invalidate_caches`` (see ``recsplit_spark.__init__``),
    so each task start skips re-parsing the unchanged pyspark.zip."""
    import sys

    import pyarrow as pa

    def _report(batches):
        import zipimport

        import recsplit_spark  # noqa: F401

        for _ in batches:
            pass
        gated = hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
        yield pa.RecordBatch.from_pydict(
            {"gated": [gated], "minor": [sys.version_info[1]]}
        )

    row = (
        spark.range(1, numPartitions=1)
        .mapInArrow(_report, "gated boolean, minor long")
        .collect()[0]
    )
    assert row["gated"] == (sys.version_info < (3, 13))
    assert row["minor"] == sys.version_info[1]
