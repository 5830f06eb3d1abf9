"""Split-starved-scan mitigation (sources/readers._unstarve): the wide
opt-in must repartition exactly when the parquet layout caps parallelism
(big single-row-group file) and be a no-op everywhere else — small files,
multi-row-group files, and every non-wide load."""

from __future__ import annotations

import os

import pytest

from cicevse2024_tfm_datapipeline_spark.sources import readers

SF = "/root/testdata/sf0.001"
SF_BIG = "/root/testdata/sf0.1"


def _scan_partitions(df) -> int:
    return df.rdd.getNumPartitions()


def test_default_load_never_repartitions(spark):
    """wide defaults to False: the plain load keeps the scan's NATURAL
    split count (Spark may plan empty byte-range splits around the one
    real row group, so compare against a raw read, not a constant) — the
    fused single-stage scan measured faster for light per-row work."""
    for name in ("documents", "lineitem", "events"):
        df = readers.load_table(spark, SF_BIG, name)
        raw = spark.read.parquet(os.path.join(SF_BIG, f"{name}.parquet"))
        assert _scan_partitions(df) == _scan_partitions(raw), name


def test_wide_repartitions_only_above_size_floor(spark):
    """wide=True repartitions the big single-row-group corpus to cluster
    parallelism, but leaves sub-floor files alone (an exchange on a
    broadcastable frame is pure loss)."""
    target = spark.sparkContext.defaultParallelism
    big = readers.load_table(spark, SF_BIG, "documents", wide=True)
    assert _scan_partitions(big) == target
    # sf0.001 documents is far below the 512 KB floor
    small = readers.load_table(spark, SF, "documents", wide=True)
    assert _scan_partitions(small) == 1


def test_wide_noop_when_layout_already_splits(spark, tmp_path):
    """A multi-row-group file already provides split parallelism — the
    mitigation must not add an exchange on top (the 100 TB no-op
    guarantee, exercised rather than argued)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_groups = max(2, spark.sparkContext.defaultParallelism // 2)
    rows_per = 8000
    n = n_groups * rows_per
    # unique payloads defeat dictionary/RLE encoding so the file actually
    # crosses the 512 KB floor and the row-group branch is what decides
    tbl = pa.table(
        {
            "id": list(range(n)),
            "payload": [f"{i:012d}" * 8 for i in range(n)],
        }
    )
    path = os.path.join(tmp_path, "multi.parquet")
    pq.write_table(tbl, path, row_group_size=rows_per, compression="none")
    meta = readers._table_meta(path)
    assert meta.row_groups == n_groups
    assert meta.bytes >= readers._UNSTARVE_MIN_BYTES, "fixture must cross the floor"
    df = spark.read.parquet(path)
    out = readers._unstarve(spark, df, meta)
    assert out is df  # identical object — no repartition node added


def test_table_meta_cached_until_file_changes(tmp_path):
    """_table_meta caches per path and fingerprint (mtime, size, parts) —
    repeat calls reuse the footer read, but regenerating the file (same
    path, new content) invalidates (r06 ADVICE: a plain path key served
    stale footers after a testdata rewrite in a long-lived session)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(tmp_path, "probe.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    first = readers._table_meta(path)
    assert first.row_groups == 1
    assert readers._table_meta(path) is first  # cache hit
    # regenerate with 3 row groups (and force a distinct mtime/size)
    pq.write_table(pa.table({"a": list(range(300))}), path, row_group_size=100)
    os.utime(path, ns=(1, 1))
    second = readers._table_meta(path)
    assert second.row_groups == 3
    assert second.bytes == os.path.getsize(path)


def test_table_meta_directory_dataset(tmp_path):
    """Directory-style parquet datasets (the norm on real lakes) must sum
    part-file sizes and row groups instead of silently no-oping on the
    dirent size (r06 ADVICE item 1)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ds = os.path.join(tmp_path, "tbl.parquet")
    os.makedirs(ds)
    for i in range(4):
        pq.write_table(
            pa.table({"a": list(range(200))}),
            os.path.join(ds, f"part-{i:05d}.parquet"),
            row_group_size=100,
        )
    open(os.path.join(ds, "_SUCCESS"), "w").close()  # marker must be skipped
    meta = readers._table_meta(ds)
    assert meta.row_groups == 8  # 4 parts x 2 row groups
    assert meta.rows == 800
    expected_size = sum(
        os.path.getsize(os.path.join(ds, f))
        for f in os.listdir(ds)
        if f.endswith(".parquet")
    )
    assert meta.bytes == expected_size


def test_directory_cache_sees_in_place_part_rewrite(tmp_path):
    """Rewriting a part file IN PLACE (same name, same byte size, new
    row-group layout) must refresh the cached footer count: the cache key
    folds the parts' own mtimes, not the directory's stat, which such a
    rewrite leaves untouched (r07 ADVICE item 1)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ds = os.path.join(tmp_path, "tbl.parquet")
    os.makedirs(ds)
    part = os.path.join(ds, "part-00000.parquet")
    pq.write_table(pa.table({"a": list(range(200))}), part, row_group_size=200)
    assert readers._table_meta(ds).row_groups == 1
    dir_stat_before = os.stat(ds)
    # same table, same compression, finer row groups; same part name —
    # byte size may coincide, so force the mtime forward to model a real
    # rewrite (mtime always advances; dir stat still does not)
    pq.write_table(pa.table({"a": list(range(200))}), part, row_group_size=50)
    os.utime(part, ns=(dir_stat_before.st_mtime_ns + 10**9,) * 2)
    os.utime(ds, ns=(dir_stat_before.st_mtime_ns, dir_stat_before.st_mtime_ns))
    assert readers._table_meta(ds).row_groups == 4


def test_wide_load_values_identical(spark):
    """The repartition is value-neutral: same rows either way."""
    from pyspark.sql import functions as F

    plain = readers.load_table(spark, SF_BIG, "documents")
    wide = readers.load_table(spark, SF_BIG, "documents", wide=True)
    agg = lambda df: df.agg(  # noqa: E731
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("s"),
        F.sum(F.length("text")).alias("c"),
    ).collect()[0]
    assert agg(plain) == agg(wide)
