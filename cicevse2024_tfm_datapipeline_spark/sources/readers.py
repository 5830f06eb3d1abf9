"""Scan operators (SURVEY §2.1).

Parquet is the engine's primary columnar source — scans get predicate
pushdown, column pruning and row-group skipping from Catalyst for free.
CSV scans replicate the reference's ingest shapes (S1 power, S2 host
positional, S3 multi-file with filename labels); JSON handles the artifact
lake (S7).

Everything read from a parquet table's footers (bytes, rows, row groups,
nanosecond columns, per-column min/max) and the table's resolved scan
plans live on one ``TableMeta`` per path, in the one module cache
``_TABLE_META``.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cicevse2024_tfm_datapipeline_spark.sources.schemas import TABLE_NAMES


def table_names() -> tuple[str, ...]:
    return TABLE_NAMES


#: below this byte size a split-starved scan is left alone: the
#: repartition's shuffle would cost more than the serial scan saves, and
#: small frames are broadcast-join candidates where an extra exchange on
#: the build side is pure loss (keeps region/nation/supplier/part/customer
#: unshuffled at every SF).
_UNSTARVE_MIN_BYTES = 512 << 10

#: bound on the number of table paths ``_TABLE_META`` keeps
_TABLE_META_MAX = 256


@dataclass
class TableMeta:
    """What the loader and the plans read from one parquet table's
    footers — driver-side, no Spark job, filled in one pass over the
    footers (``_table_meta``).

    ``minmax[column]`` is ``None`` when any row group lacks min/max
    statistics for the column (writers may omit them, e.g.
    ``write_statistics=False`` or NaN-bearing doubles); ``rows`` is
    ``None`` when a footer is unreadable. ``plans`` holds the resolved
    scan DataFrames per ``(applicationId, wide)`` (see ``load_table``),
    so a rewritten table, which gets a new entry, drops its stale plans."""

    fingerprint: tuple[int, int, int]
    bytes: int
    rows: int | None
    row_groups: int
    nano_cols: list[str]
    minmax: dict[str, tuple | None]
    plans: dict[tuple[str, bool], DataFrame] = field(default_factory=dict)


_TABLE_META: OrderedDict[str, TableMeta] = OrderedDict()
_TABLE_META_LOCK = threading.Lock()


def _read_footers(parts: list[str], fingerprint: tuple[int, int, int]) -> TableMeta:
    import pyarrow.parquet as pq

    rows: int | None = 0
    groups = 0
    nano: list[str] = []
    minmax: dict[str, tuple | None] = {}
    for p in parts:
        try:
            # INT96 (Spark's default timestamp encoding) surfaces in arrow
            # as timestamp[ns] unless coerced, but Spark reads it natively
            with pq.ParquetFile(p, coerce_int96_timestamp_unit="us") as pf:
                md, schema = pf.metadata, pf.schema_arrow
        except Exception:  # noqa: BLE001 — one row group, no nano columns
            rows, groups = None, groups + 1
            continue
        if rows is not None:
            rows += md.num_rows
        groups += md.num_row_groups
        # parquet TIMESTAMP(NANOS): Spark rejects these unless read as long
        nano += [
            f.name for f in schema if str(f.type) == "timestamp[ns]" and f.name not in nano
        ]
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j in range(rg.num_columns):
                col = rg.column(j)
                name, st = col.path_in_schema, col.statistics
                if st is None or not st.has_min_max:
                    minmax[name] = None
                elif name not in minmax:
                    minmax[name] = (st.min, st.max)
                elif minmax[name] is not None:
                    lo, hi = minmax[name]
                    minmax[name] = (min(lo, st.min), max(hi, st.max))
    if rows is None:  # an unreadable part leaves the other parts' bracket partial
        minmax = {}
    return TableMeta(fingerprint, fingerprint[1], rows, max(1, groups), nano, minmax)


def _table_meta(path: str) -> TableMeta:
    """The ``TableMeta`` of a parquet file or dataset directory.

    Each call lists the parts once and stats them once for the
    fingerprint (max mtime_ns, total bytes, part count); only a changed
    fingerprint re-reads the footers. Directories are fingerprinted per
    part, since a part rewritten in place (same name) changes neither the
    directory's mtime nor its size. Members starting with ``.`` or ``_``
    (``_SUCCESS``, ``.crc``) are skipped, and so is a part that vanishes
    between listdir and stat (a concurrent overwrite swapping part files;
    the next call re-lists anyway). Entries are kept per path, least
    recently used first out past ``_TABLE_META_MAX`` paths."""
    if os.path.isdir(path):
        stats = {}
        for f in sorted(os.listdir(path)):
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                p = os.path.join(path, f)
                try:
                    stats[p] = os.stat(p)
                except FileNotFoundError:
                    continue
    else:
        stats = {path: os.stat(path)}
    fingerprint = (
        max((s.st_mtime_ns for s in stats.values()), default=0),
        sum(s.st_size for s in stats.values()),
        len(stats),
    )
    with _TABLE_META_LOCK:
        meta = _TABLE_META.get(path)
        if meta is None or meta.fingerprint != fingerprint:
            meta = _TABLE_META[path] = _read_footers(list(stats), fingerprint)
        _TABLE_META.move_to_end(path)
        if len(_TABLE_META) > _TABLE_META_MAX:
            _TABLE_META.popitem(last=False)
    return meta


def table_row_count(sf_dir: str, name: str) -> int:
    """EXACT row count of a synthetic table from parquet footer metadata —
    driver-side, no Spark job. Parquet footers carry the exact row count,
    so this equals ``count()`` on the unfiltered scan at any scale while
    scheduling zero tasks; at 100 TB the count() it replaces is a full
    metadata-scan job over every file."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    rows = _table_meta(path).rows
    if rows is None:
        raise ValueError(f"unreadable parquet footer under {path}")
    return rows


def table_column_minmax(sf_dir: str, name: str, column: str) -> tuple | None:
    """EXACT (min, max) of one column from parquet footer statistics —
    driver-side, no Spark job — or ``None`` when any row group lacks
    statistics for it (or a footer is unreadable). Callers use this only
    to size literal bucket grids, where correctness never depends on the
    values (a wrong grid skews bucket balance, not results), and take
    their grid-less path on ``None``."""
    return _table_meta(os.path.join(sf_dir, f"{name}.parquet")).minmax.get(column)


def _unstarve(spark: SparkSession, df: DataFrame, meta: TableMeta) -> DataFrame:
    """Split-starved-scan mitigation: when the parquet layout physically
    caps scan parallelism far below the cluster (single-file single-
    row-group inputs — the synthetic tables are exactly this), add one
    round-robin repartition so a CPU-DENSE narrow stage (shingle
    explosion, per-pair verification) runs wide instead of serializing
    into one task. Row groups bound the scan's REAL parallelism: Spark's
    byte-range splits assign each row group to the split holding its
    midpoint, so a single-row-group file is one task no matter how many
    splits planning creates.

    OPT-IN per query (``load_table(..., wide=True)``), never the loader
    default: the A/B on the 58-query bench showed it is a tradeoff, not a
    free win — shingle-heavy plans gain 2.5x (prefix-filter 4.8→1.9 s,
    fuzzy pipeline 4.5→2.2 s at sf0.1) but every LIGHT query on the same
    table pays a flat ~+0.3 s (extra exchange + lost scan-stage fusion;
    their own first shuffle already provides all the parallelism their
    cheap narrow work needs). The operator that knows its narrow stage is
    CPU-dense requests width; everything else keeps the fused single-
    stage scan. Decided entirely driver-side from the footer; at
    production scale a 100 TB table yields thousands of row-group splits
    and this is a provable no-op — the branch exists for the long tail
    of small/badly-written files, which real lakes are full of too."""
    if meta.bytes < _UNSTARVE_MIN_BYTES:
        return df
    target = spark.sparkContext.defaultParallelism
    if meta.row_groups >= max(2, target // 2):
        return df
    return df.repartition(target)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, wide: bool = False
) -> DataFrame:
    """Load one synthetic table. Parquet scan → pushdown-friendly.

    ``wide=True`` requests the split-starved-scan mitigation (see
    ``_unstarve``) — for plans whose narrow stage is CPU-dense enough
    that a one-task scan would serialize it.

    Nanosecond timestamps are read as long and truncated to microseconds
    with integer division (``div`` — float division would lose precision
    above 2^53 nanos), matching how micro-resolution engines (e.g. DuckDB)
    ingest TIMESTAMP_NS.

    The resolved scan DataFrame is kept on the table's ``TableMeta`` per
    (session applicationId, ``wide``): every call used to pay the full
    JVM DataSource resolution again (file listing, footer schema
    inference, the nano-timestamp withColumn analysis), ~0.15-0.3 s per
    call driver-side. A DataFrame is an immutable logical plan, NOT data:
    every action still computes from parquet (no .cache(), nothing
    persisted), and a rewritten table invalidates with its fingerprint.
    Consequence: two ``load_table`` calls for the same table return the
    SAME plan object, so joins between them are shared-lineage self-joins
    (Spark's DeduplicateRelations handles these).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    # the driver may hand us ITS session: pin the runtime-settable confs
    # the oracle comparison depends on (UTC day-bucketing ≡ DuckDB's
    # naive timestamps). Runs on every call, cache hit or not (~1 ms,
    # idempotent) so a caller that reset the timezone is always re-pinned.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    meta = _table_meta(path)
    key = (spark.sparkContext.applicationId, wide)
    df = meta.plans.get(key)
    if df is None:
        if meta.nano_cols:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        for c in meta.nano_cols:
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
        df = meta.plans[key] = _unstarve(spark, df, meta) if wide else df
    return df


# --- S1: power CSV scan (func_aux/func_preproc.py:128-136) -------------

def scan_power_csv(spark: SparkSession, path: str, col_time: str = "time") -> DataFrame:
    """CSV scan + timestamp parse + charging flag.

    Reference sorts globally after load; the engine keeps ordering lazy
    (downstream window specs order explicitly) so the scan itself never
    forces a range-shuffle at 100 TB.
    """
    df = spark.read.csv(path, header=True, inferSchema=True)
    return (
        df.withColumn("timestamp", F.to_timestamp(F.col(col_time)))
        .withColumn("state_bin", (F.col("State") == F.lit("charging")).cast("int"))
    )


# --- S2: host wide-CSV scan (func_aux/func_preproc.py:537-589) ----------

def scan_host_csv(spark: SparkSession, path: str, state_col: str = "State") -> DataFrame:
    """Positional schema: every column left of ``State`` is an event
    counter; they are coerced to double (null on failure), ``time`` is
    excluded, and a file-order ``timestamp`` is derived.

    The reference uses the pandas row index as time
    (``func_preproc.py:584``); a distributed engine has no global row
    order on read, so the scan materializes one over a monotonic
    file-position key — done once, at ingest, via the two-phase prefix
    scan (no unpartitioned window even here).
    """
    df = spark.read.csv(path, header=True)
    cols = df.columns
    if state_col not in cols:
        raise ValueError(f"host CSV must contain a '{state_col}' column")
    feature_cols = [c for c in cols[: cols.index(state_col)] if c.lower() != "time"]
    keep = [F.col(c).try_cast("double").alias(c) for c in feature_cols]
    keep += [F.col(c) for c in cols[cols.index(state_col):]]
    df = df.select(*keep).withColumn("__file_pos", F.monotonically_increasing_id())
    from cicevse2024_tfm_datapipeline_spark.operators.scan import global_row_number

    df = global_row_number(df, ["__file_pos"], "__ingest_rn")
    return (
        df.withColumn("timestamp", (F.col("__ingest_rn") - F.lit(1)).cast("double"))
        .drop("__file_pos", "__ingest_rn")
    )


# --- S3: multi-file scan with filename labels (network) -----------------

def scan_network_dir(spark: SparkSession, glob_path: str) -> DataFrame:
    """One logical scan over many CSVs; ``input_file_name()`` replaces the
    reference's per-file loop + tag (pipeline_trainingmodels_network.py:186-209).
    Label = filename stem tokens after the second '-' joined by spaces
    (``:158-164``).
    """
    df = spark.read.csv(glob_path, header=True, inferSchema=True)
    stem = F.regexp_replace(F.element_at(F.split(F.input_file_name(), "/"), -1), r"\.csv$", "")
    label = F.regexp_replace(F.regexp_replace(stem, r"^[^-]*-[^-]*-", ""), "-", " ")
    return (
        df.withColumn("source_file", stem)
        .withColumn("label_mul_raw", label)
        .withColumn("evse", F.upper(F.trim(F.substring(F.element_at(F.split(stem, "-"), 2), 0, 1))))
    )


# --- S7: recursive JSON artifact scan (func_aux/func_plot.py:648-697) ----

def scan_metrics_lake(spark: SparkSession, root: str) -> DataFrame:
    """Recursive scan of per-run ``metrics.json`` artifacts.

    ``recursiveFileLookup`` + ``input_file_name`` recovers the run dir so
    metrics can be equi-joined (J2) with sibling config.json rows.
    """
    df = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "metrics.json")
        # multiLine: artifacts are pretty-printed per-run JSON documents
        # (KB-sized — non-splittability is irrelevant at this cardinality)
        .option("multiLine", "true")
        .json(root)
    )
    run_dir = F.regexp_replace(F.input_file_name(), r"/metrics\.json$", "")
    return df.withColumn("run_dir", run_dir)


def scan_config_lake(spark: SparkSession, root: str) -> DataFrame:
    df = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "config.json")
        .option("multiLine", "true")
        .json(root)
    )
    run_dir = F.regexp_replace(F.input_file_name(), r"/config\.json$", "")
    return df.withColumn("run_dir", run_dir)


def join_metrics_with_configs(metrics: DataFrame, configs: DataFrame) -> DataFrame:
    """J2: artifact equi-join on run_dir (func_aux/func_plot.py:664-689)."""
    return metrics.join(configs, "run_dir", "inner")


def register_synthetic_datasource(spark) -> None:
    """Register the ``synthgen`` custom Python data source (Spark 4
    DataSource API, ``pyspark.sql.datasource``): a deterministic
    partition-parallel generator — the engine's template for plugging a
    non-file system (internal service, bespoke format) into the DataFrame
    layer. Each InputPartition yields its own closed-form slice, so the
    scan is embarrassingly parallel and rerun-stable: row i carries
    (id, val = (i*i) mod 997, grp = i mod 7).

    Options: ``rows`` (total row count), ``parts`` (input partitions).
    """
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class _SynthReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("rows", 1000))
            self.parts = int(options.get("parts", 8))

        def partitions(self):
            step = (self.n + self.parts - 1) // self.parts
            return [
                InputPartition((p * step, min((p + 1) * step, self.n)))
                for p in range(self.parts)
                if p * step < self.n
            ]

        def read(self, partition):
            lo, hi = partition.value
            for i in range(lo, hi):
                yield (i, (i * i) % 997, i % 7)

    class _SynthSource(DataSource):
        @classmethod
        def name(cls):
            return "synthgen"

        def schema(self):
            return "id bigint, val bigint, grp int"

        def reader(self, schema):
            return _SynthReader(self.options)

    spark.dataSource.register(_SynthSource)
