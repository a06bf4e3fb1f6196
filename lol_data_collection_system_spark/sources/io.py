"""File sources & sinks (SURVEY.md §2.1 S8-S11) and the physical layout
of the match store (§4 item 5).

Reference telemetry flows: append-only ratelimit CSV logs written per
observation (`mysql_requesthistory_checking.py:89-97`) and re-parsed by
globbing a directory (`monitor_gathering.py:24-31`); JSON result dumps
(`find_recurrent_delta_across_n_games.py:203`, `match_modeling.py:313`).
Spark: a schema'd csv reader (a directory of files is an implicit
union — X5); the CSV and JSON sinks are plain `df.write.csv`/`.json`
calls at the caller.

Match-store layout: `partitionBy(region, major_minor)` mirrors the
reference's dominant filter axes (tier/semver/region —
`find_recurrent_delta...py:85-90`, `periodical_data_repair.py:73-74`) so
partition pruning eliminates IO for version- or region-scoped queries at
100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: ratelimit_log CSV rows (FIXTURES.md; mysql_requesthistory_checking.py:92-97)
RATELIMIT_LOG = T.StructType(
    [
        T.StructField("ts", T.DoubleType()),  # epoch seconds
        T.StructField("region", T.StringType()),
        T.StructField("method", T.StringType()),  # '' ⇒ app-level
        T.StructField("timeframe_s", T.IntegerType()),
        T.StructField("count", T.IntegerType()),
        T.StructField("max_allowed", T.IntegerType()),
    ]
)


def read_ratelimit_logs(spark: SparkSession, path: str) -> DataFrame:
    """All log files under `path` (glob union, S9/X5), schema enforced —
    the reference re-parses every CSV per dashboard render."""
    return spark.read.csv(path, schema=RATELIMIT_LOG, header=False)


def major_minor(semver_col) -> "F.Column":
    """'8.11.1.123' → '8.11' — the version-prefix normalization every
    reference comparison uses (`utils.py:16-23`, P9)."""
    return F.substring_index(semver_col, ".", 2)


def write_match_store(
    matches: DataFrame,
    path: str,
    version_col: str = "game_version",
    region_col: str = "region_id",
    mode: str = "overwrite",
) -> None:
    """Persist the match store partitioned by (region, major.minor) —
    queries filtered on either axis prune whole directories. Files are
    sized by the writer; at cluster scale add
    `spark.sql.files.maxRecordsPerFile` to bound file size."""
    (
        matches.withColumn("major_minor", major_minor(F.col(version_col)))
        .write.mode(mode)
        .partitionBy(region_col, "major_minor")
        .parquet(path)
    )


def write_clustered(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    cluster_by: tuple[str, ...] = (),
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
    parquet_block_bytes: int | None = None,
) -> None:
    """Layout-aware parquet writer: directory partitioning for the coarse
    filter axes + `sortWithinPartitions(cluster_by)` so each file's
    parquet row groups carry TIGHT, near-disjoint min/max stats on the
    cluster keys — the second pruning tier after partition pruning
    (row-group skipping at scan time, before any row is decoded).

    The repartition-on-partition-cols before the write routes each
    output directory to dedicated tasks: without it, every task writes a
    sliver of every partition (the small-files explosion at 1000
    executors), and the within-task sort would interleave partition
    values, wrecking the stats. `max_records_per_file` bounds file size
    at cluster scale; `parquet_block_bytes` shrinks row groups (mainly
    for tests — the 128 MB default is right in production).
    """
    out = df
    if partition_by:
        out = out.repartition(*[F.col(c) for c in partition_by])
    if cluster_by:
        # partition cols lead the sort: the file writer REQUIRES a sort
        # on its partition columns, and only reuses an existing ordering
        # when they are its prefix — sorting by cluster_by alone gets
        # silently re-sorted by (partition_by) and the clustering is lost
        out = out.sortWithinPartitions(*partition_by, *cluster_by)
    w = out.write.mode(mode)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    if parquet_block_bytes:
        w = w.option("parquet.block.size", parquet_block_bytes)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    n_buckets: int,
    bucket_cols: tuple[str, ...],
    sort_cols: tuple[str, ...] = (),
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed physical layout (SURVEY.md §4 item 5: co-located joins).

    Hash-bucketing both sides of a repeatedly-joined pair (orders ⋈
    lineitem on orderkey; the match store ⋈ per-participant histories on
    (match_id, region) — the join every reference pipeline pays per
    query, `periodical_data_repair.py:65-66`) pre-pays the shuffle ONCE
    at write time: every later equi-join on the bucket keys with a
    matching bucket count reads co-located buckets and the physical
    plan has NO Exchange. At 100 TB that is the difference between an
    all-to-all network pass per join and a per-bucket local merge.
    `sort_cols` additionally pre-sorts each bucket file, so sort-merge
    join can skip its per-task sort when each bucket is one file.

    Equality filters on the leading bucket column also prune buckets at
    scan time (`SelectedBucketsCount` in the plan) — a third pruning
    tier after partition pruning and row-group stats.

    The bucket layout is CATALOG metadata (`saveAsTable`): reading the
    same files via `spark.read.parquet(path)` would not know it and
    would shuffle again. Read back with `spark.table(table)`.
    """
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def zorder_key(
    cols: "list[tuple[F.Column, float, float]]", bits: int = 16
) -> "F.Column":
    """Morton / Z-order clustering key: interleave the top `bits` bits of
    each (column, lo, hi) spec into one bigint, so sorting by the key
    clusters rows that are close in EVERY dimension — the multi-dim
    counterpart of `write_clustered`'s single-axis sort.

    Why: a (region_hash, ts)-filtered query over a store sorted by ts
    alone prunes nothing on region — every row group spans all regions.
    Z-ordering the two axes makes each row group a near-rectangle in
    (region_hash, ts) space, so min/max row-group stats prune on BOTH
    predicates (the same reason lakehouse engines expose OPTIMIZE
    ZORDER; here it is one pure codegen expression, no engine support
    needed).

    `lo`/`hi` are static per-column bounds (natural for epoch-ms
    timestamps and hash buckets; compute once via a 1-row agg for data-
    dependent axes). Values outside clamp to the edge — out-of-bounds
    data degrades clustering quality, never correctness. k*bits must
    fit a signed bigint (≤ 62).
    """
    k = len(cols)
    if k * bits > 62:
        raise ValueError(f"{k} cols x {bits} bits exceeds 62 interleaved bits")
    top = (1 << bits) - 1
    terms = []
    for c, (col, lo, hi) in enumerate(cols):
        if not hi > lo:
            raise ValueError(f"column {c}: need hi > lo, got [{lo}, {hi}]")
        scaled = (col.cast("double") - F.lit(float(lo))) / F.lit(
            float(hi) - float(lo)
        ) * F.lit(float(top))
        q = F.least(
            F.greatest(F.floor(scaled), F.lit(0)), F.lit(top)
        ).cast("bigint")
        for j in range(bits):
            # bit j of column c lands at interleaved position j*k + c;
            # positions are disjoint across all (c, j), so + == bitwise or
            terms.append(
                F.shiftleft(
                    F.shiftrightunsigned(q, j).bitwiseAND(F.lit(1)),
                    j * k + c,
                )
            )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def compact_table(
    spark: SparkSession,
    path: str,
    out_path: str,
    cluster_by: tuple[str, ...] = (),
    target_file_bytes: int = 512 * 1024 * 1024,
    partition_by: tuple[str, ...] = (),
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ~`target_file_bytes` files, re-establishing the `cluster_by` sort so
    row-group min/max pruning survives the rewrite. Returns the file
    count it targeted.

    The 100 TB maintenance pass every streaming/append sink eventually
    needs: micro-batch sinks and per-trigger appends leave thousands of
    KB-sized files per partition, and at scan time each file costs a
    task + a footer read — list-and-plan time grows with file COUNT, not
    data size. Compaction is the pay-once cure (the job lakehouse
    engines call OPTIMIZE).

    Shape: file count derives from the INPUT's actual on-disk bytes (one
    driver-side listing via the files catalog — no data pass);
    `repartitionByRange(n, cluster_by)` both sets the output file count
    and co-locates key ranges, so each output file owns a tight
    key-range slice (near-disjoint stats). Non-clustered compaction
    falls back to `repartition(n)` (pure size normalization). Writes to
    `out_path` then the caller swaps directories — compaction must never
    rewrite in place (a failed job would destroy the input).
    """
    df = spark.read.parquet(path)
    # driver-side listing: input bytes from the relation's statistics
    # (file-catalog size — no data pass)
    total_bytes = int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    n_files = max(1, -(-total_bytes // target_file_bytes))  # ceil
    if cluster_by:
        out = df.repartitionByRange(n_files, *[F.col(c) for c in cluster_by])
        out = out.sortWithinPartitions(*partition_by, *cluster_by)
    else:
        out = df.repartition(n_files)
    w = out.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(out_path)
    return n_files
