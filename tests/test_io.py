"""File source/sink round-trips (S8-S11) and partition pruning on the
match-store layout (§4 item 5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from lol_data_collection_system_spark.sources import io as io_src


def test_ratelimit_csv_roundtrip(spark, tmp_path):
    rows = [
        (1700000000.5, "euw", "match", 10, 42, 500),
        (1700000001.5, "na", "", 600, 7, 100),  # app-level row
    ]
    df = spark.createDataFrame(rows, io_src.RATELIMIT_LOG)
    path = str(tmp_path / "logs")
    df.write.mode("append").csv(path)
    df.write.mode("append").csv(path)  # append second file → union
    back = io_src.read_ratelimit_logs(spark, path)
    assert back.count() == 4
    assert back.schema == io_src.RATELIMIT_LOG
    # '' method round-trips as null under default CSV options — normalize
    app_rows = back.filter(F.col("method").isNull() | (F.col("method") == ""))
    assert app_rows.count() == 2


def test_match_store_partition_pruning(spark, tmp_path):
    rows = [
        (i, i % 3, f"8.{i % 4}.1.{i}", 1800 + i) for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, ["match_id", "region_id", "game_version", "game_duration"]
    )
    path = str(tmp_path / "store")
    io_src.write_match_store(df, path)

    back = spark.read.parquet(path)
    pruned = back.filter(
        (F.col("region_id") == 1) & (F.col("major_minor") == "8.2")
    )
    want = [r for r in rows if r[1] == 1 and r[2].startswith("8.2.")]
    assert pruned.count() == len(want)
    # pruning is visible in the plan: the partition filters move into
    # PartitionFilters, not post-scan Filter
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = pruned._jdf.queryExecution().explainString(jmode)
    assert "PartitionFilters" in plan
    assert "region_id" in plan.split("PartitionFilters")[1].split("\n")[0]


def test_write_clustered_rowgroup_stats(spark, tmp_path):
    """The clustered layout must produce near-disjoint parquet row-group
    min/max ranges on the cluster key — the metadata property row-group
    pruning needs. An unsorted write of the same data must NOT have it
    (guards against the sort silently disappearing from the plan)."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from lol_data_collection_system_spark.sources.io import write_clustered

    df = (
        spark.range(200_000)
        .select(
            (F.col("id") % 2).alias("part"),
            F.shiftrightunsigned(F.hash(F.col("id")), 1).alias("user_id"),
        )
    )

    def ranges(root):
        # per partition directory: cross-directory overlap is expected
        # (partition pruning handles that axis); row-group pruning works
        # within whatever files survive it
        by_dir: dict[str, list] = {}
        for f in glob.glob(f"{root}/**/*.parquet", recursive=True):
            md = pq.ParquetFile(f).metadata
            d = f.rsplit("/", 1)[0]
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(0)  # user_id
                by_dir.setdefault(d, []).append(
                    (col.statistics.min, col.statistics.max)
                )
        return by_dir

    clustered = tmp_path / "clustered"
    write_clustered(
        df.repartition(4),
        str(clustered),
        partition_by=("part",),
        cluster_by=("user_id",),
        parquet_block_bytes=64 * 1024,
    )
    by_dir = ranges(clustered)
    spans_all = [s for spans in by_dir.values() for s in spans]
    assert len(spans_all) >= 8  # small block size → several row groups
    for d, spans in by_dir.items():
        frac = _overlap_fraction(spans)
        assert frac < 0.05, f"{d}: row-group ranges overlap: {frac}"

    plain = tmp_path / "plain"
    df.repartition(4).write.option("parquet.block.size", 64 * 1024).partitionBy(
        "part"
    ).parquet(str(plain))
    plain_frac = _overlap_fraction(
        [s for spans in ranges(plain).values() for s in spans]
    )
    assert plain_frac > 0.5  # unsorted = full overlap

    # round-trip intact
    back = spark.read.parquet(str(clustered))
    assert back.count() == 200_000


def _overlap_fraction(spans):
    """Fraction of row-group pairs (within the run) whose ranges overlap."""
    n, hits = 0, 0
    for i in range(len(spans)):
        for j in range(i + 1, len(spans)):
            n += 1
            (a_lo, a_hi), (b_lo, b_hi) = spans[i], spans[j]
            if a_lo <= b_hi and b_lo <= a_hi:
                hits += 1
    return hits / max(n, 1)


def test_decode_with_quarantine(spark):
    """Malformed documents route to the quarantine frame, never silently
    dropped; good documents decode typed; null input quarantines too."""
    from pyspark.sql import types as T

    from lol_data_collection_system_spark.sources.documents import (
        decode_with_quarantine,
    )

    schema = T.StructType(
        [
            T.StructField("gameId", T.LongType()),
            T.StructField("gameDuration", T.LongType()),
        ]
    )
    rows = [
        (1, '{"gameId": 10, "gameDuration": 1800}'),
        (2, "{not json at all"),
        (3, None),
        (4, '{"gameId": 11}'),  # partial but schema-valid
    ]
    docs = spark.createDataFrame(rows, ["id", "doc"])
    ok, bad = decode_with_quarantine(docs, "doc", schema)

    ok_rows = {r.id: r.parsed for r in ok.collect()}
    assert set(ok_rows) == {1, 4}
    assert ok_rows[1].gameDuration == 1800
    assert ok_rows[4].gameId == 11 and ok_rows[4].gameDuration is None

    bad_rows = sorted(r.id for r in bad.collect())
    assert bad_rows == [2, 3]
    # quarantine keeps the raw text for replay
    assert "doc" in bad.columns
    # conservation: every input row lands in exactly one side
    assert ok.count() + bad.count() == 4


def test_bucketed_join_no_exchange(spark, tmp_path):
    """Co-located bucketed join (SURVEY.md §4 item 5): both sides written
    bucketed on the join key with matching bucket counts → the sort-merge
    join plan contains NO Exchange (the shuffle was pre-paid at write
    time), and an equality filter on the bucket column prunes buckets at
    scan time. This is the repeated-join strategy for the 100 TB match
    store (orders ⋈ lineitem here ≙ matches ⋈ histories)."""
    orders = spark.createDataFrame(
        [(i, f"P{i % 5}") for i in range(200)], "o_key long, o_pri string"
    )
    items = spark.createDataFrame(
        [(i % 200, i, float(i)) for i in range(600)],
        "l_key long, l_num long, l_qty double",
    )
    io_src.write_bucketed_table(
        orders, "tb_orders", 4, ("o_key",), ("o_key",),
        path=str(tmp_path / "bo"),
    )
    io_src.write_bucketed_table(
        items, "tb_items", 4, ("l_key",), ("l_key",),
        path=str(tmp_path / "bi"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("tb_items").join(
            spark.table("tb_orders"),
            F.col("l_key") == F.col("o_key"),
        )
        jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = j._jdf.queryExecution().explainString(jmode)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: zero shuffles
        assert j.count() == 600

        # bucket pruning: equality on the bucket column reads 1 of 4
        # buckets. A filter-only query has no distribution requirement,
        # so auto-bucketed-scan would demote to a plain file scan and
        # hide the pruning — force the bucketed scan to pin it.
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        pruned = spark.table("tb_items").filter(F.col("l_key") == 7)
        pplan = pruned._jdf.queryExecution().explainString(jmode)
        assert "SelectedBucketsCount: 1 out of 4" in pplan
        assert pruned.count() == 3
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true"
        )
        spark.sql("DROP TABLE IF EXISTS tb_orders")
        spark.sql("DROP TABLE IF EXISTS tb_items")


def test_zorder_key_clusters_both_dimensions(spark, tmp_path):
    """Z-order layout: row groups get bounded min/max extent on BOTH
    axes, where a single-axis sort leaves the other axis full-range
    (un-prunable). Quantified as mean row-group extent / full range."""
    import glob

    import pyarrow.parquet as pq

    from lol_data_collection_system_spark.sources.io import (
        write_clustered,
        zorder_key,
    )

    n = 200_000
    df = spark.range(n).select(
        F.shiftrightunsigned(F.hash(F.col("id")), 1).alias("x"),
        F.shiftrightunsigned(F.hash(F.col("id") + 7_777_777), 1).alias("y"),
    )
    hi = float(2**31)

    def mean_extents(root):
        ext = {"x": [], "y": []}
        for f in glob.glob(f"{root}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            for rg in range(md.num_row_groups):
                for cname in ("x", "y"):
                    st = md.row_group(rg).column(names.index(cname)).statistics
                    ext[cname].append((st.max - st.min) / hi)
        assert len(ext["x"]) >= 8
        return {c: sum(v) / len(v) for c, v in ext.items()}

    zpath = str(tmp_path / "zordered")
    zdf = df.withColumn(
        "zk", zorder_key([(F.col("x"), 0.0, hi), (F.col("y"), 0.0, hi)], bits=16)
    )
    write_clustered(
        zdf.coalesce(1), zpath, cluster_by=("zk",),
        parquet_block_bytes=64 * 1024,
    )
    zext = mean_extents(zpath)
    # each row group is a near-rectangle: both axes well under full range
    assert zext["x"] < 0.5 and zext["y"] < 0.5, zext

    xpath = str(tmp_path / "xsorted")
    write_clustered(
        df.coalesce(1), xpath, cluster_by=("x",),
        parquet_block_bytes=64 * 1024,
    )
    xext = mean_extents(xpath)
    assert xext["x"] < 0.05          # sorted axis: tight
    assert xext["y"] > 0.9, xext     # other axis: full range, no pruning

    # guards
    import pytest as _pytest

    with _pytest.raises(ValueError):
        zorder_key([(F.col("x"), 0.0, hi)] * 4, bits=16)  # 64 bits > 62
    with _pytest.raises(ValueError):
        zorder_key([(F.col("x"), 5.0, 5.0)])


def test_compact_table_merges_small_files(spark, tmp_path):
    """Compaction folds a many-small-files directory into the derived
    file count, preserves every row, and re-establishes the cluster sort
    (each output file owns a tight, near-disjoint key range)."""
    import glob

    from lol_data_collection_system_spark.sources.io import compact_table

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compact")
    df = spark.range(0, 20_000).select(
        F.col("id"), (F.col("id") % 97).alias("v")
    )
    # simulate a micro-batch sink: many tiny appends
    for i in range(12):
        df.filter(F.col("id") % 12 == i).coalesce(2).write.mode(
            "append"
        ).parquet(src)
    n_in = len(glob.glob(src + "/part-*"))
    assert n_in >= 24  # genuinely fragmented

    n_files = compact_table(
        spark, src, dst, cluster_by=("id",), target_file_bytes=64 * 1024
    )
    out_files = glob.glob(dst + "/part-*")
    # ±1: repartitionByRange sampling may leave one range empty
    assert abs(len(out_files) - n_files) <= 1
    assert len(out_files) < n_in
    out = spark.read.parquet(dst)
    assert out.count() == 20_000
    assert out.select(F.sum("id")).collect()[0][0] == sum(range(20_000))
    # cluster property: per-file id ranges are near-disjoint
    spans = []
    for f in out_files:
        ids = [r.id for r in spark.read.parquet(f).collect()]
        spans.append((min(ids), max(ids)))
    spans.sort()
    overlaps = sum(
        1 for (a, b), (c, d) in zip(spans, spans[1:]) if c <= b
    )
    assert overlaps == 0, spans
