"""Incremental (delta-vs-corpus) dedup, containment pairs, k-NN graph,
and hash-shard manifest — the round-3 operator additions."""

from __future__ import annotations

import pytest

from lol_data_collection_system_spark.operators import dedup, packing
from lol_data_collection_system_spark.operators import similarity as sim


@pytest.fixture(scope="module")
def corpus_delta(spark):
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight nine ten"),
            (3, "the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [
            # exact copy of corpus doc 2
            (10, "one two three four five six seven eight nine ten"),
            # near-dup of corpus doc 1 (one token changed at the end)
            (11, "alpha beta gamma delta epsilon zeta eta iota"),
            # novel
            (12, "completely different words entirely here now"),
        ],
        "doc_id long, text string",
    )
    return corpus, delta


def test_incremental_statuses(spark, corpus_delta):
    corpus, delta = corpus_delta
    out = {
        r["doc_id"]: r
        # band_size=2 (8 bands of 2): at J≈0.71 the default 4-row bands
        # catch a candidate with only ~70% probability — fine at corpus
        # scale, not for a 3-row fixture. Narrower bands trade candidate
        # volume for recall; the md5 hashing keeps the outcome exact.
        for r in dedup.incremental_dedup(
            corpus, delta, "doc_id", "text", k=3, band_size=2, threshold=0.2
        ).collect()
    }
    assert len(out) == 3
    assert out[10]["status"] == "exact_dup"
    assert out[10]["match_id"] == 2
    assert out[10]["jaccard"] == 1.0
    assert out[11]["status"] == "near_dup"
    assert out[11]["match_id"] == 1
    # 8 tokens -> 6 shingles per doc, 5 shared: J = 5/7
    assert abs(out[11]["jaccard"] - 5 / 7) < 1e-6
    assert out[12]["status"] == "novel"
    assert out[12]["match_id"] == -1
    assert out[12]["jaccard"] == 0.0


def test_incremental_corpus_df_cap_drops_hot_shingles(spark):
    # A shingle present in > max_doc_freq corpus docs is dropped from BOTH
    # sides; the delta doc built only from that hot phrase becomes novel.
    hot_text = "stop phrase here"
    corpus = spark.createDataFrame(
        [(i, hot_text) for i in range(1, 4)],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame([(10, hot_text)], "doc_id long, text string")
    out = dedup.incremental_dedup(
        corpus, delta, "doc_id", "text", k=3, threshold=0.1, max_doc_freq=2
    ).collect()
    # exact tier still catches it (fingerprints ignore the cap)...
    assert out[0]["status"] == "exact_dup"
    # ...but with a changed token (no exact match) the capped LSH side
    # has no surviving shingles -> novel.
    delta2 = spark.createDataFrame(
        [(11, "stop phrase there")], "doc_id long, text string"
    )
    out2 = dedup.incremental_dedup(
        corpus, delta2, "doc_id", "text", k=3, threshold=0.1, max_doc_freq=2
    ).collect()
    assert out2[0]["status"] == "novel"


def test_containment_asymmetry(spark):
    # Doc 1's shingles are a strict subset of doc 2's: containment(1->2)=1,
    # containment(2->1) = |A∩B|/|B-side size| < 1.
    df = spark.createDataFrame(
        [
            (1, "one two three four five"),
            (2, "one two three four five six seven eight nine ten"),
            (3, "totally unrelated content in this row"),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.containment_pairs(
            dedup.shingles(df, "doc_id", "text", 3), "doc_id", 0.1
        ).collect()
    }
    assert rows[(1, 2)] == 1.0
    assert rows[(2, 1)] == pytest.approx(3 / 8)
    assert not any(3 in k for k in rows)


def test_knn_graph_neighbors(spark):
    # All four vectors share sign bucket (all-positive first dims); exact
    # neighbors are unambiguous.
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.05, 0.1, 0.1]),
            (2, [0.9, 0.1, 0.1, 0.1]),
            (3, [0.1, 1.0, 0.1, 0.1]),
            (4, [0.1, 0.9, 0.2, 0.1]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = sim.knn_graph(df, k=2, lsh_bits=4)
    rows = {(r["vec_id"], r["rank"]): r["neighbor_id"] for r in out.collect()}
    assert rows[(1, 1)] == 2
    assert rows[(2, 1)] == 1
    assert rows[(3, 1)] == 4
    assert rows[(4, 1)] == 3
    # k edges per node when the bucket is large enough
    assert len(rows) == 8


def test_shard_manifest_conservation(spark):
    df = spark.createDataFrame(
        [(i, f"word{i} common text row {i}") for i in range(100)],
        "doc_id long, text string",
    )
    out = packing.hash_shard_manifest(df, "doc_id", "text", n_shards=4).collect()
    assert sum(r["n_docs"] for r in out) == 100
    assert sum(r["token_share"] for r in out) == pytest.approx(1.0, abs=1e-4)
    assert {r["shard_id"] for r in out} <= set(range(4))
    # deterministic: same input -> same assignment
    out2 = packing.hash_shard_manifest(df, "doc_id", "text", n_shards=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_knn_graph_derived_bits(spark):
    """lsh_bits=None derives the bucket width from the corpus size
    (pair space stays ~N * KNN_TARGET_BUCKET, not N^2/2^fixed)."""
    import math

    from lol_data_collection_system_spark.operators.similarity import (
        KNN_TARGET_BUCKET,
    )

    n = 600
    df = spark.createDataFrame(
        [(i, [1.0 + (i % 7), 1.0 + (i % 5), 1.0 + (i % 3), 1.0]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    out = sim.knn_graph(df, k=2, lsh_bits=None)
    # derived bits = ceil(log2(600/128)) = 3, capped by dim=4
    expected_bits = min(4, math.ceil(math.log2(n / KNN_TARGET_BUCKET)))
    assert expected_bits == 3
    # every vector here is all-positive -> every derived bucket keys on
    # the same sign prefix; the graph still returns k rows per node
    rows = out.groupBy("vec_id").count().collect()
    assert all(r["count"] == 2 for r in rows)


def test_incremental_dedup_string_ids(spark):
    corpus = spark.createDataFrame(
        [("c1", "one two three four five six")], "doc_id string, text string"
    )
    delta = spark.createDataFrame(
        [("d1", "one two three four five six"), ("d2", "totally new words here")],
        "doc_id string, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.incremental_dedup(
            corpus, delta, "doc_id", "text", k=3, band_size=2, threshold=0.2
        ).collect()
    }
    assert out["d1"]["status"] == "exact_dup" and out["d1"]["match_id"] == "c1"
    assert out["d2"]["status"] == "novel" and out["d2"]["match_id"] == ""


def test_knn_graph_empty_corpus_derived_bits(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert sim.knn_graph(df, k=2, lsh_bits=None).count() == 0


def test_append_corpus_index_matches_full_rebuild(spark, tmp_path):
    """Delta-only index maintenance: appended store content equals a
    full rebuild over corpus+novel; already-indexed ids are skipped;
    replay re-commits identical content; df-capped indexes refuse."""
    import pytest as _pytest

    from lol_data_collection_system_spark.operators.dedup import (
        append_corpus_index,
        read_corpus_index,
        write_corpus_index,
    )

    base = spark.createDataFrame(
        [(i, f"base document number {i} with some shared words here")
         for i in range(6)],
        ["doc_id", "text"],
    )
    novel = spark.createDataFrame(
        [(10, "a genuinely new document about stream ingestion"),
         (11, "another new one covering index maintenance paths"),
         (3, "an id collision that must be skipped entirely")],
        ["doc_id", "text"],
    )
    p = str(tmp_path / "idx")
    write_corpus_index(base, p, bands=(16, 4), sets=True)
    append_corpus_index(spark, p, novel)

    rebuilt_p = str(tmp_path / "rebuilt")
    write_corpus_index(
        base.unionByName(novel.filter("doc_id != 3")), rebuilt_p,
        bands=(16, 4), sets=True,
    )

    def snapshot(path):
        idx = read_corpus_index(spark, path)
        fp_df, sh_df, _hot = idx
        fp = sorted(tuple(r) for r in fp_df.collect())
        sh = sorted(tuple(r) for r in sh_df.collect())
        bands = sorted(tuple(r) for r in idx.bands.collect())
        sets_ = sorted(
            (r["doc_id"], tuple(sorted(r["_c_set"])), r["_c_size"])
            for r in idx.sets.collect()
        )
        return fp, sh, bands, sets_

    got, want = snapshot(p), snapshot(rebuilt_p)
    assert got == want
    # new docs are represented; the colliding id kept its BASE content
    reps = {r[1] for r in got[0]}
    assert {10, 11} <= reps and 3 in reps

    # replay: identical content, no duplicate rows
    append_corpus_index(spark, p, novel)
    assert snapshot(p) == want

    # df-capped index, bounded-drift append (VERDICT r8 #2): a delta
    # that flips NO cap decision appends in O(delta) and the result
    # equals the full capped rebuild — hot set, shingles, bands, sets
    capped_p = str(tmp_path / "capped")
    write_corpus_index(
        base, capped_p, max_doc_freq=5, bands=(16, 4), sets=True
    )
    append_corpus_index(spark, capped_p, novel)
    capped_rebuilt = str(tmp_path / "capped_rebuilt")
    write_corpus_index(
        base.unionByName(novel.filter("doc_id != 3")), capped_rebuilt,
        max_doc_freq=5, bands=(16, 4), sets=True,
    )

    def snapshot_capped(path):
        idx = read_corpus_index(spark, path)
        fp_df, sh_df, hot_df = idx
        return (
            sorted(tuple(r) for r in fp_df.collect()),
            sorted(tuple(r) for r in sh_df.collect()),
            sorted(r["shingle"] for r in hot_df.collect()),
            sorted(tuple(r) for r in idx.bands.collect()),
            sorted(
                (r["doc_id"], tuple(sorted(r["_c_set"])), r["_c_size"])
                for r in idx.sets.collect()
            ),
        )

    assert snapshot_capped(capped_p) == snapshot_capped(capped_rebuilt)

    # a delta that pushes ANY shingle over the cap refuses loudly: the
    # existing docs' capped sets would go stale (6 fresh docs sharing
    # one phrase -> its shingles' folded df = 6 > 5)
    crossing = spark.createDataFrame(
        [(20 + i, "the exact same repeated phrase appears here")
         for i in range(6)],
        ["doc_id", "text"],
    )
    with _pytest.raises(ValueError, match="over the cap"):
        append_corpus_index(spark, capped_p, crossing)

    # df side table (ADVICE r9): the gate probes O(distinct shingles)
    # counts, appended O(delta) — the folded side table must equal the
    # stored shingle table's true per-shingle df after the append
    import pathlib as _pl

    from pyspark.sql import functions as F

    from lol_data_collection_system_spark.sources.versioned import (
        current_version,
    )

    vdir, vmeta = current_version(capped_p)
    assert vmeta["has_df"]
    folded = {
        r["shingle"]: r["s"]
        for r in spark.read.parquet(str(_pl.Path(vdir) / "df"))
        .groupBy("shingle")
        .agg(F.sum("df").alias("s"))
        .collect()
    }
    truth = {
        r["shingle"]: r["c"]
        for r in read_corpus_index(spark, capped_p)[1]
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert folded == truth


def test_append_capped_index_legacy_without_df_side_table(spark, tmp_path):
    """Pre-side-table indexes (no ``df`` subdir, no has_df meta) still
    append under the bounded-drift rule via the documented O(corpus)
    fallback read — same accept/refuse decisions, same content."""
    import json as _json
    import pathlib as _pl
    import shutil as _sh

    import pytest as _pytest

    from lol_data_collection_system_spark.operators.dedup import (
        append_corpus_index,
        read_corpus_index,
        write_corpus_index,
    )
    from lol_data_collection_system_spark.sources.versioned import (
        current_version,
    )

    base = spark.createDataFrame(
        [(i, f"base document number {i} with some shared words here")
         for i in range(6)],
        ["doc_id", "text"],
    )
    novel = spark.createDataFrame(
        [(10, "a genuinely new document about stream ingestion")],
        ["doc_id", "text"],
    )
    p = str(tmp_path / "legacy")
    write_corpus_index(base, p, max_doc_freq=5, bands=(16, 4), sets=True)
    # strip the side table, emulating an index written before it existed
    vdir, meta = current_version(p)
    _sh.rmtree(_pl.Path(vdir) / "df")
    meta.pop("has_df")
    (_pl.Path(vdir) / "_meta.json").write_text(_json.dumps(meta))

    append_corpus_index(spark, p, novel)
    rebuilt = str(tmp_path / "legacy_rebuilt")
    write_corpus_index(
        base.unionByName(novel), rebuilt,
        max_doc_freq=5, bands=(16, 4), sets=True,
    )
    got = sorted(tuple(r) for r in read_corpus_index(spark, p)[1].collect())
    want = sorted(
        tuple(r) for r in read_corpus_index(spark, rebuilt)[1].collect()
    )
    assert got == want

    crossing = spark.createDataFrame(
        [(20 + i, "the exact same repeated phrase appears here")
         for i in range(6)],
        ["doc_id", "text"],
    )
    with _pytest.raises(ValueError, match="over the cap"):
        append_corpus_index(spark, p, crossing)


def test_corpus_index_autocompacts_content_identical(spark, tmp_path):
    """Append-grown stores self-heal (VERDICT r8 #4): after N appends
    the oversized subdirs compact to a coalesced, content-identical
    version with the data-file count bounded; undersized subdirs are
    hardlinked forward untouched, and the meta survives verbatim."""
    from lol_data_collection_system_spark.operators.dedup import (
        append_corpus_index,
        read_corpus_index,
        write_corpus_index,
    )
    from lol_data_collection_system_spark.sources.versioned import (
        compact_version,
        current_version,
        data_files,
    )

    base = spark.createDataFrame(
        [(i, f"base document number {i} with some shared words here")
         for i in range(4)],
        ["doc_id", "text"],
    )
    p = str(tmp_path / "idx")
    write_corpus_index(base, p, bands=(16, 4), sets=True)
    for j in range(5):
        novel = spark.createDataFrame(
            [(100 + 10 * j + i,
              f"fresh ingest wave {j} doc {i} about topic {j}-{i}")
             for i in range(2)],
            ["doc_id", "text"],
        )
        append_corpus_index(spark, p, novel)

    def snapshot():
        idx = read_corpus_index(spark, p)
        fp_df, sh_df, _hot = idx
        return (
            sorted(tuple(r) for r in fp_df.collect()),
            sorted(tuple(r) for r in sh_df.collect()),
            sorted(tuple(r) for r in idx.bands.collect()),
            sorted(
                (r["doc_id"], tuple(sorted(r["_c_set"])), r["_c_size"])
                for r in idx.sets.collect()
            ),
        )

    before = snapshot()
    vdir, meta_before = current_version(p)
    import pathlib

    grown = {
        d.name: len(data_files(d))
        for d in pathlib.Path(vdir).iterdir() if d.is_dir()
    }
    assert max(grown.values()) > 4  # the appends really grew the store

    assert compact_version(spark, p, max_files=4) is True
    vdir2, meta_after = current_version(p)
    assert vdir2 != vdir and meta_after == meta_before
    counts = {
        d.name: len(data_files(d))
        for d in pathlib.Path(vdir2).iterdir() if d.is_dir()
    }
    assert all(n <= 4 for n in counts.values()), counts
    assert snapshot() == before

    # already compact: a second call is a no-op (no new version)
    assert compact_version(spark, p, max_files=4) is False
    assert current_version(p)[0] == vdir2


def test_compact_version_carries_partitioned_subdirs_forward(
    spark, tmp_path
):
    """ADVICE r9 regression: a version holding BOTH a flat oversized
    subdir and a PARTITIONED (nested-directory) subdir must carry the
    partitioned layout forward intact — the flat-only hardlink silently
    committed a version with every partition directory missing (data
    loss, not a refusal)."""
    import pathlib

    from pyspark.sql import functions as F

    from lol_data_collection_system_spark.sources.versioned import (
        commit_version,
        compact_version,
        current_version,
    )

    p = str(tmp_path / "store")
    flat = spark.range(40).withColumnRenamed("id", "v")
    parted = spark.range(20).select(
        F.col("id").alias("v"), (F.col("id") % 4).alias("pk")
    )

    def writer(vdir: str) -> None:
        flat.repartition(8).write.parquet(str(pathlib.Path(vdir) / "flat"))
        parted.write.partitionBy("pk").parquet(
            str(pathlib.Path(vdir) / "parted")
        )

    commit_version(p, writer, {"note": "seed"})
    vdir, _ = current_version(p)
    want = sorted(
        tuple(r)
        for r in spark.read.parquet(str(pathlib.Path(vdir) / "parted"))
        .select("v", "pk")
        .collect()
    )

    assert compact_version(spark, p, max_files=4) is True
    vdir2, _ = current_version(p)
    assert vdir2 != vdir
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(str(pathlib.Path(vdir2) / "parted"))
        .select("v", "pk")
        .collect()
    )
    assert got == want  # every partition dir survived the carry
