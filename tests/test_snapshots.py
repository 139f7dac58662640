"""Atomic snapshot commits + time travel (operators/snapshots.py):
version monotonicity, pinned-reader isolation from concurrent appends,
historical reads, and stats-pruned time travel."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from stock_price_prediction_using_stream_and_batch_processing_spark.operators import snapshots as snap


def _commit(spark, d, lo, hi):
    df = spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    return snap.snapshot_append(spark, d, df, stats_cols=["k"])


def test_versions_monotonic_and_current(spark, tmp_path):
    d = str(tmp_path / "t")
    assert snap.current_version(d) == 0
    assert _commit(spark, d, 0, 10) == 1
    assert _commit(spark, d, 10, 20) == 2
    assert snap.current_version(d) == 2
    assert snap.snapshot_files(d, 0) == []


def test_time_travel_reads_exact_history(spark, tmp_path):
    d = str(tmp_path / "t")
    _commit(spark, d, 0, 10)
    _commit(spark, d, 10, 25)
    _commit(spark, d, 25, 30)
    # each historical version returns exactly the union of its commits
    assert sorted(r.k for r in snap.read_snapshot(spark, d, 1).collect()) == list(range(10))
    assert sorted(r.k for r in snap.read_snapshot(spark, d, 2).collect()) == list(range(25))
    # default = current
    assert snap.read_snapshot(spark, d).count() == 30


def test_pinned_reader_isolated_from_concurrent_append(spark, tmp_path):
    d = str(tmp_path / "t")
    _commit(spark, d, 0, 10)
    pinned = snap.snapshot_files(d)  # the pin IS the file list
    _commit(spark, d, 10, 20)  # concurrent append publishes v2
    # the pin's read set is untouched: same files, same rows
    assert {e["path"] for e in pinned} == {e["path"] for e in snap.snapshot_files(d, 1)}
    got = spark.read.parquet(*sorted(e["path"] for e in pinned))
    assert sorted(r.k for r in got.collect()) == list(range(10))
    # and the new version only ADDED files
    cur = {e["path"] for e in snap.snapshot_files(d, 2)}
    assert {e["path"] for e in pinned} < cur


def test_stats_pruned_time_travel(spark, tmp_path):
    d = str(tmp_path / "t")
    # three commits with disjoint key ranges -> disjoint file stats
    _commit(spark, d, 0, 100)
    _commit(spark, d, 100, 200)
    _commit(spark, d, 200, 300)
    all_files = snap.snapshot_files(d, 3)
    pruned = snap.read_snapshot(spark, d, 3, prune_col="k", lo=120, hi=150)
    # conservative pruning: correct rows after the residual predicate...
    got = sorted(r.k for r in pruned.filter("k between 120 and 150").collect())
    assert got == list(range(120, 151))
    # ...and strictly fewer files touched than the full snapshot
    n_pruned = len(
        [
            e
            for e in all_files
            if e["min_k"] is not None and e["max_k"] >= 120 and e["min_k"] <= 150
        ]
    )
    assert 0 < n_pruned < len(all_files)


def test_commit_stats_come_from_new_files_only(spark, tmp_path):
    d = str(tmp_path / "t")
    _commit(spark, d, 0, 10)
    m1 = snap.read_snapshot_meta(d, 1)
    _commit(spark, d, 10, 20)
    m2 = snap.read_snapshot_meta(d, 2)
    # v2 carries v1's entries verbatim (no rescan / no stat rewrite)
    assert m2["files"][: len(m1["files"])] == m1["files"]
    new = m2["files"][len(m1["files"]) :]
    assert new and all(e["min_k"] >= 10 for e in new)
    assert m2["parent"] == 1


def test_publish_is_atomic_rename(spark, tmp_path):
    d = str(tmp_path / "t")
    _commit(spark, d, 0, 10)
    # no torn temp files left behind in the snapshots dir
    names = os.listdir(os.path.join(d, "snapshots"))
    assert names == ["v00000001.json"]


def test_compaction_copy_on_write_and_time_travel(spark, tmp_path):
    d = str(tmp_path / "t")
    for lo, hi in ((0, 10), (10, 20), (20, 30)):
        snap.snapshot_append(
            spark,
            d,
            spark.range(lo, hi).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            ).repartition(2),
            stats_cols=["k"],
        )
    pre = snap.snapshot_files(d, 3)
    assert len(pre) == 6
    v = snap.snapshot_compact(spark, d, target_files=2)
    post = snap.snapshot_files(d, v)
    assert v == 4 and len(post) == 2
    # copy-on-write: no shared files, same data, old version intact
    assert not ({e["path"] for e in post} & {e["path"] for e in pre})
    assert sorted(r.k for r in snap.read_snapshot(spark, d, 4).collect()) == list(range(30))
    assert sorted(r.k for r in snap.read_snapshot(spark, d, 3).collect()) == list(range(30))
    # stats recomputed on the rewritten files
    assert all(e["min_k"] is not None and e["n_rows"] > 0 for e in post)


def test_expire_snapshots_retention(spark, tmp_path):
    import os

    d = str(tmp_path / "t")
    _commit(spark, d, 0, 10)
    _commit(spark, d, 10, 20)
    snap.snapshot_compact(spark, d, target_files=1)
    old = snap.snapshot_files(d, 2)
    stats = snap.expire_snapshots(d, keep_last=1)
    assert stats == {
        "expired_versions": 2, "deleted_files": len(old),
        "deleted_manifests": 0, "deleted_delete_files": 0,
    }
    # expired files physically gone, current still fully readable
    assert not any(os.path.exists(e["path"]) for e in old)
    assert snap.read_snapshot(spark, d).count() == 20
    assert snap.current_version(d) == 3


def test_expire_keeps_files_shared_with_survivors(spark, tmp_path):
    """A file referenced by BOTH an expired and a surviving version
    must survive expiry (reachability, not version ownership)."""
    import os

    d = str(tmp_path / "t")
    _commit(spark, d, 0, 10)   # v1: files A
    _commit(spark, d, 10, 20)  # v2: files A + B
    v1_files = snap.snapshot_files(d, 1)
    stats = snap.expire_snapshots(d, keep_last=1)  # expire v1 only
    assert stats["expired_versions"] == 1 and stats["deleted_files"] == 0
    assert all(os.path.exists(e["path"]) for e in v1_files)
    assert snap.read_snapshot(spark, d).count() == 20


def test_merge_prunes_untouched_files(spark, tmp_path):
    """MERGE rewrites ONLY files whose [min,max] can contain a merge
    key; updates replace, deletes remove, inserts (outside every
    bound) land in the rewrite commit; untouched files carry verbatim."""
    d = str(tmp_path / "t")
    for lo, hi in ((0, 100), (100, 200), (200, 300)):
        snap.snapshot_append(
            spark,
            d,
            spark.range(lo, hi).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            ).repartition(1),
            stats_cols=["k"],
        )
    pre = {e["path"] for e in snap.snapshot_files(d, 3)}
    updates = spark.createDataFrame([(5, 999), (7, 888), (400, 4000)], "k long, v long")
    deletes = spark.createDataFrame([(9,)], "k long")
    res = snap.snapshot_merge(spark, d, updates, key="k", deletes=deletes)
    assert res == {"version": 4, "files_rewritten": 1, "files_carried": 2}
    post = {e["path"] for e in snap.snapshot_files(d, 4)}
    assert len(post & pre) == 2  # two files carried verbatim
    got = {r.k: r.v for r in snap.read_snapshot(spark, d).collect()}
    want = {k: k * 2 for k in range(300) if k != 9}
    want.update({5: 999, 7: 888, 400: 4000})
    assert got == want
    # pre-merge version is untouched history
    assert snap.read_snapshot(spark, d, 3).count() == 300


def test_merge_requires_stats_on_key(spark, tmp_path):
    d = str(tmp_path / "t")
    _commit(spark, d, 0, 10)
    import pytest

    with pytest.raises(ValueError, match="not in stats_cols"):
        snap.snapshot_merge(
            spark, d, spark.createDataFrame([(1, 1)], "k long, v long"), key="v"
        )


def test_clustered_compaction_restores_pruning(spark, tmp_path):
    """OPTIMIZE-with-clustering: three commits each spanning the FULL
    key range (k % 3 slices — every file's [min,max] covers everything,
    so stats pruning is useless), then a clustered compaction into 4
    files. Post-compaction the per-file ranges are disjoint and a
    narrow key-range read touches exactly 1 of 4 files."""
    d = str(tmp_path / "t")
    for sl in (0, 1, 2):
        snap.snapshot_append(
            spark,
            d,
            spark.range(1200).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            ).where(F.col("k") % 3 == sl).repartition(1),
            stats_cols=["k"],
        )
    pre = snap.snapshot_files(d, 3)
    touch = lambda files, lo, hi: [
        e for e in files if e["max_k"] >= lo and e["min_k"] <= hi
    ]
    assert len(touch(pre, 100, 120)) == 3  # interleaved: no pruning
    v = snap.snapshot_compact(spark, d, target_files=4, cluster_by=["k"])
    post = snap.snapshot_files(d, v)
    assert len(post) == 4
    assert len(touch(post, 100, 120)) == 1  # clustered: 1 of 4
    # ranges are pairwise disjoint after the range-partitioned rewrite
    spans = sorted((e["min_k"], e["max_k"]) for e in post)
    assert all(a[1] < b[0] for a, b in zip(spans, spans[1:]))
    # and the data is unchanged
    got = sorted(r.k for r in snap.read_snapshot(spark, d).collect())
    assert got == list(range(1200))


# ---------------------------------------------------- the carry policy
#
# Every commit verb runs on a parent that holds every table property at
# once; v+1 must keep each of them, except the ones the verb documents
# it sets or drops (the property table in operators/snapshots.py).

_CARRIED = (
    "constraints", "column_mapping", "dropped_columns", "last_batches",
    "partition_by", "ndv_m", "delete_files", "pos_delete_files",
)
_REWRITE_DROPS = {"delete_files", "pos_delete_files", "column_mapping", "dropped_columns"}
_SINK_SCHEMA = (("k", "long"), ("p", "string"), ("v", "long"), ("x2", "long"))


def _sink_writer(d, cols=_SINK_SCHEMA, batch=False, overwrite=False, **opts):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from stock_price_prediction_using_stream_and_batch_processing_spark.sources.snapshot_sink import (
        SnapshotBatchWriter,
        SnapshotStreamWriter,
    )

    schema = StructType(
        [StructField(c, LongType() if t == "long" else StringType()) for c, t in cols]
    )
    o = {"table_dir": d, "stats_cols": "k", "partition_by": "p", **opts}
    if batch:
        return SnapshotBatchWriter(o, schema, overwrite)
    return SnapshotStreamWriter(o, schema)


def _rows(spark, lo, hi, p=None):
    part = F.lit(p) if p is not None else (F.col("id") % 3).cast("string")
    return spark.range(lo, hi, numPartitions=2).select(
        F.col("id").alias("k"), part.alias("p"), (F.col("id") * 2).alias("v"),
        F.col("id").alias("x2"),
    )


@pytest.fixture(scope="module")
def rich_table(spark, tmp_path_factory):
    """v1..v9: a stream-fenced, partitioned table with a CHECK
    constraint, a rename mapping, a dropped-column shadow, NDV partials
    and live equality + positional deletes."""
    d = str(tmp_path_factory.mktemp("carry") / "t")
    w = _sink_writer(d, cols=_SINK_SCHEMA[:3] + (("x", "long"),), writer_id="pipe-a")
    w.commit([w.write(iter([(1, "0", 2, 1), (2, "1", 4, 2), (3, "0", 6, 3), (4, "1", 8, 4)]))], batchId=7)
    snap.snapshot_append(
        spark, d, _rows(spark, 10, 50).withColumnRenamed("x2", "x"),
        stats_cols=["k"], partition_by=["p"],
    )
    snap.snapshot_set_constraint(spark, d, "k_nonneg", "k >= 0")
    snap.snapshot_rename_column(d, "x", "x2")
    snap.snapshot_add_column(d, "gone", "int")
    snap.snapshot_drop_column(d, "gone")
    snap.snapshot_analyze(spark, d, ["k"])
    snap.snapshot_delete(spark, d, spark.createDataFrame([(1,)], "k long"), "k")
    snap.snapshot_position_delete(spark, d, "k = 2")
    meta = snap.read_snapshot_meta(d, snap.current_version(d))
    assert all(meta.get(k) for k in _CARRIED), meta
    return d


def _branch_publish(spark, d):
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import refs

    refs.branch_create(d, "wap")
    refs.branch_append(spark, d, "wap", _rows(spark, 300, 303), stats_cols=["k"])
    return d, refs.branch_publish(d, "wap")


def _rollback(spark, d):
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import refs

    v = snap.current_version(d)
    snap.snapshot_append(spark, d, _rows(spark, 400, 402), stats_cols=["k"])
    return d, refs.snapshot_rollback(d, v)


def _clone(spark, d):
    snap.snapshot_clone(spark, d, d + "_clone")
    return d + "_clone", 1


def _branch(spark, d):
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import refs

    refs.branch_create(d, "b")
    return refs.branch_dir(d, "b"), 1


def _sink_commit(d, rows, **kw):
    w = _sink_writer(d, **kw)
    msg = w.write(iter(rows))
    if kw.get("batch"):
        w.commit([msg])
    else:
        w.commit([msg], batchId=0)


# verb -> (commit, properties it sets, properties it drops). A commit
# returns None (published v+1 on the table) or (table_dir, version) when
# the new snapshot lands elsewhere (clone, branch) or is not v+1.
_VERBS = {
    "append": (lambda s, d: snap.snapshot_append(s, d, _rows(s, 100, 104), stats_cols=["k"]), (), ()),
    "append_fenced": (
        lambda s, d: snap.snapshot_append(
            s, d, _rows(s, 100, 104), stats_cols=["k"], writer_id="w2", batch_id=0
        ),
        ("last_batches",), (),
    ),
    "overwrite_partitions": (
        lambda s, d: snap.snapshot_overwrite_partitions(s, d, _rows(s, 100, 104, "1")), (), ()
    ),
    "delete": (
        lambda s, d: snap.snapshot_delete(s, d, s.createDataFrame([(11,)], "k long"), "k"),
        ("delete_files",), (),
    ),
    "position_delete": (
        lambda s, d: snap.snapshot_position_delete(s, d, "k = 12"), ("pos_delete_files",), ()
    ),
    "analyze": (lambda s, d: snap.snapshot_analyze(s, d, ["v"]), ("ndv_m",), ()),
    "update": (lambda s, d: snap.snapshot_update(s, d, "k = 13", {"v": "0"}), (), ()),
    "add_column": (lambda s, d: snap.snapshot_add_column(d, "extra", "string"), (), ()),
    "set_constraint": (
        lambda s, d: snap.snapshot_set_constraint(s, d, "v_nonneg", "v >= 0"), ("constraints",), ()
    ),
    "drop_constraint": (
        lambda s, d: snap.snapshot_drop_constraint(d, "k_nonneg"), (), ("constraints",)
    ),
    "compact_manifests": (lambda s, d: snap.snapshot_compact_manifests(d), (), ()),
    "compact": (lambda s, d: snap.snapshot_compact(s, d, target_files=1), (), _REWRITE_DROPS),
    "compact_partial": (lambda s, d: snap.snapshot_compact(s, d, small_max_rows=3), (), ()),
    "merge": (
        lambda s, d: snap.snapshot_merge(
            s, d, s.createDataFrame([(14, "2", 0, 14)], "k long, p string, v long, x2 long"), key="k"
        ),
        (), (),
    ),
    "merge_fenced": (
        lambda s, d: snap.snapshot_merge(
            s, d, s.createDataFrame([(14, "2", 0, 14)], "k long, p string, v long, x2 long"),
            key="k", writer_id="w2", batch_id=0,
        ),
        ("last_batches",), (),
    ),
    "rename_column": (
        lambda s, d: snap.snapshot_rename_column(d, "v", "v2"), ("column_mapping",), ()
    ),
    "drop_column": (lambda s, d: snap.snapshot_drop_column(d, "v"), ("dropped_columns",), ()),
    "clone": (_clone, (), ("last_batches",)),
    "branch_create": (_branch, (), ("last_batches",)),
    "branch_publish": (_branch_publish, (), ()),
    "rollback": (_rollback, (), ()),
    "sink_stream": (
        lambda s, d: _sink_commit(d, [(500, "0", 1, 1)], writer_id="pipe-b"), ("last_batches",), ()
    ),
    "sink_batch_append": (
        lambda s, d: _sink_commit(d, [(500, "0", 1, 1)], batch=True), (), ()
    ),
    "sink_overwrite": (
        lambda s, d: _sink_commit(d, [(500, "0", 1, 1)], batch=True, overwrite=True),
        (), _REWRITE_DROPS,
    ),
}


@pytest.mark.parametrize("verb", sorted(_VERBS))
def test_maintenance_commits_carry_stream_fence(spark, tmp_path, rich_table, verb):
    """Every commit verb carries every table property into v+1 except
    the ones it sets or drops: the r11 stream fence (a maintenance
    commit that dropped it re-opened replay double-appends), the CHECK
    constraints, the rename mapping and dropped-column shadow, the
    partition spec, the NDV modulus and the live delete files. Full
    rewrites (compaction, the sink's full overwrite) drop deletes and
    mapping; a clone or a new branch starts its own fence lineage."""
    import shutil

    d = str(tmp_path / "t")
    shutil.copytree(rich_table, d)
    v = snap.current_version(d)
    parent = snap.read_snapshot_meta(d, v)
    commit, sets, drops = _VERBS[verb]
    where = commit(spark, d)
    out_dir, out_v = where if isinstance(where, tuple) else (d, v + 1)
    assert snap.current_version(out_dir) == out_v
    child = snap.read_snapshot_meta(out_dir, out_v)
    for k in _CARRIED:
        if k in drops:
            assert k not in child, (verb, k)
        elif k in sets:
            assert child.get(k), (verb, k)
        else:
            assert child.get(k) == parent[k], (verb, k)
    # and the stream's fence still fires through the commit
    head = snap.current_version(d)
    w = _sink_writer(d, writer_id="pipe-a")
    w.commit([w.write(iter([(2, "1", 4, 2)]))], batchId=7)
    assert snap.current_version(d) == head  # replay dropped, no new version


def test_expire_after_gapped_history(spark, tmp_path):
    """r11 review fix: retention with a LARGER keep_last after a
    stricter earlier expiry must not crash on already-deleted versions."""
    d = str(tmp_path / "t")
    _commit(spark, d, 0, 10)
    _commit(spark, d, 10, 20)
    _commit(spark, d, 20, 30)
    snap.expire_snapshots(d, keep_last=1)  # deletes v1, v2
    _commit(spark, d, 30, 40)              # v4
    stats = snap.expire_snapshots(d, keep_last=3)  # v2 no longer exists
    assert stats == {
        "expired_versions": 0, "deleted_files": 0,
        "deleted_manifests": 0, "deleted_delete_files": 0,
    }
    assert snap.read_snapshot(spark, d).count() == 40


def test_prune_to_zero_files_returns_empty_frame(spark, tmp_path):
    """r11 review fix: a range beyond every file's stats is a
    legitimate ZERO-row read, not an error."""
    d = str(tmp_path / "t")
    _commit(spark, d, 0, 100)
    out = snap.read_snapshot(spark, d, prune_col="k", lo=10**9, hi=10**9 + 1)
    assert out.count() == 0
    assert set(out.columns) == {"k", "v"}  # schema survives
    import pytest

    with pytest.raises(ValueError, match="no files"):
        snap.read_snapshot(spark, str(tmp_path / "empty"), version=0)


def test_json_stat_dates_and_loud_failure():
    import datetime
    from decimal import Decimal

    import pytest

    assert snap.json_stat(None) is None
    assert snap.json_stat(5) == 5
    assert snap.json_stat(datetime.date(2024, 3, 1)) == "2024-03-01"
    # ISO strings preserve pruning order
    a = snap.json_stat(datetime.datetime(2024, 3, 1, 5))
    b = snap.json_stat(datetime.datetime(2024, 3, 1, 6))
    assert a < b
    with pytest.raises(ValueError, match="not JSON-portable"):
        snap.json_stat(Decimal("1.5"))


def test_publish_is_first_writer_wins():
    """Two writers racing the same version slot: exactly one wins, the
    loser gets ConcurrentCommitError (os.link EEXCL semantics), and the
    winner's JSON is intact."""
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        snap._publish(d, 1, {"version": 1, "files": [], "who": "a"})
        import pytest

        with pytest.raises(snap.ConcurrentCommitError):
            snap._publish(d, 1, {"version": 1, "files": [], "who": "b"})
        assert snap.read_snapshot_meta(d, 1)["who"] == "a"


def test_concurrent_appends_both_commit(spark, tmp_path):
    """N threads appending concurrently: every append lands (rebase +
    retry), versions are a contiguous 1..N chain, the final file list
    is the union, and no rows are lost or duplicated."""
    import concurrent.futures as cf

    d = str(tmp_path / "t")
    n_writers = 6

    def one(i):
        return snap.snapshot_append(
            spark,
            d,
            spark.range(i * 100, (i + 1) * 100).select(F.col("id").alias("k")),
            stats_cols=["k"],
        )

    with cf.ThreadPoolExecutor(n_writers) as ex:
        versions = sorted(ex.map(one, range(n_writers)))
    assert versions == list(range(1, n_writers + 1))
    got = sorted(r.k for r in snap.read_snapshot(spark, d).collect())
    assert got == list(range(n_writers * 100))
    # parent chain is contiguous: each version extends its parent's list
    for v in range(2, n_writers + 1):
        meta = snap.read_snapshot_meta(d, v)
        assert meta["parent"] == v - 1
        parent_paths = {e["path"] for e in snap.snapshot_files(d, v - 1)}
        assert parent_paths < {e["path"] for e in meta["files"]}


def test_rewrite_commits_surface_conflicts(spark, tmp_path, monkeypatch):
    """Compaction planned against a stale parent must RAISE when a
    concurrent writer wins its version slot mid-flight — never silently
    clobber (the rewrite's file list depends on the parent it planned
    from). The race window is made deterministic by publishing a
    competing version from inside the compaction's stats scan."""
    import pytest

    d = str(tmp_path / "t")
    _commit(spark, d, 0, 10)
    real_scan = snap._scan_commit_stats

    def racing_scan(spark_, commit_dir, stats_cols):
        entries = real_scan(spark_, commit_dir, stats_cols)
        meta = snap.read_snapshot_meta(d, 1)
        snap._publish(d, 2, {**meta, "version": 2, "parent": 1})  # rival wins v2
        return entries

    monkeypatch.setattr(snap, "_scan_commit_stats", racing_scan)
    with pytest.raises(snap.ConcurrentCommitError):
        snap.snapshot_compact(spark, d, target_files=1)
    # the rival's publish is intact; no torn state
    assert snap.current_version(d) == 2


def test_bloom_positions_spark_python_parity(spark):
    """The Spark-side md5 position expressions and the driver-side
    hashlib twin must agree bit-for-bit — the whole scheme rests on it."""
    df = spark.range(50).select(F.col("id").alias("k"))
    rows = df.select(
        "k", F.array(*snap._bloom_position_cols("k", snap._BLOOM_M, snap._BLOOM_K)).alias("ps")
    ).collect()
    for r in rows:
        assert list(r["ps"]) == snap.bloom_positions(r["k"], snap._BLOOM_M, snap._BLOOM_K)


def test_bloom_no_false_negatives_and_prunes(spark, tmp_path):
    d = str(tmp_path / "t")
    for sl in (0, 1, 2):  # interleaved: stats blind, bloom sharp
        snap.snapshot_append(
            spark,
            d,
            spark.range(3000).select(F.col("id").alias("k"))
            .where(F.col("k") % 3 == sl).repartition(1),
            stats_cols=["k"],
            bloom_cols=["k"],
        )
    files = snap.snapshot_files(d)
    assert all(f"bloom_k" in e for e in files)
    # no false negatives: every present key is admitted by its file
    for probe in (0, 1, 2, 1500, 2998):
        kept, total = snap.point_lookup_files(d, "k", probe)
        assert total == 3 and 1 <= len(kept) <= 2  # FP head-room
        got = snap.read_point_lookup(spark, d, "k", probe).collect()
        assert [r.k for r in got] == [probe]
    # absent key: usually zero files kept; result empty either way
    assert snap.read_point_lookup(spark, d, "k", 10**7).count() == 0


def test_bloomless_files_are_kept_conservatively(spark, tmp_path):
    d = str(tmp_path / "t")
    _commit(spark, d, 0, 10)  # no bloom_cols
    kept, total = snap.point_lookup_files(d, "k", 5)
    assert len(kept) == total > 0  # no bloom -> every file kept
    assert snap.read_point_lookup(spark, d, "k", 5).count() == 1


def test_bloom_type_gate_rejects_doubles(spark, tmp_path):
    """Float/bool CAST-to-string differs between Spark (Java notation)
    and Python str(), which would produce bloom FALSE NEGATIVES — the
    build must refuse loudly (r11 review)."""
    import pytest

    d = str(tmp_path / "t")
    df = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 1.5).alias("v"))
    with pytest.raises(ValueError, match="false negatives"):
        snap.snapshot_append(spark, d, df, stats_cols=["k"], bloom_cols=["v"])


def test_mixed_stats_commits_read_conservatively(spark, tmp_path):
    """ADVICE r11 (medium): per-call stats_cols used to overwrite the
    snapshot's declaration, and entries missing min_/max_ keys made
    read_snapshot/merge KeyError. Now: top-level stats_cols is the
    UNION, files from a commit that didn't collect a column are KEPT
    by the prune (conservative), and merge force-touches them."""
    d = str(tmp_path / "t")
    snap.snapshot_append(
        spark, d,
        spark.range(0, 10).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v")),
        stats_cols=["k"],
    )
    snap.snapshot_append(
        spark, d,
        spark.range(10, 20).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v")),
        stats_cols=[],  # this commit collects nothing
    )
    meta = snap.read_snapshot_meta(d, 2)
    assert meta["stats_cols"] == ["k"]  # union, not last-writer-wins
    # prune on k: the stats-less commit's files must be KEPT, so every
    # row is still reachable (then the caller's residual filters)
    got = snap.read_snapshot(spark, d, prune_col="k", lo=15, hi=16)
    assert {r.k for r in got.where("k between 15 and 16").collect()} == {15, 16}
    # merge on k: the stats-less file is force-touched (rewritten), the
    # stats-bearing file outside the key range is carried
    res = snap.snapshot_merge(
        spark, d, spark.createDataFrame([(15, 99)], "k long, v long"), key="k"
    )
    assert res["files_carried"] >= 1  # commit 1's file (k in [0,10)) carried
    rows = {r.k: r.v for r in snap.read_snapshot(spark, d).collect()}
    assert rows[15] == 99 and len(rows) == 20


def test_compact_and_merge_rebuild_blooms(spark, tmp_path):
    """ADVICE r11: OPTIMIZE/MERGE rewrote files without recomputing
    their blooms, silently degrading point lookups to stats-only.
    Rewrites now rebuild blooms for the snapshot's bloom columns."""
    d = str(tmp_path / "t")
    for sl in (0, 1, 2):  # interleave so stats can't prune, only blooms
        snap.snapshot_append(
            spark, d,
            spark.range(3000).select(F.col("id").alias("k"))
            .where(F.col("k") % 3 == sl).repartition(1),
            stats_cols=["k"], bloom_cols=["k"],
        )
    assert snap.read_snapshot_meta(d, 3)["bloom_cols"] == ["k"]
    v = snap.snapshot_compact(spark, d, target_files=3)
    files = snap.snapshot_files(d, v)
    assert all("bloom_k" in e for e in files)
    # compaction hash-partitions, so stats stay blind; blooms must prune
    kept, total = snap.point_lookup_files(d, "k", 1500)
    assert total == 3 and len(kept) < 3
    assert snap.read_point_lookup(spark, d, "k", 1500).count() == 1
    # MERGE: the rewritten file gets a fresh bloom that admits the new key
    snap.snapshot_merge(
        spark, d, spark.createDataFrame([(10_000_000,)], "k long"), key="k"
    )
    files = snap.snapshot_files(d)
    assert all("bloom_k" in e for e in files)
    assert snap.read_point_lookup(spark, d, "k", 10_000_000).count() == 1
    kept, total = snap.point_lookup_files(d, "k", 10_000_000)
    assert len(kept) < total  # and the lookup still prunes


def test_expire_guards(spark, tmp_path):
    """ADVICE r11: keep_last=0 would discard the epoch fences; an empty
    table raised from os.listdir; min_age_s protects in-flight commits
    (the VACUUM-style retention window)."""
    import pytest

    d = str(tmp_path / "t")
    assert snap.expire_snapshots(d) == {
        "expired_versions": 0, "deleted_files": 0,
        "deleted_manifests": 0, "deleted_delete_files": 0,
    }
    with pytest.raises(ValueError, match="keep_last"):
        snap.expire_snapshots(d, keep_last=0)
    _commit(spark, d, 0, 10)
    _commit(spark, d, 10, 20)
    _commit(spark, d, 20, 30)
    # every version is younger than an hour: nothing may expire
    res = snap.expire_snapshots(d, keep_last=1, min_age_s=3600)
    assert res["expired_versions"] == 0
    assert snap.current_version(d) == 3
    res = snap.expire_snapshots(d, keep_last=1)  # no window: expires 1, 2
    assert res["expired_versions"] == 2


def test_stream_from_expired_offset_is_a_contract_error(spark, tmp_path):
    """ADVICE r11: a stream resuming from an offset whose version range
    was expired by retention must fail with the retention contract,
    not a raw FileNotFoundError."""
    import pytest

    from stock_price_prediction_using_stream_and_batch_processing_spark.sources.snapshot_source import (
        SnapshotChangesStreamReader,
    )

    d = str(tmp_path / "t")
    _commit(spark, d, 0, 10)
    _commit(spark, d, 10, 20)
    _commit(spark, d, 20, 30)
    snap.expire_snapshots(d, keep_last=1)  # versions 1, 2 gone
    r = SnapshotChangesStreamReader({"table_dir": d})
    with pytest.raises(ValueError, match="expired by retention"):
        r._delta_paths(1, 2)


def test_merge_epoch_fence_skips_replayed_batch(spark, tmp_path):
    """snapshot_merge(writer_id, batch_id): the foreachBatch
    streaming-MERGE contract — a replayed (writer, batch) pair is an
    idempotent no-op, a new batch advances the fence, and another
    writer's fence is independent."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "t")
    _commit(spark, d, 0, 10)
    upd = spark.range(3, 6).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("v")
    )
    out = snap.snapshot_merge(spark, d, upd, key="k", writer_id="w", batch_id=0)
    assert out["version"] == 2 and "skipped_replay" not in out
    assert snap.read_snapshot_meta(d, 2)["last_batches"] == {"w": 0}
    # crash-replay of batch 0: no new version, nothing rewritten
    replay = snap.snapshot_merge(spark, d, upd, key="k", writer_id="w", batch_id=0)
    assert replay == {
        "version": 2,
        "files_rewritten": 0,
        "files_carried": replay["files_carried"],
        "skipped_replay": True,
    }
    assert snap.current_version(d) == 2
    # the next batch proceeds and advances the fence
    out = snap.snapshot_merge(spark, d, upd, key="k", writer_id="w", batch_id=1)
    assert out["version"] == 3
    assert snap.read_snapshot_meta(d, 3)["last_batches"] == {"w": 1}
    # an independent writer is not fenced by w's batches
    out = snap.snapshot_merge(spark, d, upd, key="k", writer_id="x", batch_id=0)
    assert out["version"] == 4
    assert snap.read_snapshot_meta(d, 4)["last_batches"] == {"w": 1, "x": 0}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="together"):
        snap.snapshot_merge(spark, d, upd, key="k", writer_id="w")


def test_vacuum_orphans_collects_unreferenced_only(spark, tmp_path):
    """vacuum_orphans: a dropped-without-publish branch's staged commit
    dir is collected; live data (main + surviving branches) and
    anything younger than the in-flight window is kept."""
    import os

    from pyspark.sql import functions as F

    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import refs

    d = str(tmp_path / "t")
    _commit(spark, d, 0, 10)
    refs.branch_create(d, "doomed")
    refs.branch_append(
        spark, d, "doomed",
        spark.range(10, 20).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v")),
    )
    refs.branch_create(d, "kept")
    refs.branch_append(
        spark, d, "kept",
        spark.range(20, 30).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v")),
    )
    refs.branch_drop(d, "doomed")  # its staged commit dir is now orphaned
    # in-flight window: nothing collected when everything is young
    assert snap.vacuum_orphans(d, min_age_s=3600)["deleted_commit_dirs"] == 0
    out = snap.vacuum_orphans(d, min_age_s=0)
    assert out["deleted_commit_dirs"] == 1
    # survivors fully readable
    assert snap.read_snapshot(spark, d).count() == 10
    assert refs.read_branch(spark, d, "kept").count() == 20
    # stray manifest shard (lost conversion race) is collected too
    man = os.path.join(d, "manifests")
    os.makedirs(man, exist_ok=True)
    stray = os.path.join(man, "m-deadbeef.json")
    with open(stray, "w") as f:
        f.write('{"files": []}')
    out = snap.vacuum_orphans(d, min_age_s=0)
    assert out["deleted_manifests"] == 1 and not os.path.exists(stray)


def test_version_as_of_and_metadata_aggregates(spark, tmp_path):
    """TIMESTAMP AS OF resolves by commit wall-clock; COUNT/MIN/MAX
    come from commit metadata with ZERO data access — proven by
    renaming the data dir away while the aggregates run. Live equality
    deletes and stats-less columns refuse loudly."""
    import os
    import time as _t

    import pytest as _pytest

    d = str(tmp_path / "t")
    _commit(spark, d, 0, 10)
    _t.sleep(0.05)
    t_mid = _t.time()
    _t.sleep(0.05)
    _commit(spark, d, 10, 30)
    assert snap.version_as_of(d, t_mid) == 1
    assert snap.version_as_of(d, _t.time()) == 2
    with _pytest.raises(ValueError, match="at or before"):
        snap.version_as_of(d, 1.0)  # 1970: before the table existed
    # metadata-only aggregates: hide the data files to PROVE no access
    data = os.path.join(d, "data")
    hidden = os.path.join(d, "data_hidden")
    os.rename(data, hidden)
    try:
        agg = snap.metadata_aggregates(d, ["k"])
        assert agg == {"n_rows": 30, "min_k": 0, "max_k": 29}
        agg1 = snap.metadata_aggregates(d, ["k"], version=1)
        assert agg1 == {"n_rows": 10, "min_k": 0, "max_k": 9}
        with _pytest.raises(ValueError, match="lacks stats"):
            snap.metadata_aggregates(d, ["v"])  # v not in stats_cols
    finally:
        os.rename(hidden, data)
    # live equality deletes poison counts -> refuse
    from pyspark.sql import functions as F

    snap.snapshot_delete(
        spark, d, spark.range(0, 2).select(F.col("id").alias("k")), "k"
    )
    with _pytest.raises(ValueError, match="equality/positional deletes"):
        snap.metadata_aggregates(d)
    # compaction materializes deletes and re-enables the metadata path
    snap.snapshot_compact(spark, d, target_files=1)
    assert snap.metadata_aggregates(d, ["k"]) == {
        "n_rows": 28, "min_k": 2, "max_k": 29
    }


# ---------------------------------------------------------------- partitions


def _pdf(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("p"),
        (F.col("id") * 2).alias("v"),
    )


def test_partitioned_append_prunes_exactly_and_retains_columns(spark, tmp_path):
    d = str(tmp_path / "t")
    snap.snapshot_append(spark, d, _pdf(spark, 0, 30), stats_cols=["k"], partition_by=["p"])
    meta = snap.read_snapshot_meta(d, 1)
    assert meta["partition_by"] == ["p"]
    # partition cols auto-join the stats set
    assert "p" in meta["stats_cols"]
    entries = snap.snapshot_files(d)
    # one partition tuple per file, recorded as pv, min==max==value
    assert all(e["pv"]["p"] == e["min_p"] == e["max_p"] for e in entries)
    assert {e["pv"]["p"] for e in entries} == {"0", "1", "2"}
    # partition-predicate read via the existing stats prune is EXACT
    pruned = snap.read_snapshot(spark, d, prune_col="p", lo="1", hi="1")
    rows = pruned.collect()
    assert sorted(r.k for r in rows) == [k for k in range(30) if k % 3 == 1]
    # the partition column is retained IN the data files
    assert all(r.p == "1" for r in rows)
    # SHOW PARTITIONS from metadata alone
    pv = snap.partition_values(d)
    assert [r["pv"]["p"] for r in pv] == ["0", "1", "2"]
    assert all(r["n_rows"] == 10 for r in pv)


def test_dynamic_partition_overwrite_replaces_only_matching(spark, tmp_path):
    d = str(tmp_path / "t")
    snap.snapshot_append(spark, d, _pdf(spark, 0, 30), stats_cols=["k"], partition_by=["p"])
    # restate partition p=1 with doubled values, different keys
    restated = spark.range(100, 105).select(
        F.col("id").alias("k"), F.lit("1").alias("p"), (F.col("id") * 10).alias("v")
    )
    v = snap.snapshot_overwrite_partitions(spark, d, restated)
    assert v == 2
    meta = snap.read_snapshot_meta(d, 2)
    assert meta["overwrite"]["partitions"] == [["1"]]
    assert meta["overwrite"]["files_replaced"] >= 1
    got = {(r.k, r.p) for r in snap.read_snapshot(spark, d).collect()}
    want = {(k, str(k % 3)) for k in range(30) if k % 3 != 1} | {
        (k, "1") for k in range(100, 105)
    }
    assert got == want
    # untouched partitions carried VERBATIM (same file paths)
    old = {e["path"] for e in snap.snapshot_files(d, 1) if e["pv"]["p"] != "1"}
    new = {e["path"] for e in snap.snapshot_files(d, 2) if e["pv"]["p"] != "1"}
    assert old == new
    # time travel still sees the pre-overwrite rows
    assert snap.read_snapshot(spark, d, 1).count() == 30


def test_overwrite_refuses_unpartitioned_and_pvless_files(spark, tmp_path):
    import pytest

    d = str(tmp_path / "t")
    # no spec at all
    snap.snapshot_append(spark, d, _pdf(spark, 0, 9), stats_cols=["k"])
    with pytest.raises(ValueError, match="no partition spec"):
        snap.snapshot_overwrite_partitions(spark, d, _pdf(spark, 0, 3))
    # spec declared later: the pv-less v1 files refuse the overwrite
    snap.snapshot_append(spark, d, _pdf(spark, 9, 12), stats_cols=["k"], partition_by=["p"])
    with pytest.raises(ValueError, match="compact to re-cluster"):
        snap.snapshot_overwrite_partitions(spark, d, _pdf(spark, 0, 3))
    # compaction re-clusters under the spec and restores pv everywhere
    snap.snapshot_compact(spark, d, target_files=4)
    assert all("pv" in e for e in snap.snapshot_files(d))
    v = snap.snapshot_overwrite_partitions(spark, d, _pdf(spark, 0, 3))
    got = sorted(r.k for r in snap.read_snapshot(spark, d, v).collect())
    # partitions 0,1,2 all present in the restatement -> full replace
    assert got == [0, 1, 2]


def test_partitioned_compact_bin_packs_per_partition(spark, tmp_path):
    d = str(tmp_path / "t")
    snap.snapshot_append(spark, d, _pdf(spark, 0, 15), stats_cols=["k"], partition_by=["p"])
    snap.snapshot_append(spark, d, _pdf(spark, 15, 30), stats_cols=["k"], partition_by=["p"])
    assert len(snap.snapshot_files(d)) > 3
    snap.snapshot_compact(spark, d, target_files=4)
    entries = snap.snapshot_files(d)
    # one file per partition after OPTIMIZE, layout preserved
    assert len(entries) == 3
    assert sorted(e["pv"]["p"] for e in entries) == ["0", "1", "2"]
    assert snap.read_snapshot(spark, d).count() == 30


def test_overwrite_concurrent_append_same_partition_conflicts(spark, tmp_path, monkeypatch):
    """A commit that appends into an overwritten partition BETWEEN the
    overwrite's planning and its publish must surface as
    ConcurrentCommitError (replacement vs insertion of the same
    partition cannot be serialized without losing rows), while a
    concurrent append into a DISJOINT partition commutes through the
    rebase."""
    import pytest

    d = str(tmp_path / "t")
    snap.snapshot_append(spark, d, _pdf(spark, 0, 30), stats_cols=["k"], partition_by=["p"])

    def racing_publish(conflict_p):
        orig = snap.publish_with_rebase

        def wrapper(table_dir, make_snap, max_attempts=50):
            snap.publish_with_rebase = orig  # the injected append publishes normally
            late = spark.range(200, 203).select(
                F.col("id").alias("k"),
                F.lit(conflict_p).alias("p"),
                F.col("id").alias("v"),
            )
            snap.snapshot_append(spark, table_dir, late, stats_cols=["k"], partition_by=["p"])
            return orig(table_dir, make_snap, max_attempts)

        return wrapper

    restated = spark.range(100, 103).select(
        F.col("id").alias("k"), F.lit("1").alias("p"), F.col("id").alias("v")
    )
    # same-partition race -> refuse
    monkeypatch.setattr(snap, "publish_with_rebase", racing_publish("1"))
    with pytest.raises(snap.ConcurrentCommitError, match="overwritten partition"):
        snap.snapshot_overwrite_partitions(spark, d, restated)
    # disjoint-partition race -> commutes: overwrite lands, late p=2 rows kept
    monkeypatch.setattr(snap, "publish_with_rebase", racing_publish("2"))
    v = snap.snapshot_overwrite_partitions(spark, d, restated)
    monkeypatch.setattr(snap, "publish_with_rebase", snap.publish_with_rebase)
    rows = snap.read_snapshot(spark, d, v)
    assert sorted(r.k for r in rows.where(F.col("p") == "1").collect()) == [100, 101, 102]
    assert {200, 201, 202} <= {r.k for r in rows.where(F.col("p") == "2").collect()}


# ---------------------------------------------------------- positional deletes


def test_position_delete_arbitrary_predicate(spark, tmp_path):
    d = str(tmp_path / "t")
    _commit(spark, d, 0, 20)   # k 0..19, v = 2k
    _commit(spark, d, 20, 30)
    # arbitrary predicate no single key column expresses
    v = snap.snapshot_position_delete(spark, d, "v % 4 = 0 AND k < 25")
    assert v == 3
    meta = snap.read_snapshot_meta(d, 3)
    assert meta["delete"] is True
    assert len(meta["pos_delete_files"]) == 1
    kept = sorted(r.k for r in snap.read_snapshot(spark, d).collect())
    assert kept == [k for k in range(30) if not (2 * k % 4 == 0 and k < 25)]
    # time travel unaffected
    assert snap.read_snapshot(spark, d, 2).count() == 30
    # no-op delete publishes nothing
    assert snap.snapshot_position_delete(spark, d, "k > 1000") == 0
    assert snap.current_version(d) == 3


def test_position_delete_never_retro_deletes_new_rows(spark, tmp_path):
    d = str(tmp_path / "t")
    _commit(spark, d, 0, 10)
    snap.snapshot_position_delete(spark, d, "k >= 5")
    # rows re-inserted AFTER the positional delete live in new files:
    # the delete's (file, pos) pairs can never touch them
    _commit(spark, d, 5, 10)
    got = sorted(r.k for r in snap.read_snapshot(spark, d).collect())
    assert got == [0, 1, 2, 3, 4, 5, 6, 7, 8, 9]


def test_position_delete_stacks_with_equality_delete(spark, tmp_path):
    d = str(tmp_path / "t")
    _commit(spark, d, 0, 20)
    snap.snapshot_position_delete(spark, d, "k in (1, 2)")
    snap.snapshot_delete(spark, d, spark.range(3, 5).select(F.col("id").alias("k")), "k")
    got = sorted(r.k for r in snap.read_snapshot(spark, d).collect())
    assert got == [0] + list(range(5, 20))
    # both survive an unrelated append (carry), then compaction
    # materializes both and clears the read tax
    _commit(spark, d, 20, 25)
    m = snap.read_snapshot_meta(d, snap.current_version(d))
    assert m.get("pos_delete_files") and m.get("delete_files")
    snap.snapshot_compact(spark, d, target_files=2)
    m2 = snap.read_snapshot_meta(d, snap.current_version(d))
    assert not m2.get("pos_delete_files") and not m2.get("delete_files")
    got2 = sorted(r.k for r in snap.read_snapshot(spark, d).collect())
    assert got2 == [0] + list(range(5, 25))


def test_position_delete_stats_pruned_and_change_feed(spark, tmp_path):
    d = str(tmp_path / "t")
    _commit(spark, d, 0, 10)
    _commit(spark, d, 10, 20)
    v = snap.snapshot_position_delete(
        spark, d, "k >= 12 AND k < 14", prune_col="k", lo=12, hi=13, change_feed=True
    )
    meta = snap.read_snapshot_meta(d, v)
    # stats prune kept the touched set to the file(s) whose [min, max]
    # can hold [12, 13] — a strict subset of the table's files
    touched = meta["pos_delete_files"][-1]["paths"]
    assert 0 < len(touched) < len(snap.snapshot_files(d))
    commit2 = {e["path"] for e in snap.snapshot_files(d, 2)} - {
        e["path"] for e in snap.snapshot_files(d, 1)
    }
    assert set(touched) <= commit2
    pre = spark.read.parquet(meta["change_feed_dir"])
    assert sorted(r.k for r in pre.collect()) == [12, 13]
    assert pre.columns[-1] == "_change_type"


def test_position_delete_conflicts_with_concurrent_rewrite(spark, tmp_path, monkeypatch):
    import pytest

    d = str(tmp_path / "t")
    _commit(spark, d, 0, 10)
    orig = snap.publish_with_rebase

    def racing(table_dir, make_snap, max_attempts=50):
        snap.publish_with_rebase = orig
        snap.snapshot_compact(spark, table_dir, target_files=1)
        return orig(table_dir, make_snap, max_attempts)

    monkeypatch.setattr(snap, "publish_with_rebase", racing)
    with pytest.raises(snap.ConcurrentCommitError, match="rewritten concurrently"):
        snap.snapshot_position_delete(spark, d, "k = 3")
    monkeypatch.setattr(snap, "publish_with_rebase", orig)
    # nothing published; the orphaned delete dir is vacuum's job
    assert snap.current_version(d) == 2


def test_metadata_aggregates_refuse_live_position_deletes(spark, tmp_path):
    import pytest

    d = str(tmp_path / "t")
    _commit(spark, d, 0, 10)
    snap.snapshot_position_delete(spark, d, "k = 0")
    with pytest.raises(ValueError, match="positional deletes"):
        snap.metadata_aggregates(d, ["k"])


# ---------------------------------------------------------- hidden partitioning


def test_hidden_partition_month_transform(spark, tmp_path):
    d = str(tmp_path / "t")
    df = spark.range(0, 60).select(
        F.col("id").alias("k"),
        F.expr("timestamp'2024-01-15 00:00:00' + make_interval(0,0,0,id,0,0,0)").alias("ts"),
        (F.col("id") * 2).alias("v"),
    )
    snap.snapshot_append(spark, d, df, stats_cols=["k"], partition_by=["month(ts)"])
    meta = snap.read_snapshot_meta(d, 1)
    assert meta["partition_by"] == ["month(ts)"]
    # the RAW column auto-joins the stats set (hidden partitioning
    # prunes through ordinary min/max on ts)
    assert "ts" in meta["stats_cols"]
    months = {r["pv"]["ts_month"] for r in snap.partition_values(d)}
    assert months == {"2024-01", "2024-02", "2024-03"}
    # the transform value is layout-only: data files carry the raw schema
    got = snap.read_snapshot(spark, d)
    assert sorted(got.columns) == ["k", "ts", "v"]
    assert got.count() == 60
    # dynamic overwrite addresses the transformed tuple
    feb = df.where(F.date_format("ts", "yyyy-MM") == "2024-02").withColumn(
        "v", F.col("v") * 10
    )
    v2 = snap.snapshot_overwrite_partitions(spark, d, feb)
    assert snap.read_snapshot_meta(d, v2)["overwrite"]["partitions"] == [["2024-02"]]
    rows = {r.k: r.v for r in snap.read_snapshot(spark, d).collect()}
    for k in range(60):
        in_feb = 17 <= k <= 45  # Jan 15 + k days lands in February
        assert rows[k] == (k * 20 if in_feb else k * 2), (k, rows[k])


def test_hidden_partition_bucket_and_truncate(spark, tmp_path):
    d = str(tmp_path / "t")
    df = spark.range(0, 40).select(
        F.col("id").alias("k"),
        F.concat(F.lit("user"), F.col("id")).alias("name"),
    )
    snap.snapshot_append(
        spark, d, df, stats_cols=["k"], partition_by=["bucket(4, k)", "truncate(10, k)"]
    )
    pvs = snap.partition_values(d)
    assert all(set(r["pv"]) == {"k_bucket", "k_truncate"} for r in pvs)
    assert {r["pv"]["k_bucket"] for r in pvs} <= {"0", "1", "2", "3"}
    assert {r["pv"]["k_truncate"] for r in pvs} == {"0", "10", "20", "30"}
    assert sum(r["n_rows"] for r in pvs) == 40
    assert snap.read_snapshot(spark, d).count() == 40
    # compaction preserves the transform layout
    snap.snapshot_compact(spark, d, target_files=4)
    pvs2 = snap.partition_values(d)
    assert sum(r["n_rows"] for r in pvs2) == 40
    assert {r["pv"]["k_truncate"] for r in pvs2} == {"0", "10", "20", "30"}


def test_partition_spec_rejects_garbage(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError, match="unsupported partition transform"):
        snap._parse_partition_spec(["month(ts); DROP TABLE"])
    with pytest.raises(ValueError, match="duplicate keys"):
        snap._parse_partition_spec(["bucket(4, k)", "bucket(8, k)"])


# -------------------------------------------------------------------- UPDATE


def test_update_rewrites_only_touched_files(spark, tmp_path):
    d = str(tmp_path / "t")
    for lo, hi in ((0, 100), (100, 200), (200, 300)):
        snap.snapshot_append(
            spark,
            d,
            spark.range(lo, hi).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            ).repartition(1),
            stats_cols=["k"],
        )
    pre = {e["path"] for e in snap.snapshot_files(d, 3)}
    res = snap.snapshot_update(
        spark, d, "k >= 150 AND k < 160", {"v": "v + 1000"},
        prune_col="k", lo=150, hi=159,
    )
    assert res == {
        "version": 4, "files_rewritten": 1, "files_carried": 2, "rows_updated": 10
    }
    post = {e["path"] for e in snap.snapshot_files(d, 4)}
    assert len(post & pre) == 2
    got = {r.k: r.v for r in snap.read_snapshot(spark, d).collect()}
    want = {k: k * 2 + (1000 if 150 <= k < 160 else 0) for k in range(300)}
    assert got == want
    # pre-update version untouched
    assert snap.read_snapshot(spark, d, 3).where("v >= 1000").count() == 0
    # no-match update publishes nothing
    res2 = snap.snapshot_update(spark, d, "k > 9999", {"v": "0"})
    assert res2["version"] == 4 and res2["rows_updated"] == 0


def test_update_respects_deletes_and_change_feed(spark, tmp_path):
    d = str(tmp_path / "t")
    _commit(spark, d, 0, 20)
    snap.snapshot_delete(spark, d, spark.range(5, 7).select(F.col("id").alias("k")), "k")
    res = snap.snapshot_update(
        spark, d, "k < 10", {"v": "v * 10"}, change_feed=True
    )
    # deleted rows 5,6 are not updated and stay deleted
    assert res["rows_updated"] == 8
    got = {r.k: r.v for r in snap.read_snapshot(spark, d).collect()}
    want = {k: (k * 20 if k < 10 else k * 2) for k in range(20) if k not in (5, 6)}
    assert got == want
    feed = spark.read.parquet(snap.read_snapshot_meta(d, res["version"])["change_feed_dir"])
    kinds = {r["_change_type"] for r in feed.select("_change_type").distinct().collect()}
    assert kinds == {"update_preimage", "update_postimage"}
    assert feed.count() == 16


def test_update_preserves_partition_layout(spark, tmp_path):
    d = str(tmp_path / "t")
    snap.snapshot_append(spark, d, _pdf(spark, 0, 30), stats_cols=["k"], partition_by=["p"])
    res = snap.snapshot_update(spark, d, "p = '1'", {"v": "v + 1"})
    assert res["rows_updated"] == 10
    entries = snap.snapshot_files(d)
    assert all("pv" in e for e in entries)
    # only files of partition '1' were rewritten
    pre = {e["path"] for e in snap.snapshot_files(d, 1) if e["pv"]["p"] != "1"}
    post = {e["path"] for e in entries if e["pv"]["p"] != "1"}
    assert pre == post
    # overwrite still works afterwards (pv intact on rewritten files)
    v = snap.snapshot_overwrite_partitions(
        spark, d,
        spark.range(0, 2).select(
            F.col("id").alias("k"), F.lit("2").alias("p"), F.col("id").alias("v")
        ),
    )
    assert snap.read_snapshot(spark, d, v).where("p = '2'").count() == 2


def test_update_conflicts_with_concurrent_rewrite(spark, tmp_path, monkeypatch):
    import pytest

    d = str(tmp_path / "t")
    _commit(spark, d, 0, 10)
    orig = snap.publish_with_rebase

    def racing(table_dir, make_snap, max_attempts=50):
        snap.publish_with_rebase = orig
        snap.snapshot_compact(spark, table_dir, target_files=1)
        return orig(table_dir, make_snap, max_attempts)

    monkeypatch.setattr(snap, "publish_with_rebase", racing)
    with pytest.raises(snap.ConcurrentCommitError, match="rewritten concurrently"):
        snap.snapshot_update(spark, d, "k = 1", {"v": "0"})
    monkeypatch.setattr(snap, "publish_with_rebase", orig)


def test_update_refuses_unknown_assignment_column(spark, tmp_path):
    import pytest

    d = str(tmp_path / "t")
    _commit(spark, d, 0, 10)
    with pytest.raises(ValueError, match="not in table schema"):
        snap.snapshot_update(spark, d, "k = 1", {"nope": "1"})


def test_update_assignments_read_old_row_values(spark, tmp_path):
    """SQL UPDATE evaluates every assignment against the OLD row:
    SET k = v, v = k must SWAP, not cascade."""
    d = str(tmp_path / "t")
    _commit(spark, d, 1, 4)  # rows (k, v=2k)
    snap.snapshot_update(spark, d, "k = 2", {"k": "v", "v": "k"})
    got = sorted((r.k, r.v) for r in snap.read_snapshot(spark, d).collect())
    assert got == [(1, 2), (3, 6), (4, 2)]


# ------------------------------------------------------------------- ANALYZE


def test_analyze_is_incremental_and_ndv_is_metadata_only(spark, tmp_path):
    import os as _os

    import pytest

    d = str(tmp_path / "t")
    _commit(spark, d, 0, 200)
    r1 = snap.snapshot_analyze(spark, d, ["k"])
    assert r1["files_scanned"] == len(snap.snapshot_files(d, 1))
    # second run: nothing new -> no scan, no commit
    assert snap.snapshot_analyze(spark, d, ["k"]) == {
        "version": r1["version"], "files_scanned": 0
    }
    # append, re-analyze: ONLY the new files scan
    _commit(spark, d, 200, 300)
    n_new = len(snap.snapshot_files(d)) - len(snap.snapshot_files(d, 1))
    r2 = snap.snapshot_analyze(spark, d, ["k"])
    assert r2["files_scanned"] == n_new
    # NDV folds from metadata alone: hide the data dir while estimating
    data, hidden = _os.path.join(d, "data"), _os.path.join(d, "data_hidden")
    _os.rename(data, hidden)
    try:
        ndv = snap.table_ndv(d, "k")
    finally:
        _os.rename(hidden, data)
    assert ndv["k_occupied"] > 0
    assert abs(ndv["ndv_estimate"] - 300) / 300 < 0.15
    # unanalyzed files refuse loudly
    _commit(spark, d, 300, 310)
    with pytest.raises(ValueError, match="lack NDV partials"):
        snap.table_ndv(d, "k")
    # mismatched m refuses
    with pytest.raises(ValueError, match="would \\nnot merge|would not merge"):
        snap.snapshot_analyze(spark, d, ["k"], m=64)


def test_analyze_partials_merge_exactly_to_table_positions(spark, tmp_path):
    """Per-file position sets union to EXACTLY the table-level distinct
    positions (the merge is lossless — same invariant the registered
    linear-counting face pins), and all-NULL files analyze to empty."""
    d = str(tmp_path / "t")
    df = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    snap.snapshot_append(spark, d, df.repartition(3), stats_cols=["k"])
    nulls = spark.range(0, 5).select(
        F.lit(None).cast("long").alias("k"), F.col("id").alias("v")
    )
    snap.snapshot_append(spark, d, nulls.repartition(1), stats_cols=["k"])
    snap.snapshot_analyze(spark, d, ["k"], m=256)
    from stock_price_prediction_using_stream_and_batch_processing_spark.functions.hashing import hex32_to_long

    want = {
        r[0]
        for r in df.select(
            F.pmod(hex32_to_long(F.md5(F.col("k").cast("string"))), F.lit(256))
        ).distinct().collect()
    }
    got: set = set()
    n_empty = 0
    for e in snap.snapshot_files(d):
        got.update(e["ndv_k"])
        n_empty += not e["ndv_k"]
    assert got == want
    assert n_empty >= 1  # the all-NULL commit's file(s)
    assert snap.table_ndv(d, "k")["k_occupied"] == len(want)


def test_selective_compaction_bin_packs_only_small_files(spark, tmp_path):
    """OPTIMIZE with small_max_rows rewrites only the small files; big
    files carry verbatim, live deletes keep governing them, and a
    second pass is a no-op once nothing small remains."""
    d = str(tmp_path / "t")
    big = spark.range(0, 500).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    snap.snapshot_append(spark, d, big.repartition(1), stats_cols=["k"])
    for lo in (500, 510, 520):
        snap.snapshot_append(
            spark,
            d,
            spark.range(lo, lo + 10).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            ).repartition(1),
            stats_cols=["k"],
        )
    snap.snapshot_delete(spark, d, spark.range(0, 3).select(F.col("id").alias("k")), "k")
    big_paths = {e["path"] for e in snap.snapshot_files(d) if e["n_rows"] >= 100}
    v = snap.snapshot_compact(spark, d, target_files=1, small_max_rows=100)
    meta = snap.read_snapshot_meta(d, v)
    assert meta["partial_compaction"] == {"files_rewritten": 3, "files_carried": 1}
    entries = snap.snapshot_files(d, v)
    assert {e["path"] for e in entries if e["n_rows"] >= 100} == big_paths
    assert len([e for e in entries if e["n_rows"] < 100]) == 1  # packed
    # the equality delete (keys 0-2 live in the CARRIED big file) survives
    assert meta.get("delete_files")
    got = sorted(r.k for r in snap.read_snapshot(spark, d).collect())
    assert got == list(range(3, 530))
    # nothing small left (the packed 30-row file is the only small one)
    assert snap.snapshot_compact(spark, d, target_files=1, small_max_rows=25) == v


def test_partition_values_special_chars_round_trip(spark, tmp_path):
    """Hive-encoded partition values with spaces, '=', ';', literal '%'
    and even percent-escape look-alikes must round-trip through the
    layout dirs into entry pv EXACTLY (pv is the overwrite identity
    token — a decode drift here silently splits or merges
    partitions), and dynamic overwrite must target such a partition
    precisely."""
    d = str(tmp_path / "t")
    vals = ["plain", "a b", "c=d", "x%25y", "semi;colon", "100%"]
    df = spark.createDataFrame(list(enumerate(vals)), "k long, p string")
    snap.snapshot_append(spark, d, df, stats_cols=["k"], partition_by=["p"])
    pvs = sorted(r["pv"]["p"] for r in snap.partition_values(d))
    assert pvs == sorted(vals)
    assert all(e["pv"]["p"] == e["min_p"] == e["max_p"] for e in snap.snapshot_files(d))
    restated = spark.createDataFrame([(99, "c=d")], "k long, p string")
    v = snap.snapshot_overwrite_partitions(spark, d, restated)
    got = {(r.k, r.p) for r in snap.read_snapshot(spark, d, v).collect()}
    want = {(i, p) for i, p in enumerate(vals) if p != "c=d"} | {(99, "c=d")}
    assert got == want


def test_concurrent_mixed_dml_serializes_or_refuses(spark, tmp_path):
    """Mixed workload under real thread concurrency: disjoint-partition
    appends, a dynamic overwrite, an UPDATE, and an ANALYZE race on one
    table. Every operation either LANDS with its semantics intact or
    raises ConcurrentCommitError — never silent row loss. Invariants
    checked on the final table: a contiguous version chain, every
    landed append's rows present exactly once, overwrite rows present
    iff the overwrite landed, updated values consistent with whether
    the UPDATE landed."""
    import concurrent.futures as cf

    d = str(tmp_path / "t")
    base = spark.range(0, 300).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("p"),
        (F.col("id") * 2).alias("v"),
    )
    snap.snapshot_append(spark, d, base, stats_cols=["k"], partition_by=["p"])
    outcomes: dict = {}

    def run(name, fn):
        try:
            outcomes[name] = ("ok", fn())
        except snap.ConcurrentCommitError as e:
            outcomes[name] = ("conflict", str(e))

    def append_disjoint(i):
        extra = spark.range(1000 + i * 10, 1010 + i * 10).select(
            F.col("id").alias("k"),
            F.lit(str(i % 3)).alias("p"),
            (F.col("id") * 2).alias("v"),
        )
        return snap.snapshot_append(
            spark, d, extra, stats_cols=["k"], partition_by=["p"]
        )

    def overwrite_p2():
        restated = spark.range(5000, 5005).select(
            F.col("id").alias("k"), F.lit("2").alias("p"), (F.col("id") * 2).alias("v")
        )
        return snap.snapshot_overwrite_partitions(spark, d, restated)

    def update_p0():
        return snap.snapshot_update(spark, d, "p = '0' AND k < 30", {"v": "v + 100000"})

    def analyze():
        return snap.snapshot_analyze(spark, d, ["k"])

    jobs = [
        ("append0", lambda: append_disjoint(0)),
        ("append1", lambda: append_disjoint(1)),
        ("overwrite", overwrite_p2),
        ("update", update_p0),
        ("analyze", analyze),
    ]
    with cf.ThreadPoolExecutor(len(jobs)) as ex:
        futs = [ex.submit(run, n, f) for n, f in jobs]
        for f in futs:
            f.result()

    # contiguous version chain
    cur = snap.current_version(d)
    for v in range(2, cur + 1):
        assert snap.read_snapshot_meta(d, v)["parent"] == v - 1
    rows = {r.k: (r.p, r.v) for r in snap.read_snapshot(spark, d).collect()}
    # base rows outside any landed overwrite/update untouched
    assert rows[1] == ("1", 2)
    # appends that reported ok are fully present
    for name, lo in (("append0", 1000), ("append1", 1010)):
        if outcomes[name][0] == "ok":
            for k in range(lo, lo + 10):
                assert k in rows, (name, k)
    if outcomes["overwrite"][0] == "ok":
        # p=2 holds exactly the restated rows + any landed append rows
        # for p=2 that the overwrite's rebase kept (appends into an
        # overwritten partition either conflicted or landed AFTER)
        assert all(5000 <= k < 5005 or k >= 1000 for k, (p, _) in rows.items() if p == "2")
        assert all(k in rows for k in range(5000, 5005))
    else:
        assert all(k % 3 != 2 or k in rows for k in range(300))
    if outcomes["update"][0] == "ok":
        assert all(
            rows[k][1] == k * 2 + 100000 for k in range(0, 30) if k % 3 == 0 and k in rows
        )
    # at least the disjoint appends and the analyze must have landed
    assert outcomes["append0"][0] == "ok" or outcomes["append1"][0] == "ok"
    assert outcomes["analyze"][0] == "ok"


def test_read_partitions_multi_column_prune(spark, tmp_path):
    d = str(tmp_path / "t")
    df = spark.range(0, 60).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("p"),
        (F.col("id") % 2).cast("string").alias("q"),
        (F.col("id") * 2).alias("v"),
    )
    snap.snapshot_append(spark, d, df, stats_cols=["k"], partition_by=["p", "q"])
    got = sorted(
        r.k for r in snap.read_partitions(spark, d, {"p": "1", "q": 0}).collect()
    )
    assert got == [k for k in range(60) if k % 3 == 1 and k % 2 == 0]
    # no matching partition -> empty frame with the table schema
    empty = snap.read_partitions(spark, d, {"p": "9"})
    assert empty.count() == 0 and empty.columns == ["k", "p", "q", "v"]
    # pv-less files KEEP (conservative prune, caller residual-filters)
    snap.snapshot_append(
        spark,
        d,
        spark.range(100, 103).select(
            F.col("id").alias("k"), F.lit("1").alias("p"),
            F.lit("0").alias("q"), (F.col("id") * 2).alias("v"),
        ),
        stats_cols=["k"],
        partition_by=None,
    )
    got2 = {r.k for r in snap.read_partitions(spark, d, {"p": "2"}).collect()}
    assert {100, 101, 102} <= got2  # kept conservatively
    assert all(k % 3 == 2 for k in got2 - {100, 101, 102})
    # equality deletes compose
    snap.snapshot_delete(spark, d, spark.range(1, 2).select(F.col("id").alias("k")), "k")
    got3 = sorted(r.k for r in snap.read_partitions(spark, d, {"p": "1", "q": "1"}).collect())
    # the pv-less commit's rows ride along here too (conservative keep)
    assert got3 == [
        k for k in range(60) if k % 3 == 1 and k % 2 == 1 and k != 1
    ] + [100, 101, 102]


def test_fenced_append_exactly_once(spark, tmp_path):
    """snapshot_append with writer_id+batch_id rides the per-writer
    epoch fence (r15 — the batch twin of the streaming sink's
    exactly-once): a replayed batch publishes nothing and returns 0;
    a new batch advances the fence atomically with its data; fences
    are per-writer, so a second pipeline's numbering is independent."""
    d = str(tmp_path / "t")
    v = snap.snapshot_append(
        spark, d, spark.range(5).select(F.col("id").alias("k")),
        stats_cols=["k"], writer_id="w1", batch_id=0,
    )
    assert v == 1
    # replay of batch 0: no-op, version unchanged
    assert snap.snapshot_append(
        spark, d, spark.range(5).select(F.col("id").alias("k")),
        stats_cols=["k"], writer_id="w1", batch_id=0,
    ) == 0
    assert snap.current_version(d) == 1
    assert snap.read_snapshot(spark, d).count() == 5
    # next batch commits and advances the fence
    assert snap.snapshot_append(
        spark, d, spark.range(5, 8).select(F.col("id").alias("k")),
        stats_cols=["k"], writer_id="w1", batch_id=1,
    ) == 2
    assert snap.read_snapshot_meta(d, 2)["last_batches"] == {"w1": 1}
    # a DIFFERENT writer starting at batch 0 is NOT fenced by w1
    assert snap.snapshot_append(
        spark, d, spark.range(8, 9).select(F.col("id").alias("k")),
        stats_cols=["k"], writer_id="w2", batch_id=0,
    ) == 3
    assert snap.read_snapshot_meta(d, 3)["last_batches"] == {"w1": 1, "w2": 0}
    # unfenced appends still work and carry the map forward
    assert snap.snapshot_append(
        spark, d, spark.range(9, 10).select(F.col("id").alias("k")),
        stats_cols=["k"],
    ) == 4
    assert snap.read_snapshot_meta(d, 4)["last_batches"] == {"w1": 1, "w2": 0}
    import pytest

    with pytest.raises(ValueError, match="together"):
        snap.snapshot_append(spark, d, spark.range(1), writer_id="w1")


def test_read_partitions_accepts_value_sets(spark, tmp_path):
    """read_partitions with a set/list value keeps files whose pv is IN
    the collection — the multi-cell prune incremental jobs use. The
    prune is exact on a fully partitioned table (file count checked
    via the plan's input files)."""
    d = str(tmp_path / "t")
    snap.snapshot_append(
        spark, d,
        spark.range(40).select(
            F.col("id").alias("k"), (F.col("id") % 4).alias("p")
        ),
        stats_cols=["k"], partition_by=["p"],
    )
    got = snap.read_partitions(spark, d, {"p": [0, 2]})
    ks = sorted(r.k for r in got.collect())
    assert ks == [k for k in range(40) if k % 4 in (0, 2)]
    # exactly the two partitions' files were admitted (no p=1/p=3 file)
    assert got.inputFiles() and all(
        "__pv_p=0" in f or "__pv_p=2" in f for f in got.inputFiles()
    )
    # scalar values keep working
    assert snap.read_partitions(spark, d, {"p": 1}).count() == 10


def test_empty_append_advances_version_and_fence(spark, tmp_path):
    """An append of ZERO rows (a nightly batch with nothing new) must
    still publish — files-less commit, version and writer fence
    advance — so a crash-replay of the empty batch is idempotent (the
    Delta txn semantics). It used to throw UNABLE_TO_INFER_SCHEMA from
    scanning the empty commit dir."""
    d = str(tmp_path / "t")
    snap.snapshot_append(
        spark, d, spark.range(5).select(F.col("id").alias("k")),
        stats_cols=["k"], writer_id="w", batch_id=0,
    )
    empty = spark.range(0).select(F.col("id").alias("k"))
    assert snap.snapshot_append(
        spark, d, empty, stats_cols=["k"], writer_id="w", batch_id=1
    ) == 2
    assert snap.read_snapshot_meta(d, 2)["last_batches"] == {"w": 1}
    assert snap.read_snapshot(spark, d).count() == 5
    # replay of the empty batch: fenced no-op
    assert snap.snapshot_append(
        spark, d, empty, stats_cols=["k"], writer_id="w", batch_id=1
    ) == 0
    assert snap.current_version(d) == 2


def test_fenced_append_race_same_batch_exactly_once(spark, tmp_path):
    """Two replicas racing the SAME (writer, batch): the loser's
    rebase re-check sees the winner's fence, drops its own staged
    commit dir, and publishes nothing — exactly one copy of the batch
    lands (the sink's fence-under-rebase discipline on the batch
    path). Injected race: the winner commits between the loser's
    pre-check and its publish."""
    import glob
    import os

    d = str(tmp_path / "t")
    snap.snapshot_append(
        spark, d, spark.range(5).select(F.col("id").alias("k")),
        stats_cols=["k"], writer_id="w", batch_id=0,
    )
    orig_publish = snap._publish
    fired = {"done": False}
    # single-partition batches: a multi-partition range writes empty
    # part files that entries rightly omit, which would read as
    # orphans to this test's exact disk==referenced check
    batch = lambda: spark.range(5, 8).coalesce(1).select(F.col("id").alias("k"))

    def racing_publish(table_dir, version, s):
        if not fired["done"]:
            fired["done"] = True
            # the winner replica lands batch 1 first
            snap.snapshot_append(
                spark, d, batch(), stats_cols=["k"], writer_id="w", batch_id=1,
            )
        return orig_publish(table_dir, version, s)

    snap._publish = racing_publish
    try:
        got = snap.snapshot_append(
            spark, d, batch(), stats_cols=["k"], writer_id="w", batch_id=1,
        )
    finally:
        snap._publish = orig_publish
    assert got in (0, 3)  # loser fenced (0) or lost-the-slot-then-fenced
    assert snap.current_version(d) == 2
    assert snap.read_snapshot(spark, d).count() == 8  # exactly once
    assert snap.read_snapshot_meta(d, 2)["last_batches"] == {"w": 1}
    # the loser's staged files are gone: all data on disk is referenced
    referenced = {e["path"] for e in snap.snapshot_files(d)}
    on_disk = set(glob.glob(os.path.join(d, "data", "**", "*.parquet"), recursive=True))
    assert on_disk == referenced


# --- r16: footer-derived commit stats (the zero-Spark-job fast path) ---


def _entries_key(entries):
    return sorted(
        tuple(sorted((k, v) for k, v in e.items() if k != "path"))
        for e in entries
    )


def test_footer_stats_match_scan_path(spark, tmp_path):
    """_footer_commit_stats must be entry-identical (minus paths) to the
    distributed scan for the supported type families: ints, doubles,
    strings, dates, partial- and all-NULL columns."""
    import datetime

    d = str(tmp_path / "c")
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5).alias("v"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
        F.date_add(F.lit(datetime.date(2024, 1, 1)), F.col("id").cast("int") % 30).alias("day"),
        F.when(F.col("id") % 2 == 0, F.col("id")).alias("half_null"),
        F.lit(None).cast("long").alias("all_null"),
        (F.col("id") % 2 == 0).alias("flag"),
    )
    df.repartition(4).write.parquet(d)
    cols = ["k", "v", "s", "day", "half_null", "all_null", "flag"]
    fast = snap._footer_commit_stats(d, cols)
    assert fast is not None and len(fast) > 0
    # the distributed-scan branch, invoked directly (not through
    # _scan_commit_stats, whose fast path would short-circuit)
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators.layout import (
        decode_file_uri,
        file_minmax_manifest,
    )

    slow = []
    for r in file_minmax_manifest(spark, d, cols).collect():
        e = {"path": decode_file_uri(r["file"]), "n_rows": r["n_rows"]}
        for c in cols:
            e[f"min_{c}"] = snap.json_stat(r[f"min_{c}"])
            e[f"max_{c}"] = snap.json_stat(r[f"max_{c}"])
        slow.append(e)
    assert _entries_key(fast) == _entries_key(slow)
    # and per-file paths agree
    assert sorted(e["path"] for e in fast) == sorted(e["path"] for e in slow)


def test_footer_stats_bail_cases(spark, tmp_path):
    """NaN doubles, >=64-char strings, and timestamp columns must return
    None (fall back to the scan) — the not-provably-identical envelope."""
    d1 = str(tmp_path / "nan")
    spark.range(0, 10).select(
        (F.when(F.col("id") == 3, F.lit(float("nan"))).otherwise(F.col("id") * 1.0)).alias("v")
    ).coalesce(1).write.parquet(d1)
    assert snap._footer_commit_stats(d1, ["v"]) is None

    d2 = str(tmp_path / "longstr")
    spark.range(0, 10).select(
        F.concat(F.lit("x" * 80), F.col("id").cast("string")).alias("s")
    ).coalesce(1).write.parquet(d2)
    assert snap._footer_commit_stats(d2, ["s"]) is None

    d3 = str(tmp_path / "ts")
    spark.range(0, 10).select(
        F.timestamp_seconds(F.col("id") * 3600).alias("ts")
    ).coalesce(1).write.parquet(d3)
    assert snap._footer_commit_stats(d3, ["ts"]) is None

    # a column absent from the files bails too (never a KeyError)
    assert snap._footer_commit_stats(d1, ["nope"]) is None


def test_append_uses_footer_stats_without_a_job(spark, tmp_path):
    """snapshot_append on an int-keyed frame must produce entries whose
    bounds equal the data's true min/max (the footer path is exact),
    and pruned reads keep working unchanged."""
    d = str(tmp_path / "t")
    snap.snapshot_append(
        spark, d,
        spark.range(5, 105).select(F.col("id").alias("k"), (F.col("id") * 3).alias("v")),
        stats_cols=["k"],
    )
    files = snap.snapshot_files(d)
    assert min(e["min_k"] for e in files) == 5
    assert max(e["max_k"] for e in files) == 104
    got = snap.read_snapshot(spark, d, prune_col="k", lo=5, hi=9)
    assert sorted(r.k for r in got.where("k <= 9").collect()) == [5, 6, 7, 8, 9]


def test_footer_stats_skip_hidden_paths(spark, tmp_path):
    """Footer-derived entries and counts must mirror Spark's hidden-path
    filtering (ADVICE r16): task-attempt residue under _temporary/ (or
    dot-files) is invisible to the scan path and must never contribute
    rows or bounds — while __pv_col=value partition dirs (underscore
    but '='-bearing) stay visible, exactly like Spark's file index."""
    import shutil

    d = str(tmp_path / "c")
    spark.range(0, 100).select(F.col("id").alias("k")).coalesce(1).write.parquet(d)
    # plant residue: a stale task attempt under _temporary and a dotfile
    real = snap._visible_parquet_paths(d)
    assert len(real) == 1
    tdir = os.path.join(d, "_temporary", "0", "task_x")
    os.makedirs(tdir)
    shutil.copy(real[0], os.path.join(tdir, "part-residue.parquet"))
    shutil.copy(real[0], os.path.join(d, ".hidden.parquet"))
    assert snap._visible_parquet_paths(d) == real
    fast = snap._footer_commit_stats(d, ["k"])
    assert fast is not None and len(fast) == 1 and fast[0]["n_rows"] == 100
    # partition-style dirs stay visible (the __pv_ convention)
    pdir = os.path.join(d, "__pv_p=1")
    os.makedirs(pdir)
    shutil.copy(real[0], os.path.join(pdir, "part-p.parquet"))
    assert len(snap._visible_parquet_paths(d)) == 2


def test_footer_stats_utf8_byte_bound(spark, tmp_path):
    """Stat truncation operates on BYTES: a 3-byte-per-char string of 30
    chars (90 bytes) must bail the footer fast path even though its
    Python length is far below 64 (ADVICE r16)."""
    d = str(tmp_path / "utf8")
    spark.range(0, 10).select(
        F.concat(F.lit("€" * 30), F.col("id").cast("string")).alias("s")
    ).coalesce(1).write.parquet(d)
    assert snap._footer_commit_stats(d, ["s"]) is None
    # short multi-byte strings stay inside the envelope
    d2 = str(tmp_path / "utf8short")
    spark.range(0, 10).select(
        F.concat(F.lit("€€"), F.col("id").cast("string")).alias("s")
    ).coalesce(1).write.parquet(d2)
    fast = snap._footer_commit_stats(d2, ["s"])
    assert fast is not None and len(fast) == 1
