"""snapshot_clone (Delta CREATE TABLE CLONE): shallow = metadata-only
sharing with documented source-maintenance hazard; deep = materialized
self-contained copy."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from stock_price_prediction_using_stream_and_batch_processing_spark.operators import snapshots as snap


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )


def _data_files(table_dir):
    out = []
    d = os.path.join(table_dir, "data")
    for root, _, fs in os.walk(d):
        out += [os.path.join(root, f) for f in fs if f.endswith(".parquet")]
    return out


def test_shallow_clone_zero_copy_reads_and_diverges(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    snap.snapshot_append(spark, src, _df(spark, 0, 10), stats_cols=["k"])
    snap.snapshot_append(spark, src, _df(spark, 10, 15), stats_cols=["k"])
    assert snap.snapshot_clone(spark, src, dst) == 1
    # zero data copied: the clone dir holds no parquet of its own
    assert _data_files(dst) == []
    assert sorted(r.k for r in snap.read_snapshot(spark, dst).collect()) == list(range(15))
    assert snap.snapshot_history(dst)[0]["operation"] == "clone"
    # divergence: append to the clone only
    snap.snapshot_append(spark, dst, _df(spark, 100, 102), stats_cols=["k"])
    assert snap.read_snapshot(spark, dst).count() == 17
    assert snap.read_snapshot(spark, src).count() == 15
    # the new files landed under the CLONE's dir
    assert len(_data_files(dst)) > 0


def test_shallow_clone_pins_a_version(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    snap.snapshot_append(spark, src, _df(spark, 0, 10), stats_cols=["k"])
    snap.snapshot_append(spark, src, _df(spark, 10, 15), stats_cols=["k"])
    snap.snapshot_clone(spark, src, dst, version=1)
    assert snap.read_snapshot(spark, dst).count() == 10
    # later source commits are invisible to the clone
    snap.snapshot_append(spark, src, _df(spark, 20, 25), stats_cols=["k"])
    assert snap.read_snapshot(spark, dst).count() == 10


def test_shallow_clone_carries_mor_deletes_and_constraints(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    snap.snapshot_append(spark, src, _df(spark, 0, 10), stats_cols=["k"])
    snap.snapshot_set_constraint(spark, src, "k_nonneg", "k >= 0")
    snap.snapshot_delete(spark, src, spark.createDataFrame([(3,)], "k long"), "k")
    snap.snapshot_clone(spark, src, dst)
    got = sorted(r.k for r in snap.read_snapshot(spark, dst).collect())
    assert got == [0, 1, 2, 4, 5, 6, 7, 8, 9]  # shared delete file applies
    assert snap.table_constraints(dst) == {"k_nonneg": "k >= 0"}
    with pytest.raises(snap.ConstraintViolationError):
        snap.snapshot_append(spark, dst, spark.createDataFrame([(-1, 0.0)], "k long, v double"), stats_cols=["k"])


def test_clone_and_branch_of_analyzed_table_answer_ndv(spark, tmp_path):
    """A shallow clone and a branch copy the entries' NDV partials, so
    they must copy the ANALYZE modulus with them: without ``ndv_m`` the
    copy reads "never analyzed", and re-analyzing it scans nothing
    (every entry already has partials) — unanswerable for good."""
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import refs

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    snap.snapshot_append(spark, src, _df(spark, 0, 50), stats_cols=["k"])
    snap.snapshot_analyze(spark, src, ["k"])
    want = snap.table_ndv(src, "k")
    snap.snapshot_clone(spark, src, dst)
    assert snap.table_ndv(dst, "k") == want
    refs.branch_create(src, "b")
    assert snap.table_ndv(refs.branch_dir(src, "b"), "k") == want
    # and the branch line keeps it through its own commits
    refs.branch_append(spark, src, "b", _df(spark, 50, 60), stats_cols=["k"])
    assert snap.read_snapshot_meta(refs.branch_dir(src, "b"), 2)["ndv_m"] == 4096


def test_compacting_the_clone_severs_sharing(spark, tmp_path):
    """Deep-copy-on-write: after OPTIMIZE on the clone, source
    maintenance can no longer break it."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    snap.snapshot_append(spark, src, _df(spark, 0, 10), stats_cols=["k"])
    snap.snapshot_clone(spark, src, dst)
    snap.snapshot_compact(spark, dst, target_files=1)
    snap.expire_snapshots(dst, keep_last=1)  # drop the sharing v1 too
    # source rewrite + expiry deletes every original file
    snap.snapshot_compact(spark, src, target_files=1)
    snap.expire_snapshots(src, keep_last=1)
    assert sorted(r.k for r in snap.read_snapshot(spark, dst).collect()) == list(range(10))


def test_deep_clone_is_self_contained(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    snap.snapshot_append(spark, src, _df(spark, 0, 10), stats_cols=["k"])
    snap.snapshot_set_constraint(spark, src, "k_nonneg", "k >= 0")
    snap.snapshot_delete(spark, src, spark.createDataFrame([(3,)], "k long"), "k")
    snap.snapshot_clone(spark, src, dst, deep=True)
    # materialized: the MOR delete collapsed into the clone's own files
    assert not snap.read_snapshot_meta(dst, 1).get("delete_files")
    assert len(_data_files(dst)) > 0
    assert snap.table_constraints(dst) == {"k_nonneg": "k >= 0"}
    # destroy the source entirely: deep clone unaffected
    snap.snapshot_compact(spark, src, target_files=1)
    snap.expire_snapshots(src, keep_last=1)
    got = sorted(r.k for r in snap.read_snapshot(spark, dst).collect())
    assert got == [0, 1, 2, 4, 5, 6, 7, 8, 9]


def test_clone_refusals(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    with pytest.raises(ValueError, match="no table"):
        snap.snapshot_clone(spark, src, dst)
    snap.snapshot_append(spark, src, _df(spark, 0, 5), stats_cols=["k"])
    snap.snapshot_clone(spark, src, dst)
    with pytest.raises(ValueError, match="already has a table"):
        snap.snapshot_clone(spark, src, dst)


def test_partitioned_shallow_clone_prunes(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    dfp = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("p"),
        (F.col("id") * 2.0).alias("v"),
    )
    snap.snapshot_append(spark, src, dfp, stats_cols=["k"], partition_by=["p"])
    snap.snapshot_clone(spark, src, dst)
    assert snap.read_partitions(spark, dst, {"p": "1"}).count() == 7


def test_vacuum_never_crosses_table_boundaries(spark, tmp_path):
    """vacuum_orphans on the CLONE walks only the clone's own storage
    (source files referenced by the sharing version are not under it),
    and vacuum on the SOURCE ignores the clone's divergent commits —
    neither direction can collect the other table's data."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    snap.snapshot_append(spark, src, _df(spark, 0, 10), stats_cols=["k"])
    snap.snapshot_clone(spark, src, dst)
    snap.snapshot_append(spark, dst, _df(spark, 100, 103), stats_cols=["k"])
    src_files = set(_data_files(src))
    dst_files = set(_data_files(dst))
    snap.vacuum_orphans(dst, min_age_s=0.0)
    snap.vacuum_orphans(src, min_age_s=0.0)
    assert set(_data_files(src)) == src_files
    assert set(_data_files(dst)) == dst_files
    assert snap.read_snapshot(spark, dst).count() == 13
    assert snap.read_snapshot(spark, src).count() == 10


def test_clone_of_expired_version_refuses_loudly(spark, tmp_path):
    """r15 sweep: retention racing a clone of an OLD pinned version —
    the expired snapshot JSON is gone, so the clone fails LOUDLY at
    metadata read (no partial clone dir is left behind) rather than
    silently cloning a different version. Cloning the CURRENT version
    can never hit this: expire_snapshots always keeps >= 1."""
    import os

    import pytest

    d = str(tmp_path / "src")
    for i in range(3):
        snap.snapshot_append(
            spark, d,
            spark.range(i * 5, i * 5 + 5).select(F.col("id").alias("k")),
            stats_cols=["k"],
        )
    snap.expire_snapshots(d, keep_last=1)
    c = str(tmp_path / "clone")
    with pytest.raises(FileNotFoundError):
        snap.snapshot_clone(spark, d, c, version=1)
    assert not os.path.exists(os.path.join(c, "snapshots"))
    # the current version still clones fine after retention
    assert snap.snapshot_clone(spark, d, c, version=3) == 1
    assert snap.read_snapshot(spark, c).count() == 15
