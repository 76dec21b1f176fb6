"""Cluster mode of the materialization policy (news_lakehouse_spark/
materialize.py): with a checkpoint dir set, every in-place overwrite
stages through a reliable checkpoint and every change-feed consumer
through a recomputable persist, and every loop round through a
reliable checkpoint. Results must equal local mode, the staging
checkpoints must be deleted once the write is done, the persisted
feeds must be released, and a loop must keep a bounded number of
rounds on the checkpoint filesystem."""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import Row

import pytest

from news_lakehouse_spark.operators.compact import compact_parquet_table
from news_lakehouse_spark.operators.dedupe import connected_components
from news_lakehouse_spark.operators.matview import IncrementalAggView
from news_lakehouse_spark.operators.merge import delete_rows, upsert_parquet_table
from news_lakehouse_spark.sources.transaction import VersionedParquetTable


def _rdd_dirs(root) -> list[str]:
    out = []
    for _, dirnames, _ in os.walk(root):
        out += [d for d in dirnames if d.startswith("rdd-")]
    return out


@contextmanager
def _cluster_mode(spark, ckpt_dir, monkeypatch):
    """Checkpoint dir set for the block; yields a list that records
    every reliable checkpoint taken, so a test can tell the cluster
    branch actually ran."""
    taken: list[int] = []
    frame_cls = type(spark.range(1))
    real = frame_cls.checkpoint

    def spy(self, eager=True):
        taken.append(1)
        return real(self, eager)

    monkeypatch.setattr(frame_cls, "checkpoint", spy)
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    sc.setCheckpointDir(str(ckpt_dir))
    try:
        yield taken
    finally:
        sc.setCheckpointDir(None)
        monkeypatch.undo()


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _table_rows(spark, path) -> set:
    df = spark.read.parquet(path)
    return {tuple(r) for r in df.select(*sorted(df.columns)).collect()}


def _in_place_overwrites(spark, root) -> dict:
    """Every in-place overwrite path once; returns the final rows."""
    base = spark.createDataFrame(
        [(1, "2024-01-01", "a"), (2, "2024-01-02", "b"),
         (3, "2024-01-03", "c"), (4, "2024-01-03", "d")],
        ["k", "dt", "v"],
    )
    # key 1 moves 01-01 -> 01-05 (01-01 empties); key 2 updates in place
    delta = spark.createDataFrame(
        [(1, "2024-01-05", "A"), (2, "2024-01-02", "B"), (5, "2024-01-02", "e")],
        ["k", "dt", "v"],
    )
    dk = spark.createDataFrame([(3,), (99,)], ["k"])
    out = {}
    part = f"{root}/part"
    upsert_parquet_table(spark, base, part, ["k"], partition_by=["dt"])
    upsert_parquet_table(spark, delta, part, ["k"], partition_by=["dt"])
    out["upsert_partitioned"] = _table_rows(spark, part)
    out["dt=2024-01-01 kept"] = os.path.exists(f"{part}/dt=2024-01-01")
    out["removed_partitioned"] = delete_rows(
        spark, part, ["k"], dk, partition_by=["dt"]
    )
    out["delete_partitioned"] = _table_rows(spark, part)
    compact_parquet_table(spark, part, partition_by=["dt"])
    out["compact_partitioned"] = _table_rows(spark, part)

    flat = f"{root}/flat"
    upsert_parquet_table(spark, base, flat, ["k"])
    upsert_parquet_table(spark, delta, flat, ["k"])
    out["upsert_flat"] = _table_rows(spark, flat)
    out["removed_flat"] = delete_rows(spark, flat, ["k"], dk)
    out["delete_flat"] = _table_rows(spark, flat)
    compact_parquet_table(spark, flat)
    out["compact_flat"] = _table_rows(spark, flat)
    return out


def test_in_place_overwrites_cluster_mode_match_local(spark, tmp_path, monkeypatch):
    local = _in_place_overwrites(spark, tmp_path / "local")
    with _cluster_mode(spark, tmp_path / "ckpt", monkeypatch) as taken:
        cluster = _in_place_overwrites(spark, tmp_path / "cluster")
    assert cluster == local
    assert local["dt=2024-01-01 kept"] is False
    assert local["removed_partitioned"] == local["removed_flat"] == 1
    # every overwrite staged through the reliable checkpoint FS, and
    # every staging checkpoint was deleted after its write
    assert len(taken) >= 6
    assert _rdd_dirs(tmp_path / "ckpt") == []
    # dynamic partition overwrite is set per write, never on the session
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower()
        == "static"
    )


def _df(spark, rows):
    return spark.createDataFrame(
        [Row(k=k, g=g, v=v) for k, g, v in rows], "k int, g string, v int"
    )


def _feed_consumers(spark, root) -> tuple[set, set, int, int]:
    """One apply_changes and one matview refresh; returns the replica
    and view rows plus the persisted-RDD count before/after them."""
    src = VersionedParquetTable(spark, f"{root}/src")
    rep = VersionedParquetTable(spark, f"{root}/rep")
    view = IncrementalAggView(spark, f"{root}/view", group_by=["g"], sum_cols=["v"])
    src.merge(_df(spark, [(k, f"g{k % 2}", k * 10) for k in range(1, 7)]), ["k"])
    rep.write(src.read(version=1))
    view.refresh(src)
    src.merge(_df(spark, [(2, "g1", 222), (7, "g1", 70)]), ["k"])
    src.delete_keys(spark.createDataFrame([Row(k=5)]))

    before = _persistent_rdds(spark)
    rep.apply_changes(src.changes(1), ["k"])
    view.refresh(src)
    after = _persistent_rdds(spark)
    rep_rows = {tuple(r) for r in rep.read().select("k", "g", "v").collect()}
    view_rows = {tuple(r) for r in view.read().select("g", "cnt", "sum_v").collect()}
    assert rep_rows == {tuple(r) for r in src.read().select("k", "g", "v").collect()}
    return rep_rows, view_rows, before, after


def test_feed_consumers_cluster_mode_match_local_and_release(
    spark, tmp_path, monkeypatch
):
    local = _feed_consumers(spark, tmp_path / "local")
    with _cluster_mode(spark, tmp_path / "ckpt", monkeypatch):
        cluster = _feed_consumers(spark, tmp_path / "cluster")
    assert cluster[:2] == local[:2]
    # the persisted feeds and deltas were all unpersisted again
    before, after = cluster[2:]
    assert after == before
    assert _rdd_dirs(tmp_path / "ckpt") == []


def test_connected_components_cluster_mode_match_local(spark, tmp_path, monkeypatch):
    """The propagate loop reads its convergence count from each round's
    reliable checkpoint, so cluster mode converges in the same rounds
    with the same rows, and raises the same way on a short budget."""
    # a 10-node path (9 rounds), a triangle, and a self-pair
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)] + [(20, 21), (21, 22), (22, 20), (30, 30)],
        ["id_a", "id_b"],
    )
    local = sorted(tuple(r) for r in connected_components(pairs).collect())
    with _cluster_mode(spark, tmp_path / "ckpt", monkeypatch) as taken:
        cluster = sorted(tuple(r) for r in connected_components(pairs).collect())
        # one reliable checkpoint per round; only the returned round and
        # its parent are still on the checkpoint filesystem
        assert len(taken) == 9
        assert len(_rdd_dirs(tmp_path / "ckpt")) <= 2
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(pairs, max_iters=2)
    assert cluster == local
    assert dict(local)[9] == 0 and dict(local)[22] == 20 and dict(local)[30] == 30
