"""ckpt_dir TTL pruning must never reap a LIVE checkpoint tree
(round-13 ADVICE): liveness is judged by the newest mtime across the
dir and its immediate children, because Spark keeps touching
offsets/commits/state subdirs every micro-batch while the top-level
dir's own mtime goes stale."""

from __future__ import annotations

import os
import time


def test_ckpt_ttl_spares_live_tree_and_prunes_dead(tmp_path, monkeypatch):
    from data_ingestion_tool_spark import session as S

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    root = tmp_path / "spark-graft-ckpt"
    root.mkdir()
    old = time.time() - S._CKPT_TTL_SEC - 600

    # dead sibling from another pid: everything stale -> pruned
    dead = root / "q-pid99999-dead"
    (dead / "offsets").mkdir(parents=True)
    os.utime(dead / "offsets", (old, old))
    os.utime(dead, (old, old))

    # live sibling from another pid: top dir stale, but a child keeps
    # advancing (a streaming query appending offsets) -> spared
    live = root / "q-pid99998-live"
    (live / "offsets").mkdir(parents=True)
    os.utime(live, (old, old))  # top-level mtime stale

    S.ckpt_dir("probe")

    assert not dead.exists(), "stale checkpoint tree should be pruned"
    assert live.exists(), "live checkpoint tree must survive TTL pruning"


def test_analyze_stats_survives_orphaned_warehouse_location(spark, sf_dir):
    """A reused warehouse that outlived its process still holds the
    managed table's directory, which the new in-memory catalog does not
    know: DROP TABLE IF EXISTS leaves it, and saveAsTable used to raise
    LOCATION_ALREADY_EXISTS on it."""
    from data_ingestion_tool_spark.queries import QUERIES

    spark.sql("DROP TABLE IF EXISTS orders_stats_tbl")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    orphan = os.path.join(wh, "orders_stats_tbl")
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "part-00000-stale.parquet"), "wb") as f:
        f.write(b"left by a crashed process")

    (row,) = QUERIES["catalog_analyze_table_stats"](spark, sf_dir).collect()
    assert row.stats_match == 1
    assert row.stats_row_count == row.exact_row_count > 0
