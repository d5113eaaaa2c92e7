"""Partition-range checkpoint/lineage (plans/lineage.py) — the north-rule
resumability contract: crash mid-job, resume processes only missing
ranges, the final graph equals the single-shot batch pipeline, and
re-running a completed job is a no-op."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphiti_spark.plans.lineage import completed_ranges, run_partitioned
from graphiti_spark.plans.pipeline import GraphTables, triples_view

N_RANGES = 4


def test_crash_resume_equals_batch(spark, sf_dir, graph, tmp_path):
    root = str(tmp_path / "job")

    # crash after 2 of 4 ranges
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_partitioned(spark, sf_dir, root, n_ranges=N_RANGES, fail_after=2)
    assert len(completed_ranges(spark, root, "extract")) == 2

    # resume: only the 2 missing ranges run
    resumed = run_partitioned(spark, sf_dir, root, n_ranges=N_RANGES)
    assert len(resumed) == 2
    assert completed_ranges(spark, root, "extract") == set(range(N_RANGES))

    # re-run: nothing left to do
    again = run_partitioned(spark, sf_dir, root, n_ranges=N_RANGES)
    assert again == []

    # compacted graph == one-shot batch pipeline: the same stages over the
    # committed ranges, nodes (summaries, attributes) included
    t = GraphTables(None)
    t.extracted = spark.read.parquet(f"{root}/staged/extracted")
    key = ["group_id", "source_node_uuid", "name", "target_node_uuid"]
    a, b = t.edges.select(*key), graph.edges.select(*key)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0
    nodes = [
        g.nodes.withColumn("attributes", F.array_sort(F.map_entries("attributes")))
        for g in (t, graph)
    ]
    assert nodes[0].count() == nodes[1].count()
    assert nodes[0].exceptAll(nodes[1]).count() == 0
    assert triples_view(t).exceptAll(triples_view(graph)).count() == 0


def test_metrics_rows_recorded(spark, sf_dir, tmp_path):
    root = str(tmp_path / "job2")
    results = run_partitioned(spark, sf_dir, root, n_ranges=2)
    m = spark.read.parquet(f"{root}/metrics").toPandas()
    assert sorted(m["range_id"]) == [0, 1]
    assert (m["stage"] == "extract").all()
    assert (m["row_count"] > 0).all()
    assert (m["wall_ms"] > 0).all()
    by_range = m.set_index("range_id")
    for r in results:
        assert by_range.loc[r.range_id, "checksum"] == r.checksum
        assert by_range.loc[r.range_id, "row_count"] == r.row_count
