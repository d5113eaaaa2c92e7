"""spark-submit entrypoint for the full KG-construction job.

Cluster launch (the north-rule deployment shape):

    zip -r graphiti_spark.zip graphiti_spark
    spark-submit \
        --master <cluster-master> \
        --py-files graphiti_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.adaptive.skewJoin.enabled=true \
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \
        jobs/build_graph_job.py \
        --input /data/pages_sf --output /data/graph --n-ranges 256

Sandbox smoke run (local mode is the default master):

    python jobs/build_graph_job.py \
        --input /root/testdata/sf0.001 --output /dev/shm/graph-out

The job is resumable: re-running with the same --output anti-joins the
per-range lineage/metrics table and processes only uncommitted ranges
(graphiti_spark/plans/lineage.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="sf_dir with documents.parquet")
    ap.add_argument("--output", required=True, help="job root dir (staged/metrics/graph)")
    ap.add_argument("--n-ranges", type=int, default=8)
    ap.add_argument("--replicate", type=int, default=1)
    ap.add_argument("--master", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()

    from graphiti_spark.plans.lineage import run_partitioned
    from graphiti_spark.plans.pipeline import GraphTables
    from graphiti_spark.session import get_spark

    spark = get_spark(
        app_name="graphiti-spark-build-graph",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    spark.sparkContext.setLogLevel("WARN")

    t0 = time.perf_counter()
    results = run_partitioned(
        spark, args.input, args.output, n_ranges=args.n_ranges,
        replicate=args.replicate,
    )
    # compaction: the batch pipeline's stages over the committed ranges
    t = GraphTables(None)
    t.extracted = spark.read.parquet(f"{args.output}/staged/extracted")
    for name, df in (
        ("nodes", t.nodes), ("edges", t.edges), ("mentions", t.mention_edges)
    ):
        df.write.mode("overwrite").parquet(f"{args.output}/graph/{name}")

    n_edges = spark.read.parquet(f"{args.output}/graph/edges").count()
    print(
        json.dumps(
            {
                "ranges_processed": len(results),
                "n_edges": n_edges,
                "wall_sec": round(time.perf_counter() - t0, 2),
                "output": args.output,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
