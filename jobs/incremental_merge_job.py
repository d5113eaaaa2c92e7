"""spark-submit entrypoint for the INCREMENTAL merge job: fold a new
batch of pages into a standing graph (plans/incremental.py) — the
deployable form of graphiti's add_episode loop at crawl scale.

Cluster launch (same --py-files shape as build_graph_job.py):

    spark-submit --master <cluster-master> --py-files graphiti_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        jobs/incremental_merge_job.py \
        --input /data/pages_sf --state /data/graph_state \
        --batch-filter "doc_id % 2 = 1"

State layout under --state (parquet; Iceberg tables on a real cluster):
    ents/ canon/ bands/ bucket_n/ raw/ edges/
First run (no state yet) merges into the empty graph; later runs load
the state tables, merge the batch, and overwrite the state dirs — only
delta work runs (contracted-CC resolution over the batch's new names,
touched-pair edge recompaction). Deterministic uuids make redelivered
batches idempotent.

Sandbox smoke run:

    python jobs/incremental_merge_job.py \
        --input /root/testdata/sf0.001 --state /dev/shm/inc-state \
        --batch-filter "doc_id % 2 = 0"
    python jobs/incremental_merge_job.py \
        --input /root/testdata/sf0.001 --state /dev/shm/inc-state \
        --batch-filter "doc_id % 2 = 1"
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

STATE_TABLES = ("ents", "canon", "raw", "edges", "bands", "bucket_n")


def load_state(spark, root: str):
    from graphiti_spark.plans.incremental import GraphState

    if not os.path.exists(f"{root}/edges"):
        return None
    return GraphState(
        **{t: spark.read.parquet(f"{root}/{t}") for t in STATE_TABLES}
    )


def save_state(state, root: str) -> None:
    # write to fresh dirs then swap: the previous state stays readable
    # (and the lineage of the new state's plans was already cut by the
    # merge's checkpoints, so reading old + writing new never races)
    for t in STATE_TABLES:
        getattr(state, t).write.mode("overwrite").parquet(f"{root}/{t}.next")
    for t in STATE_TABLES:
        final = f"{root}/{t}"
        if os.path.exists(final):
            os.rename(final, f"{root}/{t}.old")
        os.rename(f"{root}/{t}.next", final)
        if os.path.exists(f"{root}/{t}.old"):
            import shutil

            shutil.rmtree(f"{root}/{t}.old")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="sf_dir with documents.parquet")
    ap.add_argument("--state", required=True, help="standing graph state dir")
    ap.add_argument("--batch-filter", default=None,
                    help="SQL predicate over pages selecting this batch")
    ap.add_argument("--master", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()

    from graphiti_spark.plans import incremental
    from graphiti_spark.session import get_spark
    from graphiti_spark.sources.pages import build_pages

    spark = get_spark(
        app_name="graphiti-spark-incremental-merge",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    spark.sparkContext.setLogLevel("WARN")

    t0 = time.perf_counter()
    pages = build_pages(spark, args.input)
    if args.batch_filter:
        pages = pages.where(args.batch_filter)

    state = load_state(spark, args.state)
    bootstrap = state is None
    state = incremental.merge_batch(
        state or incremental.GraphState.empty(spark), pages
    )
    save_state(state, args.state)

    print(
        json.dumps(
            {
                "bootstrap": bootstrap,
                "n_edges": spark.read.parquet(f"{args.state}/edges").count(),
                "n_entities": spark.read.parquet(f"{args.state}/ents").count(),
                "wall_sec": round(time.perf_counter() - t0, 2),
                "state": args.state,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
