"""Partition-range checkpoint/lineage: the north-rule resumability layer.

The 10^12-document job runs as independent partition ranges of the input
(crawl segments / doc_id ranges). After each range's extraction stage
commits, a lineage row (range_id, stage, row_count, checksum, wall_ms,
committed_at) is appended to a metrics table. A restarted job anti-joins
completed ranges from the metrics table and processes only what's missing
— nothing is recomputed and re-runs are idempotent because every uuid in
the engine is a deterministic function of natural keys (md5 of
url/chunk/name — see operators/episodes.py, resolve.py), so a range
committed twice (crash between data commit and metrics commit) dedupes
away in the downstream canonicalization group-bys.

The reference's equivalent machinery is the LLM response diskcache +
client retries (/root/reference/graphiti_core/llm_client/client.py:85-95,
136-151) — per-call, not per-partition; this layer is the batch-scale
redesign the north rule asks for.

Layout under `root_dir`:
    staged/extracted/range=<k>/   combined extraction output per range
    metrics/                      lineage rows (parquet append)
Compaction (resolution/dedup/invalidation) is the batch pipeline's: a
`plans.pipeline.GraphTables` whose `extracted` stage is the committed
staged/extracted table (see jobs/build_graph_job.py).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.episodes import build_episodes
from ..operators.extract import extract_all
from ..session import local_frame
from ..sources.pages import build_pages

METRICS_SCHEMA = (
    "range_id int, stage string, row_count long, checksum long,"
    " wall_ms long, committed_at timestamp"
)


@dataclass
class RangeResult:
    range_id: int
    row_count: int
    checksum: int
    wall_ms: int


def _range_filter(pages: DataFrame, range_id: int, n_ranges: int) -> DataFrame:
    return pages.where(F.pmod(F.col("doc_id"), n_ranges) == range_id)


def completed_ranges(spark: SparkSession, root_dir: str, stage: str) -> set[int]:
    try:
        m = spark.read.parquet(f"{root_dir}/metrics")
    except Exception:
        return set()
    return {
        r["range_id"]
        for r in m.where(F.col("stage") == stage).select("range_id").distinct().collect()
    }


def _commit_metrics(
    spark: SparkSession, root_dir: str, stage: str, res: RangeResult
) -> None:
    row = [(res.range_id, stage, res.row_count, res.checksum, res.wall_ms)]
    (
        local_frame(
            spark, row,
            "range_id int, stage string, row_count long, checksum long, wall_ms long",
        )
        .withColumn("committed_at", F.current_timestamp())
        .write.mode("append")
        .parquet(f"{root_dir}/metrics")
    )


def _checksum(df: DataFrame, key_col: str) -> int:
    """Order-independent content checksum: sum of md5-prefix-int(key)
    mod 2^31 (per-element mod bounds the running sum, so the same
    formula is expressible in any ANSI-SQL engine for an independent
    audit — see registry kg_lineage_metrics)."""
    v = (
        df.agg(
            F.sum(
                F.expr(
                    f"cast(conv(substr(md5({key_col}), 1, 15), 16, 10) as bigint)"
                    " % 2147483648"
                )
            ).alias("s")
        ).collect()[0]["s"]
    )
    return int(v or 0) % (1 << 31)


def run_range(
    spark: SparkSession,
    sf_dir: str,
    root_dir: str,
    range_id: int,
    n_ranges: int,
    replicate: int = 1,
) -> RangeResult:
    """Extraction for one partition range, committed to its own
    subdirectory then recorded in the metrics table. The data commit
    precedes the metrics commit: a crash in between re-runs the range,
    which is safe (deterministic uuids + overwrite of the range dir)."""
    t0 = time.perf_counter()
    pages = _range_filter(
        build_pages(spark, sf_dir, replicate=replicate), range_id, n_ranges
    )
    extracted = extract_all(build_episodes(pages))
    path = f"{root_dir}/staged/extracted/range={range_id}"
    extracted.write.mode("overwrite").parquet(path)
    committed = spark.read.parquet(path)
    res = RangeResult(
        range_id=range_id,
        row_count=committed.count(),
        checksum=_checksum(committed, "episode_uuid"),
        wall_ms=int((time.perf_counter() - t0) * 1000),
    )
    _commit_metrics(spark, root_dir, "extract", res)
    return res


def run_partitioned(
    spark: SparkSession,
    sf_dir: str,
    root_dir: str,
    n_ranges: int = 8,
    replicate: int = 1,
    fail_after: int | None = None,
) -> list[RangeResult]:
    """Run (or resume) the extraction over all ranges. Already-committed
    ranges (per the metrics table) are skipped — the anti-join resume.
    fail_after simulates a mid-job crash for tests."""
    done = completed_ranges(spark, root_dir, "extract")
    results: list[RangeResult] = []
    processed = 0
    for k in range(n_ranges):
        if k in done:
            continue
        if fail_after is not None and processed >= fail_after:
            raise RuntimeError(f"simulated crash after {fail_after} ranges")
        results.append(run_range(spark, sf_dir, root_dir, k, n_ranges, replicate))
        processed += 1
    return results
