"""Bucketed-table sinks — the co-located-join storage layout of the
production design (SURVEY.md §2.3 J1 scale note; Iceberg
bucket-partition transforms on a real deployment).

A join between two tables bucketed identically on the join key needs NO
shuffle: each task reads matching bucket files from both sides, so the
sort-merge join runs exchange-free. For the KG's read side this is the
difference between re-shuffling billions of entity rows per query and a
pure scan-side join — the nodes/edges/mention tables are written once,
bucketed by their join keys, and every downstream query inherits the
co-location. tests/test_sinks.py pins the exchange-free plan."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_keys: list[str],
    n_buckets: int = 16,
) -> None:
    """Write `df` as a bucketed (and bucket-sorted) managed parquet
    table. At crawl scale n_buckets is sized to the cluster (e.g. 2-4x
    executor count); locally the default keeps files small. Overwrites
    any previous version of the table."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a crashed earlier run can leave an orphaned location the catalog no
    # longer tracks; local-FS cleanup (the production catalog owns this)
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
    if wh:
        shutil.rmtree(f"{wh}/{table.lower()}", ignore_errors=True)
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_keys)
        .sortBy(*bucket_keys)
        .saveAsTable(table)
    )


def write_graph_bucketed(
    tables, prefix: str = "kg", n_buckets: int = 16
) -> dict[str, str]:
    """Persist the built graph's read-side tables bucketed on their join
    keys: nodes by uuid (pointer/name joins), edges by source_node_uuid
    (S8/BFS expansion), mention_edges by entity_uuid (provenance joins).
    Returns {logical name -> table name}."""
    out = {}
    for name, df, keys in (
        ("nodes", tables.nodes, ["uuid"]),
        ("edges", tables.edges, ["source_node_uuid"]),
        ("mention_edges", tables.mention_edges, ["entity_uuid"]),
    ):
        t = f"{prefix}_{name}_bucketed"
        write_bucketed(df, t, keys, n_buckets)
        out[name] = t
    return out


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)
