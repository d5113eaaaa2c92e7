"""Driver queries, one module per family. Each query `<name>` is a
`q_<name>(spark, sf_dir) -> DataFrame` function defined in its family
module, next to its DuckDB oracle `_sql_<name>() -> str` over the
driver's pre-registered parquet views (`documents`, `embeddings`, ...);
`graphiti_spark.registry` collects both by that naming rule.

Column names and integer widths are aligned on both sides (everything
integral is BIGINT; ratios are exact integer micro-units) so the driver's
order-insensitive value-hash comparison is bit-exact.
"""
