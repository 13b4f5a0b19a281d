"""Ingest sources (SURVEY.md §2.1): line protocol, Arrow, parquet catalog.

The reference's write path (``httpd/handler.go:1488`` → line-protocol parse
→ shard routing → TSSP) maps to: parse and pivot into a typed table on the
driver → append to time-partitioned parquet. Spark owns sharding
(partitioning) and the LSM machinery disappears.
"""

from opengemini_spark.sources.line_protocol import (  # noqa: F401
    LP_SCHEMA,
    parse_line_protocol,
)
