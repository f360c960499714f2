"""[EXT E1] File-format breadth: JSON / CSV / ORC scans.

The reference only speaks Kafka (``/root/reference/kafkaio/kafkaio.go:29-36``);
SURVEY.md §2.3 E1 mandates file scans beyond parquet.  Each helper
round-trips a fixture table through the target format into a per-process
scratch dir (written once, reused; see caching.materialized) and reads it
back with an EXPLICIT schema — inference is a correctness and performance
anti-pattern at scale (it costs an extra full pass and can flip types
between runs).

Scale notes: JSON/CSV are row formats — no column pruning, no predicate
pushdown, no min/max skipping; the engine supports scanning them but any
100 TB pipeline should land them into parquet/ORC first.  ORC keeps the
columnar properties (pushdown lines up with the parquet plan tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from kafka_go_cardinality_spark.caching import materialized
from kafka_go_cardinality_spark.sources.tables import load_table

# Columns exercised per round-trip table: integer + string + nested-free
# types survive every wire format identically (timestamps deliberately
# excluded from the CSV path — CSV has no timestamp type, only parse
# conventions; that nuance belongs to the parquet/ORC path).
ROUNDTRIP_COLUMNS = ("n_nationkey", "n_name", "n_regionkey")


def format_dir(spark: SparkSession, sf_dir: str, table: str, fmt: str) -> str:
    """Write `table` once as `fmt` under a scratch dir; return the path."""

    def build(path: str) -> str:
        df = load_table(spark, sf_dir, table).select(*ROUNDTRIP_COLUMNS)
        writer = df.write.mode("overwrite")
        if fmt == "csv":
            writer = writer.option("header", "true")
        writer.format(fmt).save(path)
        return path

    return materialized(("format", sf_dir, table, fmt), build)


def scan_format(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    """Round-trip scan: nation → fmt → explicit-schema read."""
    path = format_dir(spark, sf_dir, "nation", fmt)
    schema = "n_nationkey long, n_name string, n_regionkey long"
    reader = spark.read.schema(schema)
    if fmt == "csv":
        reader = reader.option("header", "true")
    return reader.format(fmt).load(path).select(*ROUNDTRIP_COLUMNS)
