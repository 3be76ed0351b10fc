"""Iceberg triple-table sink (north rule: partitioned Iceberg tables).

This container ships no Iceberg runtime jar, so the adapter is gated:
:func:`iceberg_available` probes the JVM classpath; when the jar and a
configured catalog are present, :func:`write_triples_table` uses the
DataFrameWriterV2 path (``writeTo(...).partitionedBy(...)``) with
snapshot metadata playing the resume-manifest role; otherwise it falls
back to the parquet + ``_done``-manifest layout of plans.resume, which
reproduces the same semantics portably (bucketed partitioning,
per-partition lineage rows, anti-join resume).

On a production cluster, enable with:

    --packages org.apache.iceberg:iceberg-spark-runtime-3.5_2.12:<ver>
    --conf spark.sql.catalog.kg=org.apache.iceberg.spark.SparkCatalog
    --conf spark.sql.catalog.kg.type=hadoop
    --conf spark.sql.catalog.kg.warehouse=<path>
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from deepie_spark.plans.resume import (
    sorted_for_write,
    write_triples_with_manifest,
)

ICEBERG_CATALOG_CLASS = "org.apache.iceberg.spark.SparkCatalog"


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(ICEBERG_CATALOG_CLASS)
        return True
    except Exception:
        return False


def write_triples_table(
    spark: SparkSession,
    triples: DataFrame,
    table: str,
    fallback_dir: str | None = None,
    fallback_manifest: str | None = None,
) -> dict:
    """Write part_id-partitioned triples to ``table`` (Iceberg) or to
    the parquet+manifest fallback layout.

    Returns {"sink": "iceberg"|"parquet", ...write stats}.
    """
    if iceberg_available(spark):
        (
            sorted_for_write(triples)
            .writeTo(table)
            .using("iceberg")
            .partitionedBy("part_id")
            .createOrReplace()
        )
        n = spark.read.table(table).count()
        return {"sink": "iceberg", "n_triples": n}
    if not (fallback_dir and fallback_manifest):
        raise ValueError(
            "no Iceberg runtime on the classpath: pass fallback_dir and "
            "fallback_manifest for the parquet layout"
        )
    out = write_triples_with_manifest(
        triples, fallback_dir, fallback_manifest
    )
    out["sink"] = "parquet"
    return out
