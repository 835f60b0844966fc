"""SQL entry point — parity with the reference's Flink SQL surface.

The reference's ingest jobs are SQL DDL + queries (a table DDL
`… WITH ('connector'…)`, then `SELECT …` — SURVEY.md §3.1). The Spark
analog: register a CDC envelope frame once and get the three
changelog-mode views plus the stateful UDTF, all queryable with
``spark.sql``:

    create_cdc_table(spark, "authors", env_df, key_cols=["id"])
    spark.sql("SELECT * FROM authors_upsert")
    spark.sql("SELECT * FROM authors_changelog WHERE row_kind = '+U'")
    spark.sql(\"\"\"SELECT * FROM toast_backfill(
        TABLE(SELECT id, lsn, op, value FROM my_events)
        PARTITION BY id ORDER BY lsn)\"\"\")
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from streaming_examples_spark.operators.ingest import (
    as_append,
    as_changelog,
    as_upsert,
    flatten,
)


def create_cdc_table(
    spark: SparkSession,
    name: str,
    envelope: DataFrame,
    *,
    key_cols: Sequence[str],
    with_dedup: bool = False,
) -> dict[str, DataFrame]:
    """Register the four ingest-mode views for one CDC stream:

    ``{name}_append``     raw envelopes + metadata columns (S1/S4)
    ``{name}_changelog``  +I/-U/+U/-D row-kind stream (S2)
    ``{name}_upsert``     materialized latest-per-key table (S3)
    ``{name}_flat``       unwrapped rows with __deleted (S12)
    """
    from streaming_examples_spark.operators.ingest import dedup_cdc

    env = dedup_cdc(envelope) if with_dedup else envelope
    views = {
        f"{name}_append": as_append(env),
        f"{name}_changelog": as_changelog(env),
        f"{name}_upsert": as_upsert(env, key_cols),
        f"{name}_flat": flatten(env),
    }
    for view_name, df in views.items():
        df.createOrReplaceTempView(view_name)
    return views


def register_engine_functions(spark: SparkSession) -> None:
    """Register the engine's SQL-callable functions (U2 parity:
    ``createTemporarySystemFunction`` in the reference)."""
    from streaming_examples_spark.streaming.fill_forward import (
        register_toast_backfill_udtf,
    )

    register_toast_backfill_udtf(spark)
