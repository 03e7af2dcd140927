"""Batch JSON event ingest — the reference's insert endpoint
(``POST /v1/insert/{table}``, src/rpc_insert.cpp) as a batch source.

Insert format (test/test_db.h raw_inserts): one JSON object per event,
``{"uuid": <customer id>, "stamp": <ms epoch>, "event": <name>,
<property>: <value>, ...}``. Properties marked ``is_customer`` in the
table definition are facts about the customer carried on events; the
reference applies them to the customer record on insert (latest value
wins). Here: ``parse_events`` gives the typed event frame,
``customer_snapshot`` reduces the carried facts to one row per
customer with last-non-null-wins semantics.

All parsing is ``from_json`` with an explicit schema (JVM-side); the
latest-wins reduction is ``max_by`` aggregates — one shuffle by id,
no window pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from openset_spark.sources.catalog import TableDef


def _raw_schema(tdef: TableDef) -> StructType:
    """The wire schema: uuid/stamp/event + every declared property."""
    fields = [
        StructField("uuid", tdef.id_spark_type()),
        StructField("stamp", LongType()),
        StructField("event", StringType()),
    ]
    fields += [StructField(p.name, p.spark_type()) for p in tdef.properties]
    return StructType(fields)


def parse_events(json_lines: DataFrame, tdef: TableDef) -> DataFrame:
    """JSON-lines (single string column) -> typed event frame.

    Output columns: ``user_id, ts, event_type`` + non-customer
    properties (the table's event schema). ``stamp`` is ms epoch, kept
    exact via integer microsecond conversion."""
    text_col = json_lines.columns[0]
    parsed = json_lines.select(
        F.from_json(F.col(text_col), _raw_schema(tdef)).alias("e")
    ).select("e.*")
    cols = [
        F.col("uuid").alias("user_id"),
        F.timestamp_micros(F.col("stamp") * 1000).alias("ts"),
        F.col("event").alias("event_type"),
    ]
    cols += [F.col(p.name) for p in tdef.properties if not p.is_customer]
    return parsed.select(*cols)


def customer_snapshot(json_lines: DataFrame, tdef: TableDef) -> DataFrame:
    """Customer-property facts carried on inserts -> one row per
    customer, latest non-null value per property (the reference's
    on-insert customer record update).

    ``max_by(value, stamp-when-set)`` ignores rows where the property
    is null, so an event that doesn't carry the fact never clobbers
    it — single aggregate, partial map-side."""
    text_col = json_lines.columns[0]
    parsed = json_lines.select(
        F.from_json(F.col(text_col), _raw_schema(tdef)).alias("e")
    ).select("e.*")
    aggs = [
        F.max_by(
            F.col(p.name),
            F.when(F.col(p.name).isNotNull(), F.col("stamp")),
        ).alias(p.name)
        for p in tdef.properties
        if p.is_customer
    ]
    if not aggs:
        raise ValueError(f"table {tdef.name!r} has no is_customer properties")
    return (
        parsed.groupBy(F.col("uuid").alias("user_id"))
        .agg(*aggs)
    )
