"""Parquet table loaders.

The testdata layout is one parquet file per table under an sf dir
(see TESTDATA.md); a table may also be a directory of part files. We
go through ``spark.read.parquet`` so partition pruning, predicate
pushdown and column pruning all apply (verify with ``df.explain``:
PushedFilters / ReadSchema).

``load_table`` hands Spark the read schema instead of letting it infer
one: it reads the one footer Spark's non-merging inference would read
(the file, or a directory's first data file in sorted order) on the
driver with pyarrow, which starts no Spark job, and passes the mapped
schema to ``spark.read.schema``. A schema taken from the file's own
footer cannot drift from that file, unlike a hand-written one (a
declared ``bigint`` over TIMESTAMP(MICROS) silently returns raw
microseconds; a declared column the file lacks comes back as nulls).
"""

from __future__ import annotations

import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import LongType, StructField, StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _data_file(path: str) -> str:
    """The file whose footer Spark's non-merging schema inference reads:
    the path itself, or a directory's first data file in sorted order
    (``_`` and ``.`` names are metadata, markers or hidden files)."""
    if not os.path.isdir(path):
        return path
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if name[0] not in "_." and os.path.isfile(full):
            return full
    raise FileNotFoundError(f"no parquet data file in {path}")


def _footer_schema(path: str) -> tuple[StructType, list[str]]:
    """Spark read schema of a parquet table from its footer, and the
    names of its TIMESTAMP(NANOS) columns.

    Spark cannot read TIMESTAMP(NANOS) as a timestamp, so such a column
    is read as its raw nanosecond long (``load_table`` converts it).
    Every other timestamp, tz-less ones included, is read as
    TIMESTAMP_LTZ: Spark 4 would infer TIMESTAMP_NTZ for tz-less
    parquet, which unix_micros/unix_millis reject, so no operator
    downstream ever sees NTZ. INT96 (legacy Spark/Impala timestamps) is
    coerced to microseconds here, or pyarrow would report it as
    nanoseconds; Spark reads it natively.
    """
    with pq.ParquetFile(_data_file(path), coerce_int96_timestamp_unit="us") as pf:
        arrow = pf.schema_arrow
    nanos = [f.name for f in arrow if pa.types.is_timestamp(f.type) and f.type.unit == "ns"]
    schema = StructType(
        [
            StructField(f.name, LongType() if f.name in nanos else from_arrow_type(f.type))
            for f in arrow
        ]
    )
    return schema, nanos


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The engine's time semantics are naive-wall-clock == UTC (matching
    # DuckDB's epoch_us on tz-less parquet). Pin the session timezone so
    # time arithmetic downstream is deterministic regardless of the
    # caller's session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema, nanos = _footer_schema(path)
    df = spark.read.schema(schema).parquet(path)
    if not nanos:
        return df
    # exact integer division: a double `/ 1000` would lose microseconds
    # at 1e18
    return df.select(
        *(
            F.timestamp_micros(F.expr(f"`{c}` div 1000")).alias(c) if c in nanos else F.col(f"`{c}`")
            for c in df.columns
        )
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all tables and register them as temp views for spark.sql."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables


def write_partitioned_by_day(
    df: DataFrame,
    path: str,
    ts_col: str = "ts",
    partition_col: str = "event_date",
) -> None:
    """Materialize events partitioned by event date — the other half
    of the 100 TB layout: time-range queries prune whole directories
    at planning time (PartitionFilters in the scan, asserted in
    tests/test_plans.py), so a last-7-days query over 3 years of data
    reads 0.6% of it."""
    (
        df.withColumn(partition_col, F.to_date(F.col(ts_col)))
        .write.partitionBy(partition_col)
        .mode("overwrite")
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_col: str = "user_id",
    buckets: int = 32,
    sort_col: str | None = "ts",
) -> None:
    """Materialize a table bucketed (and optionally sorted) by a key —
    the 100 TB layout for the events table: every subsequent
    per-user window/groupBy reads co-located buckets and skips the
    exchange entirely (asserted in tests/test_plans.py). On a real
    cluster this is the once-per-ingest cost that removes the
    per-query shuffle of the dominant table."""
    w = df.write.format("parquet").option("path", path).bucketBy(
        buckets, bucket_col
    )
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.mode("overwrite").saveAsTable(table)


# ---------------------------------------------------------------------------
# Event-row retention (TTL + per-user row cap)
#
# The reference auto-culls event rows in a daily background maintenance
# loop (src/oloop_cleaner.cpp:45-120 walks every person and calls
# Grid::cull(); interval = table->maintInterval, src/table.h:127).
# Grid::cull() (src/grid.cpp:698-749) enforces two table settings:
#   * event_ttl (src/table.h:124, default 5 years): drop rows whose
#     stamp is older than now - ttl;
#   * event_max (src/table.h:122, default 5000): keep at most the
#     NEWEST event_max rows per person.
# (The reference's expired-row erase computes `numToErase = rowCount -
# expiredCount` from the front — an inverted count that would erase the
# *live* rows; we implement the documented intent: expired rows go,
# live rows stay.)
#
# Spark-first split: the *policy* is one declarative filter + one
# bounded per-user top-k; the *maintenance* is a storage operation that
# must not scan what it deletes. On the date-partitioned layout whole
# expired days are directory drops (a metastore/manifest operation at
# cluster scale — zero rows read); only the single boundary day is
# rewritten, with partition pruning confining the scan to it.
# ---------------------------------------------------------------------------


def retention_filter(
    df: DataFrame,
    now_ms: int,
    ttl_ms: int | None = 86_400_000 * 365 * 5,
    event_max: int | None = None,
    ts_col: str = "ts",
    user_col: str = "user_id",
    order_col: str | None = "event_id",
) -> DataFrame:
    """The cull policy as a DataFrame transform (Grid::cull semantics).

    The TTL is a plain comparison on ``ts_col`` so it reaches the scan
    as a pushed filter (plan-asserted in tests/test_plans.py). The
    per-user cap is a bounded window top-k — the only part that needs
    the per-user clustering, and it is skipped entirely when
    ``event_max`` is None (the common TTL-only maintenance pass).

    ``order_col`` breaks timestamp ties deterministically; the
    reference's Grid::cull tie-break is physical row order, which has
    no distributed analog, so an explicit column stands in. Frames
    without the column (or ``order_col=None``) order by ``ts_col``
    alone.
    """
    out = df
    if ttl_ms is not None:
        cutoff = F.timestamp_micros(F.lit((now_ms - ttl_ms) * 1000))
        out = out.filter(F.col(ts_col) >= cutoff)
    if event_max is not None:
        order = [F.col(ts_col).desc()]
        if order_col is not None and order_col in df.columns:
            order.append(F.col(order_col).desc())
        w = Window.partitionBy(user_col).orderBy(*order)
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= event_max)
            .drop("_rn")
        )
    return out


_PART_DIR_RE = re.compile(r"^event_date=(\d{4}-\d{2}-\d{2})$")


def list_day_partitions(path: str) -> list[str]:
    """Partition values (ISO dates) present in a by-day layout."""
    out = []
    for name in os.listdir(path):
        m = _PART_DIR_RE.match(name)
        if m and os.path.isdir(os.path.join(path, name)):
            out.append(m.group(1))
    return sorted(out)


def _boundary_rewrite_frame(
    spark: SparkSession, path: str, boundary_day: str, cutoff_ts_us: int, ts_col: str
) -> DataFrame:
    """The only scan `apply_retention` performs on a partitioned layout:
    partition-pruned to the single boundary day (PartitionFilters in
    the scan, asserted in tests/test_retention.py), row-filtered to the
    surviving tail of that day."""
    return (
        spark.read.parquet(path)
        .filter(F.col("event_date") == F.lit(boundary_day))
        .filter(F.col(ts_col) >= F.timestamp_micros(F.lit(cutoff_ts_us)))
    )


def apply_retention(
    spark: SparkSession,
    path: str,
    now_ms: int,
    ttl_ms: int | None = 86_400_000 * 365 * 5,
    event_max: int | None = None,
    ts_col: str = "ts",
    user_col: str = "user_id",
    order_col: str = "event_id",
) -> dict:
    """TTL + per-user-cap maintenance over a stored events table (the
    oloop_cleaner analog, both table settings from src/table.h:122-124).
    Detects the layout:

    * **date-partitioned** (``event_date=YYYY-MM-DD/`` directories,
      `write_partitioned_by_day`): every whole day strictly before the
      cutoff day is DELETED as a directory — no read. The boundary day
      (the one containing the cutoff instant) is rewritten through a
      partition-pruned scan of just that directory. At cluster scale
      the directory drop is an Iceberg/Hive `DROP PARTITION` —
      metadata-only either way. The ``event_max`` pass then runs a
      column-pruned scan (user/ts/order only) to find each over-cap
      user's Nth-newest row, and rewrites ONLY the days that actually
      contain over-cap rows, joining the broadcast threshold map —
      days where nobody exceeds the cap are never read back or
      rewritten.
    * **flat** parquet: a retention-filtered rewrite into a fresh
      directory swapped over the old one (the filter is pushed to the
      scan, but every surviving row is rewritten — this is why the
      by-day layout exists). For a layout where the cap needs no
      shuffle at all, see `apply_retention_bucketed`.

    If the TTL pass expires every partition, an empty schema-carrying
    parquet is written at the root so a later ``spark.read.parquet``
    still succeeds with 0 rows (same observable result as the flat
    layout's empty-but-readable rewrite).

    Returns a report: layout, dropped partitions, whether a boundary
    rewrite happened, cap-rewritten days, and rows removed by the cap.
    """
    days = list_day_partitions(path)
    report: dict = {"path": path}

    if days:
        # captured before any deletion: the schema backstop for the
        # everything-expired case below (footer read, no data scan).
        schema = spark.read.parquet(path).schema
        report["layout"] = "partitioned"
        if ttl_ms is not None:
            _ttl_pass_partitioned(
                spark, path, now_ms, ttl_ms, ts_col, days, report
            )
        else:
            report.update(dropped_partitions=[], boundary_rewritten=None)
        if not list_day_partitions(path):
            # all partitions expired: leave a readable empty table
            # (flat parity — ADVICE r6). event_date survives as a
            # regular column of the captured schema.
            spark.createDataFrame([], schema).write.mode(
                "overwrite"
            ).parquet(path)
            report["emptied"] = True
            return report
        if event_max is not None:
            _cap_pass_partitioned(
                spark, path, event_max, ts_col, user_col, order_col, report
            )
        return report

    # flat layout: filtered rewrite + atomic-ish swap
    df = spark.read.parquet(path)
    before = df.count()
    kept = retention_filter(
        df,
        now_ms,
        ttl_ms=ttl_ms,
        event_max=event_max,
        ts_col=ts_col,
        user_col=user_col,
        order_col=order_col,
    )
    tmp = path.rstrip("/") + ".retention_tmp"
    kept.write.mode("overwrite").parquet(tmp)
    after = spark.read.parquet(tmp).count()
    shutil.rmtree(path)
    os.replace(tmp, path)
    report.update(layout="flat", rows_removed=before - after, rows_kept=after)
    return report


def _ttl_pass_partitioned(
    spark: SparkSession,
    path: str,
    now_ms: int,
    ttl_ms: int,
    ts_col: str,
    days: list[str],
    report: dict,
) -> None:
    import datetime as _dt

    cutoff_ms = now_ms - ttl_ms
    cutoff_us = cutoff_ms * 1000
    report["cutoff_ms"] = cutoff_ms
    cutoff_day = (
        _dt.datetime.fromtimestamp(cutoff_ms / 1000, tz=_dt.timezone.utc)
        .date()
        .isoformat()
    )
    expired = [d for d in days if d < cutoff_day]
    for d in expired:
        shutil.rmtree(os.path.join(path, f"event_date={d}"))
    report["dropped_partitions"] = expired
    if cutoff_day in days:
        # distributed rewrite of the one boundary directory: scan is
        # partition-pruned to it, output lands in a sibling temp dir,
        # then a filesystem swap — no driver-side materialization.
        keep = _boundary_rewrite_frame(
            spark, path, cutoff_day, cutoff_us, ts_col
        ).drop("event_date")
        part_dir = os.path.join(path, f"event_date={cutoff_day}")
        # temp dir OUTSIDE the table root: inside it, the name would
        # match the event_date= pattern and poison partition discovery
        # for any concurrent reader.
        tmp = path.rstrip("/") + f".boundary_tmp_{cutoff_day}"
        keep.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(part_dir)
        os.replace(tmp, part_dir)
        report["boundary_rewritten"] = cutoff_day
    else:
        report["boundary_rewritten"] = None


def _cap_pass_partitioned(
    spark: SparkSession,
    path: str,
    event_max: int,
    ts_col: str,
    user_col: str,
    order_col: str,
    report: dict,
) -> None:
    """Newest-N-per-user enforcement on the by-day layout.

    A user's newest N rows span days, so the cap needs one global
    per-user ranking — but only over (user, ts, order, day), a
    column-pruned scan a few percent the width of the full table. The
    full-width rewrite is then confined to the days that actually hold
    over-cap rows: survivors of each such day are selected by a
    broadcast join against the per-user Nth-newest threshold tuple
    (no second shuffle of the wide rows), and untouched days keep
    their files byte-identical.
    """
    narrow = spark.read.parquet(path).select(
        user_col, ts_col, order_col, "event_date"
    )
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).desc(), F.col(order_col).desc()
    )
    ranked = narrow.withColumn("_rn", F.row_number().over(w))
    doomed_days = [
        r[0]
        for r in ranked.filter(F.col("_rn") > event_max)
        .select(F.col("event_date").cast("string"))
        .distinct()
        .collect()
    ]
    rows_over = 0
    if doomed_days:
        thr = ranked.filter(F.col("_rn") == event_max).select(
            F.col(user_col).alias("_thr_user"),
            F.col(ts_col).alias("_thr_ts"),
            F.col(order_col).alias("_thr_ord"),
        )
        full = spark.read.parquet(path).filter(
            F.col("event_date").cast("string").isin(doomed_days)
        )
        survives = (
            F.col("_thr_user").isNull()
            | (F.col(ts_col) > F.col("_thr_ts"))
            | (
                (F.col(ts_col) == F.col("_thr_ts"))
                & (F.col(order_col) >= F.col("_thr_ord"))
            )
        )
        # thr is one row per user AT the cap — unbounded on a large
        # table where most users exceed event_max (the reference
        # default is 5000 rows/person, routinely exceeded). No forced
        # broadcast: AQE broadcasts when the threshold frame is small
        # and falls back to a shuffle join when it isn't, instead of a
        # multi-GB driver-side build.
        kept = (
            full.join(
                thr,
                full[user_col] == F.col("_thr_user"),
                "left",
            )
            .filter(survives)
            .drop("_thr_user", "_thr_ts", "_thr_ord")
        )
        before = full.count()
        tmp = path.rstrip("/") + ".cap_tmp"
        kept.write.mode("overwrite").partitionBy("event_date").parquet(tmp)
        for d in doomed_days:
            sub = f"event_date={d}"
            src_dir = os.path.join(tmp, sub)
            dst_dir = os.path.join(path, sub)
            shutil.rmtree(dst_dir)
            if os.path.isdir(src_dir):
                os.replace(src_dir, dst_dir)
        after = spark.read.parquet(path).filter(
            F.col("event_date").cast("string").isin(doomed_days)
        ).count()
        rows_over = before - after
        shutil.rmtree(tmp, ignore_errors=True)
    report.update(cap_rewritten_days=doomed_days, cap_rows_removed=rows_over)


def _bucket_spec(spark: SparkSession, table: str) -> tuple[int, str, str | None]:
    """(num_buckets, bucket_col, sort_col) from DESCRIBE EXTENDED."""
    info = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect()
    }
    n = int(info["Num Buckets"])
    bucket_col = info["Bucket Columns"].strip("[]` ")
    sort_raw = info.get("Sort Columns", "[]").strip("[]` ")
    return n, bucket_col, sort_raw or None


def apply_retention_bucketed(
    spark: SparkSession,
    table: str,
    path: str,
    now_ms: int,
    ttl_ms: int | None = 86_400_000 * 365 * 5,
    event_max: int | None = None,
    ts_col: str = "ts",
    order_col: str = "event_id",
) -> dict:
    """Retention over the user-bucketed layout (`write_bucketed`): the
    per-user cap's window reads bucket-co-located rows, so the ENTIRE
    pass — TTL filter, newest-N window, bucketed rewrite — runs with
    zero exchanges (plan-asserted in tests/test_retention.py). This is
    the 100 TB shape for cap-heavy tables: the once-per-ingest
    bucketing cost buys shuffle-free daily maintenance forever.

    The rewrite lands in a temp table+dir with the same bucket spec,
    then swaps: metadata drop, directory rename, DDL re-register at
    the original location (a metastore-only operation — no data move).
    """
    nbuckets, bucket_col, sort_col = _bucket_spec(spark, table)
    src = spark.table(table)
    before = src.count()
    kept = retention_filter(
        src,
        now_ms,
        ttl_ms=ttl_ms,
        event_max=event_max,
        ts_col=ts_col,
        user_col=bucket_col,
        order_col=order_col,
    )
    tmp_table = f"{table}_retention_tmp"
    tmp_path = path.rstrip("/") + ".retention_tmp"
    spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")
    shutil.rmtree(tmp_path, ignore_errors=True)
    write_bucketed(
        kept, tmp_table, tmp_path,
        bucket_col=bucket_col, buckets=nbuckets, sort_col=sort_col,
    )
    after = spark.table(tmp_table).count()
    ddl_cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in src.schema.fields
    )
    spark.sql(f"DROP TABLE {table}")
    spark.sql(f"DROP TABLE {tmp_table}")  # external: files stay put
    shutil.rmtree(path)
    os.replace(tmp_path, path)
    sort_clause = f"SORTED BY (`{sort_col}`)" if sort_col else ""
    spark.sql(
        f"CREATE TABLE {table} ({ddl_cols}) USING parquet "
        f"CLUSTERED BY (`{bucket_col}`) {sort_clause} "
        f"INTO {nbuckets} BUCKETS LOCATION '{path}'"
    )
    return {
        "table": table,
        "path": path,
        "layout": "bucketed",
        "rows_removed": before - after,
        "rows_kept": after,
    }
