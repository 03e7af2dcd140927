"""Document-corpus loaders — the ingest formats a training-data
pipeline actually receives (beyond the engine's parquet/JSON-event
surface): JSON-lines, CSV, one-file-per-document text trees and
line-per-document text files, all normalized to the pipeline's
``documents`` shape (doc_id, text, + passthrough metadata).

Spark-first: every reader is a plain DataFrame source (distributed
splits, predicate/column pruning where the format supports it) plus a
projection. Missing ids are assigned CONTENT-DETERMINISTICALLY —
``xxhash64(source, text)`` where ``source`` is the file path RELATIVE
to the ingest root — so re-ingesting the same corpus yields the same
ids regardless of partitioning, file order, or where the corpus
directory is mounted (the properties ``monotonically_increasing_id``
and absolute-path hashing do NOT have, and which exact dedup /
sampling reproducibility downstream depends on).

Collision caveat: two IDENTICAL texts in the SAME file hash to one
doc_id. For a dedup-bound corpus that is the right semantic (they are
the same document); supply an explicit ``id_field`` when byte-level
row identity matters.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

_SCHEME_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*:/+"


def _rel_source(root: str) -> Column:
    """The source label: file path RELATIVE to the ingest root.

    ``input_file_name()`` returns an absolute URI (``file:///...``),
    which would bake the mount point into content-hashed doc ids; the
    scheme and the absolutized root prefix are stripped instead. A
    root that is a single file (or glob) labels relative to its parent
    directory. If the prefix doesn't match (exotic URI), the label
    falls back to the scheme-less absolute path — still deterministic
    per layout, just not mount-portable."""
    r = root.rstrip("/")
    if re.match(_SCHEME_RE, r):
        base = re.sub(_SCHEME_RE, "/", r)
    else:
        base = os.path.abspath(r)
        if not os.path.isdir(base):
            base = os.path.dirname(base)
    # input_file_name() is a percent-ENCODED URI: a root containing
    # spaces or non-ASCII would silently miss the prefix strip and
    # fall back to absolute labels, breaking mount-portable ids
    # (ADVICE r6). url_decode restores the raw path; the '+'→'%2B'
    # pre-step stops form-decoding from turning literal '+' in file
    # names into spaces.
    decoded = F.url_decode(
        F.regexp_replace(F.input_file_name(), r"\+", "%2B")
    )
    no_scheme = F.regexp_replace(decoded, _SCHEME_RE, "/")
    return F.regexp_replace(no_scheme, "^" + re.escape(base) + "/", "")


def _with_doc_id(df: DataFrame, id_col: str | None) -> DataFrame:
    """Normalize the id column: keep a provided one (cast to long),
    else derive a deterministic content hash."""
    if id_col is not None and id_col in df.columns:
        out = df.withColumn("doc_id", F.col(id_col).cast("long"))
        if id_col != "doc_id":
            out = out.drop(id_col)
        return out
    return df.withColumn(
        "doc_id", F.xxhash64(F.coalesce(F.col("source"), F.lit("")), "text")
    )


def read_documents_jsonl(
    spark: SparkSession,
    path: str,
    text_field: str = "text",
    id_field: str | None = "doc_id",
    meta_fields: tuple[str, ...] = (),
) -> DataFrame:
    """JSON-lines corpus (one object per document). Reads with an
    explicit projection so only the named fields are parsed."""
    fields = [StructField(text_field, StringType())]
    if id_field:
        fields.append(StructField(id_field, LongType()))
    for m in meta_fields:
        fields.append(StructField(m, StringType()))
    raw = spark.read.schema(StructType(fields)).json(path)
    out = raw.withColumn("source", _rel_source(path))
    if text_field != "text":
        out = out.withColumnRenamed(text_field, "text")
    return _with_doc_id(out, id_field).select(
        "doc_id", "text", "source", *meta_fields
    )


def read_documents_csv(
    spark: SparkSession,
    path: str,
    text_field: str = "text",
    id_field: str | None = "doc_id",
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    """CSV corpus; multiline quoting on so embedded newlines in the
    text column survive."""
    raw = (
        spark.read.option("header", str(header).lower())
        .option("sep", sep)
        .option("multiLine", "true")
        .option("escape", '"')
        .csv(path)
    )
    out = raw.withColumn("source", _rel_source(path))
    if text_field != "text":
        out = out.withColumnRenamed(text_field, "text")
    return _with_doc_id(out, id_field).select("doc_id", "text", "source")


def read_documents_text_files(
    spark: SparkSession, path: str
) -> DataFrame:
    """One FILE per document (the crawl-dump layout): wholetext read,
    the file path is the source, ids content-hashed."""
    raw = (
        spark.read.option("wholetext", "true")
        .text(path)
        .withColumnRenamed("value", "text")
        .withColumn("source", _rel_source(path))
    )
    return _with_doc_id(raw, None).select("doc_id", "text", "source")


def read_documents_text_lines(
    spark: SparkSession, path: str
) -> DataFrame:
    """One LINE per document (the shard-file layout). Blank lines are
    not documents."""
    raw = (
        spark.read.text(path)
        .withColumnRenamed("value", "text")
        .filter(F.length(F.trim("text")) > 0)
        .withColumn("source", _rel_source(path))
    )
    return _with_doc_id(raw, None).select("doc_id", "text", "source")


def read_documents(
    spark: SparkSession, path: str, fmt: str = "jsonl", **kw
) -> DataFrame:
    """Format-dispatching corpus reader: jsonl | csv | text_files |
    text_lines | parquet."""
    readers = {
        "jsonl": read_documents_jsonl,
        "csv": read_documents_csv,
        "text_files": read_documents_text_files,
        "text_lines": read_documents_text_lines,
    }
    if fmt == "parquet":
        return _with_doc_id(
            spark.read.parquet(path).withColumn(
                "source", _rel_source(path)
            ),
            kw.get("id_field", "doc_id"),
        ).select("doc_id", "text", "source")
    if fmt not in readers:
        raise ValueError(f"unknown corpus format {fmt!r}")
    return readers[fmt](spark, path, **kw)
