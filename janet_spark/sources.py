"""Transcript sources and sinks across formats (the S1-family breadth).

The engine's canonical storage is parquet (columnar, statistics, splits),
but transcripts ARRIVE in whatever the producer emits — exports as JSONL,
legacy dumps as CSV, ORC from Hive-era pipelines. These helpers pin the
transcript schema onto each format (schema inference over 100 TB is a
full extra pass AND a correctness hazard — a day of all-numeric conv_ids
infers the column as bigint and poisons the union), and centralize the
format quirks that corrupt text payloads when left at defaults:

* CSV: payload text contains newlines, commas, and quotes — `multiLine`
  + explicit quote/escape are required or rows shear; timestamps need an
  explicit format to round-trip microseconds.
* JSON (JSONL): one object per line; `multiLine=false` keeps the reader
  splittable (a multiline JSON file is ONE split — a 1 TB file would be
  one task); the DEFAULT timestampFormat truncates to milliseconds, so a
  microsecond format is pinned on both sides or `ts` silently loses
  precision on round trip.
* ORC/parquet: self-describing; the pinned schema still applies so a
  drifted producer fails loudly instead of silently widening types.

avro is not bundled in this sandbox (external module); the registry makes
adding it a one-liner where the jar exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)

_CSV_OPTS = {
    "header": "true",
    "multiLine": "true",  # text payloads contain raw newlines
    "quote": '"',
    "escape": '"',  # RFC-4180 doubled quotes
    "timestampFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS",
}

_JSON_OPTS = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",  # keep microseconds
}

_FORMATS = ("parquet", "orc", "json", "csv")
_FMT_OPTS = {"csv": _CSV_OPTS, "json": _JSON_OPTS}


def read_transcripts(spark: SparkSession, path: str, format: str = "parquet") -> DataFrame:
    """Read a transcript table onto the PINNED schema (never inferred).

    Text formats (csv/json) take the schema as the READER schema — there
    is nothing else to parse against. Self-describing formats (parquet/
    orc) must NOT: forcing a narrower reader type than the file's physical
    type is a hard read error (e.g. a producer that wrote turn_idx as
    INT64 vs the contract's int32), so they read natively and the contract
    is enforced by an explicit cast-projection — missing columns fail
    loudly, wider integers narrow deterministically."""
    if format not in _FORMATS:
        raise ValueError(f"unsupported format {format!r}; one of {_FORMATS}")
    if format in ("csv", "json"):
        reader = spark.read.schema(TRANSCRIPT_DDL)
        for k, v in _FMT_OPTS.get(format, {}).items():
            reader = reader.option(k, v)
        return reader.format(format).load(path)

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    contract = StructType.fromDDL(TRANSCRIPT_DDL)
    df = spark.read.format(format).load(path)
    missing = [f.name for f in contract.fields if f.name not in df.columns]
    if missing:
        raise ValueError(f"{path} is missing transcript columns: {missing}")
    return df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in contract.fields]
    )


def write_transcripts(
    df: DataFrame, path: str, format: str = "parquet", mode: str = "overwrite"
) -> None:
    """Write a transcript table in `format` with round-trip-safe options."""
    if format not in _FORMATS:
        raise ValueError(f"unsupported format {format!r}; one of {_FORMATS}")
    writer = df.write.mode(mode)
    for k, v in _FMT_OPTS.get(format, {}).items():
        writer = writer.option(k, v)
    writer.format(format).save(path)


def write_table(
    df: DataFrame,
    path_or_ident: str,
    partition_by: tuple[str, ...] = (),
) -> str:
    """Atomic partitioned table sink: the REAL Iceberg dynamic-partition
    overwrite when `$JANET_SPARK_CATALOG` names a configured Spark
    catalog, and the staged-parquet emulation of the identical contract
    otherwise. Returns which commit path ran ('iceberg' / 'parquet').

    Catalog path (production: an Iceberg REST/Glue/Hive catalog
    registered as spark.sql.catalog.<name>): partitions present in `df`
    replace their table partitions in ONE snapshot commit —
    `df.writeTo(ident).overwritePartitions()` — all other partitions
    untouched, visibility a single metadata-pointer swap. First write
    CREATEs the table with `partition_by` as the spec; afterwards the
    existing table's spec wins (this is DEPLOYMENT.md's mapping, as
    code; the catalog branch cannot run in this sandbox — no jars or
    network — so its correctness contract is the documented DSv2 API).

    Fallback (no catalog): the same dynamic overwrite emulated on plain
    parquet — partitionBy write into a private staging dir beside the
    table, then one `commit.publish` PER PARTITION into the final layout
    (unpartitioned: one for the whole table). Idempotent (an existing
    partition dir is replaced whole); after a crash mid-commit and
    `commit.recover`, every partition is either fully old or fully new.
    The emulation supports at most ONE partition column (one publish per
    top-level leaf; deeper specs would need a leaf walk Iceberg does
    natively)."""
    import os

    from janet_spark import commit

    if len(partition_by) > 1:
        raise ValueError(
            "write_table emulation supports one partition column; "
            "configure $JANET_SPARK_CATALOG for nested partition specs"
        )
    cat = os.environ.get("JANET_SPARK_CATALOG")
    if cat:
        from pyspark.sql import functions as F

        ident = f"{cat}.{path_or_ident}"
        if df.sparkSession.catalog.tableExists(ident):
            df.writeTo(ident).overwritePartitions()
        else:
            w = df.writeTo(ident)
            if partition_by:
                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.create()
        return "iceberg"

    parent = os.path.dirname(os.path.abspath(path_or_ident))
    with commit.staged(parent, "table") as staging:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)
        if not partition_by:
            commit.publish(staging, path_or_ident)
        else:
            os.makedirs(path_or_ident, exist_ok=True)
            prefix = f"{partition_by[0]}="
            for name in sorted(os.listdir(staging)):
                if name.startswith(prefix):  # _SUCCESS / .crc markers stay behind
                    commit.publish(
                        os.path.join(staging, name), os.path.join(path_or_ident, name)
                    )
    return "parquet"
