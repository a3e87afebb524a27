"""Deterministic transcripts derived from the driver's `documents` table.

The correctness gate compares Spark results against DuckDB on the SAME
parquet inputs, so the transcript table used by oracle-checked queries is
derived *in SQL, independently on both sides* from `documents.parquet`:

    conv_id  = 'conv-' || lpad(doc_id, 6, '0')
    turns    = the document's words in chunks of 16 (>=1 turn)
    role     = turn_idx % 3 -> user / assistant / tool
    text     = the chunk joined with ' '
    tool     = ''
    ts       = TIMESTAMP '2024-01-01 00:00:00' + turn_idx minutes

Both renderings below implement exactly this spec; a pytest cross-checks
them row-for-row so the two dialects cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TURN_WORDS = 16

SPARK_TRANSCRIPTS_SQL = f"""
WITH w AS (
  SELECT doc_id, split(text, ' ') AS words FROM {{documents}}
)
SELECT
  concat('conv-', lpad(cast(doc_id AS string), 6, '0')) AS conv_id,
  cast(i AS int) AS turn_idx,
  element_at(array('user','assistant','tool'), cast(i % 3 AS int) + 1) AS role,
  array_join(slice(words, cast(i * {TURN_WORDS} + 1 AS int), {TURN_WORDS}), ' ') AS text,
  '' AS tool,
  timestampadd(MINUTE, cast(i AS int), timestamp'2024-01-01 00:00:00') AS ts
FROM w
LATERAL VIEW explode(
  sequence(0, greatest(cast(ceil(size(words) / {TURN_WORDS}.0) AS int), 1) - 1)
) t AS i
"""

DUCKDB_TRANSCRIPTS_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), e AS (
  SELECT doc_id, words,
         unnest(range(0, greatest(cast(ceil(len(words) / {TURN_WORDS}.0) AS int), 1))) AS i
  FROM w
)
SELECT
  'conv-' || lpad(cast(doc_id AS varchar), 6, '0') AS conv_id,
  cast(i AS int) AS turn_idx,
  (['user','assistant','tool'])[cast(i % 3 AS int) + 1] AS role,
  array_to_string(list_slice(words, cast(i * {TURN_WORDS} + 1 AS int), cast(i * {TURN_WORDS} + {TURN_WORDS} AS int)), ' ') AS text,
  '' AS tool,
  TIMESTAMP '2024-01-01 00:00:00' + to_minutes(cast(i AS bigint)) AS ts
FROM e
"""


def derived_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-side derived transcript DataFrame for `sf_dir`."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.createOrReplaceTempView("_janet_documents")
    return spark.sql(SPARK_TRANSCRIPTS_SQL.format(documents="_janet_documents"))
