"""JSONL source/sink — the interchange format of LLM-training corpora
(one JSON object per line; what most crawls, filtered dumps, and SFT
datasets ship as).

Scale rules encoded here:

* **Schema is explicit, never inferred.**  ``spark.read.json`` without
  a schema runs a full inference pass over the data before the real
  scan — at 100 TB that is a second read of the corpus.  Callers pass
  a DDL string / StructType, or use the documents-table default.
* **Corrupt lines are quarantined, not fatal.**  The default read uses
  DROPMALFORMED (bad lines skipped in the parser, no second scan);
  ``keep_corrupt=True`` keeps them with their raw text in
  ``_corrupt_record`` for audit; ``strict=True`` switches to FAILFAST
  for pipelines that prefer to die loudly.
* **Writes are line-delimited, uncompressed-splittable by default**
  (gzip is NOT splittable — one reader per file; zstd/none keep the
  read parallel).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

CORRUPT_COL = "_corrupt_record"


def read_jsonl(spark: SparkSession, path: str, schema: str,
               strict: bool = False,
               keep_corrupt: bool = False) -> DataFrame:
    """Read line-delimited JSON with an EXPLICIT schema.

    Default mode drops malformed lines in the parser (DROPMALFORMED —
    one scan, nothing re-read); ``keep_corrupt`` switches to PERMISSIVE
    and retains the quarantine column (schema gains ``_corrupt_record
    STRING``); ``strict`` fails the job on the first bad line."""
    if strict:
        mode = "FAILFAST"
    elif keep_corrupt:
        mode = "PERMISSIVE"
    else:
        mode = "DROPMALFORMED"
    reader = spark.read.option("mode", mode)
    if keep_corrupt and not strict:
        reader = (reader
                  .option("columnNameOfCorruptRecord", CORRUPT_COL)
                  .schema(schema + f", {CORRUPT_COL} STRING"))
    else:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite",
                compression: str | None = "zstd",
                partition_by: tuple[str, ...] = ()) -> None:
    """Write line-delimited JSON; zstd default (splittable via frame
    seeking in Spark's reader and far smaller than none; pass None for
    plain text interchange with non-Spark consumers)."""
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.json(path)
