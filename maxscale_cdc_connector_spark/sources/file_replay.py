"""CDC file replay: captured newline-JSON event logs as batch or stream.

The reference's wire format is newline-delimited JSON records
(cdc_connector.cpp:459-474); a captured session is therefore a plain
text file of event lines. Replaying it is the engine's offline test
path (SURVEY.md §2B `cdc_file_replay`) and the standard way to backfill.
Replay decodes with Spark's `from_json` over the same typemap schema the
live socket sources use (they decode through sources/decode.py), so the
columns and types match and query logic runs unchanged against either.

Scan behavior at scale: `spark.read.text` / `readStream.format("text")`
split large logs by `spark.sql.files.maxPartitionBytes` and parallelize
the JSON parse across executors inside whole-stage codegen — unlike the
socket source, replay is embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from maxscale_cdc_connector_spark.operators.cdc import decode_events
from maxscale_cdc_connector_spark.typemap import schema_record_to_struct


def _resolve_schema(schema: T.StructType | str | dict) -> T.StructType:
    if isinstance(schema, T.StructType):
        return schema
    return schema_record_to_struct(schema)


def replay_batch(
    spark: SparkSession, path: str, schema: T.StructType | str | dict
) -> DataFrame:
    """Batch DataFrame over a captured event-line file/directory.

    ``schema`` is a StructType or an avrorouter schema record
    (JSON string / dict) — the same record the live source consumes.
    """
    return decode_events(spark.read.text(path), _resolve_schema(schema))


def replay_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | dict,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming DataFrame over a directory of captured event-line files.

    File-based replay runs the full Structured Streaming machinery
    (micro-batches, checkpoints, watermarks) without a live server —
    the test harness for every `stream_*` operator.
    """
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return decode_events(reader.format("text").load(path), _resolve_schema(schema))
