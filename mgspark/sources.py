"""Sources and sinks for the reference's file formats (SURVEY.md §2.4
"scans/sources/sinks" row).

* integer stream files — one element per line (README.md:17,
  pmg.py:515-517) — as a distributed Spark text source;
* JSON sketch files — ``{"key": counter}`` objects (pmg.py:222-225,
  532-534) — loaded into ``PARTIAL_SCHEMA`` rows ready for
  :func:`mgspark.aggregate.mg_tree_merge` (the shared merge rounds of
  ``mgspark/sketches/base.py``), and written back out;
* parquet checkpoint partials (the engine's own resumable format);
* catalog tables — ``table:NAME`` (session catalog) and
  ``iceberg:catalog.db.table`` (Apache Iceberg DataSource-V2 reader with
  snapshot time-travel), the BASELINE input shape at 10^12-file scale.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mgspark.kernel import MGState

__all__ = [
    "read_stream_file",
    "read_sketch_jsons",
    "write_sketch_json",
    "read_checkpoint",
    "load_table",
]

_ICEBERG_HINT = (
    "the Iceberg DataSource is not on this Spark classpath; submit with "
    "--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<version> "
    "and configure the catalog, e.g. "
    "--conf spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog "
    "--conf spark.sql.catalog.<name>.type=hive|hadoop|rest"
)


def load_table(
    spark: SparkSession,
    uri: str,
    *,
    snapshot_id: int | None = None,
    as_of_timestamp: int | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Unified input dispatch for every engine surface (CLI, jobs, tests).

    URI forms, most-capable first:

    * ``iceberg:catalog.db.table`` — Apache Iceberg table through the
      DataSource-V2 reader.  ``snapshot_id`` / ``as_of_timestamp`` (ms
      since epoch) map to the reader's time-travel options, which is the
      lineage anchor for resumable runs over a mutating 10^12-file
      table: a checkpointed job pins the snapshot it started from and
      re-reads exactly those files on resume.  Requires the
      ``iceberg-spark-runtime`` jar (not bundled here — the error
      message carries the spark-submit recipe).
    * ``table:NAME`` — session catalog (temp view, Hive metastore, or
      any configured V2 catalog, including an Iceberg catalog addressed
      by its SQL name).
    * anything else — parquet path or glob.

    ``columns`` prunes the projection at the scan (ReadSchema), which
    both the parquet and Iceberg readers push into the file format.
    Time-travel options are rejected for non-Iceberg URIs rather than
    silently ignored.
    """
    if snapshot_id is not None and as_of_timestamp is not None:
        raise ValueError("pass at most one of snapshot_id / as_of_timestamp")
    if uri.startswith("iceberg:"):
        name = uri[len("iceberg:"):]
        reader = spark.read.format("iceberg")
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", int(snapshot_id))
        if as_of_timestamp is not None:
            reader = reader.option("as-of-timestamp", int(as_of_timestamp))
        try:
            df = reader.load(name)
        except Exception as exc:  # noqa: BLE001 — classify the V2 lookup failure
            msg = str(exc)
            if "DATA_SOURCE_NOT_FOUND" in msg or "Failed to find" in msg or "iceberg" in msg.lower():
                raise RuntimeError(f"cannot read {uri!r}: {_ICEBERG_HINT}") from exc
            raise
    else:
        if snapshot_id is not None or as_of_timestamp is not None:
            raise ValueError(
                "snapshot_id / as_of_timestamp are Iceberg time-travel options; "
                f"{uri!r} is not an iceberg: URI"
            )
        if uri.startswith("table:"):
            df = spark.read.table(uri[len("table:"):])
        else:
            df = spark.read.parquet(uri)
    if columns is not None:
        df = df.select(*columns)
    return df


def read_stream_file(spark: SparkSession, path: str) -> DataFrame:
    """Reference stream-file format as a DataFrame of int64 keys.

    One integer per line; invalid (negative) elements are kept — the
    build kernel skips them, preserving pmg.py:82-83 semantics (they must
    not count toward ``n``).
    """
    return spark.read.text(path).select(
        F.col("value").cast("long").alias("key")
    ).where(F.col("key").isNotNull())


def read_sketch_jsons(spark: SparkSession, paths: list[str], k: int) -> DataFrame:
    """Load reference JSON sketch files as partial-sketch rows.

    Each file becomes one row of the engine's PARTIAL_SCHEMA (n and d are
    unknown for foreign sketches — recorded as 0, matching the reference
    merge which ignores them, pmg.py:207-246).  Fold order in the tree
    merge follows the given path order via ``partition_id``.
    """
    from mgspark.aggregate import PARTIAL_SCHEMA

    rows = []
    for i, path in enumerate(paths):
        with open(path, encoding="utf8") as f:
            sketch = {int(key): counter for key, counter in json.load(f).items()}
        state = MGState.from_dict(sketch, k)
        rows.append(
            (i, state.keys.tolist(), state.counters.tolist(), None, 0, 0, len(sketch), 0.0)
        )
    return spark.createDataFrame(rows, PARTIAL_SCHEMA)


def write_sketch_json(state_or_dict, path: str) -> None:
    """Write a sketch in the reference JSON format (pmg.py:532-534)."""
    sketch = state_or_dict.to_dict() if isinstance(state_or_dict, MGState) else state_or_dict
    with open(path, "w", encoding="utf8") as f:
        json.dump({str(key): int(cnt) for key, cnt in sketch.items()}, f)


def read_checkpoint(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """Read a partial-sketch parquet checkpoint (lineage + metrics rows)."""
    if not os.path.exists(os.path.join(checkpoint_dir, "_SUCCESS")):
        raise FileNotFoundError(f"no completed checkpoint at {checkpoint_dir}")
    return spark.read.parquet(checkpoint_dir)
