"""Mergeable-sketch framework: the one build -> merge -> fold skeleton for
every sketch family (Misra-Gries in mgspark/aggregate.py, HLL, Count-Min,
Bloom, t-digest, KLL).

PySpark exposes no Python UDAF ``merge()`` hook, so the partial/final
split is staged explicitly:

    Scan -> Project(sketch.project) -> mapInArrow(fold batches)      [stage 1]
      -> [optional parquet checkpoint of partials]
      -> groupBy(partition_id // _FANOUT).applyInPandas(merge)
           only while more than _FANOUT partial rows remain           [stage 2]
      -> collect <= _FANOUT rows -> driver fold in partition-id order

Stage 1 runs directly on the scan partitions (zero shuffles): each task
folds its Arrow batches into one O(sketch-size) state and emits a single
partial row, ``partition_id`` + the family's own fields + ``rows`` and
``wall_sec``.  Stage 2 shuffles only those rows, and the last <= _FANOUT
fold on the driver — the fold one more merge task would run, minus its
shuffle and Python-worker wave.  Every fold runs in ascending partition-id
(or salt) order, so order-sensitive merges reproduce bit-identically.
"""

from __future__ import annotations

import os
import time
from abc import ABC, abstractmethod
from typing import Any, Iterator

import numpy as np
import pandas as pd

from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

__all__ = ["MergeableSketch", "sketch_partials", "sketch_tree_merge", "sketch_agg", "sketch_agg_grouped", "splitmix64"]

# Partial rows one merge task (or the driver fold) takes at once.
_FANOUT = 64


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Deterministic 64-bit mixer (public-domain splitmix64 finalizer).

    Re-hashes int64 keys into uniform uint64 bits for register/bucket
    derivation — xxhash64 output alone is uniform, but families needing
    several independent hashes derive them from this mix.
    """
    z = x.astype(np.uint64, copy=True)
    z += np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


class MergeableSketch(ABC):
    """Kernel contract for a mergeable sketch family.

    ``merge`` must be associative and commutative (or order-insensitive
    within the family's published error bound).

    The default row codec and stage-1 fold serve payload families: the
    state round-trips through ``serialize`` / ``deserialize`` in one
    binary ``payload`` column, and each Arrow batch's single column feeds
    ``build``.  A family with typed partial columns (Misra-Gries)
    overrides ``fields``, ``to_row``, ``from_row``, ``project`` and
    ``fold_batch`` instead.
    """

    name: str = "sketch"
    fields: list[StructField] = [StructField("payload", BinaryType(), False)]

    @abstractmethod
    def zero(self) -> Any: ...

    @abstractmethod
    def merge(self, a: Any, b: Any) -> Any: ...

    def build(self, state: Any, values: pd.Series) -> Any:
        """Fold one Arrow-batch column into the state (vectorized)."""
        raise NotImplementedError

    def serialize(self, state: Any) -> bytes:
        raise NotImplementedError

    def deserialize(self, blob: bytes) -> Any:
        raise NotImplementedError

    @classmethod
    def partial_schema(cls) -> StructType:
        return StructType(
            [
                StructField("partition_id", LongType(), False),
                *cls.fields,
                StructField("rows", LongType(), False),
                StructField("wall_sec", DoubleType(), False),
            ]
        )

    def to_row(self, state: Any) -> dict[str, Any]:
        """The family's own partial-row fields for ``state``."""
        return {"payload": self.serialize(state)}

    def from_row(self, row) -> Any:
        """Inverse of :meth:`to_row`; ``row`` is a Spark Row or a dict."""
        return self.deserialize(bytes(row["payload"]))

    def project(self, df: DataFrame, col: str) -> DataFrame:
        """The columns stage 1 moves across the Arrow boundary."""
        return df.select(F.col(col).alias("_v"))

    def fold_batch(self, state: Any, batch) -> Any:
        """Fold one Arrow record batch of :meth:`project` columns."""
        return self.build(state, batch.column(0).to_pandas())


SKETCH_PARTIAL_SCHEMA = MergeableSketch.partial_schema()


def _partial_row(sketch, state, partition_id: int, rows: int, wall: float) -> dict[str, Any]:
    return {"partition_id": partition_id, **sketch.to_row(state), "rows": rows, "wall_sec": wall}


def _fold(sketch: MergeableSketch, rows, order_col: str = "partition_id") -> Any:
    """Merge partial rows into one state in ascending ``order_col`` order,
    which pins the result of order-sensitive merges across reruns."""
    state = sketch.zero()
    for row in sorted(rows, key=lambda r: r[order_col]):
        state = sketch.merge(state, sketch.from_row(row))
    return state


def sketch_partials(df: DataFrame, col: str, sketch: MergeableSketch) -> DataFrame:
    """Stage 1: one partial row per non-empty scan partition, no shuffle.

    Raw Arrow record batches go straight to ``sketch.fold_batch`` — no
    pandas block-manager construction in the hot path — and each task
    holds only one O(sketch-size) state.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = sketch.partial_schema()
    arrow_schema = to_arrow_schema(schema)

    def build(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        start = time.perf_counter()
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        state = sketch.zero()
        rows = 0
        for batch in batches:
            rows += batch.num_rows
            state = sketch.fold_batch(state, batch)
        if rows == 0:
            return
        row = _partial_row(sketch, state, pid, rows, time.perf_counter() - start)
        yield pa.RecordBatch.from_pylist([row], schema=arrow_schema)

    return sketch.project(df, col).mapInArrow(build, schema)


def _merge_round(partials: DataFrame, sketch: MergeableSketch) -> DataFrame:
    """One merge round: bucket by ``partition_id // _FANOUT`` and fold each
    bucket in one ``applyInPandas`` task; the bucket id becomes the
    (dense) partition id of the next round."""

    def merge_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        start = time.perf_counter()
        state = _fold(sketch, pdf.to_dict("records"))
        bucket = int(pdf["_bucket"].iloc[0])
        rows = int(pdf["rows"].sum())
        return pd.DataFrame([_partial_row(sketch, state, bucket, rows, time.perf_counter() - start)])

    return (
        partials.withColumn("_bucket", (F.col("partition_id") / _FANOUT).cast("long"))
        .groupBy("_bucket")
        .applyInPandas(merge_bucket, sketch.partial_schema())
    )


def _merge_to_fanout(partials: DataFrame, sketch: MergeableSketch, num_partials: int) -> DataFrame:
    """Distributed merge rounds while more than ``_FANOUT`` rows remain.

    Rounds are planned from ``num_partials``, an upper bound on
    max(partition_id)+1, so no counting job runs and stage 1 executes
    once.  Partial rows are O(sketch-size), so every round shuffles
    kilobytes regardless of input size.
    """
    remaining = max(int(num_partials), 1)
    while remaining > _FANOUT:
        partials = _merge_round(partials, sketch)
        remaining = -(-remaining // _FANOUT)
    return partials


def sketch_tree_merge(
    partials: DataFrame, sketch: MergeableSketch, num_partials: int | None = None
) -> DataFrame:
    """Stage 2 as a lazy DataFrame: merge rounds down to a single row.

    ``num_partials`` bounds max(partition_id)+1 (default: the partials'
    partition count, one stage-1 row per input partition at most).
    """
    if num_partials is None:
        num_partials = partials.rdd.getNumPartitions()
    return _merge_round(_merge_to_fanout(partials, sketch, num_partials), sketch)


def sketch_agg(
    df: DataFrame,
    col: str,
    sketch: MergeableSketch,
    checkpoint_dir: str | None = None,
) -> Any:
    """End-to-end: build, merge, and return the final state on the driver.

    The last <= ``_FANOUT`` partial rows fold on the driver in partition-id
    order, so an input of at most ``_FANOUT`` partitions runs one Spark job.
    ``checkpoint_dir`` persists the stage-1 partial rows (state +
    lineage/metrics) to parquet; a rerun resumes from them.
    """
    if checkpoint_dir is None:
        partials = sketch_partials(df, col, sketch)
        num_partials = partials.rdd.getNumPartitions()
    else:
        if not os.path.exists(os.path.join(checkpoint_dir, "_SUCCESS")):
            sketch_partials(df, col, sketch).write.mode("overwrite").parquet(checkpoint_dir)
        partials = df.sparkSession.read.parquet(checkpoint_dir)
        # Upper bound on max(partition_id)+1, not a row count: checkpointed
        # ids can be sparse (empty partitions emit no row) and count()
        # would under-plan the merge rounds.
        max_pid = partials.agg(F.max("partition_id").alias("m")).first()["m"]
        num_partials = (int(max_pid) + 1) if max_pid is not None else 0
    return _fold(sketch, _merge_to_fanout(partials, sketch, num_partials).collect())


def _group_merge(partials: DataFrame, group_col: str, order_col: str, sketch: MergeableSketch) -> DataFrame:
    """The per-group merge: fold each group's partial rows in ascending
    ``order_col`` (the salt) into one row with ``order_col`` = 0 and the
    partials' schema."""
    schema = partials.schema

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        state = _fold(sketch, pdf.to_dict("records"), order_col)
        row = {
            group_col: pdf[group_col].iloc[0],
            order_col: 0,
            **sketch.to_row(state),
            "rows": int(pdf["rows"].sum()),
            "wall_sec": 0.0,
        }
        return pd.DataFrame([{name: row[name] for name in schema.names}])

    return partials.groupBy(group_col).applyInPandas(merge_group, schema)


# Salt cells per group on the shuffle plan, and the group count up to
# which "auto" picks the map-side plan.
_NUM_SALTS = 16
_MAPSIDE_GROUP_CAP = 1024

GROUPED_PARTIAL_SCHEMA_SUFFIX = [
    StructField("_salt", LongType(), False),
    StructField("payload", BinaryType(), False),
    StructField("rows", LongType(), False),
]


def sketch_agg_grouped(
    df: DataFrame,
    group_col: str,
    value_col: str,
    sketch: MergeableSketch,
) -> DataFrame:
    """Per-group sketches as a distributed DataFrame: one serialized
    state per group value — the ``df.groupBy(g).agg(sketch(x))`` shape
    PySpark cannot express as a Python UDAF.

    One JVM-only ``approx_count_distinct`` probe on the group column
    picks one of two plans: map-side iff groups <= ``_MAPSIDE_GROUP_CAP``.

    * map-side — stage 1 is a ZERO-input-shuffle ``mapInPandas``
      over the scan partitions, each task folding a dict of per-group
      states (the map-side-combine shape of a hash aggregate); only
      O(partitions x groups x sketch-size) partial rows shuffle into
      the per-group merge.  Right whenever the distinct group count is
      modest (task memory holds groups x sketch-size).
    * shuffle — stage 1 shuffles rows by ``(group, salt)`` where
      the salt derives from the INPUT PARTITION id, so both a hot group
      and a hot identical value fan across up to ``_NUM_SALTS`` cells.
      (Splitting identical rows across cells is multiset-correct for
      every mergeable family — sketch(A ⊎ B) = merge(sketch(A),
      sketch(B)) — unlike the grouped MG path, whose pre-aggregated
      counts force equal rows into one bucket.)  Stage-1 shuffle volume
      is O(rows); it serves group cardinalities too high for the
      map-side dict.

    Stage 2 merges each group's partials in ascending ``_salt`` order —
    deterministic, so order-sensitive-within-bound families (t-digest,
    KLL) reproduce bit-identical results across reruns of the same
    input (same reason ``sketch_tree_merge`` sorts by partition_id).

    Output: (group_col, _salt=0, payload binary, rows long); map the
    family's ``estimate``/query over the payloads (e.g. HLL distinct
    per group).  Null group values form their own group, matching SQL
    GROUP BY.  Caveat: a NULLABLE int64 group column passes through
    pandas as float64 in the map-side fold and in estimator helpers, so
    group KEYS above 2^53 lose precision there — use string group keys
    (or drop nulls first) for snowflake-scale id groups.
    """
    group_type = df.schema[group_col].dataType
    partial_schema = StructType(
        [StructField(group_col, group_type, True), *GROUPED_PARTIAL_SCHEMA_SUFFIX]
    )
    projected = df.select(F.col(group_col), F.col(value_col).alias("_v"))

    n_groups = projected.agg(
        F.approx_count_distinct(group_col).alias("g")
    ).first()["g"]

    _NULL = object()  # sentinel: the SQL null group

    if n_groups <= _MAPSIDE_GROUP_CAP:

        def fold_partitions(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else 0
            states: dict[Any, Any] = {}
            counts: dict[Any, int] = {}
            for pdf in batches:
                null_mask = pdf[group_col].isna()
                for key, sub in pdf[~null_mask].groupby(group_col, sort=False):
                    states[key] = sketch.build(states.get(key, sketch.zero()), sub["_v"])
                    counts[key] = counts.get(key, 0) + len(sub)
                if null_mask.any():
                    sub = pdf[null_mask]
                    states[_NULL] = sketch.build(
                        states.get(_NULL, sketch.zero()), sub["_v"]
                    )
                    counts[_NULL] = counts.get(_NULL, 0) + len(sub)
            if not states:
                return
            yield pd.DataFrame(
                {
                    group_col: [None if k is _NULL else k for k in states],
                    "_salt": [pid] * len(states),
                    "payload": [sketch.serialize(s) for s in states.values()],
                    "rows": [counts[k] for k in states],
                }
            )

        partials = projected.mapInPandas(fold_partitions, partial_schema)
    else:
        salted = projected.withColumn(
            "_salt", F.pmod(F.spark_partition_id(), F.lit(_NUM_SALTS))
        )

        def fold(pdf: pd.DataFrame) -> pd.DataFrame:
            state = sketch.build(sketch.zero(), pdf["_v"])
            return pd.DataFrame(
                {
                    group_col: [pdf[group_col].iloc[0]],
                    "_salt": [int(pdf["_salt"].iloc[0])],
                    "payload": [sketch.serialize(state)],
                    "rows": [len(pdf)],
                }
            )

        partials = salted.groupBy(group_col, "_salt").applyInPandas(
            fold, partial_schema
        )

    return _group_merge(partials, group_col, "_salt", sketch)
