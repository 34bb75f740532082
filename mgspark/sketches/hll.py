"""HyperLogLog distinct-count sketch as a mergeable UDAF kernel.

Dense 2^p uint8 register array (Flajolet et al. 2007 public algorithm);
merge = element-wise max (associative + commutative, exact mergeability).
Input contract: an int64 *hashed key* column (use
``aggregate.encode_tokens`` so hashing stays JVM-side); registers are
derived from a splitmix64 re-mix of those keys.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from mgspark.sketches.base import MergeableSketch, splitmix64

__all__ = ["HLLSketch", "hll_distinct_grouped"]


def _floor_log2_u64(w: np.ndarray) -> np.ndarray:
    """Exact floor(log2(w)) for uint64 w > 0 (float rounding corrected)."""
    e = np.floor(np.log2(w.astype(np.float64))).astype(np.int64)
    # float64 rounding can overshoot by 1 near powers of two; fix exactly.
    over = (w >> e.astype(np.uint64)) == 0
    e[over] -= 1
    return e


class HLLSketch(MergeableSketch):
    name = "hll"

    def __init__(self, p: int = 14):
        if not 4 <= p <= 18:
            raise ValueError("p must be in [4, 18]")
        self.p = p
        self.m = 1 << p
        if self.m >= 128:
            self.alpha = 0.7213 / (1 + 1.079 / self.m)
        elif self.m >= 64:
            self.alpha = 0.709
        elif self.m >= 32:
            self.alpha = 0.697
        else:
            self.alpha = 0.673

    def zero(self) -> np.ndarray:
        return np.zeros(self.m, dtype=np.uint8)

    def build(self, state: np.ndarray, values: pd.Series) -> np.ndarray:
        keys = values.to_numpy(dtype=np.int64, na_value=0)
        if len(keys) == 0:
            return state
        h = splitmix64(keys)
        idx = (h >> np.uint64(64 - self.p)).astype(np.int64)
        w = h << np.uint64(self.p)  # remaining bits, top-aligned
        rho = np.empty(len(w), dtype=np.uint8)
        zero = w == 0
        rho[zero] = 64 - self.p + 1
        nz = ~zero
        rho[nz] = (63 - _floor_log2_u64(w[nz]) + 1).astype(np.uint8)
        np.maximum.at(state, idx, rho)
        return state

    def merge(self, a: np.ndarray, b: np.ndarray) -> np.ndarray:
        return np.maximum(a, b)

    def serialize(self, state: np.ndarray) -> bytes:
        return state.tobytes()

    def deserialize(self, blob: bytes) -> np.ndarray:
        return np.frombuffer(blob, dtype=np.uint8).copy()

    def estimate(self, state: np.ndarray) -> float:
        inv = np.ldexp(1.0, -state.astype(np.int64))
        raw = self.alpha * self.m * self.m / inv.sum()
        zeros = int((state == 0).sum())
        if raw <= 2.5 * self.m and zeros > 0:
            return self.m * math.log(self.m / zeros)  # linear counting
        return float(raw)


def hll_distinct_grouped(
    df, group_col: str, value_col: str, p: int = 14, mode: str = "auto",
):
    """Per-group distinct-count estimates: (group, n_distinct_est long).

    The ``groupBy(g).agg(approx_count_distinct)`` shape, but through the
    engine's own mergeable HLL
    (:func:`mgspark.sketches.base.sketch_agg_grouped`: zero-input-shuffle
    map-side combine for modest group counts, partition-salted shuffle
    otherwise — neither a hot group nor a hot value straggles).  ``value_col`` must be an int64 hashed/identifier
    column (the module's input contract).
    """
    from pyspark.sql.types import LongType, StructField, StructType

    from mgspark.sketches.base import sketch_agg_grouped

    sk = HLLSketch(p)
    payloads = sketch_agg_grouped(df, group_col, value_col, sk, mode=mode)
    schema = StructType(
        [
            StructField(group_col, df.schema[group_col].dataType, True),
            StructField("n_distinct_est", LongType(), False),
        ]
    )

    def estimate(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    group_col: pdf[group_col],
                    "n_distinct_est": [
                        int(round(sk.estimate(sk.deserialize(bytes(b)))))
                        for b in pdf["payload"]
                    ],
                }
            )

    return payloads.mapInPandas(estimate, schema)
