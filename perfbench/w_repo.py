"""Workload ``repo_tokens_highvocab``: throughput-bound MG over code tokens.

A seeded repo-shaped table whose ``content`` draws from a Zipf vocabulary
with far more distinct tokens than k=1024, so the stage-1 fold really
decrements.  Each pass runs, on fresh DataFrames with caches cleared:

* ``mg_sketch(pre_aggregate=False)`` -- the zero-shuffle path;
* ``mg_sketch(pre_aggregate=True)`` -- the combiner path;
* the call a user makes: ``mg_sketch_with_tokens`` with the default
  ``pre_aggregate="auto"``, ``dp.privatize_merged`` and exemplar decode.

The JVM scan and encode, the Arrow pipe and the stage-1 fold do most of
the work.  The auto probe's distinct/rows ratio is about 0.15 here (near
0 on ``sf_queries``), under its 0.5 cut, so ``"auto"`` takes the
combiner; the two forced paths show whether that choice is the faster
one.  The traced run also times the ``dp`` release grid
(``dp_grid.py``) for the per-layer ``dp.*`` metrics.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

import numpy as np

import data
import dp_grid
from common import Tracer, spark_setup

K = 1024
EPSILON = 1.0
DELTA = 1e-6
BATCH = 262_144  # spark.sql.execution.arrow.maxRecordsPerBatch in session.get_spark
DP_PASSES = 3  # release-grid passes in the traced run


# Spark's xxhash64 (standard XXH64, seed 42), re-implemented here so that
# the expected keys do not come from the engine under test.
XXH_SEED = 42
HASH_MASK = (1 << 62) - 1  # as encode_tokens masks the hash
P1, P2, P3, P4, P5 = (np.uint64(p) for p in (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5))


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _xxh64_short(buf: np.ndarray) -> np.ndarray:
    """XXH64 of each row of an (n, L) uint8 array, L < 32."""
    n, length = buf.shape
    if length >= 32:
        raise ValueError("only inputs shorter than 32 bytes are supported")
    with np.errstate(over="ignore"):
        h = np.full(n, np.uint64(XXH_SEED) + P5 + np.uint64(length), dtype=np.uint64)
        pos = 0
        while pos + 8 <= length:
            lane = np.ascontiguousarray(buf[:, pos:pos + 8]).view("<u8").ravel()
            h ^= _rotl(lane * P2, 31) * P1
            h = _rotl(h, 27) * P1 + P4
            pos += 8
        if pos + 4 <= length:
            lane = np.ascontiguousarray(buf[:, pos:pos + 4]).view("<u4").ravel()
            h ^= lane.astype(np.uint64) * P1
            h = _rotl(h, 23) * P2 + P3
            pos += 4
        for i in range(pos, length):
            h ^= buf[:, i].astype(np.uint64) * P5
            h = _rotl(h, 11) * P1
        h ^= h >> np.uint64(33)
        h *= P2
        h ^= h >> np.uint64(29)
        h *= P3
        h ^= h >> np.uint64(32)
    return h


def word_keys() -> np.ndarray:
    """int64 MG key of every candidate word: ``xxhash64(word) & HASH_MASK``
    as ``aggregate.encode_tokens`` defines it, computed independently."""
    words = [w.encode("utf8") for w in data.repo_vocab()]
    keys = np.empty(len(words), dtype=np.int64)
    by_length: dict[int, list[int]] = {}
    for i, w in enumerate(words):
        by_length.setdefault(len(w), []).append(i)
    for length, idx in by_length.items():
        buf = np.frombuffer(b"".join(words[i] for i in idx), dtype=np.uint8).reshape(-1, length)
        keys[idx] = (_xxh64_short(buf) & np.uint64(HASH_MASK)).astype(np.int64)
    return keys


def bound_problems(state, true_of: dict, heavy: dict, n_tokens: int, k: int) -> list[str]:
    """The Misra-Gries guarantee ``true - N/(k+1) <= est <= true`` for every
    key (absent keys estimate 0) and ``N`` itself."""
    problems = []
    slack = n_tokens // (k + 1)
    if state.n != n_tokens:
        problems.append(f"N={state.n} != {n_tokens}")
    if len(state.keys) > k:
        problems.append(f"{len(state.keys)} keys > k")
    est = dict(zip(state.keys.tolist(), state.counters.tolist()))
    for key, value in est.items():
        true = true_of.get(key, 0)
        if not true - slack <= value <= true:
            problems.append(f"key {key}: est {value} outside [{true - slack}, {true}]")
    for key, true in heavy.items():
        if key not in est and true > slack:
            problems.append(f"heavy key {key} (true {true}) missing")
    return problems


class RepoWorkload:
    name = "repo_tokens_highvocab"
    traced_passes = 2

    def __init__(self, root: str, work: str, seed: int, cores: int):
        self.root, self.work, self.seed, self.cores = root, work, seed, cores
        self.inp = data.repo_table(root, seed)
        self.spark = None
        self.rng_seq = 0
        # Exact counts, keyed the way encode_tokens keys tokens.
        keys = word_keys()
        counts = self.inp.word_counts
        present = np.flatnonzero(counts)
        self.true_of = dict(zip(keys[present].tolist(), counts[present].tolist()))
        self.word_of_key = dict(zip(keys.tolist(), data.repo_vocab().tolist()))
        heavy = counts > self.inp.n_tokens // (K + 1)
        self.heavy = dict(zip(keys[heavy].tolist(), counts[heavy].tolist()))

    # -- session ---------------------------------------------------------
    def start(self, event_log_dir: str | None = None) -> tuple[float, float]:
        self.spark, get_spark_s, warmup_s = spark_setup(
            "perfbench-repo", self.work, self.cores, event_log_dir)
        return get_spark_s, warmup_s

    def _encoded(self):
        from mgspark.aggregate import encode_tokens
        from mgspark.tokenize import content_tokens

        df = self.spark.read.parquet(self.inp.table)
        return encode_tokens(content_tokens(df), "token")

    # -- one pass ----------------------------------------------------------
    def run_pass(self, ops, tracer: Tracer, clear) -> dict[str, float]:
        from mgspark import dp
        from mgspark.aggregate import mg_sketch, mg_sketch_with_tokens

        out = {}
        for label, pre in (("zero_shuffle", False), ("combiner", True)):
            clear()
            encoded = self._encoded()
            with tracer.span(f"aggregate.mg_sketch[{label}]"):
                state, secs = ops.run(label, lambda: mg_sketch(encoded, "key", K, pre_aggregate=pre))
            if state is not None:
                ops.check(label, bound_problems(state, self.true_of, self.heavy,
                                                self.inp.n_tokens, K))
                out[label + "_s"] = secs

        clear()
        encoded = self._encoded()
        self.rng_seq += 1
        rng = np.random.default_rng([self.seed, 7, self.rng_seq])

        def default_call():
            with tracer.span("aggregate.mg_sketch_with_tokens[auto]"):
                state, exemplars = mg_sketch_with_tokens(encoded, "key", K, "token")
            with tracer.span(f"dp.privatize_merged.k{K}"):
                released = dp.privatize_merged(state.to_dict(), K, EPSILON, DELTA, rng=rng)
            with tracer.span("aggregate.exemplar_decode"):
                tokens = {key: exemplars.get(key) for key in released}
            return state, released, tokens

        result, secs = ops.run("default_release", default_call)
        if result is not None:
            state, released, tokens = result
            problems = bound_problems(state, self.true_of, self.heavy, self.inp.n_tokens, K)
            keys = set(state.keys.tolist())
            problems += [f"released key {key} not in sketch" for key in released if key not in keys]
            problems += [f"key {key} decoded to {tok!r}" for key, tok in tokens.items()
                         if tok is None or self.word_of_key.get(key) != tok]
            ops.check("default_release", problems)
            out["default_release_s"] = secs
        if len(out) == 3:
            out["pass_s"] = sum(out.values())
        return out

    # -- traced-run layer probes ---------------------------------------------
    def layer_probes(self, ops, tracer: Tracer, clear) -> dict[str, float]:
        from pyspark.sql import functions as F

        from mgspark.aggregate import mg_partials
        from mgspark.kernel import MGState, mg_build_weighted, mg_merge

        out = {}
        clear()
        encoded = self._encoded()
        with tracer.span("tokenize.scan_encode") as sp:
            encoded.agg(F.count("key"), F.max("key")).collect()
        out["tokenize.scan_encode_s"] = sp["end"] - sp["start"]

        clear()
        encoded = self._encoded()
        with tracer.span("aggregate.mg_partials") as sp:
            rows = mg_partials(encoded, "key", K).collect()
        out["aggregate.mg_partials_s"] = sp["end"] - sp["start"]
        out["aggregate.stage1_partials"] = float(len(rows))
        for field, metric in (("rows", "rows_skew"), ("wall_sec", "wall_skew")):
            vals = np.array([float(r[field]) for r in rows])
            out[f"aggregate.stage1_{metric}"] = float(vals.max() / np.median(vals)) if len(vals) else 0.0

        with tracer.span("kernel.mg_merge") as sp:
            acc = MGState(k=K)
            for r in sorted(rows, key=lambda r: r["partition_id"]):
                acc = mg_merge(acc, MGState(k=K, keys=np.asarray(r["keys"], dtype=np.int64),
                                            counters=np.asarray(r["counters"], dtype=np.int64),
                                            n=int(r["n"]), d=int(r["d"])))
        out["kernel.mg_merge_s"] = sp["end"] - sp["start"]

        # The same keys replayed on the driver, one Arrow batch at a time.
        keys = word_keys()[np.load(
            os.path.join(self.inp.path, "token_word_ids.npy"))]
        ones = np.ones(BATCH, dtype=np.int64)
        with tracer.span("kernel.mg_build_weighted") as sp:
            state = MGState(k=K)
            for lo in range(0, len(keys), BATCH):
                chunk = keys[lo:lo + BATCH]
                state = mg_build_weighted(state, chunk, ones[:len(chunk)])
        out["kernel.mg_build_weighted_s"] = sp["end"] - sp["start"]

        # The dp layer alone, on the driver: the release grid, checked.
        grid = dp_grid.DpGrid(self.seed)
        passes = [grid.run_pass(ops, tracer) for _ in range(DP_PASSES)]
        for name in passes[0]:
            out[name] = statistics.median(p[name] for p in passes if name in p)
        out["dp.find_threshold_s"] = grid.find_threshold_s()
        return out

    def scaling(self, zero_shuffle_s: float) -> dict[str, float]:
        """Zero-shuffle tokens/s at local[cores] over cores x local[1],
        the local[1] side measured now in a child process over the same
        files."""
        cmd = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                            "local1.py"),
               "--root", self.root, "--table", self.inp.table, "--k", str(K)]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=150, check=True)
        one_core_s = json.loads(proc.stdout.strip().splitlines()[-1])["zero_shuffle_s"]
        eff = (self.inp.n_tokens / zero_shuffle_s) / (self.cores * self.inp.n_tokens / one_core_s)
        return {"scaling_eff_1v4": eff, "scaling.local1_zero_shuffle_s": one_core_s}

    def report(self, samples: dict[str, list[float]]) -> list[tuple[str, str, list[float]]]:
        n = self.inp.n_tokens
        return [
            ("mg_zero_shuffle_tokens_per_s", "tokens/s", [n / s for s in samples.get("zero_shuffle_s", [])]),
            ("mg_combiner_tokens_per_s", "tokens/s", [n / s for s in samples.get("combiner_s", [])]),
            ("mg_default_release_s", "s", samples.get("default_release_s", [])),
        ]

    def describe(self) -> str:
        return (f"{self.inp.rows} rows, {self.inp.n_tokens} tokens, {self.inp.distinct} distinct "
                f"tokens, k={K}, local[{self.cores}]")
