"""The release grid: the ``dp`` layer alone, on the driver, no Spark.

MG sketches are built with ``kernel.mg_build_weighted`` from a seeded
Zipf stream at k=64 and k=1024; a pass calls all eight release functions
of ``dp`` on both.  Every release gets a fresh (epsilon, delta) from a
seeded grid of nearby values, so each call pays a first release, as a
job does, while the work per pass stays the same from seed to seed.
Noise comes from a seeded generator.  The release cost grows steeply with
k (the pure-Python threshold search).  The traced
``repo_tokens_highvocab`` run times it for the per-layer ``dp.*``
metrics.
"""

from __future__ import annotations

import itertools
import time

import numpy as np

import data
from common import Tracer

KS = (64, 1024)
STREAM = 2_000_000
UNIVERSE = 1 << 20
EPSILON = 1.0
DELTA = 1e-6
USER_M = 4
GRID = 4096

APPROX = ("privatize_misra_gries", "privatize_merged", "privatize_user_level",
          "privatize_user_level_merged")
PURE = ("purely_privatize_misra_gries", "purely_privatize_merged",
        "purely_privatize_user_level", "purely_privatize_user_level_merged")
FUNCTIONS = APPROX + PURE


def threshold(fn: str, k: int, eps: float, delta: float) -> int:
    """The suppression threshold each approx-DP function applies."""
    import math

    from mgspark import dp

    if fn == "privatize_misra_gries":
        return dp.find_threshold(eps, delta, 1)
    if fn == "privatize_merged":
        return dp.find_threshold(eps, delta, k, k)
    scaled_eps, scaled_delta = eps / USER_M, delta / (USER_M * math.exp(eps))
    if fn == "privatize_user_level":
        return dp.find_threshold(scaled_eps, scaled_delta, 1)
    return dp.find_threshold(scaled_eps, scaled_delta, k, k)


class DpGrid:
    def __init__(self, seed: int):
        from mgspark.kernel import MGState, mg_build_weighted

        self.seed = seed
        keys, weights = data.dp_stream(seed, STREAM, UNIVERSE)
        self.params = itertools.cycle(np.random.default_rng([seed, 5]).permutation(GRID).tolist())
        self.calls = 0
        self.states = {k: mg_build_weighted(MGState(k=k), keys, weights) for k in KS}
        self.sketches = {k: s.to_dict() for k, s in self.states.items()}

    def _call(self, dp, fn: str, sketch: dict, k: int, eps: float, delta: float, rng):
        state = self.states[k]
        f = getattr(dp, fn)
        if fn == "privatize_misra_gries":
            return f(sketch, eps, delta, rng=rng)
        if fn == "privatize_merged":
            return f(sketch, k, eps, delta, rng=rng)
        if fn == "privatize_user_level":
            return f(sketch, eps, delta, USER_M, rng=rng)
        if fn == "privatize_user_level_merged":
            return f(sketch, k, eps, delta, USER_M, rng=rng)
        if fn == "purely_privatize_misra_gries":
            return f(sketch, k, eps, UNIVERSE, state.n, state.d, rng=rng)
        if fn == "purely_privatize_merged":
            return f(sketch, k, eps, UNIVERSE, rng=rng)
        if fn == "purely_privatize_user_level":
            return f(sketch, k, eps, UNIVERSE, state.n, state.d, USER_M, rng=rng)
        return f(sketch, k, eps, UNIVERSE, USER_M, rng=rng)

    def _fresh_params(self) -> tuple[float, float]:
        i = next(self.params)
        # The threshold search's cost grows as 1/epsilon, so the grid spans
        # only 0.4% of epsilon: every value is new, the work is not.
        return EPSILON * (1 + i / (1 << 20)), DELTA * (1 + (i % 64) / 4096)

    def run_pass(self, ops, tracer: Tracer) -> dict[str, float]:
        """Every release function once at each k, outputs checked; returns
        ``dp.<function>.k<k>_s`` and their sum, ``dp_release_pass_s``."""
        from mgspark import dp

        out = {}
        for k in KS:
            sketch = self.sketches[k]
            for fn in FUNCTIONS:
                eps, delta = self._fresh_params()
                self.calls += 1
                rng = np.random.default_rng([self.seed, 11, self.calls])
                name = f"dp.{fn}.k{k}"

                def call():
                    with tracer.span(name):
                        return self._call(dp, fn, sketch, k, eps, delta, rng)

                released, secs = ops.run(name, call)
                if released is None:
                    continue
                out[name + "_s"] = secs
                ops.check(name, self.problems(fn, k, sketch, released, eps, delta))
        if len(out) == len(KS) * len(FUNCTIONS):
            out["dp_release_pass_s"] = sum(out.values())
        return out

    def problems(self, fn, k, sketch, released, eps, delta) -> list[str]:
        if fn in APPROX:
            problems = [f"key {key} not in sketch" for key in released if key not in sketch]
            if released:
                t = threshold(fn, k, eps, delta)
                problems += [f"count {c} < threshold {t}" for c in released.values() if c < t]
            return problems
        problems = [f"key {key} outside [0, U)" for key in released if not 0 <= key < UNIVERSE]
        if len(released) > k:
            problems.append(f"{len(released)} keys > k={k}")
        return problems

    def find_threshold_s(self) -> float:
        """One threshold search at k=1024 with merged sensitivity."""
        from mgspark import dp

        eps, delta = self._fresh_params()
        start = time.perf_counter()
        dp.find_threshold(eps, delta, KS[-1], KS[-1])
        return time.perf_counter() - start
