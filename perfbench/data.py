"""Seeded input generators, cached on disk inside the checkout.

Every generator is a pure function of its arguments (seed, size), writes
once under ``.perfbench_data/`` and returns the cached copy afterwards,
so generation never runs inside a timed call and reruns with the same
seed read identical files.  A directory is complete only once its
``_DONE`` marker exists; a killed run leaves no half-written input that
a later run would trust.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DATA_DIRNAME = ".perfbench_data"

# repo_tokens_highvocab: 2^17 candidate words drawn Zipf(1.1), so a run's
# ~2M tokens hold tens of thousands of distinct tokens -- far above k=1024,
# which makes Misra-Gries decrement (the paper's operator, not an exact
# group-by in disguise).
REPO_VOCAB = 1 << 17
REPO_ZIPF_S = 1.1
REPO_ROWS = 40_000
REPO_FILES = 16

# sf_queries: one fixed table set (seed pinned; the workload seed only
# shuffles query order).  Sizes follow the sf0.1 shape of the TPC-H-ish
# test tables; cardinalities keep every oracle-checked MG query exact
# (user_id < 512 = that query's k, 31-word document vocabulary < 256).
SF_SEED = 42
SF_ROWS = {"customer": 15_000, "orders": 150_000, "lineitem": 600_000,
           "events": 100_000, "documents": 5_000}
SF_USERS = 500
DOC_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def data_root(root: str) -> str:
    return os.path.join(root, DATA_DIRNAME)


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _mark_done(path: str, meta: dict) -> None:
    with open(os.path.join(path, "_DONE"), "w", encoding="utf8") as f:
        json.dump(meta, f)


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def zipf_ids(rng: np.random.Generator, n: int, universe: int, s: float) -> np.ndarray:
    """``n`` ranks in ``[0, universe)`` with P(rank r) proportional to (r+1)^-s."""
    cdf = np.cumsum(np.arange(1, universe + 1, dtype=np.float64) ** -s)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(n), side="right"), universe - 1)


def repo_vocab() -> np.ndarray:
    """The fixed candidate word list; the seed decides which are heavy."""
    return np.array([f"w{i:05x}" for i in range(REPO_VOCAB)], dtype=object)


class RepoInput:
    """A generated repo table plus its exact token counts.

    ``word_counts[i]`` is the true count of ``repo_vocab()[i]`` in
    ``content``; ``n_tokens`` their sum; ``token_word_ids.npy`` holds the
    token stream itself in scan order.  All come from the generator's
    own draws, not from the engine under test.
    """

    def __init__(self, path: str):
        self.path = path
        self.table = os.path.join(path, "table")
        self.word_counts = np.load(os.path.join(path, "word_counts.npy"))
        with open(os.path.join(path, "_DONE"), encoding="utf8") as f:
            meta = json.load(f)
        self.n_tokens = int(meta["n_tokens"])
        self.distinct = int(meta["distinct"])
        self.rows = int(meta["rows"])


def repo_table(root: str, seed: int) -> RepoInput:
    """Repo-shaped ``(repo, path, commit, lang, content)`` table for ``seed``."""
    rows = REPO_ROWS
    path = os.path.join(data_root(root), f"repo_s{seed}_r{rows}")
    if _done(path):
        return RepoInput(path)
    _fresh_dir(path)
    table_dir = os.path.join(path, "table")
    os.makedirs(table_dir)
    rng = np.random.default_rng([seed, 1])
    vocab = repo_vocab()
    heavy_order = rng.permutation(REPO_VOCAB)  # rank -> word id
    lengths = rng.integers(20, 81, size=rows)
    word_ids = heavy_order[zipf_ids(rng, int(lengths.sum()), REPO_VOCAB, REPO_ZIPF_S)]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    words = vocab[word_ids]
    content = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(rows)]
    exts = np.array(["py", "rs", "go", "js", "java", "c", "md", "txt"])
    langs = np.array(["Python", "Rust", "Go", "JavaScript", "Java", "C", "Markdown", "Text"])
    ext_idx = rng.integers(0, len(exts), size=rows)
    repo_idx = zipf_ids(rng, rows, max(4, rows // 50), 1.3)
    frame = pd.DataFrame({
        "repo": [f"org{r % 37}/repo{r}" for r in repo_idx],
        "path": [f"src/d{i % 97}/f{i}.{exts[e]}" for i, e in enumerate(ext_idx)],
        "commit": [f"{v:016x}" for v in rng.integers(0, 1 << 62, size=rows)],
        "lang": langs[ext_idx],
        "content": content,
    })
    chunk = -(-rows // REPO_FILES)
    for i in range(REPO_FILES):
        part = frame.iloc[i * chunk:(i + 1) * chunk]
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       os.path.join(table_dir, f"part-{i:03d}.parquet"))
    counts = np.bincount(word_ids, minlength=REPO_VOCAB).astype(np.int64)
    np.save(os.path.join(path, "word_counts.npy"), counts)
    np.save(os.path.join(path, "token_word_ids.npy"), word_ids.astype(np.int32))
    _mark_done(path, {"seed": seed, "rows": rows, "n_tokens": int(counts.sum()),
                      "distinct": int((counts > 0).sum())})
    return RepoInput(path)


def _ts(rng: np.random.Generator, start: datetime, span_days: int, n: int, unit: str):
    if unit == "D":
        offsets = rng.integers(0, span_days, size=n).astype("timedelta64[D]")
    else:
        offsets = (rng.random(n) * span_days * 86_400e6).astype("timedelta64[us]")
    return (np.datetime64(start, "us") + offsets).astype("datetime64[us]")


def sf_tables(root: str) -> str:
    """The fixed TPC-H-ish tables the declared MG and sketch queries read."""
    path = os.path.join(data_root(root), f"sf_s{SF_SEED}")
    if _done(path):
        return path
    _fresh_dir(path)
    rng = np.random.default_rng(SF_SEED)
    n = SF_ROWS
    customer = pd.DataFrame({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, size=n["customer"]).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n["customer"]),
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], size=n["orders"]).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n["orders"]), 2),
        "o_orderdate": _ts(rng, datetime(1995, 1, 1), 2400, n["orders"], "D"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n["orders"]),
    })
    nl = n["lineitem"]
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, n["orders"], size=nl).astype(np.int64),
        "l_partkey": rng.integers(0, 20_000, size=nl).astype(np.int64),
        "l_suppkey": rng.integers(0, 1_000, size=nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, size=nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, size=nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, size=nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, size=nl) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(rng, datetime(1995, 1, 2), 2500, nl, "D"),
    })
    ne = n["events"]
    events = pd.DataFrame({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.sort(_ts(rng, datetime(2024, 1, 1), 30, ne, "us")),
        "user_id": rng.integers(0, SF_USERS, size=ne).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], ne),
        "value": np.round(rng.uniform(0.01, 490.0, ne), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, size=ne)],
    })
    nd = n["documents"]
    vocab = np.array(DOC_VOCAB, dtype=object)
    lengths = rng.integers(10, 100, size=nd)
    ids = zipf_ids(rng, int(lengths.sum()), len(DOC_VOCAB), 0.8)
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    text = [" ".join(vocab[ids[bounds[i]:bounds[i + 1]]]) for i in range(nd)]
    documents = pd.DataFrame({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": text,
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], nd, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })
    for name, frame in (("customer", customer), ("orders", orders), ("lineitem", lineitem),
                        ("events", events), ("documents", documents)):
        pq.write_table(pa.Table.from_pandas(frame, preserve_index=False),
                       os.path.join(path, f"{name}.parquet"))
    _mark_done(path, {"seed": SF_SEED, "rows": n})
    return path


def dp_stream(seed: int, n: int, universe: int) -> tuple[np.ndarray, np.ndarray]:
    """Pre-aggregated ``(key, weight)`` pairs of a seeded Zipf(1.1) stream."""
    rng = np.random.default_rng([seed, 3])
    keys = zipf_ids(rng, n, universe, 1.1).astype(np.int64)
    uniq, weights = np.unique(keys, return_counts=True)
    return uniq, weights.astype(np.int64)


def main() -> None:
    """``python3 perfbench/data.py <workload> <seed>``: generate the on-disk
    inputs of one run under the current directory, or find them cached.

    The benchmark runs this as a child process, so that its own peak
    memory does not depend on whether the inputs were already cached.
    """
    workload, seed = sys.argv[1], int(sys.argv[2])
    if workload == "repo_tokens_highvocab":
        repo_table(os.getcwd(), seed)
    elif workload == "sf_queries":
        sf_tables(os.getcwd())


if __name__ == "__main__":
    main()
