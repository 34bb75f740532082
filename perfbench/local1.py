"""Child process of the traced ``repo_tokens_highvocab`` run: the
zero-shuffle MG build over the same files on ``local[1]``.

Prints one JSON line ``{"zero_shuffle_s": <median seconds>}``.

    python3 perfbench/local1.py --root <checkout> --table <dir> --k 1024
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import prepare_env, start_spark, stop_jvm  # noqa: E402

REPS = 2


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--root", required=True)
    parser.add_argument("--table", required=True)
    parser.add_argument("--k", type=int, required=True)
    args = parser.parse_args()
    work = prepare_env(args.root)
    spark = start_spark("perfbench-local1", work, 1)
    try:
        from mgspark.aggregate import encode_tokens, mg_sketch
        from mgspark.tokenize import content_tokens

        def encoded(path):
            return encode_tokens(content_tokens(spark.read.parquet(path)), "token")

        mg_sketch(encoded(os.path.join(args.table, "part-000.parquet")), "key", args.k,
                  pre_aggregate=False)
        times = []
        for _ in range(REPS):
            df = encoded(args.table)
            start = time.perf_counter()
            mg_sketch(df, "key", args.k, pre_aggregate=False)
            times.append(time.perf_counter() - start)
    finally:
        stop_jvm()
    print(json.dumps({"zero_shuffle_s": statistics.median(times)}))


if __name__ == "__main__":
    main()
