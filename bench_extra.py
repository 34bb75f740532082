#!/usr/bin/env python3
"""Per-query timer: times each declared query (collect() on a fresh
plan, transient caches cleared before every repetition) and reports

* the median and quartiles of the ``--repeats`` wall-time samples;
* the number of Spark jobs the query launched (sequential job waves are
  the dominant cost at small SF — every .first()/.count()/toPandas() is
  a full scheduler round-trip);
* the physical plan (explain "formatted"), written to plans/r06/ when
  --plans is given.

Usage:
    python bench_extra.py q1 q2 ...      # time the named queries
    python bench_extra.py --all          # every query in __spark_entry__.queries()
    python bench_extra.py --repeats 5 q1 # median and quartiles of 5 samples
    python bench_extra.py --plans q1 ... # also dump plans/r06/<q>_<tag>.txt
    python bench_extra.py --tag after --plans q1

One JSON line is printed per query as soon as it finishes, so an
interrupted run keeps every finished row.  The benchmark of record is
``perfbench/run.py``; this is the manual tool for a single query.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
# Small file splits, as in the runs that produced plans/r06/.
SPLIT_CONF = {"spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
              "spark.sql.files.openCostInBytes": str(512 * 1024)}


def _jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _plan_str(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def _summary(samples: list[float]) -> dict:
    q1, median, q3 = (
        statistics.quantiles(samples, n=4, method="inclusive")
        if len(samples) > 1 else samples * 3
    )
    return {"median_s": round(median, 4), "q1_s": round(q1, 4),
            "q3_s": round(q3, 4), "n": len(samples)}


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="Time declared queries one by one.")
    ap.add_argument("names", nargs="*", help="declared query names")
    ap.add_argument("--all", action="store_true", help="time every declared query")
    ap.add_argument("--repeats", type=int, default=1)
    ap.add_argument("--plans", action="store_true", help="dump explain(formatted)")
    ap.add_argument("--tag", default="before", help="plan file suffix")
    args = ap.parse_args(argv)
    if args.repeats < 1:
        ap.error("--repeats must be at least 1")

    from mgspark.aggregate import mg_sketch
    from mgspark.cacheutil import clear_transient_caches
    from mgspark.pipeline.similarity import clear_index_cache
    from mgspark.session import get_spark

    import __spark_entry__ as entrymod

    qmap = entrymod.queries()
    names = list(qmap) if args.all else args.names
    unknown = [n for n in names if n not in qmap]
    if unknown:
        ap.error(f"not declared in __spark_entry__.queries(): {unknown}")
    spark = get_spark("mgspark-bench-extra", cores=CPUS, extra_conf=SPLIT_CONF)
    # Warm up: boot one Python worker per core through mgspark's stage-1 build.
    keys = spark.range(0, 4096, numPartitions=CPUS).withColumnRenamed("id", "key")
    mg_sketch(keys, "key", 16, pre_aggregate=False)

    plans_dir = os.path.join(REPO, "plans", "r06")
    medians = []
    for name in names:
        samples = []
        for i in range(args.repeats):
            clear_index_cache()
            clear_transient_caches()
            group = f"bench_extra:{name}:{i}"
            spark.sparkContext.setJobGroup(group, name)
            t0 = time.perf_counter()
            qmap[name](spark, SF_DIR).collect()
            samples.append(time.perf_counter() - t0)
            jobs = _jobs_in_group(spark, group)
            spark.sparkContext.setJobGroup("", "")
        row = {**_summary(samples), "jobs": jobs,
               "samples": [round(s, 4) for s in samples]}
        medians.append(row["median_s"])
        if args.plans:
            clear_transient_caches()
            os.makedirs(plans_dir, exist_ok=True)
            try:
                plan = _plan_str(qmap[name](spark, SF_DIR))
            except Exception as e:  # queries that drive their own actions
                plan = f"(plan capture failed: {e})\n"
            with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(plan)
        print(json.dumps({name: row}), flush=True)

    print(json.dumps({"total_median_s": round(sum(medians), 3), "queries": len(medians)}))


if __name__ == "__main__":
    main()
