"""Runs the headline queries on seeded tables and on a reference set of
tables, and prints per query, side by side: output rows, Spark jobs, the
joins of the final plan, the DuckDB oracle verdict and the median time.

    python3 perfbench/compare_tables.py REFERENCE_SF_DIR --seeds 1 2

It shows whether the seeded sf0.01 tables of ``headline_sf0.01`` drive the
same plans as another set of tables of the same scale. Not part of a
benchmark run; generated tables go under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import os
import re
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import data  # noqa: E402
from workloads import HEADLINE  # noqa: E402

JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
         "BroadcastNestedLoopJoin", "CartesianProduct")


def measure(spark, reg, sf_dir: str, group: str, repeats: int = 4) -> dict[str, dict]:
    """One collected run (rows, plan, oracle) and ``repeats`` noop runs per
    query; the time is the median of the noop runs after the first."""
    from tests.oracle_utils import compare, run_oracle

    sc, out = spark.sparkContext, {}
    for name in HEADLINE:
        sc.setLocalProperty("spark.jobGroup.id", f"{group}-{name}")
        df = reg[name].fn(spark, sf_dir)
        pdf = df.toPandas()
        final = df._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
        joins = {j: n for j in JOINS if (n := len(re.findall(rf"\b{j}\b", final)))}
        oracle = "-"
        if reg[name].oracle:
            oracle = "match" if not compare(pdf, run_oracle(reg[name].oracle, sf_dir)) else "MISMATCH"
        times = []
        for _ in range(repeats):
            t = time.perf_counter()
            reg[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t)
        jobs = len(sc.statusTracker().getJobIdsForGroup(f"{group}-{name}"))
        out[name] = {"rows": len(pdf), "jobs": jobs, "oracle": oracle,
                     "joins": ", ".join(f"{j} {n}" for j, n in joins.items()) or "-",
                     "s": statistics.median(times[1:])}
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("reference", help="directory with the ten reference parquet tables")
    p.add_argument("--seeds", type=int, nargs="+", default=[1])
    p.add_argument("--sf", type=float, default=0.01)
    args = p.parse_args()
    work = ROOT / ".perfbench_work" / f"compare-{os.getpid()}"
    dirs = {"reference": args.reference}
    for s in args.seeds:
        dirs[f"seed {s}"] = data.write_tables(str(work / f"seed{s}"), args.sf, s)

    from telescope_data_pipeline_spark.queries import all_queries
    from telescope_data_pipeline_spark.session import get_spark

    spark = get_spark("perfbench-compare", extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        reg = all_queries()
        # The first round warms the JVM; the second is reported.
        for rnd in range(2):
            res = {label: measure(spark, reg, d, f"{rnd}-{label}") for label, d in dirs.items()}
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    print("| query | " + " | ".join(f"{k} ({label})" for label in dirs
                                      for k in ("rows", "jobs", "s")) + " | final-plan joins | oracle |")
    print("|---" * (2 + 3 * len(dirs) + 1) + "|")
    for name in HEADLINE:
        cells = [f"{res[label][name][k]:.3f}" if k == "s" else str(res[label][name][k])
                 for label in dirs for k in ("rows", "jobs", "s")]
        joins = {res[label][name]["joins"] for label in dirs}
        oracle = {res[label][name]["oracle"] for label in dirs}
        print(f"| `{name}` | " + " | ".join(cells) + f" | {' / '.join(sorted(joins))} | "
              f"{' / '.join(sorted(oracle))} |")
    print("| total | " + " | ".join(
        f"{sum(res[label][n]['s'] for n in HEADLINE):.3f}" if k == "s" else
        str(sum(res[label][n][k] for n in HEADLINE)) for label in dirs
        for k in ("rows", "jobs", "s")) + " | | |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
