"""Benchmark entry point.

    python3 perfbench/run.py --workload campaign_256 --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The benchmark generates the
workload's inputs from ``--seed`` under ``.perfbench_work/``, starts one
Spark session on ``local[<cores>]``, runs the untimed first pass (part
of set-up), then untraced passes until ``--seconds`` have elapsed, and
checks the outputs. With ``--trace 1`` it adds one traced pass and
reports per-layer metrics instead of end-to-end ones.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

import spans  # noqa: E402
import stats  # noqa: E402
import status  # noqa: E402

PACKAGE = "telescope_data_pipeline_spark"
# The driver JVM's heap is fixed and touched up front, so its resident size
# does not follow GC sizing heuristics (which grow the heap when the host is
# busy): peak_mb then moves with off-heap, metaspace and Python memory, and
# not with heap use (cached blocks included), which shows as GC time in
# wall_s instead. The CLI's own default heap is 8g.
HEAP = "2g"

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "peak_mb": "MB"}
STAGE_SPANS = [
    "sources.fits.scan", "operators.images.fwhm", "operators.images.detect",
    "operators.images.shifts", "operators.images.stack",
    "plans.pipeline.stacked_detect", "operators.photometry.psf_select",
    "operators.photometry.fit", "operators.external.wcs",
    "sources.sinks.csv", "sources.fits.write", "sources.pdf.write",
    "sources.sinks.txt",
]


class MemorySampler(threading.Thread):
    """Peak proportional set size (PSS: resident memory, with pages shared
    between processes split among them) of this process and all its
    descendants (the Spark JVM and its Python workers), sampled from
    /proc."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval, self.peak = interval, 0
        self._stop_evt = threading.Event()

    def _tree_pss(self) -> int:
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as f:
                        parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier += kids
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, self._tree_pss())
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak / 2**20


def _start_spark(work: Path, cores: int):
    from telescope_data_pipeline_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                          f"-Xms{HEAP} -XX:+AlwaysPreTouch"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    })


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _collect_garbage(spark) -> None:
    """Start each timed pass from a collected heap on both sides."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _layer_metrics(wl, spark, untraced_wall: float,
                   cores: int) -> tuple[dict[str, float], spans.Tracer]:
    """One traced pass; returns the per-layer metrics and the tracer."""
    reader = status.StatusReader(spark)
    tracer = spans.Tracer(set_group=lambda g: spark.sparkContext.setLocalProperty(
        "spark.jobGroup.id", g))
    mark = reader.execution_mark()
    _collect_garbage(spark)
    extra = wl.traced_pass(spark, tracer)
    root = tracer.spans[0]
    m: dict[str, float] = {}
    m["queries.build_s"] = tracer.total("queries.build")
    m["queries.plan_s"] = tracer.total("queries.plan")
    m["queries.exec_s"] = tracer.total("queries.exec")
    build = reader.job_counts(tracer.groups("queries.build"))
    if build:
        m["queries.build_jobs"] = build["spark.jobs"]
    for name in STAGE_SPANS:
        m[f"{name}_s"] = tracer.total(name)
    m["sources.sinks.bytes_written_mb"] = 0.0
    m.update(extra)
    m.update(reader.job_counts(tracer.groups()))
    m.update(reader.python_metrics(mark))
    if "spark.executor_run_s" in m:
        m["spark.busy_frac"] = m["spark.executor_run_s"] / (cores * root.duration)
    m["trace.wall_s"] = root.duration
    m["trace.overhead_s"] = root.duration - untraced_wall
    m["trace.unattributed_s"] = tracer.self_time(0)
    return m, tracer


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


def run(args, wl) -> int:
    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    env = {"PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
           "SPARK_GRAFT_CPUS": str(cores),
           "SPARK_LOCAL_DIRS": str(work / "spark-local"),
           "SPARK_GRAFT_DRIVER_MEM": HEAP,
           "TMPDIR": str(work / "tmp")}
    os.environ.update(env)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    spark = None
    try:
        wl.prepare(str(work), args.seed)
        attempted = failed = 0

        sampler = MemorySampler()
        sampler.start()
        t0 = time.perf_counter()
        spark = _start_spark(work, cores)
        session_s = time.perf_counter() - t0
        first = wl.setup_pass(spark)
        setup_s = time.perf_counter() - t0
        attempted, failed = first.attempted, first.failed

        walls, ops = [], []
        t_start = time.perf_counter()
        while True:
            wl.before_pass(spark)
            _collect_garbage(spark)
            t = time.perf_counter()
            res = wl.run_pass(spark)
            wall = time.perf_counter() - t
            attempted += res.attempted
            failed += res.failed
            ops += res.op_times
            if not res.failed:
                walls.append(wall)
            if time.perf_counter() - t_start >= args.seconds:
                break
        if not walls:
            print("perfbench: no pass completed", file=sys.stderr)
            return 1
        wall_s = statistics.median(walls)

        layers = None
        if args.trace:
            layers, tracer = _layer_metrics(wl, spark, wall_s, cores)
            layers["session.start_s"] = session_s
        peak_mb = sampler.stop()

        results = wl.checks(spark)
        attempted += len(results)
        failed += sum(not ok for _, ok in results)
        for name, ok in results:
            if not ok:
                print(f"perfbench: check failed: {name}", file=sys.stderr)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    tail = stats.tail_percentile(len(ops))
    print(f"# workload {args.workload} seed {args.seed}: {len(walls)} timed passes "
          f"({' '.join(f'{w:.3f}' for w in walls)} s), {len(results)} checks, "
          f"failed_frac {failed / attempted:.4f}, {wl.items / wall_s:.4g} "
          f"{wl.item_name} per second")
    print(f"# operation time: {len(ops)} samples, p50 {stats.percentile(ops, 50):.3f} s"
          + (f", p{tail} {stats.percentile(ops, tail):.3f} s" if tail else
             " (too few samples for a tail percentile with >=10 beyond it)"))
    if layers is not None:
        metrics = {k: {"value": float(v), "unit": _unit(k)} for k, v in layers.items()}
        for i, s in enumerate(tracer.spans):
            depth, p = 0, s.parent
            while p is not None:
                depth, p = depth + 1, tracer.spans[p].parent
            print(f"#   {'  ' * depth}{s.name}: {s.duration:.3f} s "
                  f"(self {tracer.self_time(i):.3f} s)")
    else:
        values = {"setup_s": setup_s, "wall_s": wall_s, "peak_mb": peak_mb}
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
    for k, v in metrics.items():
        print(f"# {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: {PACKAGE}/ not found next to {HERE.name}/; "
              "run from a source checkout", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    return run(args, WORKLOADS[args.workload]())


if __name__ == "__main__":
    sys.exit(main())
