"""Benchmark for gtfsrt2lc_spark, one workload per invocation.

    python3 perfbench/run.py --workload pages-clean --seed 1 --seconds 10 --trace 0

Run from the root of a checkout: it builds nothing, imports the engine from
the checkout, and reads and writes only under ``.perfbench/`` there (inputs
cached by workload and seed, per-run scratch, Spark's local dirs, traces).
The session is the stock ``get_spark`` at local[N], N = the cores in this
process's affinity mask.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value and unit). ``--trace 0`` reports
the workload's end-to-end metrics; ``--trace 1`` is a separate run that
records spans around every call into the engine, reports the per-layer
metrics, and writes the spans to ``.perfbench/trace-<workload>-<seed>.json``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("pages-clean", "pages-dirty", "gtfs-poll", "leaf-queries")

def _setup_env(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python into the
    checkout, before the JVM starts."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # UsePerfData off: HotSpot would otherwise write /tmp/hsperfdata_<user>
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _listed_layer_metrics() -> dict[str, str]:
    """name -> unit of the per-layer metrics in BENCHMARK.json."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    except (OSError, ValueError, KeyError):
        return {}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in (os.path.join("gtfsrt2lc_spark", "__init__.py"), "__spark_entry__.py", "bench.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"error: no {need} under {ROOT}", file=sys.stderr)
            return 2

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from common import Ctx, process_start_monotonic

    work = os.path.join(ROOT, ".perfbench")
    _setup_env(work)
    ctx = Ctx(
        work=work,
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        # the core budget is the affinity mask this process runs with (bench.py
        # pins itself to its budget the same way); the JVM and its Python
        # workers inherit the mask
        cpus=len(os.sched_getaffinity(0)),
        t_start=process_start_monotonic(),
    )
    os.makedirs(ctx.cache, exist_ok=True)
    import gtfsrt2lc_spark.session  # noqa: F401  (pyspark import counts as set-up)

    if args.workload.startswith("pages-"):
        import wl_pages as wl
    elif args.workload == "gtfs-poll":
        import wl_gtfs as wl
    else:
        import wl_leaves as wl

    try:
        got = wl.run(ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(ctx.run_dir, ignore_errors=True)

    if ctx.trace:
        path = os.path.join(work, f"trace-{ctx.workload}-{ctx.seed}.json")
        ctx.tracer.write(path, f"{ctx.workload}-{ctx.seed}-{os.getpid()}")
        print(f"spans: {path}", file=sys.stderr)
    metrics = {name: {"value": value, "unit": unit} for name, (value, unit) in got.items()}
    if ctx.trace:
        # every traced run reports every listed per-layer metric; a layer
        # the workload does not reach reads 0
        for name, unit in _listed_layer_metrics().items():
            metrics.setdefault(name, {"value": 0.0, "unit": unit})
    for err in ctx.outcome.errors:
        print(f"check failed: {err}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": ctx.outcome.failed == 0,
                "attempted": ctx.outcome.attempted,
                "failed": ctx.outcome.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
