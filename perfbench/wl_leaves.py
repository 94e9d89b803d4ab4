"""leaf-queries: the 28 ``bench.py`` leaves through ``__spark_entry__.queries()``.

One pass runs every leaf once (``.count()``, as ``bench.py`` times them), in
an order drawn from the seed; the data is fixed. A warm-up pass records each
leaf's row count, and every timed execution must reproduce it. The gtfs-poll
workload's traced run also times one pass (``leaf_layers``).
"""

from __future__ import annotations

import random
import time
import traceback

from common import Ctx, median, start_spark, stop_spark


class Leaves:
    def __init__(self, ctx: Ctx, spark) -> None:
        import __spark_entry__ as entry
        from bench import BENCH_QUERIES
        from gen_tables import tables_input

        t = time.monotonic()
        self.data = tables_input(ctx.cache)
        ctx.excluded_s += time.monotonic() - t
        self.ctx = ctx
        self.spark = spark
        self.qs = entry.queries()
        self.order = list(BENCH_QUERIES)
        random.Random(ctx.seed).shuffle(self.order)

    def one_pass(self, expected: dict | None) -> tuple[float, dict, dict]:
        """(pass wall, wall per leaf, rows per leaf); each leaf's rows are
        checked against ``expected`` when given."""
        ctx, tr = self.ctx, self.ctx.tracer
        walls, rows = {}, {}
        t_pass = time.monotonic()
        with tr.span("pass"):
            for name in self.order:
                t0 = time.monotonic()
                with tr.span(f"leaf.{name}"):
                    rows[name] = self.qs[name](self.spark, self.data).count()
                walls[name] = time.monotonic() - t0
                if expected is not None:
                    ctx.outcome.record(
                        rows[name] == expected[name],
                        f"{name}: {rows[name]} rows, warm-up {expected[name]}",
                    )
        return time.monotonic() - t_pass, walls, rows


def leaf_layers(ctx: Ctx, spark) -> dict:
    """Per-leaf walls of one pass on a session that other work has already
    warmed, so each wall is the leaf's first execution in it. A leaf that
    raises counts as failed."""
    lv = Leaves(ctx, spark)
    out = {}
    for name in lv.order:
        t0 = time.monotonic()
        try:
            with ctx.tracer.span(f"leaf.{name}"):
                lv.qs[name](spark, lv.data).count()
            ctx.outcome.record(True, name)
        except Exception as e:  # a leaf that raises counts as failed
            traceback.print_exc()
            ctx.outcome.record(False, f"{name} raised {type(e).__name__}")
        out[f"leaf.{name}_s"] = (time.monotonic() - t0, "s")
    return out


def run(ctx: Ctx) -> dict:
    spark, rss, get_spark_s = start_spark(ctx)
    try:
        lv = Leaves(ctx, spark)
        tr = ctx.tracer
        with tr.span("warmup"):
            _, _, counts = lv.one_pass(None)
        setup_s = ctx.setup_done()

        if ctx.trace:
            n_spans = len(tr.spans)
            wall, walls, _ = lv.one_pass(counts)
            return {
                "session.get_spark_s": (get_spark_s, "s"),
                **{f"leaf.{n}_s": (walls[n], "s") for n in lv.order},
                "trace.traced_round_s": (wall, "s"),
                "trace.overhead_s": (tr.overhead_s(len(tr.spans) - n_spans), "s"),
                "bench.peak_rss_mb": (rss.mb(), "MB"),
            }
        totals = []
        t_loop = time.monotonic()
        while not totals or time.monotonic() - t_loop < ctx.seconds:
            totals.append(sum(lv.one_pass(counts)[1].values()))
        total = median(totals)
        return {
            "setup_s": (setup_s, "s"),
            "latency_s": (total, "s"),
            "items_per_s": (len(lv.order) / total, "1/s"),
        }
    finally:
        stop_spark(spark, rss)
