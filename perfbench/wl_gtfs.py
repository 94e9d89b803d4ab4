"""gtfs-poll: a closed loop with one poller over the streaming GTFS-RT job.

Static indexes are built once. Each round lands a backlog in the watched
drop directory, a new poll and then the same poll again (an unchanged
re-poll, which must emit nothing), and drains it with
``stream_feeds_to_connections(available_now=True)`` on one persistent
checkpoint and history store. The backlog is kept at two feeds: the
micro-batch plan grows with every feed in it, and with stock settings a
large backlog drives the JVM towards the host's memory limit.

After the timed rounds the resume restarts the stream with nothing new to
read, several times; it must emit nothing. Every drain's emitted rows are
compared with a reference computed after the timed window: per poll,
``connections()`` keyed by ``HistoryStore.rule_key``, emitting the rows
whose state changed since the previous poll.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timezone
from functools import reduce

from common import Ctx, median, noop_write, start_spark, stop_spark
from wl_leaves import leaf_layers

RESUMES = 3
AS_OF = datetime(2024, 1, 15, 12, 0, 0, tzinfo=timezone.utc)
STATIC_TABLES = ("stops", "routes", "trips", "stop_times", "calendar")


def _key(row: tuple) -> tuple:
    """Order of rows that may hold None: None first, as Spark orders NULLs
    (so ``max`` over state structs picks what Spark's ``max`` picks)."""
    return tuple((v is not None, v) for v in row)


class GtfsRun:
    def __init__(self, ctx: Ctx, spark, static: str, feeds: list[bytes]) -> None:
        self.ctx = ctx
        self.spark = spark
        self.static = static
        self.feeds = feeds
        self.drop = ctx.fresh_dir("drop")
        self.out = os.path.join(ctx.run_dir, "out")
        self.ckpt = os.path.join(ctx.run_dir, "ckpt")
        self.landed: list[int] = []  # poll index of every file landed, in order
        self._seq = 0
        self._mtime_ns = 0
        self.indexes_s = 0.0
        # the emitted-row columns: what the output reads back as, minus the
        # epoch partition column (a missing output dir reads as empty)
        from gtfsrt2lc_spark.streaming.gtfs import read_stream_connections

        self.out_cols = [
            c for c in read_stream_connections(spark, self.out).columns if c != "epoch"
        ]

    def prep(self) -> None:
        from gtfsrt2lc_spark.plans.gtfs import GtfsIndexes, Gtfsrt2LCPipeline, HistoryStore

        t0 = time.monotonic()
        with self.ctx.tracer.span("plans.gtfs.indexes"):
            tables = {
                name: self.spark.read.option("header", True).csv(
                    os.path.join(self.static, f"{name}.txt")
                )
                for name in STATIC_TABLES
            }
            self.pipe = Gtfsrt2LCPipeline(GtfsIndexes(**tables), as_of=AS_OF)
        self.indexes_s = time.monotonic() - t0
        self.store = HistoryStore(self.spark, os.path.join(self.ctx.run_dir, "history"))

    def _land(self, polls: list[int]) -> float:
        """Write each feed atomically (tmp + rename) with strictly
        increasing mtimes, so the stream orders them as landed. Returns the
        time the first one landed."""
        first = None
        for p in polls:
            tmp = os.path.join(self.drop, ".landing")
            path = os.path.join(self.drop, f"feed-{self._seq:05d}.pb")
            with open(tmp, "wb") as f:
                f.write(self.feeds[p])
            self._mtime_ns = max(time.time_ns(), self._mtime_ns + 1_000_000)
            os.utime(tmp, ns=(self._mtime_ns, self._mtime_ns))
            os.rename(tmp, path)
            if first is None:
                first = time.monotonic()
            self._seq += 1
            self.landed.append(p)
        return first

    def _drain(self) -> tuple[float, list]:
        from gtfsrt2lc_spark.streaming.gtfs import stream_feeds_to_connections

        t0 = time.monotonic()
        with self.ctx.tracer.span("streaming.gtfs.drain"):
            q = stream_feeds_to_connections(
                self.spark, self.drop, self.pipe, self.store, self.out, self.ckpt,
                available_now=True,
            )
            q.awaitTermination()
        wall = time.monotonic() - t0
        if q.exception() is not None:
            raise RuntimeError(f"drain failed: {q.exception()}")
        return wall, [p for p in q.recentProgress if p.numInputRows > 0]

    def round(self, polls: list[int]) -> dict:
        first = len(self.landed)
        with self.ctx.tracer.span("round", polls=polls):
            t_land = self._land(polls)
            wall, progress = self._drain()
        latency = time.monotonic() - t_land
        return {
            "files": list(range(first, len(self.landed))),
            "latency": latency,
            "wall": wall,
            "progress": progress,
        }

    def resume(self) -> float:
        """Restart the stream over the same checkpoint with no new files,
        RESUMES times; each must run no batch. Returns the median wall."""
        walls = []
        for _ in range(RESUMES):
            with self.ctx.tracer.span("resume"):
                wall, progress = self._drain()
            walls.append(wall)
            self.ctx.outcome.record(not progress, f"resume ran {len(progress)} batches")
        return median(walls)

    # ---- checks -----------------------------------------------------------
    def _connections(self) -> dict[int, list]:
        """Rule-keyed connection rows of every landed poll (the reference
        input): each poll converted on its own, tagged, and collected in
        one job."""
        from pyspark.sql import functions as F

        from gtfsrt2lc_spark.functions.gtfsrt_proto import decode_feed_df
        from gtfsrt2lc_spark.plans.gtfs import HistoryStore

        cols = ["rule_key", "service_day", "departure_delay", "arrival_delay", "type"]
        polls = sorted(set(self.landed))
        per_poll = []
        for p in polls:
            feeds = self.spark.createDataFrame([(self.feeds[p],)], "payload binary")
            keyed = HistoryStore.rule_key(self.pipe.connections(decode_feed_df(feeds)))
            per_poll.append(keyed.select(F.lit(p).alias("_poll"), *cols, *self.out_cols))
        conns: dict[int, list] = {p: [] for p in polls}
        for r in reduce(lambda a, b: a.union(b), per_poll).collect():
            conns[r[0]].append(tuple(r[1:]))
        return conns

    def reference(self) -> tuple[list[list[tuple]], list[int]]:
        """Expected emitted rows per landed file, and rows converted per
        landed file: sequential per-poll differential over the landed order
        (a row emits when its (rule_key, service_day) state is new or
        differs from the previous poll's; NULL comparisons drop a row, as
        SQL's do)."""
        conns = self._connections()
        state: dict = {}
        expected, converted = [], []
        for p in self.landed:
            rows = conns[p]
            fresh = []
            for r in rows:
                base = state.get((r[0], r[1]))
                if base is None or base[2] is None:
                    fresh.append(r[5:])
                    continue
                diffs = [
                    None if a is None or b is None else a != b
                    for a, b in zip(base, r[2:5])
                ]
                if any(d is True for d in diffs):
                    fresh.append(r[5:])
            new_state: dict = {}
            for r in rows:
                k = (r[0], r[1])
                new_state[k] = max(new_state.get(k, r[2:5]), r[2:5], key=_key)
            state.update(new_state)
            expected.append(sorted(fresh, key=_key))
            converted.append(len(rows))
        return expected, converted

    def emitted(self, rounds: list[dict]) -> list[list[tuple]]:
        """Emitted rows per landed file, read back from the output's
        ``epoch=<batch>-<file index>`` partitions."""
        from gtfsrt2lc_spark.streaming.gtfs import read_stream_connections

        by_epoch: dict[str, list] = {}
        for r in read_stream_connections(self.spark, self.out).collect():
            by_epoch.setdefault(r["epoch"], []).append(tuple(r[c] for c in self.out_cols))
        got: list = [None] * len(self.landed)  # None: drain not in one batch
        for rnd in rounds:
            if len(rnd["progress"]) != 1:  # available_now drains one batch
                continue
            batch = rnd["progress"][0].batchId
            for idx, f in enumerate(rnd["files"]):
                got[f] = sorted(by_epoch.get(f"{batch}-{idx}", []), key=_key)
        return got


def _layers(w: GtfsRun, p: int) -> dict:
    """Layer walls of poll ``p`` on a side history store: decode,
    connections and filter_new as cumulative prefixes (noop writes), then
    the commit of the materialized fresh states."""
    from gtfsrt2lc_spark.functions.gtfsrt_proto import decode_feed_df
    from gtfsrt2lc_spark.plans.gtfs import HistoryStore

    tr, spark = w.ctx.tracer, w.spark
    side = HistoryStore(spark, w.ctx.fresh_dir("side-history"))
    walls: dict[str, float] = {}

    def timed(name: str, fn) -> None:
        t0 = time.monotonic()
        with tr.span(name):
            fn()
        walls[name] = time.monotonic() - t0

    feeds = spark.createDataFrame([(w.feeds[p],)], "payload binary")
    timed("decode", lambda: noop_write(decode_feed_df(feeds)))
    timed("connections", lambda: noop_write(w.pipe.connections(decode_feed_df(feeds))))
    fresh = side.filter_new(w.pipe.connections(decode_feed_df(feeds)))
    timed("filter_new", lambda: noop_write(fresh))
    cols = ["rule_key", "service_day", "departure_delay", "arrival_delay", "type"]
    states = spark.createDataFrame(
        [tuple(r) for r in fresh.select(*cols).collect()],
        "rule_key string, service_day string, departure_delay bigint, "
        "arrival_delay bigint, type string",
    )
    timed("commit", lambda: side.commit(states))
    return {
        "functions.gtfsrt_proto.decode_s": walls["decode"],
        "plans.gtfs.connections_s": walls["connections"] - walls["decode"],
        "plans.gtfs.history_filter_new_s": walls["filter_new"] - walls["connections"],
        "plans.gtfs.history_commit_s": walls["commit"],
    }


def run(ctx: Ctx) -> dict:
    from gen_gtfs import gtfs_input

    t = time.monotonic()
    static, feeds = gtfs_input(ctx.cache, ctx.seed)
    ctx.excluded_s += time.monotonic() - t

    spark, rss, get_spark_s = start_spark(ctx)
    try:
        w = GtfsRun(ctx, spark, static, feeds)
        w.prep()
        setup_s = ctx.setup_done()
        drains = []
        if ctx.trace:
            # traced runs time a warm drain; a timed run's first drain is
            # the first of the process
            with ctx.tracer.span("warmup"):
                drains.append(w.round([0, 0]))
            n_spans = len(ctx.tracer.spans)
            drains.append(w.round([1, 1]))
            overhead = ctx.tracer.overhead_s(len(ctx.tracer.spans) - n_spans)
        else:
            t_loop = time.monotonic()
            for p in range(len(feeds)):
                drains.append(w.round([p, p]))
                if time.monotonic() - t_loop >= ctx.seconds:
                    break
        resume_s = w.resume()

        with ctx.tracer.span("check"):
            expected, converted = w.reference()
            got = w.emitted(drains)
        for rnd in drains:
            bad = [f for f in rnd["files"] if got[f] != expected[f]]
            ctx.outcome.record(not bad, f"drain of files {rnd['files']}: mismatch on {bad}")
            replay = rnd["files"][-1]
            ctx.outcome.record(got[replay] == [], f"re-polled feed {replay} emitted rows")

        def per_s(rnd):
            return sum(converted[f] for f in rnd["files"]) / rnd["wall"]

        if not ctx.trace:
            return {
                "setup_s": (setup_s, "s"),
                "latency_s": (median([r["latency"] for r in drains]), "s"),
                "items_per_s": (median([per_s(r) for r in drains]), "1/s"),
            }
        last = drains[-1]
        progress = last["progress"]
        return {
            "session.get_spark_s": (get_spark_s, "s"),
            "plans.gtfs.indexes_s": (w.indexes_s, "s"),
            **{k: (v, "s") for k, v in _layers(w, w.landed[last["files"][0]]).items()},
            "streaming.gtfs.add_batch_ms": (median([p.durationMs.get("addBatch", 0) for p in progress]), "ms"),
            "streaming.gtfs.trigger_ms": (median([p.durationMs.get("triggerExecution", 0) for p in progress]), "ms"),
            "streaming.gtfs.resume_s": (resume_s, "s"),
            "trace.traced_round_s": (last["wall"], "s"),
            "trace.overhead_s": (overhead, "s"),
            # the __spark_entry__ leaf layer, measured on this workload's
            # warm session (see README.md)
            **leaf_layers(ctx, spark),
            "bench.peak_rss_mb": (rss.mb(), "MB"),
        }
    finally:
        stop_spark(spark, rss)
