"""pages-clean and pages-dirty: pages in, N-Quads on disk.

One round = ``run_incremental`` into a fresh ``out_dir``, then
``read_triples`` -> ``write_nquads`` (the user's deliverable), then further
``run_incremental`` calls over the same input and ``out_dir`` (the resume,
which must emit nothing and append no manifest rows). The N-Quads files are
parsed and compared with the corpus's golden triples after each round,
outside the timed window.
"""

from __future__ import annotations

import re
import shutil
import time
import traceback

from common import Ctx, dir_bytes, median, noop_write, start_spark, stop_spark

_NQ = re.compile(r"^<([^>]*)> <([^>]*)> <([^>]*)> <([^>]*)> \.$")
MIN_PR_DIRTY = 0.95
RESUMES = 3
N_BUCKETS = 16  # run_incremental's default


def _read_nquads(path: str) -> set[tuple[str, str, str]] | None:
    import glob

    got = set()
    for name in glob.glob(f"{path}/part-*"):
        with open(name, encoding="utf-8") as f:
            for line in f:
                m = _NQ.match(line.rstrip("\n"))
                if m is None:
                    return None  # malformed line: the check fails
                got.add((m.group(1), m.group(2), m.group(3)))
    return got


def _triples_ok(workload: str, got, golden: set) -> tuple[bool, str]:
    if got is None:
        return False, "malformed N-Quads line"
    hit = len(got & golden)
    p = hit / len(got) if got else 0.0
    r = hit / len(golden) if golden else 0.0
    if workload == "pages-clean":
        return got == golden, f"P={p:.4f} R={r:.4f} (want 1.0)"
    return min(p, r) >= MIN_PR_DIRTY, f"P={p:.4f} R={r:.4f} (want >= {MIN_PR_DIRTY})"


class PagesRun:
    def __init__(self, ctx: Ctx, spark, pages_dir: str, meta: dict) -> None:
        self.ctx = ctx
        self.spark = spark
        self.meta = meta
        self.golden = {tuple(t) for t in meta["golden"]}
        self.pages_dir = pages_dir
        self.pages = spark.read.parquet(pages_dir)
        self.pipe = None
        self.canonical_map_s = 0.0

    def prep(self) -> None:
        """KB prep: dictionary frames, the pipeline, its canonical map."""
        from gtfsrt2lc_spark.fixtures.pages import PREDICATES
        from gtfsrt2lc_spark.plans.kg_pipeline import KGPipeline

        spark, meta = self.spark, self.meta
        records = spark.createDataFrame(
            [tuple(r) for r in meta["records"]], "record_id string, name string, entity_type string"
        )
        surfaces = spark.createDataFrame(
            [tuple(s) for s in meta["surfaces"]], "surface string, record_id string, prior double"
        )
        sameas = spark.createDataFrame([tuple(e) for e in meta["sameas"]], "src string, dst string")
        self.pipe = KGPipeline(
            records, surfaces, sameas, {ph: loc for ph, (loc, _, _) in PREDICATES.items()}
        )
        t = time.monotonic()
        with self.ctx.tracer.span("plans.kg_pipeline.canonical_map"):
            self.pipe.canonical_map()
        self.canonical_map_s = time.monotonic() - t

    def warmup(self) -> None:
        """The round's deliverable over the full input, untimed and
        unchecked, so JIT, code generation and the Python workers are warm
        for the timed rounds."""
        from gtfsrt2lc_spark.plans.manifest import read_triples, run_incremental
        from gtfsrt2lc_spark.sources.nquads import write_nquads

        spark, pipe = self.spark, self.pipe
        out = self.ctx.fresh_dir("warmup")
        try:
            with self.ctx.tracer.span("warmup"):
                run_incremental(spark, self.pages, pipe, out, run_id="w")
                write_nquads(read_triples(spark, out), f"{out}/nquads")
                pipe.cleanup()
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def round(self, i: int, layers: dict | None = None) -> dict:
        """One timed round plus its checks. ``layers`` (traced runs)
        receives the manifest and triples read times, taken after it."""
        from gtfsrt2lc_spark.plans.manifest import read_manifest, read_triples, run_incremental
        from gtfsrt2lc_spark.sources.nquads import write_nquads

        ctx, spark, tr = self.ctx, self.spark, self.ctx.tracer
        out = ctx.fresh_dir(f"round-{i}")
        nq = f"{out}/nquads"
        res: dict = {}
        try:
            with tr.span("round", i=i):
                t0 = time.monotonic()
                with tr.span("plans.manifest.run_incremental"):
                    first = run_incremental(spark, self.pages, self.pipe, out, run_id=f"r{i}")
                t1 = time.monotonic()
                with tr.span("sources.nquads.write_nquads"):
                    write_nquads(read_triples(spark, out), nq)
                t2 = time.monotonic()
            res.update(wall=t2 - t0, write_nquads=t2 - t1)
            self.pipe.cleanup()
            ok, why = _triples_ok(ctx.workload, _read_nquads(nq), self.golden)
            ok = ok and first["n_triples"] > 0
            ctx.outcome.record(ok, f"round {i}: {why}")

            # the resume is cheap and short, so it runs RESUMES times and
            # the round reports the median
            n_manifest = read_manifest(spark, out).count()
            resumes = []
            for k in range(RESUMES):
                with tr.span("resume", i=i):
                    t0 = time.monotonic()
                    with tr.span("plans.manifest.run_incremental", resume=True):
                        again = run_incremental(
                            spark, self.pages, self.pipe, out, run_id=f"r{i}-{k}"
                        )
                    resumes.append(time.monotonic() - t0)
                self.pipe.cleanup()
                ok = (
                    again["parts"] == 0
                    and again["n_triples"] == 0
                    and read_manifest(spark, out).count() == n_manifest
                )
                ctx.outcome.record(ok, f"resume {i}: {again}, manifest rows {n_manifest}")
            res["resume"] = median(resumes)

            if layers is not None:
                t0 = time.monotonic()
                with tr.span("plans.manifest.read_manifest"):
                    read_manifest(spark, out).collect()
                layers["read_manifest"] = time.monotonic() - t0
                t0 = time.monotonic()
                with tr.span("plans.manifest.read_triples"):
                    noop_write(read_triples(spark, out))
                layers["read_triples"] = time.monotonic() - t0
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return res

    # ---- traced-run layers ------------------------------------------------
    def ladder(self) -> dict:
        """Layer walls of the flagship plan, each forced with a noop write.

        Stages 1-4 on the public path are cumulative prefixes, each built on
        the previous one: ``latest_by_key`` -> ``extracted`` ->
        ``mentions(extracted)`` -> ``linked(mentions)``; a stage's self time
        is its prefix minus the previous one. ``triples`` is timed as one
        plan over the input bucketed as ``run_incremental`` buckets it: it
        runs the fused extract+prefilter path, which the prefixes do not
        build towards, so it is reported whole."""
        from pyspark.sql import functions as F

        from gtfsrt2lc_spark.operators.dedup import latest_by_key

        ctx, tr, pipe, pages = self.ctx, self.ctx.tracer, self.pipe, self.pages
        walls: dict[str, float] = {}

        def timed(name: str, build):
            t0 = time.monotonic()
            with tr.span(f"prefix.{name}"):
                df = build()
                noop_write(df)
            walls[name] = time.monotonic() - t0
            return df

        # the same call and arguments the pipeline's stage 1 makes
        timed("latest_by_key", lambda: latest_by_key(pages, "url", "warc_ts", unique_order=True))
        extracted = timed("extracted", lambda: pipe.extracted(pages))
        mentions = timed("mentions", lambda: pipe.mentions(extracted))
        linked = timed("linked", lambda: pipe.linked(mentions))
        counts = {
            "rows_linked": linked.count(),
            "folded": mentions.select("subj_surface", "pred_phrase", "obj_surface")
            .distinct()
            .count(),
        }
        surfaces = {
            r["s"]
            for r in mentions.select(F.explode(F.array("subj_surface", "obj_surface")).alias("s"))
            .distinct()
            .collect()
        }
        pipe.cleanup()

        # run_incremental's bucketing (its default 16 buckets), so the plan
        # is the one the manifest writes
        bucketed = pages.withColumn(
            "part_id", F.pmod(F.xxhash64(pipe.page_key()), F.lit(N_BUCKETS)).cast("int")
        )
        scratch = ctx.fresh_dir("ladder-scratch")
        pipe.scratch_dir = scratch
        try:
            timed("triples", lambda: pipe.triples(bucketed, with_part=True))
            staged = dir_bytes(scratch)
            materialized = ctx.fresh_dir("ladder-triples")
            pipe.triples(bucketed, with_part=True).write.mode("overwrite").parquet(materialized)
        finally:
            pipe.cleanup()
            pipe.scratch_dir = None
            shutil.rmtree(scratch, ignore_errors=True)
        known = {s[0] for s in self.meta["surfaces"]}
        return {
            "walls": walls,
            "counts": counts,
            "staged_bytes": staged,
            "unmatched": sorted(surfaces - known),
            "materialized": materialized,
        }

    def manifest_layer(self, materialized: str) -> float:
        """``run_incremental``'s own work, timed apart from the pipeline's:
        a fresh ``out_dir`` is filled through a stand-in pipeline whose
        ``triples()`` reads back the triples the real pipeline produced.
        What remains is the manifest read, the bucketing and per-bucket
        stats job, the partitioned triples write and the manifest write."""
        from gtfsrt2lc_spark.plans.manifest import run_incremental

        spark, pipe = self.spark, self.pipe

        class Materialized:
            page_key = staticmethod(pipe.page_key)

            @staticmethod
            def triples(_todo, with_part: bool = False):
                return spark.read.parquet(materialized)

        out = self.ctx.fresh_dir("ladder-manifest")
        try:
            t0 = time.monotonic()
            with self.ctx.tracer.span("plans.manifest.run_incremental", materialized=True):
                got = run_incremental(spark, self.pages, Materialized(), out, run_id="m")
            wall = time.monotonic() - t0
        finally:
            shutil.rmtree(out, ignore_errors=True)
        self.ctx.outcome.record(got["n_triples"] > 0, f"manifest layer run wrote {got}")
        return wall

    def fuzzy(self, unmatched: list[str]) -> dict:
        """Dictionary-side LSH build and the fuzzy link of the unmatched
        surfaces, as the pipeline runs them. Skipped (all zero) when every
        surface matched exactly: the pipeline elides the probe then."""
        from gtfsrt2lc_spark.operators.linking import FuzzyDictionary, link_fuzzy

        if not unmatched:
            return {"fuzzy_dictionary_s": 0.0, "link_fuzzy_s": 0.0, "recovered_ratio": 0.0}
        tr, pipe, spark = self.ctx.tracer, self.pipe, self.spark
        t0 = time.monotonic()
        with tr.span("operators.linking.fuzzy_dictionary"):
            fd = FuzzyDictionary(pipe.surfaces, max_band_size=pipe.fuzzy_max_band_size)
            noop_write(fd.bands_df)
            noop_write(fd.shingled)
        fd_s = time.monotonic() - t0
        q = spark.createDataFrame([(s,) for s in unmatched], "surface string")
        t0 = time.monotonic()
        with tr.span("operators.linking.link_fuzzy"):
            got = link_fuzzy(q, None, jaccard_threshold=pipe.fuzzy_threshold, prepped=fd).collect()
        lf_s = time.monotonic() - t0
        return {
            "fuzzy_dictionary_s": fd_s,
            "link_fuzzy_s": lf_s,
            "recovered_ratio": len(got) / len(unmatched),
        }


def extract_us_per_doc(pages_dir: str) -> float:
    """Single-core ``extract_text_bytes`` over the workload's own pages,
    outside Spark: median of three passes, microseconds per document."""
    import pyarrow.parquet as pq

    from gtfsrt2lc_spark.functions.text import extract_text_bytes

    htmls = pq.read_table(pages_dir, columns=["html"]).column("html").to_pylist()
    passes = []
    for _ in range(3):
        t0 = time.perf_counter()
        for h in htmls:
            extract_text_bytes(h)
        passes.append(time.perf_counter() - t0)
    return median(passes) / len(htmls) * 1e6


def run(ctx: Ctx) -> dict:
    from gen_pages import pages_input

    t = time.monotonic()
    pages_dir, meta = pages_input(ctx.cache, ctx.workload, ctx.seed, n_shards=4 * ctx.cpus)
    ctx.excluded_s += time.monotonic() - t

    spark, rss, get_spark_s = start_spark(ctx)
    try:
        w = PagesRun(ctx, spark, pages_dir, meta)
        w.prep()
        setup_s = ctx.setup_done()
        if ctx.trace:
            m = _traced_metrics(ctx, w, pages_dir, get_spark_s)
            return {**m, "bench.peak_rss_mb": (rss.mb(), "MB")}

        # the first round is the first deliverable of the process
        walls: list[float] = []
        t_loop = time.monotonic()
        i = 0
        while i == 0 or time.monotonic() - t_loop < ctx.seconds:
            try:
                walls.append(w.round(i)["wall"])
            except Exception:  # a round that raises counts as failed
                traceback.print_exc()
                ctx.outcome.record(False, f"round {i} raised")
            i += 1
        if not walls:
            raise RuntimeError("no round completed")
        wall = median(walls)
        return {
            "setup_s": (setup_s, "s"),
            "latency_s": (wall, "s"),
            "items_per_s": (meta["n_pages"] / wall, "1/s"),
        }
    finally:
        stop_spark(spark, rss)


def _traced_metrics(ctx, w: PagesRun, pages_dir, get_spark_s) -> dict:
    """A warm-up round, one traced round, then the layers on their own."""
    w.warmup()
    layers: dict = {}
    n_spans = len(ctx.tracer.spans)
    rnd = w.round(0, layers)
    overhead = ctx.tracer.overhead_s(len(ctx.tracer.spans) - n_spans)
    lad = w.ladder()
    manifest_s = w.manifest_layer(lad["materialized"])
    fz = w.fuzzy(lad["unmatched"])
    pw = lad["walls"]
    c = lad["counts"]
    return {
        "session.get_spark_s": (get_spark_s, "s"),
        "plans.kg_pipeline.canonical_map_s": (w.canonical_map_s, "s"),
        "functions.text.extract_us_per_doc": (extract_us_per_doc(pages_dir), "us"),
        "operators.dedup.latest_by_key_s": (pw["latest_by_key"], "s"),
        "plans.kg_pipeline.extracted_s": (pw["extracted"] - pw["latest_by_key"], "s"),
        "plans.kg_pipeline.mentions_s": (pw["mentions"] - pw["extracted"], "s"),
        "plans.kg_pipeline.linked_s": (pw["linked"] - pw["mentions"], "s"),
        "plans.kg_pipeline.triples_plan_s": (pw["triples"], "s"),
        "plans.kg_pipeline.rows_linked": (c["rows_linked"], "count"),
        "plans.kg_pipeline.link_yield": (c["rows_linked"] / c["folded"] if c["folded"] else 0.0, "ratio"),
        "plans.kg_pipeline.staged_bytes": (lad["staged_bytes"], "bytes"),
        "operators.linking.fuzzy_dictionary_s": (fz["fuzzy_dictionary_s"], "s"),
        "operators.linking.link_fuzzy_s": (fz["link_fuzzy_s"], "s"),
        "operators.linking.recovered_ratio": (fz["recovered_ratio"], "ratio"),
        "plans.manifest.run_incremental_s": (manifest_s, "s"),
        "plans.manifest.resume_s": (rnd["resume"], "s"),
        "plans.manifest.read_manifest_s": (layers["read_manifest"], "s"),
        "plans.manifest.read_triples_s": (layers["read_triples"], "s"),
        "sources.nquads.write_nquads_s": (rnd["write_nquads"] - layers["read_triples"], "s"),
        "trace.traced_round_s": (rnd["wall"], "s"),
        "trace.overhead_s": (overhead, "s"),
        # independently timed layers of one round: the fused triples plan,
        # the manifest's own work, read_triples -> write_nquads
        "trace.layer_sum_s": (pw["triples"] + manifest_s + rnd["write_nquads"], "s"),
    }
