"""Structured Streaming: windowed aggregation + stateful dedup match their
batch equivalents (ref periodic-poll mode, lib/catchCancelled.js:12-32)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gtfsrt2lc_spark.streaming.events import (
    dedup_stream,
    run_to_memory,
    windowed_event_counts,
)


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("events_stream"))
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # watermarks need session-TZ timestamps, not NTZ
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    ev.coalesce(2).write.mode("overwrite").parquet(out)
    return out


def test_windowed_counts_match_batch(spark, events_dir):
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    agg = windowed_event_counts(stream)
    run_to_memory(agg, "win_counts", output_mode="complete")
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["v"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }

    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "v")
    )
    want = {(r["ws"], r["event_type"]): (r["n"], r["v"]) for r in batch.collect()}
    assert got == want
    assert len(got) > 0


def test_streaming_dedup(spark, events_dir, tmp_path):
    # duplicate the input -> streaming dedup must emit each key once
    dup_dir = str(tmp_path / "dup")
    ev = spark.read.parquet(events_dir)
    ev.union(ev).coalesce(2).write.mode("overwrite").parquet(dup_dir)

    schema = ev.schema
    stream = spark.readStream.schema(schema).parquet(dup_dir)
    dd = dedup_stream(stream, ["event_id"])
    run_to_memory(dd.groupBy().count(), "dedup_count", output_mode="complete")
    n = spark.sql("SELECT * FROM dedup_count").collect()[0]["count"]
    assert n == ev.count()


def test_differential_stream_history_semantics(spark, tmp_path):
    """applyInPandasWithState differential dedup = the reference history
    store (lib/Gtfsrt2LC.js:698-750): emit on change, suppress unchanged,
    re-emit when the value changes back — across micro-batches."""
    import datetime as dt

    from gtfsrt2lc_spark.streaming.events import differential_stream

    d = str(tmp_path / "diff")
    schema = "key string, delay long, ts timestamp"
    t0 = dt.datetime(2024, 1, 15, 8, 0, 0)

    def mk(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{d}/{name}")

    # batch 1: k1 appears (delay 60), k2 appears (0)
    mk([("k1", 60, t0), ("k2", 0, t0)], "b1")
    # batch 2: k1 unchanged (suppress), k2 changes to 120 (emit),
    #          k1 later changes back to 0 (emit) then repeats 0 (suppress)
    mk([("k1", 60, t0 + dt.timedelta(minutes=1)),
        ("k2", 120, t0 + dt.timedelta(minutes=1)),
        ("k1", 0, t0 + dt.timedelta(minutes=2)),
        ("k1", 0, t0 + dt.timedelta(minutes=3))], "b2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/b*")
    )
    diff = differential_stream(stream, ["key"], ["delay"], ts_col="ts")
    q = (
        diff.writeStream.outputMode("update")
        .format("memory")
        .queryName("diff_hist")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        (r["key"], r["delay"]) for r in spark.sql("SELECT * FROM diff_hist").collect()
    )
    assert got == [("k1", 0), ("k1", 60), ("k2", 0), ("k2", 120)]


def test_streaming_kg_pipeline_matches_batch(spark, corpus_dfs, tmp_path):
    """foreachBatch micro-batch KG construction over a file-source stream
    produces exactly the batch pipeline's triple set (T1: poll-mode parity)."""
    from gtfsrt2lc_spark.fixtures.pages import PREDICATES
    from gtfsrt2lc_spark.plans.kg_pipeline import KGPipeline
    from gtfsrt2lc_spark.streaming.pages import (
        read_stream_triples,
        stream_pages_to_triples,
    )

    pages, records, surfaces, sameas = corpus_dfs
    pipe = KGPipeline(records, surfaces, sameas,
                      {ph: loc for ph, (loc, _, _) in PREDICATES.items()})
    try:
        want = {(r["subj"], r["pred"], r["obj"])
                for r in pipe.triples(pages).select("subj", "pred", "obj").collect()}

        src = str(tmp_path / "pages_src")
        # two slices -> two files -> two micro-batches (maxFilesPerTrigger=1)
        pages.where(F.crc32(F.col("url")) % 2 == 0).coalesce(1).write.parquet(f"{src}/a")
        pages.where(F.crc32(F.col("url")) % 2 == 1).coalesce(1).write.parquet(f"{src}/b")

        stream = (
            spark.readStream.schema(pages.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        out = str(tmp_path / "triples_out")
        q = stream_pages_to_triples(
            stream, pipe, out, str(tmp_path / "ckpt"), available_now=True
        )
        q.awaitTermination(300)
        got = {(r["subj"], r["pred"], r["obj"])
               for r in read_stream_triples(spark, out).select("subj", "pred", "obj").collect()}
        assert got == want and len(got) > 0
    finally:
        pipe.cleanup()


def test_streaming_dirty_batches_reuse_fuzzy_dictionary(
    spark, corpus_dfs, tmp_path, monkeypatch
):
    """Two dirty micro-batches (each with out-of-dictionary typo'd surfaces)
    stream through ONE pipeline: the driver-side fuzzy index is built
    exactly once across the whole stream and survives cleanup(), each batch
    stages only its mentions (0 dictionary stages, 1 mention stage per
    batch), and the streamed triple set equals the batch pipeline over the
    same dirty corpus."""
    from datetime import datetime

    from gtfsrt2lc_spark.operators import linking

    from gtfsrt2lc_spark.fixtures.pages import PREDICATES, _render_page
    from gtfsrt2lc_spark.plans.kg_pipeline import KGPipeline
    from gtfsrt2lc_spark.streaming.pages import (
        read_stream_triples,
        stream_pages_to_triples,
    )

    pages, records, surfaces, sameas = corpus_dfs

    def typo_slice(url, sentence, sec):
        rows = [(
            url,
            datetime(2024, 6, 1, 0, 0, sec),
            _render_page(url, "dirty.example.net", "en", [sentence], False).encode("utf-8"),
            None,
            "en",
        )]
        return spark.createDataFrame(rows, pages.schema)

    half_a = pages.where(F.crc32(F.col("url")) % 2 == 0).unionByName(
        typo_slice("https://dirty.example.net/s/1", "Ada Lovelacee works for Acme Corp.", 1)
    )
    half_b = pages.where(F.crc32(F.col("url")) % 2 == 1).unionByName(
        typo_slice("https://dirty.example.net/s/2", "Alan Turing works for Stark Industres.", 2)
    )

    preds = {ph: loc for ph, (loc, _, _) in PREDICATES.items()}
    batch_pipe = KGPipeline(records, surfaces, sameas, preds)
    try:
        want = {
            (r["subj"], r["pred"], r["obj"])
            for r in batch_pipe.triples(half_a.unionByName(half_b))
            .select("subj", "pred", "obj").collect()
        }
    finally:
        batch_pipe.cleanup()

    src = str(tmp_path / "pages_src")
    half_a.coalesce(1).write.parquet(f"{src}/a")
    half_b.coalesce(1).write.parquet(f"{src}/b")
    stream = (
        spark.readStream.schema(pages.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    builds = []
    real_init = linking.FuzzyIndex.__init__

    def counting_init(self, *args, **kwargs):
        builds.append(1)
        real_init(self, *args, **kwargs)

    monkeypatch.setattr(linking.FuzzyIndex, "__init__", counting_init)
    pipe = KGPipeline(records, surfaces, sameas, preds)
    try:
        q = stream_pages_to_triples(
            stream, pipe, str(tmp_path / "out"), str(tmp_path / "ckpt"),
            available_now=True,
        )
        q.awaitTermination(300)
        got = {
            (r["subj"], r["pred"], r["obj"])
            for r in read_stream_triples(spark, str(tmp_path / "out"))
            .select("subj", "pred", "obj").collect()
        }
        assert got == want and len(got) > 0
        idx = pipe._fuzzy_idx
        assert idx is not None  # both batches were dirty
        assert len(builds) == 1  # built once for the whole stream
        assert pipe._fuzzy_dict is None  # 0 dictionary stages
        assert len(pipe._scratch) == 2  # 2 batches x 1 mention stage
    finally:
        pipe.cleanup()
    assert pipe._fuzzy_idx is idx  # holds no files: cleanup() keeps it
