"""Seeded page corpora for the two pages workloads, cached on disk by
(workload, seed).

pages-clean: ``build_corpus`` pages of several KB (a large filler-sentence
range), every mention a dictionary surface, so exact linking resolves all of
them and the fuzzy probe is elided.

pages-dirty: default-size ``build_corpus`` pages in which a large share of
fact sentences have a KB surface replaced by a seeded typo. Every typo is
checked here, at generation time, to be recoverable by character-3-gram
Jaccard (the fuzzy linker's score): it stays above the linker's threshold
against its own entity's surface and strictly closer to it than to any
surface of another entity. The golden triples therefore do not change.
"""

from __future__ import annotations

import json
import os
import random
import re

CLEAN_PAGES = 1000
CLEAN_NOISE = (400, 800)
DIRTY_PAGES = 600
DIRTY_SHARE = 0.6  # share of fact sentences that get a typo
FUZZY_THRESHOLD = 0.5  # KGPipeline's default fuzzy_threshold
MIN_TYPO_JACCARD = 0.6  # margin above the threshold


def _grams(s: str) -> set[str]:
    s = s.lower()
    return {s[i : i + 3] for i in range(max(1, len(s) - 2))}


def _jaccard(a: str, b: str) -> float:
    ga, gb = _grams(a), _grams(b)
    return len(ga & gb) / len(ga | gb)


def _typo_variants(surface: str) -> list[str]:
    """Single-edit typos inside the surface's longest token, away from its
    first letter, so the span still reads as a capitalized mention."""
    tokens = surface.split(" ")
    k = max(range(len(tokens)), key=lambda i: len(tokens[i]))
    tok = tokens[k]
    out = set()
    for i in range(1, len(tok)):
        out.add(tok[: i + 1] + tok[i] + tok[i + 1 :])  # doubled letter
        if i + 1 < len(tok):
            out.add(tok[:i] + tok[i + 1] + tok[i] + tok[i + 2 :])  # swap
        if len(tok) >= 6:
            out.add(tok[:i] + tok[i + 1 :])  # dropped letter
    variants = []
    for t in sorted(out):
        if t == tok or not re.fullmatch(r"[A-Z][\w.]*", t):
            continue
        variants.append(" ".join(tokens[:k] + [t] + tokens[k + 1 :]))
    return variants


def recoverable_typos(surfaces: list[tuple[str, str, float]], canonical: dict) -> dict:
    """surface -> its typo variants that fuzzy linking must resolve back to
    the surface's own entity."""
    owner = {s: canonical[rid] for s, rid, _ in surfaces}
    out: dict[str, list[str]] = {}
    for s in sorted(owner):
        good = []
        for v in _typo_variants(s):
            if v in owner:
                continue
            own = max(_jaccard(v, o) for o in owner if owner[o] == owner[s])
            other = max(
                (_jaccard(v, o) for o in owner if owner[o] != owner[s]), default=0.0
            )
            if own >= MIN_TYPO_JACCARD and own > other and own > FUZZY_THRESHOLD:
                good.append(v)
        if good:
            out[s] = good
    return out


def _inject_typos(corpus, seed: int) -> int:
    """Rewrite fact sentences in place; returns the number rewritten."""
    from gtfsrt2lc_spark.fixtures.pages import PREDICATES

    typos = recoverable_typos(corpus.surfaces, corpus.canonical)
    phrases = "|".join(re.escape(p) for p in sorted(PREDICATES, key=len, reverse=True))
    fact = re.compile(rf"<p>([A-Z][^<]*?) ({phrases}) ([A-Z][^<]*?)\.</p>")
    rng = random.Random(seed * 7919 + 17)
    n = 0

    def swap(m: re.Match) -> str:
        nonlocal n
        subj, phrase, obj = m.group(1), m.group(2), m.group(3)
        if rng.random() >= DIRTY_SHARE:
            return m.group(0)
        slots = [i for i, s in enumerate((subj, obj)) if s in typos]
        if not slots:
            return m.group(0)
        n += 1
        if rng.choice(slots) == 0:
            subj = rng.choice(typos[subj])
        else:
            obj = rng.choice(typos[obj])
        return f"<p>{subj} {phrase} {obj}.</p>"

    for p in corpus.pages:
        html = p["html"].decode("utf-8")
        p["html"] = fact.sub(swap, html).encode("utf-8")
    return n


def _write(corpus, out: str, n_shards: int, extra: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pages = corpus.pages
    per = max(1, (len(pages) + n_shards - 1) // n_shards)
    for i in range(0, len(pages), per):
        chunk = pages[i : i + per]
        table = pa.table(
            {
                "url": pa.array([p["url"] for p in chunk], pa.string()),
                "warc_ts": pa.array(
                    [p["warc_ts"].replace(tzinfo=None) for p in chunk], pa.timestamp("us")
                ),
                "html": pa.array([p["html"] for p in chunk], pa.binary()),
                # the optional pre-extracted column stays empty: the pipeline
                # always extracts from html
                "text": pa.array([None] * len(chunk), pa.string()),
                "lang": pa.array([p["lang"] for p in chunk], pa.string()),
            }
        )
        pq.write_table(table, os.path.join(out, f"shard-{i // per:03d}.parquet"))
    meta = {
        "n_pages": len(pages),
        "html_bytes": sum(len(p["html"]) for p in pages),
        "records": corpus.records,
        "surfaces": corpus.surfaces,
        "sameas": corpus.sameas,
        "golden": sorted(corpus.golden_triples),
        **extra,
    }
    with open(os.path.join(out, "_meta.json"), "w") as f:
        json.dump(meta, f)


def pages_input(cache: str, workload: str, seed: int, n_shards: int) -> tuple[str, dict]:
    """(parquet dir, meta) for the workload's corpus, generated on first use."""
    from gtfsrt2lc_spark.fixtures.pages import build_corpus

    out = os.path.join(cache, f"{workload}-{seed}")
    meta_path = os.path.join(out, "_meta.json")
    if not os.path.exists(meta_path):
        tmp = out + f".tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        if workload == "pages-clean":
            corpus = build_corpus(n_pages=CLEAN_PAGES, seed=seed, noise_range=CLEAN_NOISE)
            extra = {"typo_sentences": 0}
        else:
            corpus = build_corpus(n_pages=DIRTY_PAGES, seed=seed)
            extra = {"typo_sentences": _inject_typos(corpus, seed)}
        _write(corpus, tmp, n_shards, extra)
        os.replace(tmp, out)
    with open(meta_path) as f:
        return out, json.load(f)
