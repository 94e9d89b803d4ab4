"""Entity linking: broadcast-dictionary exact match + MinHash-LSH fuzzy match.

Reference analog: trip deduction (`lib/Gtfsrt2LC.js:323-394`) — candidate
generation by a blocking key (route_id ≙ LSH band bucket), then scoring
filters (direction/startTime/calendar ≙ Jaccard threshold), then a
deterministic winner (last match wins at `:376,380` ≙ highest score, ties by
record_id).

Scale posture: the dictionary is the build side of a broadcast hash join
(MemStore analog, `lib/GtfsIndex.js:99-105`); the mention stream never
shuffles for the exact pass. The fuzzy pass has two implementations of one
definition (3-gram 31-polynomial shingles, MinHash bands, hot-band cap,
Jaccard threshold, highest-score-then-smallest-record_id winner):

  * ``FuzzyDictionary`` + ``link_fuzzy`` — distributed: shuffles only the
    *unmatched distinct surfaces* (tiny relative to mentions) against LSH
    band buckets. Used when either side is too large for the driver.
  * ``FuzzyIndex`` — driver-side: the same band buckets as sorted numpy
    arrays, probed without a Spark job. Used when the dictionary and the
    unmatched set are both small and already collected (the size-based
    choice of "To Partition, or Not to Partition", SIGMOD 2021).
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gtfsrt2lc_spark.functions.hashing import MOD, minhash_perms

_NGRAM = 3  # shingle width shared by both fuzzy implementations


def resolve_dictionary(surfaces: DataFrame) -> DataFrame:
    """(surface, record_id, prior) -> unique best record per surface.

    Deterministic winner: highest prior, then smallest record_id — the
    engine's version of the reference's last-match-wins tie-break.
    """
    w = Window.partitionBy("surface").orderBy(F.col("prior").desc(), F.col("record_id"))
    return (
        surfaces.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def link_exact(
    mentions: DataFrame, dictionary: DataFrame, surface_col: str = "surface"
) -> DataFrame:
    """Broadcast equi-join mentions to the pre-resolved dictionary.

    Output: mentions + (record_id, prior); unmatched rows keep null record_id
    (caller routes them to the fuzzy pass).
    """
    dic = resolve_dictionary(dictionary)
    return mentions.join(
        F.broadcast(dic.withColumnRenamed("surface", surface_col)),
        on=surface_col,
        how="left",
    )


def _shingle_hashes(col, n: int = _NGRAM):
    """Closed-form 31-polynomial hash of each character n-gram.

    No nested aggregate per element (a fixed-width n-gram hash is
    sum(ascii(c_j) * 31^(n-1-j)) mod p) — keeps the Catalyst expression tree
    small; deep HOF nesting caused multi-minute Janino codegen."""
    s = F.lower(col)
    weights = [31 ** (n - 1 - j) for j in range(n)]

    def gram_hash(i):
        h = F.lit(0).cast("long")
        for j, w in enumerate(weights):
            h = h + F.ascii(s.substr(i + j, F.lit(1))).cast("long") * F.lit(w)
        return h % F.lit(MOD)

    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(s) - (n - 1), F.lit(1))),
            gram_hash,
        )
    )


def _prep_bands(
    df: DataFrame, side: str, perms: list[tuple[int, int]], bands: int
) -> DataFrame:
    """(surface_<side>, band) LSH band table for one join side.

    Explode shingle hashes -> flat min-aggregates per permutation
    (SURVEY.md §2.9: posexplode + min per band, no UDAF, no deep HOFs),
    emitting ONLY (surface, band) — payload-free by design."""
    rows = len(perms) // bands
    ex = df.select(
        F.col("surface").alias(f"surface_{side}"),
        F.explode(_shingle_hashes(F.col("surface"))).alias("h"),
    )
    sigs = ex.groupBy(f"surface_{side}").agg(
        *[
            F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(MOD)).alias(f"s{i}")
            for i, (a, b) in enumerate(perms)
        ],
    )
    bandcols = [
        F.concat_ws(
            "_",
            F.lit(bi),
            *[F.col(f"s{bi * rows + r}").cast("string") for r in range(rows)],
        )
        for bi in range(bands)
    ]
    return sigs.select(f"surface_{side}", F.explode(F.array(*bandcols)).alias("band"))


class FuzzyDictionary:
    """Precomputed dictionary side of the MinHash-LSH fuzzy linker.

    The band table and shingle table are pure functions of the STATIC
    dictionary, so a micro-batch loop must not rebuild them per batch —
    the reference builds its indexes once and re-parses every feed against
    them (README.md:58, lib/GtfsIndex.js:75-169), and at a 100x KB the
    dictionary-side signature aggregation is the dominant cost of a fuzzy
    pass. Build one of these per KB and pass it to ``link_fuzzy`` via
    ``prepped``; callers may re-point ``bands_df`` / ``shingled`` at a
    staged (parquet) or persisted copy so later batches scan instead of
    recomputing (KGPipeline does exactly that).

    Hot-band cap (``max_band_size``): the candidate join is
    ``q_bands ⋈ bands_df`` on the band signature, so one degenerate band
    bucket — millions of short or near-identical surfaces collapsing to
    the same MinHash signature at a 100x-skewed KB — makes the candidate
    set |q_band|x|d_band|: a quadratic blowup AQE's skew-join can split
    across tasks but cannot shrink. Because the dictionary side is static
    and built exactly once, band frequencies are counted here at build
    time and buckets larger than the cap are DROPPED from the band table
    (one extra shuffle of the narrow (surface, band) frame, amortized over
    every later batch). Recall trade-off, by design: a (query, dict) pair
    whose ONLY colliding bands are dropped hot bands is never proposed —
    but a band shared by >cap dictionary surfaces carries almost no
    discriminating signal (any query hitting it would score against the
    whole bucket), so the pairs lost are overwhelmingly low-Jaccard noise;
    pairs also colliding on any healthy band are unaffected. Set
    ``max_band_size=None`` to disable the cap (exact reference-parity
    fixtures; never at web scale).
    """

    def __init__(
        self,
        dictionary: DataFrame,
        n_hashes: int = 16,
        bands: int = 8,
        seed: int = 42,
        max_band_size: int | None = 1000,
    ) -> None:
        self.n_hashes = n_hashes
        self.bands = bands
        self.seed = seed
        self.max_band_size = max_band_size
        self._perms = minhash_perms(n_hashes, seed=seed)
        dic = resolve_dictionary(dictionary)
        bands_df = _prep_bands(dic, "d", self._perms, bands)
        if max_band_size is not None:
            # window count over the NARROW band frame: one keyed shuffle at
            # build time, no collect, no broadcast-size assumption about how
            # many bands run hot
            wb = Window.partitionBy("band")
            bands_df = (
                bands_df.withColumn("_bc", F.count(F.lit(1)).over(wb))
                .where(F.col("_bc") <= max_band_size)
                .drop("_bc")
            )
        self.bands_df = bands_df
        self.shingled = dic.select(
            F.col("surface").alias("surface_d"),
            F.col("record_id"),
            _shingle_hashes(F.col("surface")).alias("sh_d"),
        )


def link_fuzzy(
    surfaces_q: DataFrame,
    dictionary: DataFrame | None,
    n_hashes: int | None = None,
    bands: int | None = None,
    jaccard_threshold: float = 0.5,
    seed: int | None = None,
    prepped: FuzzyDictionary | None = None,
    max_band_size: int | None = 1000,
) -> DataFrame:
    """Fuzzy-link distinct unmatched surfaces to dictionary entries.

    surfaces_q: one column ``surface`` (distinct). Returns
    (surface, record_id, score) for the best match with character-3-gram
    Jaccard >= threshold.

    MinHash-LSH candidate generation (band-bucket equi-join) then exact
    Jaccard verification on candidates only. Pass ``prepped`` (a
    ``FuzzyDictionary``) to reuse the dictionary-side band/shingle tables
    across calls — its n_hashes/bands/seed govern the query side too, so
    both sides always hash identically; ``dictionary`` is ignored then and
    may be None. Explicitly passing n_hashes/bands/seed/max_band_size
    alongside a mismatched ``prepped`` raises ValueError (a silently
    ignored mismatch would link with the wrong hash parameters).

    ``max_band_size`` caps dictionary-side band buckets (the hot-band
    quadratic-blowup guard — see ``FuzzyDictionary``); it applies when
    this call builds the dictionary tables itself.

    Shuffle discipline: the band join replicates every row x bands, so it
    runs on NARROW (key, band) frames only; shingle sets are recomputed
    closed-form from the surface strings and joined back to the deduped
    candidate pairs (at most one shuffle of each set per side, instead of
    x bands). Candidates dedup on (surface_q, surface_d) — not on
    record_id — so when one record owns several bucketed surfaces every
    (query, dict-surface) pair is scored and the winner window picks the
    best, deterministically (the old arbitrary-row dropDuplicates could
    keep a worse-scoring surface's shingles).
    """
    if prepped is None:
        if dictionary is None:
            raise ValueError("link_fuzzy needs either dictionary or prepped")
        prepped = FuzzyDictionary(
            dictionary,
            n_hashes=16 if n_hashes is None else n_hashes,
            bands=8 if bands is None else bands,
            seed=42 if seed is None else seed,
            max_band_size=max_band_size,
        )
    else:
        mismatched = {
            name: (want, got)
            for name, want, got in (
                ("n_hashes", n_hashes, prepped.n_hashes),
                ("bands", bands, prepped.bands),
                ("seed", seed, prepped.seed),
            )
            if want is not None and want != got
        }
        if mismatched:
            raise ValueError(
                "link_fuzzy: explicit hash params contradict the supplied "
                f"FuzzyDictionary (param: (passed, prepped)): {mismatched}; "
                "rebuild the dictionary with these params or drop them"
            )
    qd = surfaces_q.select("surface").distinct()
    q = _prep_bands(qd, "q", prepped._perms, prepped.bands)

    cand = (
        q.join(prepped.bands_df, "band")
        .drop("band")
        .dropDuplicates(["surface_q", "surface_d"])
    )
    qsh = qd.select(
        F.col("surface").alias("surface_q"),
        _shingle_hashes(F.col("surface")).alias("sh_q"),
    )
    cand = cand.join(qsh, "surface_q").join(prepped.shingled, "surface_d")
    inter = F.size(F.array_intersect("sh_q", "sh_d"))
    union = F.size("sh_q") + F.size("sh_d") - inter
    scored = cand.withColumn(
        "score", (inter.cast("double") / union.cast("double"))
    ).where(F.col("score") >= jaccard_threshold)
    w = Window.partitionBy("surface_q").orderBy(F.col("score").desc(), F.col("record_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(F.col("surface_q").alias("surface"), "record_id", "score")
    )


# ---- driver-side twin of FuzzyDictionary + link_fuzzy ----------------------

# cell budget of one (strings x n-grams) int64 block in ``_signatures``
_SIG_CELLS = 1 << 20


def _gram_matrix(lowered: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """``_shingle_hashes`` of already-lowered strings, one row per string.

    Returns the (strings x n-grams) int64 hash matrix and the mask of its
    real cells. Spark reads a character past the end as ``ascii('') = 0``,
    which is exactly the zero padding of a fixed-width UTF-32 array, and a
    string shorter than one n-gram still yields one (padded) gram."""
    lens = np.fromiter(map(len, lowered), np.int64, len(lowered))
    n_grams = np.maximum(lens - (_NGRAM - 1), 1)
    width = int(lens.max(initial=0)) + _NGRAM
    cp = (
        np.array(lowered, dtype=f"<U{width}")
        .view(np.uint32)
        .reshape(len(lowered), width)
        .astype(np.int64)
    )
    g = int(n_grams.max(initial=1))
    grams = sum(cp[:, j : j + g] * 31 ** (_NGRAM - 1 - j) for j in range(_NGRAM)) % MOD
    return grams, np.arange(g) < n_grams[:, None]


def _signatures(lowered: list[str], perms: list[tuple[int, int]]) -> np.ndarray:
    """MinHash signature rows, ``(strings x perms)`` int64, as
    ``_prep_bands`` aggregates them. Strings are processed shortest first
    in blocks of at most ``_SIG_CELLS`` cells, so one long surface cannot
    widen the whole dictionary's matrix."""
    n = len(lowered)
    sig = np.empty((n, len(perms)), np.int64)
    lens = np.fromiter(map(len, lowered), np.int64, n)
    order = np.argsort(lens, kind="stable")
    start = 0
    while start < n:
        step = 4096  # halve until the block's widest (last) row fits
        while step > 1 and step * (lens[order[min(start + step, n) - 1]] + _NGRAM) > _SIG_CELLS:
            step //= 2
        idx = order[start : start + step]
        grams, valid = _gram_matrix([lowered[i] for i in idx])
        for k, (a, b) in enumerate(perms):
            # grams < 2^31 and a < 2^31: the product fits int64
            sig[idx, k] = np.where(valid, (grams * a + b) % MOD, MOD).min(axis=1)
        start += step
    return sig


def _band_keys(sig: np.ndarray, bands: int) -> list[np.ndarray]:
    """One exact, sortable key per (string, band): the band's rows of
    signature values viewed as a single fixed-width void scalar."""
    rows = sig.shape[1] // bands
    void = np.dtype((np.void, 8 * rows))
    return [
        np.ascontiguousarray(sig[:, bi * rows : (bi + 1) * rows]).view(void).ravel()
        for bi in range(bands)
    ]


class FuzzyIndex:
    """Driver-side MinHash-LSH index over a collected dictionary.

    Links exactly as ``link_fuzzy(..., prepped=FuzzyDictionary(...))`` does
    on the same dictionary and parameters — same shingles, permutations,
    band keys, hot-band cap (``max_band_size``, applied to the same
    per-band dictionary counts), Jaccard threshold and winner — but with
    no Spark job and no scratch files: each band is a sorted key array
    probed with ``searchsorted``.

    Both sides arrive with Spark's ``lower`` of each surface, collected
    next to it: the JVM's Unicode case tables are not Python's (they
    disagree on code points added in later Unicode versions), so the
    shingles must start from Spark's lowering, not ``str.lower``.
    ``dictionary`` holds (lower(surface), record_id) pairs of the resolved
    dictionary (``resolve_dictionary`` already applied, as KGPipeline's
    ``_resolved_dictionary()`` collects it)."""

    def __init__(
        self,
        dictionary: Iterable[tuple[str | None, str | None]],
        n_hashes: int = 16,
        bands: int = 8,
        seed: int = 42,
        max_band_size: int | None = 1000,
    ) -> None:
        self.bands = bands
        self._perms = minhash_perms(n_hashes, seed=seed)
        # a NULL surface never joins a shingle row in link_fuzzy
        entries = [(low, rid) for low, rid in dictionary if low is not None]
        self._lowered = [low for low, _ in entries]
        self._records = [rid for _, rid in entries]
        self._buckets: list[tuple[np.ndarray, np.ndarray]] = []  # (keys, rows)
        for keys in _band_keys(_signatures(self._lowered, self._perms), bands):
            rows = np.arange(len(keys))
            if max_band_size is not None:
                _, inv, counts = np.unique(keys, return_inverse=True, return_counts=True)
                keep = counts[inv] <= max_band_size
                keys, rows = keys[keep], rows[keep]
            order = np.argsort(keys, kind="stable")
            self._buckets.append((keys[order], rows[order]))

    def link(
        self,
        surfaces: Iterable[tuple[str | None, str | None]],
        jaccard_threshold: float = 0.5,
    ) -> list[tuple[str, str | None, float]]:
        """(surface, record_id, score) for each (surface, lower(surface))
        query whose best candidate scores >= ``jaccard_threshold``: highest
        score wins, then the smallest record_id (NULL first, as Spark sorts
        it)."""
        qs = sorted({(s, low) for s, low in surfaces if s is not None})
        lowered = [low for _, low in qs]
        cands: list[set[int]] = [set() for _ in qs]
        for (keys, rows), qk in zip(
            self._buckets, _band_keys(_signatures(lowered, self._perms), self.bands)
        ):
            lo = np.searchsorted(keys, qk, "left")
            hi = np.searchsorted(keys, qk, "right")
            for i in np.nonzero(hi > lo)[0]:
                cands[i].update(rows[lo[i] : hi[i]].tolist())
        out = []
        for (q, low), cand in zip(qs, cands):
            if not cand:
                continue
            ds = list(cand)
            grams, valid = _gram_matrix([low] + [self._lowered[d] for d in ds])
            sq, *sds = [set(g[m].tolist()) for g, m in zip(grams, valid)]
            scored = []
            for d, sd in zip(ds, sds):
                inter = len(sq & sd)
                score = inter / (len(sq) + len(sd) - inter)
                if score >= jaccard_threshold:
                    rid = self._records[d]
                    scored.append((-score, rid is not None, rid or "", d))
            if scored:
                neg_score, _, _, d = min(scored)
                out.append((q, self._records[d], -neg_score))
        return out
