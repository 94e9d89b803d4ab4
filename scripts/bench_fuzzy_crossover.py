"""Driver-side ``FuzzyIndex`` vs distributed ``link_fuzzy``: where is the
crossover in unmatched-set size?

``KGPipeline.linked()`` fuzzy-links the distinct unmatched surfaces on the
driver while there are at most ``_DRIVER_FUZZY_MAX`` of them, and with the
distributed ``link_fuzzy`` pass beyond that. This script times both linkers
per batch, the way ``linked()`` runs them, on synthetic two-word surfaces:

* distributed — ``link_fuzzy`` over a staged query table against a warm,
  staged ``FuzzyDictionary``, written to a parquet stage;
* driver — collect (surface, lower(surface)) from the same staged table,
  ``FuzzyIndex.link``, and the LocalRelation the patch joins broadcast.

Half of each query set is one-character typos of dictionary surfaces, half
fresh words. One-off builds (``FuzzyDictionary`` staging, ``FuzzyIndex``)
are printed separately.

Usage: python scripts/bench_fuzzy_crossover.py [--dict-sizes 10000 2000000]
       [--queries 1000 3000 10000] [--cpus 4] [--reps 2]
"""

from __future__ import annotations

import argparse
import os
import random
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dict-sizes", type=int, nargs="+", default=[10_000, 2_000_000])
    ap.add_argument("--queries", type=int, nargs="+", default=[1_000, 3_000, 10_000])
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from gtfsrt2lc_spark import get_spark
    from gtfsrt2lc_spark.operators.linking import FuzzyDictionary, FuzzyIndex, link_fuzzy

    spark = get_spark(master=f"local[{args.cpus}]", shuffle_partitions=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    rng = random.Random(1)
    letters = "abcdefghijklmnopqrstuvwxyz"

    def word() -> str:
        return "".join(rng.choice(letters) for _ in range(rng.randint(3, 12))).capitalize()

    with tempfile.TemporaryDirectory(prefix="fuzzy_xover_") as tmp:
        seq = iter(range(1 << 30))

        def stage(df):
            path = f"{tmp}/stage-{next(seq):04d}"
            df.write.parquet(path)
            return spark.read.parquet(path)

        for n_dict in args.dict_sizes:
            dictionary: dict[str, str] = {}
            while len(dictionary) < n_dict:
                dictionary[f"{word()} {word()}"] = f"rec{len(dictionary)}"
            keys = list(dictionary)
            surfaces = stage(
                spark.createDataFrame(
                    [(s, r, 1.0) for s, r in dictionary.items()],
                    "surface string, record_id string, prior double",
                )
            )
            t0 = time.monotonic()
            fd = FuzzyDictionary(surfaces)
            fd.bands_df, fd.shingled = stage(fd.bands_df), stage(fd.shingled)
            t_fd = time.monotonic() - t0
            t0 = time.monotonic()
            rows = surfaces.select(F.lower("surface"), "record_id").collect()
            index = FuzzyIndex(rows)
            t_idx = time.monotonic() - t0
            print(f"dict {n_dict}: FuzzyDictionary staged {t_fd:.2f}s, "
                  f"FuzzyIndex built {t_idx:.2f}s", flush=True)
            for n_q in args.queries:
                qs = [k[:-1] + "x" for k in rng.choices(keys, k=n_q // 2)]
                qs += [f"{word()} {word()}" for _ in range(n_q - n_q // 2)]
                q = stage(spark.createDataFrame([(s,) for s in set(qs)], "surface string"))
                for rep in range(args.reps):
                    t0 = time.monotonic()
                    fz = stage(link_fuzzy(q, None, prepped=fd).select("surface", "record_id"))
                    t_dist = time.monotonic() - t0
                    n_dist = fz.count()
                    t0 = time.monotonic()
                    got = index.link(q.select("surface", F.lower("surface")).collect())
                    spark.createDataFrame(
                        [(s, r) for s, r, _ in got], "surface string, record_id string"
                    )
                    t_drv = time.monotonic() - t0
                    print(f"dict {n_dict} queries {n_q} rep {rep}: distributed "
                          f"{t_dist:.2f}s ({n_dist} linked), driver {t_drv:.2f}s "
                          f"({len(got)} linked)", flush=True)


if __name__ == "__main__":
    main()
