"""Quiet-window leg profile of minhash_lsh_dedup (guide §1): stage the
shared corpus tables exactly like bench, then min-of-N each leg with the
noop sink — candidates, verification join, contract aggregate, full query.

Usage: python tools/profile_minhash_legs.py [sf_dir] [reps]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from onetable_spark.session import get_spark  # noqa: E402


def timed(spark, label: str, df, reps: int) -> float:
    spark.sparkContext.setJobDescription(label)
    df.write.format("noop").mode("overwrite").save()  # warm
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    spark.sparkContext.setJobDescription(None)
    print(f"  {label:45s} {best:7.3f} s", flush=True)
    return best


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("profile-minhash-legs")

    from onetable_spark.queries import SPARK_QUERIES
    from onetable_spark.queries.ann import _subset_recall_contract
    from onetable_spark.queries.text import _corpus_neardup_pairs, _corpus_shingles
    from onetable_spark.session import load_table
    from onetable_spark.functions.dedup import (
        minhash_lsh_candidates_from,
        minhash_lsh_dedup_pairs,
    )

    SPARK_QUERIES["g1_files_diff"](spark, sf_dir).count()
    spark.range(4).mapInPandas(lambda it: it, "id long").count()
    spark.range(4).select(F.pandas_udf(lambda s: s, "long")("id")).count()
    sh = _corpus_shingles(spark, sf_dir)
    sh.count()
    exact = _corpus_neardup_pairs(spark, sf_dir)
    exact.count()

    cand = minhash_lsh_candidates_from(sh, 64, 16, 1024)
    print(f"  n_candidates = {cand.count()}, n_exact = {exact.count()}", flush=True)
    timed(spark, "A: candidates (band+bucket+distinct)", cand, reps)
    lsh = minhash_lsh_dedup_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.4, sh=sh
    )
    timed(spark, "B: A + verification join (lsh pairs)", lsh, reps)
    contract = _subset_recall_contract(exact, lsh, "lsh", bound=0.8)
    timed(spark, "C: B + contract agg", contract, reps)
    full = exact.select("id_a", "id_b", "jaccard").crossJoin(F.broadcast(contract))
    timed(spark, "D: full query (noop)", full, reps)
    q = SPARK_QUERIES["minhash_lsh_dedup"]
    best = float("inf")
    for _ in range(reps + 1):
        t0 = time.perf_counter()
        q(spark, sf_dir).collect()
        best = min(best, time.perf_counter() - t0)
    print(f"  {'E: full query (collect, min-of-N)':45s} {best:7.3f} s", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
