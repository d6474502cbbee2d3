"""Job-level profile of the two heaviest remaining bench queries
(simhash_near_dups, minhash_lsh_dedup) — guide §1: measure before touching.

Replicates bench methodology: shared corpus intermediates pre-staged
(uncounted), then each sub-stage materialized with the noop sink min-of-N
so the breakdown attributes time to the stage, not the sink or the cache
build. Run SERIALIZED (nothing else on the host) per BASELINE.md protocol.

Usage: python tools/profile_dedup_pair.py [sf_dir] [n_reps]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from onetable_spark.session import get_spark  # noqa: E402


def timed(spark, label: str, df, reps: int = 3) -> float:
    spark.sparkContext.setJobDescription(label)
    df.write.format("noop").mode("overwrite").save()  # warm
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    spark.sparkContext.setJobDescription(None)
    print(f"  {label:45s} {best:7.3f} s")
    return best


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("profile-dedup-pair")

    from onetable_spark.queries import SPARK_QUERIES
    from onetable_spark.queries.text import (
        _corpus_neardup_pairs,
        _corpus_shingles,
        _corpus_token_hashes,
    )
    from onetable_spark.session import load_table

    # bench-equivalent warmup: JVM, Arrow pool, shared corpus indexes
    SPARK_QUERIES["g1_files_diff"](spark, sf_dir).count()
    spark.range(4).mapInPandas(lambda it: it, "id long").count()
    spark.range(4).select(F.pandas_udf(lambda s: s, "long")("id")).count()
    _corpus_token_hashes(spark, sf_dir).count()
    _corpus_neardup_pairs(spark, sf_dir).count()

    print("== simhash_near_dups breakdown ==")
    from onetable_spark.functions.dedup import (
        _band_bucket_udf,
        _bounded_members,
        _simhash_sig_udf,
        minhash_lsh_candidates_from,
        simhash_near_dup_pairs,
    )
    from onetable_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    md5s = docs.select(
        F.col("doc_id").alias("id"),
        F.transform(tokens("text"), lambda t: F.md5(t)).alias("m"),
    )
    pack = lambda h: F.shiftleft(  # noqa: E731
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), 32
    ) + F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    th = md5s.select("id", F.transform("m", pack).alias("th"))
    timed(spark, "simhash: md5 token-hash build (th)", th, reps)
    sig = th.select("id", _simhash_sig_udf()(F.array_distinct("th")).alias("sig"))
    timed(spark, "simhash: th + sig UDF", sig, reps)
    full = SPARK_QUERIES["simhash_near_dups"]
    t0 = time.perf_counter()
    full(spark, sf_dir).collect()
    print(f"  {'simhash: FULL query (collect, cold scratch)':45s} {time.perf_counter() - t0:7.3f} s")
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        full(spark, sf_dir).collect()
        best = min(best, time.perf_counter() - t0)
    print(f"  {'simhash: FULL query (collect, min-of-N)':45s} {best:7.3f} s")

    print("== minhash_lsh_dedup breakdown ==")
    sh = _corpus_shingles(spark, sf_dir)
    sh.count()  # staged, as in bench
    banded = sh.select(
        "id", F.posexplode(_band_bucket_udf(64, 16)("sh")).alias("band", "bucket")
    )
    timed(spark, "minhash: banding UDF explode", banded, reps)
    buckets = _bounded_members(banded, ["band", "bucket"], "id", F.col("id"), 1024)
    timed(spark, "minhash: + bounded members", buckets, reps)
    cand = minhash_lsh_candidates_from(sh, 64, 16, 1024)
    timed(spark, "minhash: + candidate pairs (distinct)", cand, reps)
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    ver = (
        cand.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= 0.4)
        .select("id_a", "id_b", "jaccard")
    )
    timed(spark, "minhash: + verification join", ver, reps)
    full = SPARK_QUERIES["minhash_lsh_dedup"]
    best = float("inf")
    for _ in range(reps + 1):
        t0 = time.perf_counter()
        full(spark, sf_dir).collect()
        best = min(best, time.perf_counter() - t0)
    print(f"  {'minhash: FULL query (collect, min-of-N)':45s} {best:7.3f} s")

    spark.stop()


if __name__ == "__main__":
    main()
