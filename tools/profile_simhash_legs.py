"""Quiet-window leg profile of simhash_near_dups (guide §1): replicate the
pipeline stage by stage (same expressions as dedup.simhash_near_dup_pairs)
and min-of-N each prefix with the noop sink, so time is attributed to the
stage that added it.

Usage: python tools/profile_simhash_legs.py [sf_dir] [reps]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark import StorageLevel  # noqa: E402
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
    spark = get_spark("profile-simhash-legs")

    from onetable_spark.functions.dedup import _bounded_members, _simhash_sig_udf
    from onetable_spark.functions.text import spread_if_narrow, tokens
    from onetable_spark.queries import SPARK_QUERIES
    from onetable_spark.session import load_table

    SPARK_QUERIES["g1_files_diff"](spark, sf_dir).count()
    spark.range(4).mapInPandas(lambda it: it, "id long").count()
    spark.range(4).select(F.pandas_udf(lambda s: s, "long")("id")).count()

    docs = load_table(spark, sf_dir, "documents")
    md5s = spread_if_narrow(
        docs.select(F.col("doc_id").alias("id"), F.col("text").alias("_text"))
    ).select("id", F.transform(tokens("_text"), lambda t: F.md5(t)).alias("m"))
    pack = lambda h: F.shiftleft(  # noqa: E731
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), 32
    ) + F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    th = md5s.select("id", F.transform("m", pack).alias("th"))
    timed(spark, "1: th build (md5+pack)", th, reps)
    sig_plain = th.select("id", _simhash_sig_udf()(F.array_distinct("th")).alias("sig"))
    timed(spark, "2: + sig UDF (no persist)", sig_plain, reps)

    max_bucket = 1024
    # persisted pieces rebuilt per rep is what the query pays; here we
    # measure the steady-state pipeline on a persisted sig to attribute
    # the DOWNSTREAM stages separately from the UDF rebuild
    sig = sig_plain.persist(StorageLevel.MEMORY_AND_DISK)
    n_sigs = sig.count()
    gstat = sig.groupBy("sig").agg(
        F.count(F.lit(1)).alias("n"), F.min("id").alias("anchor")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    n_groups = gstat.count()
    small = (
        sig.join(gstat.filter(F.col("n") <= max_bucket).select("sig"), "sig")
        .groupBy("sig")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
    )
    large_rep = gstat.filter(F.col("n") > max_bucket).select(
        "sig", F.array("anchor").alias("ids")
    )
    groups = small.unionByName(large_rep).persist(StorageLevel.MEMORY_AND_DISK)
    n_distinct = groups.count()
    print(f"  n_docs(sig rows)={n_sigs} n_distinct_sigs={n_groups} groups={n_distinct}", flush=True)
    timed(spark, "3: gstat (on persisted sig)", gstat, reps)
    timed(spark, "4: groups (small join + union)", groups, reps)
    chunks = groups.select(
        F.struct("sig", "ids").alias("g"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned("sig", c * 16).bitwiseAND(F.lit(0xFFFF)).alias("val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
    )
    buckets = _bounded_members(chunks, ["cc"], "g", F.col("g.sig"), max_bucket)
    timed(spark, "5: + chunk explode + bounded members", buckets, reps)
    sig_pairs = (
        buckets.select(F.explode("mem").alias("a"), "mem")
        .select("a", F.explode("mem").alias("b"))
        .filter(F.col("a.sig") < F.col("b.sig"))
        .select(
            F.col("a.ids").alias("ids_a"),
            F.col("b.ids").alias("ids_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
    )
    n_sig_pairs = sig_pairs.count()
    print(f"  n_sig_pairs={n_sig_pairs}", flush=True)
    timed(spark, "6: + pair gen + distinct", sig_pairs, reps)
    q = SPARK_QUERIES["simhash_near_dups"]
    best = float("inf")
    for _ in range(reps + 1):
        t0 = time.perf_counter()
        q(spark, sf_dir).collect()
        best = min(best, time.perf_counter() - t0)
    print(f"  {'7: FULL query (collect, min-of-N)':45s} {best:7.3f} s", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
