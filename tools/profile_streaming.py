"""Quiet-window profile of the Structured Streaming query family
(guide §1): run each registry streaming query warm, capture the stream's
``recentProgress`` durationMs breakdown (addBatch / getBatch / planning /
walCommit / stateOperators metrics) per micro-batch, and time the whole
query collect() min-of-N — so streaming-machinery cost is attributed to
its phase instead of litigated from wall-clock.

Usage: python tools/profile_streaming.py [sf_dir] [reps] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from onetable_spark.session import get_spark  # noqa: E402

DEFAULT_TARGETS = [
    "streaming_approx_reach",
    "stateful_running_totals",
    "streaming_sessionize",
    "streaming_join",
    "streaming_cdf",
    "streaming_window_agg",
    "streaming_hopping",
    "streaming_dedup",
    "streaming_upsert",
]

PROGRESS: list[dict] = []


def _patch_progress_capture() -> None:
    """Wrap run_available_now so every stream's final recentProgress is
    appended to PROGRESS (name, batches, durationMs, stateOperators)."""
    from onetable_spark.streaming import events as ev

    orig = ev.run_available_now

    def wrapped(stream_df, query_name=None, output_mode="complete", shuffle_partitions=None):
        spark = stream_df.sparkSession
        import tempfile
        import uuid

        name = query_name or f"avail_now_{uuid.uuid4().hex[:8]}"
        prior = spark.conf.get("spark.sql.shuffle.partitions")
        if shuffle_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        try:
            with tempfile.TemporaryDirectory(prefix="otb_stream_ckpt_") as ckpt:
                t0 = time.perf_counter()
                q = (
                    stream_df.writeStream.format("memory")
                    .queryName(name)
                    .outputMode(output_mode)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                wall = time.perf_counter() - t0
                PROGRESS.append(
                    {
                        "name": name,
                        "wall": wall,
                        "progress": [p for p in q.recentProgress],
                    }
                )
        finally:
            if shuffle_partitions is not None:
                spark.conf.set("spark.sql.shuffle.partitions", prior)
        return spark.table(name)

    ev.run_available_now = wrapped
    # the query modules import run_available_now inside each function body from
    # onetable_spark.streaming.events, so patching the module attr is enough


def main() -> None:
    args = [a for a in sys.argv[1:]]
    sf_dir = args.pop(0) if args and args[0].startswith("/") else "/root/testdata/sf0.1"
    reps = int(args.pop(0)) if args and args[0].isdigit() else 3
    targets = args or DEFAULT_TARGETS

    spark = get_spark("profile-streaming")
    from onetable_spark.queries import SPARK_QUERIES

    SPARK_QUERIES["g1_files_diff"](spark, sf_dir).count()
    spark.range(4).mapInPandas(lambda it: it, "id long").count()
    spark.range(4).select(F.pandas_udf(lambda s: s, "long")("id")).count()

    _patch_progress_capture()

    for qname in targets:
        fn = SPARK_QUERIES[qname]
        spark.sparkContext.setJobDescription(f"profile:{qname}")
        # warm (stages tables, JIT)
        t0 = time.perf_counter()
        fn(spark, sf_dir).collect()
        cold = time.perf_counter() - t0
        PROGRESS.clear()
        best, best_prog = float("inf"), None
        for _ in range(reps):
            PROGRESS.clear()
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            dt = time.perf_counter() - t0
            if dt < best:
                best, best_prog = dt, [dict(p) for p in PROGRESS]
        print(f"\n=== {qname}: cold {cold:.2f}s  best-of-{reps} {best:.2f}s")
        for rec in best_prog or []:
            prog = rec["progress"]
            print(f"  stream {rec['name']}: wall {rec['wall']:.2f}s, {len(prog)} progress events")
            for p in prog:
                dur = p.get("durationMs", {})
                rows = p.get("numInputRows")
                ops = p.get("stateOperators", [])
                opdesc = "; ".join(
                    f"{o.get('operatorName','?')}: rowsUpd={o.get('numRowsUpdated')} "
                    f"rowsTotal={o.get('numRowsTotal')} "
                    f"commitMs={o.get('commitTimeMs')}"
                    for o in ops
                )
                print(
                    f"    batch {p.get('batchId')}: rows={rows} "
                    f"addBatch={dur.get('addBatch')} getBatch={dur.get('getBatch')} "
                    f"latestOffset={dur.get('latestOffset')} plan={dur.get('queryPlanning')} "
                    f"walCommit={dur.get('walCommit')} commitOffsets={dur.get('commitOffsets')} "
                    f"trigger={dur.get('triggerExecution')}"
                )
                if opdesc:
                    print(f"      state: {opdesc}")


if __name__ == "__main__":
    main()
