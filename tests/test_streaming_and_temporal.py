"""Tests for the Structured Streaming surface and temporal join operators."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from onetable_spark.operators.temporal import asof_join, banded_range_join
from onetable_spark.streaming.events import (
    dedup_stream,
    read_event_stream,
    run_available_now,
    sessionize_stream,
    tumbling_event_counts,
)


def test_streaming_tumbling_equals_batch(spark, sf_dir):
    stream_out = run_available_now(
        tumbling_event_counts(read_event_stream(spark, sf_dir)), "t_tumble"
    )
    from onetable_spark.session import load_table

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").cast("timestamp").alias("w_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    s = {(r["w_start"], r["event_type"]): (r["n_events"], r["total_value"]) for r in stream_out.collect()}
    b = {(r["w_start"], r["event_type"]): (r["n_events"], r["total_value"]) for r in batch.collect()}
    assert s == b and len(s) > 0


def test_streaming_sessionize_counts(spark, sf_dir):
    out = run_available_now(sessionize_stream(read_event_stream(spark, sf_dir)), "t_sess")
    rows = out.collect()
    assert len(rows) > 0
    # sessions are disjoint per user and each holds ≥1 event
    assert all(r["n_events"] >= 1 and r["sess_start"] < r["sess_end"] for r in rows)
    total_events = sum(r["n_events"] for r in rows)
    from onetable_spark.session import load_table

    assert total_events == load_table(spark, sf_dir, "events").count()


def test_dedup_stream_with_ts_among_keys(spark, sf_dir):
    """``ts`` may itself be a dedup key: the projection must not duplicate
    the column (an ambiguous ``withWatermark("ts")``), and the result is
    the batch DISTINCT over the same keys."""
    from onetable_spark.session import load_table

    out = run_available_now(
        dedup_stream(read_event_stream(spark, sf_dir), keys=("user_id", "ts")),
        "t_dedup_ts",
        output_mode="append",
    )
    assert out.columns == ["user_id", "ts"]
    batch = load_table(spark, sf_dir, "events").select("user_id", "ts").distinct()
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch.collect()))


@pytest.fixture()
def asof_fixture(spark):
    trades = spark.createDataFrame(
        [
            (1, 100, "t1"),
            (1, 205, "t2"),
            (2, 150, "t3"),
            (3, 50, "t4"),
        ],
        "key long, t long, trade string",
    )
    quotes = spark.createDataFrame(
        [
            (1, 90, 10.0),
            (1, 100, 11.0),   # tie with trade t1 → matches (<=)
            (1, 200, 12.0),
            (2, 160, 20.0),   # after the only trade → no match
        ],
        "key long, t long, px double",
    )
    return trades, quotes


def test_asof_join_basic(asof_fixture):
    trades, quotes = asof_fixture
    out = {
        r["trade"]: r["px"]
        for r in asof_join(
            trades, quotes, on="key", left_ts="t", right_ts="t", right_cols=["px"]
        ).collect()
    }
    assert out == {"t1": 11.0, "t2": 12.0, "t3": None, "t4": None}


def test_asof_join_right_tiebreak_matches_max_by_prededup(spark):
    """r15: ``right_tiebreak`` replaces the caller-side max_by pre-dedup
    (q_asof_join dropped that groupBy's whole exchange). The window-order
    tiebreak must pick the SAME row per (key, ts) tie — the max-tiebreak
    one, with its OTHER payload column coming from the same row — and
    left-row NULLs in the tiebreak column must not disturb the frame."""
    trades = spark.createDataFrame(
        [(1, 100, "t1"), (1, 205, "t2"), (2, 150, "t3")],
        "key long, t long, trade string",
    )
    quotes = spark.createDataFrame(
        [
            (1, 100, 5, 11.0),   # (key, ts) tie: seq 5 ...
            (1, 100, 9, 99.0),   # ... loses to seq 9 → px 99.0
            (1, 100, 7, 50.0),
            (1, 200, 1, 12.0),
            (2, 150, 3, 20.0),
        ],
        "key long, t long, seq long, px double",
    )
    deduped = (
        quotes.groupBy("key", "t")
        .agg(F.max("seq").alias("seq"), F.max_by("px", "seq").alias("px"))
    )
    kw = dict(on="key", left_ts="t", right_ts="t", right_cols=["seq", "px"])
    via_tiebreak = {
        r["trade"]: (r["seq"], r["px"])
        for r in asof_join(trades, quotes, right_tiebreak="seq", **kw).collect()
    }
    via_prededup = {
        r["trade"]: (r["seq"], r["px"])
        for r in asof_join(trades, deduped, **kw).collect()
    }
    assert via_tiebreak == via_prededup == {
        "t1": (9, 99.0),
        "t2": (1, 12.0),
        "t3": (3, 20.0),
    }


def test_asof_join_tiebreak_null_payload_keeps_winning_row(spark):
    """r16 (ADVICE r15): with ``right_tiebreak``, the as-of result is the
    WHOLE max-tiebreak row — a NULL payload on the winning row stays NULL
    instead of backfilling from a losing tie row (or an older timestamp),
    which is what max_by pre-dedup would return."""
    trades = spark.createDataFrame([(1, 100, "t1")], "key long, t long, trade string")
    quotes = spark.createDataFrame(
        [
            (1, 50, 1, 7.0),     # older ts — must not leak into the tie
            (1, 100, 5, 11.0),   # losing tie row with non-null px
            (1, 100, 9, None),   # winning tie row (max seq) carries NULL
        ],
        "key long, t long, seq long, px double",
    )
    rows = asof_join(
        trades, quotes, on="key", left_ts="t", right_ts="t",
        right_cols=["seq", "px"], right_tiebreak="seq",
    ).collect()
    assert [(r["seq"], r["px"]) for r in rows] == [(9, None)]


def test_asof_join_tolerance(asof_fixture):
    trades, quotes = asof_fixture
    out = {
        r["trade"]: r["px"]
        for r in asof_join(
            trades,
            quotes,
            on="key",
            left_ts="t",
            right_ts="t",
            right_cols=["px"],
            tolerance=5,
        ).collect()
    }
    # t2 at 205: latest quote at 200, within 5 → kept; t1 at 100: quote at
    # 100, within → kept
    assert out["t1"] == 11.0 and out["t2"] == 12.0


def test_banded_range_join(spark):
    facts = spark.createDataFrame([(i, float(i)) for i in range(10)], "id long, v double")
    bands = spark.createDataFrame(
        [("lo", 0.0, 5.0), ("hi", 5.0, 100.0)], "band string, lo double, hi double"
    )
    out = banded_range_join(facts, bands, "v").groupBy("band").count().collect()
    assert {r["band"]: r["count"] for r in out} == {"lo": 5, "hi": 5}
    # plan check: fact side must not shuffle — broadcast nested loop join
    plan = banded_range_join(facts, bands, "v")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan


def test_stateful_running_totals_matches_batch(spark, sf_dir):
    from onetable_spark.session import load_table
    from onetable_spark.streaming.events import read_event_stream, run_available_now, user_running_totals

    out = run_available_now(
        user_running_totals(read_event_stream(spark, sf_dir)), "t_totals", output_mode="update"
    )
    final = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in out.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max_by("total_value", "n_events").alias("total_value"))
        .collect()
    }
    batch = {
        r["user_id"]: (r["n"], r["v"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v"))
        .collect()
    }
    assert final == batch


def test_stateful_running_totals_multibatch_state_carries(spark, sf_dir, tmp_path):
    """r16 equivalence pin for the cheaper per-key emission path: split the
    events table into TWO files and drain with maxFilesPerTrigger=1, so the
    second micro-batch exercises state.exists=True (carried n/total) — the
    final collapsed state must still equal the plain batch GROUP BY."""
    import shutil

    from pyspark.sql import types as T

    from onetable_spark.session import load_table
    from onetable_spark.streaming.events import (
        EVENT_SCHEMA,
        _epoch_micros,
        run_available_now,
        user_running_totals,
    )

    src = load_table(spark, sf_dir, "events")
    in_dir = str(tmp_path / "ev2")
    # two disjoint halves by event_id parity — every user lands in both,
    # so batch 2 genuinely updates existing state
    src.filter(F.col("event_id") % 2 == 0).write.parquet(in_dir + "/a.parquet")
    src.filter(F.col("event_id") % 2 == 1).write.parquet(in_dir + "/b.parquet")
    # flatten the part-file dirs into single files, mtime-ordered
    flat = str(tmp_path / "flat")
    import os

    os.makedirs(flat)
    for i, d in enumerate(("a.parquet", "b.parquet")):
        parts = sorted(
            p for p in os.listdir(f"{in_dir}/{d}") if p.endswith(".parquet")
        )
        for j, p in enumerate(parts):
            shutil.copy(f"{in_dir}/{d}/{p}", f"{flat}/{i}_{j}.parquet")

    raw = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = run_available_now(
        user_running_totals(raw), "t_totals_2b", output_mode="update"
    )
    final = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
        .collect()
    }
    batch = {
        r["user_id"]: (r["n"], r["v"])
        for r in src.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v"))
        .collect()
    }
    assert final == batch
    # update mode emits one row per user per micro-batch it appears in
    n_files = len(os.listdir(flat))
    assert n_files >= 2
    per_user = out.groupBy("user_id").count().collect()
    assert all(1 <= r["count"] <= n_files for r in per_user)


def test_ivf_topk_recall(spark, sf_dir):
    from onetable_spark.functions.similarity import cosine_topk, ivf_topk
    from onetable_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = list(emb.first()["embedding"])
    exact = [r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in ivf_topk(emb, q, k=10, n_clusters=16, n_probe=4).collect()]
    # the probed quarter of the corpus must contain most of the true top-10
    overlap = len(set(exact) & set(approx))
    assert overlap >= 5
    # scores reported by IVF are true cosines → any shared id has equal rank order
    assert approx[0] in exact


def test_streaming_approx_reach_bound_holds(spark):
    """Every streaming-emitted window's HLL estimate is inside the 3-sigma/
    absolute-floor envelope the query asserts in-plan, at both test sfs."""
    from onetable_spark.queries.streaming import q_streaming_approx_reach

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        rows = q_streaming_approx_reach(spark, sf).collect()
        assert rows and all(r["within_bound"] for r in rows), (sf, [r for r in rows if not r["within_bound"]][:3])
