"""Hudi row-level changelog (r13 — the third CDC edge; siblings:
tests/test_delta_cdf.py, tests/test_iceberg_changelog.py).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from onetable_spark.formats.hudi import HudiTimeline
from onetable_spark.model import DataLayoutStrategy, Table, TableFormat
from onetable_spark.sources.parquet_inventory import build_inventory


@pytest.fixture()
def mor_table(spark, tmp_path):
    base = str(tmp_path / "hcl")
    os.makedirs(base)
    df = spark.createDataFrame(
        [(i, f"name{i}") for i in range(6)], "id long, name string"
    )
    stage = os.path.join(base, "_stage")
    df.coalesce(1).write.parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    f1 = os.path.join(base, "f1.parquet")
    os.replace(os.path.join(stage, part), f1)
    shutil.rmtree(stage)
    tl = HudiTimeline(spark, base)
    tl.init_table(
        Table(name="t", base_path=base, table_format=TableFormat.HUDI,
              read_schema=df.schema, layout=DataLayoutStrategy.FLAT,
              record_key_fields=("id",))
    )
    tl.commit(adds=build_inventory(spark, [f1], root=base), action="deltacommit")
    return base, tl


def _ops(df):
    return {
        (r["_change_operation"], r["id"], r["name"]) for r in df.collect()
    }


def test_changelog_upsert_and_compaction(spark, mor_table):
    base, tl = mor_table
    batch = spark.createDataFrame(
        [(2, "name2_v2"), (9, "nine")], "id long, name string"
    )
    tl.upsert_records(batch)
    got = _ops(tl.changelog())
    expected = {("i", i, f"name{i}") for i in range(6)} | {
        ("u", 2, "name2_v2"),   # log-block after-image
        ("i", 9, "nine"),       # fresh file group
    }
    assert got == expected
    # per-instant attribution: two instants, the second carries u+i
    feed = tl.changelog()
    by_instant = {
        r["_commit_instant"]: r["_change_operation"] for r in feed.collect()
    }
    assert len(set(by_instant)) == 2

    # compaction (COMPACT instant) is changelog-invisible
    tl.compact_file_groups()
    assert _ops(tl.changelog()) == expected


def test_changelog_delete_blocks_and_range(spark, mor_table):
    base, tl = mor_table
    from onetable_spark.formats.hudi import _file_id_for
    from onetable_spark.formats.hudi_log import write_delete_log_block

    # author a DELETE block for id=4 through the public log writer, as
    # commit_delete_logs would
    target = tl.snapshot_files().collect()[0]["path"]
    positions = spark.createDataFrame(
        [(target, 4)], "path string, pos long"
    )
    # compute the real position of id 4
    import pyarrow.parquet as pq

    ids = pq.read_table(target, columns=["id"])["id"].to_pylist()
    positions = spark.createDataFrame(
        [(target, ids.index(4))], "path string, pos long"
    )
    first = tl.completed_instants()[-1][0]
    tl.commit_delete_logs(positions)
    feed = tl.changelog(from_instant=first)
    rows = feed.collect()
    assert {(r["_change_operation"], r["id"]) for r in rows} == {("d", 4)}
    assert all(r["name"] is None for r in rows)  # delete rows carry the key only


def test_clustering_is_changelog_invisible(spark, mor_table):
    base, tl = mor_table
    last = tl.completed_instants()[-1][0]
    # a CLUSTER replacecommit (the zorder/compaction planner's stamp)
    inv = tl.snapshot_files()
    row = inv.collect()[0]
    from onetable_spark.formats.hudi import _file_id_for

    rel = row["path"][len(base) + 1:]
    tl.commit(
        adds=build_inventory(spark, [row["path"]], root=base),
        replace_file_ids={"": [_file_id_for(rel)]},
        operation="CLUSTER",
    )
    assert tl.changelog(from_instant=last).count() == 0


def test_changelog_probe_is_one_job(spark, mor_table):
    """r14: ALL in-range commit heads come off ONE spark.read.json — the
    r13 form ran one .first() job per instant. Build the changelog over
    several instants inside a job group and count the group's jobs."""
    base, tl = mor_table
    for k in range(3):
        batch = spark.createDataFrame(
            [(20 + k, f"bulk{k}")], "id long, name string"
        )
        tl.upsert_records(batch)
    sc = spark.sparkContext
    sc.setJobGroup("hudi_probe_count", "changelog build probes")
    try:
        feed = tl.changelog()
    finally:
        sc.setJobGroup(None, None)
    probe_jobs = sc.statusTracker().getJobIdsForGroup("hudi_probe_count")
    assert len(probe_jobs) == 1, f"expected 1 probe job, saw {len(probe_jobs)}"
    # and the batched probe changes nothing about the output
    got = _ops(feed)
    assert {("i", i, f"name{i}") for i in range(6)} <= got
    assert {("i", 20 + k, f"bulk{k}") for k in range(3)} <= got


def test_changelog_pairs_updates_with_identifier_fields(spark, mor_table):
    """r14: identifier_fields pairs a same-key 'd'+'i' within one instant
    (the replace-commit upsert shape) into update_preimage/postimage;
    log-block 'u' after-images pass through unchanged."""
    base, tl = mor_table
    # a replace-commit upsert: replaces the seed file group with a new
    # base carrying an updated row + the untouched rows
    df = spark.createDataFrame(
        [(i, f"name{i}") for i in range(6) if i != 2] + [(2, "name2_v2")],
        "id long, name string",
    )
    stage = os.path.join(base, "_stage2")
    df.coalesce(1).write.parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    f2 = os.path.join(base, "f2.parquet")
    os.replace(os.path.join(stage, part), f2)
    shutil.rmtree(stage)
    old_fid = tl.snapshot_files().collect()[0]["path"]
    from onetable_spark.formats.hudi import _file_id_for

    fid = _file_id_for(os.path.basename(old_fid))
    tl.commit(
        adds=build_inventory(spark, [f2], root=base),
        replace_file_ids={"": [fid]},
    )
    got = _ops(tl.changelog(identifier_fields=["id"]))
    # every pre-existing id appears as a paired update (delete+insert
    # same key in the replace instant); 2's postimage carries the new name
    assert ("update_preimage", 2, "name2") in got
    assert ("update_postimage", 2, "name2_v2") in got
    assert not any(op == "d" for op, _, _ in got)
    with pytest.raises(ValueError, match="identifier fields"):
        tl.changelog(identifier_fields=["nope"])


def test_changelog_round_trips_date_and_timestamp_upserts(spark, tmp_path):
    """upsert_records logs ``date`` / ``timestamp`` / ``timestamp_ntz``
    columns in their Avro logical encodings (epoch days / epoch micros)
    and changelog() decodes them back: the after-image of an updated row
    carries exactly the values that were upserted, NULLs included."""
    import datetime as dt

    base = str(tmp_path / "hdt")
    os.makedirs(base)
    schema = "id long, d date, ts timestamp, ntz timestamp_ntz"
    noon = dt.datetime(2020, 1, 1, 12, 0, 0)
    df = spark.createDataFrame(
        [(i, dt.date(2020, 1, 1 + i), noon, noon) for i in range(3)], schema
    )
    stage = os.path.join(base, "_stage")
    df.coalesce(1).write.parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    f1 = os.path.join(base, "f1.parquet")
    os.replace(os.path.join(stage, part), f1)
    shutil.rmtree(stage)
    tl = HudiTimeline(spark, base)
    tl.init_table(
        Table(name="t", base_path=base, table_format=TableFormat.HUDI,
              read_schema=df.schema, layout=DataLayoutStrategy.FLAT,
              record_key_fields=("id",))
    )
    tl.commit(adds=build_inventory(spark, [f1], root=base), action="deltacommit")

    late = dt.datetime(1969, 12, 31, 23, 59, 59, 123456)
    batch = spark.createDataFrame(
        [(1, dt.date(1969, 12, 31), late, late), (2, None, None, None)], schema
    )
    tl.upsert_records(batch)
    got = {
        (r["_change_operation"], r["id"], r["d"], r["ts"], r["ntz"])
        for r in tl.changelog().collect()
    }
    want = {("i", *r) for r in map(tuple, df.collect())} | {
        ("u", *r) for r in map(tuple, batch.collect())
    }
    assert got == want


def test_hudi_writers_emit_no_type_hint_warning(spark, mor_table):
    """No pandas function on the upsert, delete-log or compaction path
    carries partial type hints, so none emits pyspark's eval-type
    inference warning."""
    import warnings

    import pyarrow.parquet as pq

    base, tl = mor_table
    target = tl.snapshot_files().collect()[0]["path"]
    ids = pq.read_table(target, columns=["id"])["id"].to_pylist()
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        tl.upsert_records(
            spark.createDataFrame([(2, "name2_v2"), (9, "nine")], "id long, name string")
        )
        tl.commit_delete_logs(
            spark.createDataFrame([(target, ids.index(4))], "path string, pos long")
        )
        tl.compact_file_groups()
    assert not [
        w for w in caught if "Cannot infer the eval type" in str(w.message)
    ]
