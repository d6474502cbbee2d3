"""Hudi row-level changelog (r13 — the third CDC edge; siblings:
tests/test_delta_cdf.py, tests/test_iceberg_changelog.py).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from onetable_spark.formats.hudi import HudiTimeline
from onetable_spark.model import DataLayoutStrategy, Table, TableFormat
from onetable_spark.sources.parquet_inventory import build_inventory


def _mor(spark, base, df, keys=("id",)):
    """A MOR table at ``base`` whose one base file holds ``df``."""
    os.makedirs(base)
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
              record_key_fields=tuple(keys))
    )
    tl.commit(adds=build_inventory(spark, [f1], root=base), action="deltacommit")
    return tl


@pytest.fixture()
def mor_table(spark, tmp_path):
    base = str(tmp_path / "hcl")
    df = spark.createDataFrame(
        [(i, f"name{i}") for i in range(6)], "id long, name string"
    )
    return base, _mor(spark, base, df)


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
    """Building the changelog over several instants runs NO Spark job:
    the change planner reads the range's commit files on the driver.
    Build it inside a job group and count the group's jobs."""
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
    assert len(probe_jobs) == 0, f"expected no build job, saw {len(probe_jobs)}"
    # and the planner changes nothing about the output
    got = _ops(feed)
    assert {("i", i, f"name{i}") for i in range(6)} <= got
    assert {("i", 20 + k, f"bulk{k}") for k in range(3)} <= got


def _python_ops(df) -> int:
    import re

    # an executed adaptive plan prints its initial plan after the final one
    plan = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    return len(re.findall(r"MapInPandas|FlatMapGroupsInPandas|MapInArrow|EvalPython", plan))


def test_change_plans_do_not_grow_with_the_range(spark, mor_table):
    """The changelog's plan holds one Python operator (the log decoder)
    over 1 upsert instant and over 4; the cdc feed's at most two (plus
    the cdc-block decoder), with two plain and two supplemental-cdc
    upserts in range. Base rows come from Spark's parquet scan."""
    base, tl = mor_table
    seed = tl.latest_instant()
    firsts = []
    for k in range(4):
        if k == 2:
            tl.set_table_properties({"hoodie.table.cdc.enabled": "true"})
        firsts.append(tl.upsert_records(
            spark.createDataFrame([(k, f"v{k}"), (30 + k, f"new{k}")], "id long, name string")
        ))
    one = tl.changelog(from_instant=seed, to_instant=firsts[0])
    four = tl.changelog(from_instant=seed)
    assert _ops(one) == {("u", 0, "v0"), ("i", 30, "new0")}
    assert len(four.collect()) == 8
    assert _python_ops(one) == _python_ops(four) <= 1
    for to in (firsts[0], None):
        feed = tl.cdc_feed(from_instant=seed, to_instant=to)
        assert len(feed.collect()) == (2 if to else 8)
        assert _python_ops(feed) <= 2


def _replace_compacted_group(spark, base, tl):
    """Update the fixture's one file group, compact it (the new base file
    is ``{fileId}_0-0-0_{instant}.parquet``), then replace the group with
    a one-row file; returns the compaction and replace instants."""
    from onetable_spark.formats.hudi import _file_id_for

    tl.upsert_records(spark.createDataFrame([(2, "v2")], "id long, name string"))
    compacted = tl.compact_file_groups()
    f2 = os.path.join(base, "f2.parquet")
    pq.write_table(pa.table({"id": pa.array([20], pa.int64()), "name": ["twenty"]}), f2)
    replace = tl.commit(
        adds=build_inventory(spark, [f2], root=base),
        replace_file_ids={"": [_file_id_for("f1.parquet")]},
    )
    return compacted, replace


def test_replacing_a_compacted_group_emits_its_rows(spark, mor_table, tmp_path):
    """A replacecommit of a file group whose base file compaction wrote
    emits that file's rows as 'd' — matched on the write stat's fileId,
    not a fileId derived from the file's name — in the changelog, the
    cdc feed and the row stream alike."""
    import json

    from onetable_spark.streaming.cdc import read_hudi_row_stream
    from tests.test_streaming_cdc import _drain_rows

    base, tl = mor_table
    compacted, replace = _replace_compacted_group(spark, base, tl)
    want = {("d", i, "v2" if i == 2 else f"name{i}") for i in range(6)} | {("i", 20, "twenty")}
    assert _ops(tl.changelog(from_instant=compacted)) == want
    feed = tl.cdc_feed(from_instant=compacted).collect()
    got = set()
    for r in feed:
        image = json.loads(r["before"] if r["op"] == "d" else r["after"])
        got.add((r["op"], image["id"], image["name"]))
    assert len(feed) == 7 and got == want
    rows = _drain_rows(spark, read_hudi_row_stream(spark, base), str(tmp_path / "ck"))
    tail = [(r["_change_operation"], r["id"], r["name"]) for r in rows if r["_commit_instant"] == replace]
    assert len(tail) == 7 and set(tail) == want


def test_reupserted_deleted_key_counts_as_an_insert(spark, mor_table):
    """A key a DELETE block removed and a later upsert writes back is an
    insert again: the realtime count nets it back, and equals the row
    count compaction then writes."""
    base, tl = mor_table
    target = tl.snapshot_files().collect()[0]["path"]
    ids = pq.read_table(target, columns=["id"])["id"].to_pylist()
    tl.commit_delete_logs(spark.createDataFrame([(target, ids.index(2))], "path string, pos long"))
    tl.upsert_records(spark.createDataFrame([(2, "back")], "id long, name string"))
    realtime = sum(r["record_count"] for r in tl.snapshot_files(view="realtime").collect())
    tl.compact_file_groups()
    merged = spark.read.parquet(*[r["path"] for r in tl.snapshot_files().collect()]).collect()
    assert realtime == len(merged) == 6
    assert {(r["id"], r["name"]) for r in merged} == {
        (i, "back" if i == 2 else f"name{i}") for i in range(6)
    }


def test_compaction_keeps_date_and_timestamp_values(spark, tmp_path):
    """Compaction writes ``date``, ``timestamp`` and ``timestamp_ntz``
    columns (a Spark-written base file holds INT96 timestamps) in types
    Spark reads back: the compacted values equal the realtime rows."""
    schema = "id long, d date, ts timestamp, ntz timestamp_ntz"
    noon = dt.datetime(2020, 1, 1, 12, 0, 0, 250000)
    df = spark.createDataFrame(
        [(i, dt.date(2020, 1, 1 + i), noon, noon) for i in range(3)], schema
    )
    tl = _mor(spark, str(tmp_path / "cts"), df)
    late = dt.datetime(1969, 12, 31, 23, 59, 59, 123456)
    batch = spark.createDataFrame([(1, dt.date(1969, 12, 31), late, late)], schema)
    tl.upsert_records(batch)
    want = {r["id"]: tuple(r) for r in df.collect()}
    want.update({r["id"]: tuple(r) for r in batch.collect()})
    tl.compact_file_groups()
    paths = [r["path"] for r in tl.snapshot_files().collect()]
    got = spark.read.parquet(*paths).collect()
    assert sorted(map(tuple, got)) == sorted(want.values())


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


def test_upsert_runs_a_bounded_number_of_jobs(spark, mor_table):
    """One keyed upsert (one update, one insert) reads the base keys once
    through Spark's parquet scan, runs its side-effecting log author in
    one action and spools the commit from the rows the driver holds: at
    most 7 Spark jobs, counted through its job group. The changelog is
    unchanged."""
    base, tl = mor_table
    seed = tl.latest_instant()
    batch = spark.createDataFrame([(2, "name2_v2"), (9, "nine")], "id long, name string")
    sc = spark.sparkContext
    sc.setJobGroup("hudi_upsert_jobs", "one keyed upsert")
    try:
        tl.upsert_records(batch)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("hudi_upsert_jobs")
    assert len(jobs) <= 7, f"expected at most 7 jobs, saw {len(jobs)}"
    assert _ops(tl.changelog(from_instant=seed)) == {("u", 2, "name2_v2"), ("i", 9, "nine")}


@pytest.mark.parametrize(
    "schema,rows,update",
    [
        ("id long, tag string, name string", [(1, None, "a"), (1, "x", "b")], (1, None, "a2")),
        ("id long, flag boolean, name string", [(1, True, "a"), (1, False, "b")], (1, True, "a2")),
    ],
    ids=["null_part", "boolean_part"],
)
def test_upsert_matches_composite_keys(spark, tmp_path, schema, rows, update):
    """A composite key with a NULL or a boolean part matches its row: the
    upsert logs an update, the realtime count stays 2, and compaction
    merges the logged record over the base row it replaces."""
    df = spark.createDataFrame(rows, schema)
    tl = _mor(spark, str(tmp_path / "ck"), df, keys=df.columns[:2])
    seed = tl.latest_instant()
    tl.upsert_records(spark.createDataFrame([update], schema))
    rt = tl.snapshot_files(view="realtime").collect()
    assert sum(r["record_count"] for r in rt) == 2
    got = [(r["_change_operation"], r["name"]) for r in tl.changelog(from_instant=seed).collect()]
    assert got == [("u", "a2")]
    tl.compact_file_groups()
    paths = [r["path"] for r in tl.snapshot_files().collect()]
    merged = spark.read.parquet(*paths).collect()
    assert sorted(map(tuple, merged), key=str) == sorted([update, rows[1]], key=str)


def test_upsert_refuses_records_without_a_key(spark, mor_table, tmp_path):
    """A NULL single-field key, or a composite key whose parts are all
    NULL, is no Hudi record key: the upsert refuses with ValueError and
    takes back the instant it claimed — no pending instant, no scratch
    output, on a table with a base file or with none yet."""
    base, tl = mor_table
    with pytest.raises(ValueError, match="no record key"):
        tl.upsert_records(spark.createDataFrame([(None, "x")], "id long, name string"))
    schema = "id long, tag string, name string"
    ck = _mor(spark, str(tmp_path / "ck"), spark.createDataFrame([(1, "t", "a")], schema),
              keys=("id", "tag"))
    with pytest.raises(ValueError, match="no record key"):
        ck.upsert_records(spark.createDataFrame([(None, None, "x")], schema))
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    fresh = HudiTimeline(spark, empty)
    fresh.init_table(
        Table(name="t", base_path=empty, table_format=TableFormat.HUDI,
              read_schema=spark.createDataFrame([], "id long, name string").schema,
              layout=DataLayoutStrategy.FLAT, record_key_fields=("id",))
    )
    with pytest.raises(ValueError, match="no record key"):
        fresh.upsert_records(spark.createDataFrame([(None, "x")], "id long, name string"))
    for t, root in ((tl, base), (ck, str(tmp_path / "ck")), (fresh, empty)):
        assert t.pending_instants() == []
        assert not [d for d in os.listdir(root) if d.startswith("_upsert_")]


def test_delete_logs_refuse_positions_the_scan_misses(spark, mor_table):
    """A position past the file's end, a repeated position, or a path the
    scan reports under another spelling leaves fewer deleted rows than
    were asked for: the delete refuses with ValueError, removes the log
    files it wrote and leaves no pending instant."""
    base, tl = mor_table
    target = tl.snapshot_files().collect()[0]["path"]
    before = sorted(os.listdir(base))
    for rows in ([(target, 1), (target, 99)], [(target, 1), (target, 1)]):
        with pytest.raises(ValueError, match="no distinct row"):
            tl.commit_delete_logs(spark.createDataFrame(rows, "path string, pos long"))
    assert tl.pending_instants() == []
    assert sorted(os.listdir(base)) == before
    assert sum(r["record_count"] for r in tl.snapshot_files().collect()) == 6


@pytest.mark.parametrize(
    "ddl,value",
    [
        ("string", "a b"),
        ("int", 7),
        ("long", 2**40),
        ("boolean", True),
        ("date", dt.date(2020, 1, 2)),
        ("timestamp", dt.datetime(2020, 1, 2, 3, 4, 5, 500000)),
        ("decimal(12,4)", Decimal("1.5000")),
        ("long", None),
    ],
    ids=["string", "int", "long", "boolean", "date", "timestamp", "decimal", "null"],
)
def test_record_key_column_and_python_form_agree(spark, tmp_path, ddl, value):
    """The record-key Column and its Arrow twin — which keys the rows a
    file-slice merge holds in Python: base rows read by pyarrow and log
    records decoded from Avro — render each key type identically, alone
    and as a composite part."""
    from onetable_spark.formats.avro_schema import structtype_to_avro
    from onetable_spark.formats.hudi import _record_key, _record_keys
    from onetable_spark.formats.hudi_log import (
        avro_block_records,
        encode_logical,
        logical_fields,
        read_log_blocks,
        write_avro_log_block,
    )

    df = spark.createDataFrame([(value, 1)], f"k {ddl}, j int")
    path = str(tmp_path / "k.parquet")
    df.coalesce(1).write.parquet(path)
    got = spark.read.parquet(path).select(
        _record_key(["k"]).alias("one"), _record_key(["k", "j"]).alias("two")
    ).first()
    base = pq.read_table(path)
    decoded = [base]
    if not ddl.startswith("decimal"):  # the log codec writes no decimals
        avro = structtype_to_avro(df.schema, name="record")
        log = str(tmp_path / "k.log")
        row = base.to_pylist()[0]
        write_avro_log_block(log, [encode_logical(row, logical_fields(avro))], avro, "1")
        recs = avro_block_records(read_log_blocks(log)[0], decode=True)[1]
        decoded.append(pa.Table.from_pylist(recs, schema=base.schema))
    for tbl in decoded:
        assert _record_keys(tbl, ["k"], "UTC").to_pylist() == [got["one"]]
        assert _record_keys(tbl, ["k", "j"], "UTC").to_pylist() == [got["two"]]


@pytest.mark.parametrize("ddl", ["float", "double"])
def test_keyed_writes_refuse_float_keys(spark, tmp_path, ddl):
    """Spark renders a float or double as Java does (``1.0E7``), Python as
    its repr (``10000000.0``): the two forms of a key could not agree, so
    the keyed writers refuse such record-key fields before claiming an
    instant."""
    schema = f"k {ddl}, name string"
    tl = _mor(spark, str(tmp_path / "fk"), spark.createDataFrame([(1e7, "a")], schema),
              keys=("k",))
    target = tl.snapshot_files().collect()[0]["path"]
    with pytest.raises(ValueError, match="float/double"):
        tl.upsert_records(spark.createDataFrame([(1e7, "b")], schema))
    with pytest.raises(ValueError, match="float/double"):
        tl.commit_delete_logs(spark.createDataFrame([(target, 0)], "path string, pos long"))
    assert tl.pending_instants() == []


def test_live_slices_agree_with_the_driver_replay(spark, mor_table):
    """``snapshot_files``' Spark replay and the driver replay the writers
    use (``_file_group_states``) keep the same slices on a table with a
    rollback and a replacecommit: a group replaced while it still holds
    log files is gone with its logs, so neither the default view nor
    ``has_unmerged_logs`` reports them and compaction has nothing to do."""
    from onetable_spark.formats.hudi import _file_group_states, _file_id_for

    base, tl = mor_table
    first = tl.snapshot_files().collect()[0]["path"]
    tl.upsert_records(spark.createDataFrame([(2, "v2"), (9, "nine")], "id long, name string"))
    rolled = tl.upsert_records(spark.createDataFrame([(9, "nine2")], "id long, name string"))
    tl.rollback(rolled)
    f2 = os.path.join(base, "f2.parquet")
    pq.write_table(pa.table({"id": pa.array([20], pa.int64()), "name": ["twenty"]}), f2)
    tl.commit(adds=build_inventory(spark, [f2], root=base),
              replace_file_ids={"": [_file_id_for(first[len(base) + 1:])]})
    groups = _file_group_states(base)[None]
    spark_view = sorted(r["path"] for r in tl.snapshot_files().collect())
    assert spark_view == sorted(f"{base}/{g['rel']}" for g in groups.values())
    assert len(spark_view) == 2 and f2 in spark_view
    assert not tl.has_unmerged_logs() and not any(g["logs"] for g in groups.values())
    assert tl.compact_file_groups() is None


def test_changelog_refuses_a_range_reaching_archived_instants(spark, tmp_path):
    """Once archive_timeline has moved instants off the active timeline,
    a changelog or cdc feed whose range reaches them refuses, naming the
    earliest active instant; a range starting at the last archived
    instant is served whole."""
    base = str(tmp_path / "arch")
    os.makedirs(base)
    schema = spark.createDataFrame([], "id long, name string").schema
    tl = HudiTimeline(spark, base)
    tl.init_table(
        Table(name="t", base_path=base, table_format=TableFormat.HUDI,
              read_schema=schema, layout=DataLayoutStrategy.FLAT,
              record_key_fields=("id",))
    )
    for k in range(12):
        f = os.path.join(base, f"f{k}.parquet")
        pq.write_table(pa.table({"id": pa.array([k], pa.int64()), "name": [f"n{k}"]}), f)
        tl.commit(adds=build_inventory(spark, [f], root=base))
    instants = [i for i, _ in tl.completed_instants()]
    assert tl.archive_timeline(keep_latest=10) == 2
    with pytest.raises(ValueError, match=f"earliest active instant is {instants[2]}"):
        tl.changelog()
    with pytest.raises(ValueError, match="archived"):
        tl.cdc_feed(to_instant=instants[5])
    rows = tl.changelog(from_instant=instants[1]).collect()
    assert sorted(r["id"] for r in rows) == list(range(2, 12))


def test_upsert_logs_null_integer_values(spark, tmp_path):
    """A NULL in an integer column of an updated record is logged as NULL
    beside the non-NULL one: the log author reads Arrow rows, where an
    integer column with NULLs stays integer."""
    schema = "id long, score long"
    tl = _mor(spark, str(tmp_path / "ni"), spark.createDataFrame([(i, i) for i in range(3)], schema))
    seed = tl.latest_instant()
    tl.upsert_records(spark.createDataFrame([(1, None), (2, 7)], schema))
    got = {(r["_change_operation"], r["id"], r["score"]) for r in tl.changelog(from_instant=seed).collect()}
    assert got == {("u", 1, None), ("u", 2, 7)}


def test_changelog_and_upsert_under_a_path_with_plus_and_space(spark, tmp_path):
    """Spark's scan reports a file under ``a+b c/`` as ``a+b%20c``; the
    rows it tags join the planned and live paths all the same, so the
    changelog holds every row and the upsert finds its file group."""
    tl = _mor(spark, str(tmp_path / "a+b c" / "t"),
              spark.createDataFrame([(i, f"name{i}") for i in range(3)], "id long, name string"))
    seed = tl.latest_instant()
    assert _ops(tl.changelog()) == {("i", i, f"name{i}") for i in range(3)}
    tl.upsert_records(spark.createDataFrame([(1, "v1")], "id long, name string"))
    assert _ops(tl.changelog(from_instant=seed)) == {("u", 1, "v1")}

