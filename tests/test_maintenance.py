"""Compaction planner (operators/maintenance.py): stride-bin semantics on a
synthetic inventory, then the full OPTIMIZE loop on a REAL Delta table —
plan bins over ``snapshot_files()``, execute the rewrite as a
remove+add commit, verify the snapshot converged."""

from __future__ import annotations

import os
import shutil

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from onetable_spark.formats.delta import DeltaLog
from onetable_spark.model import DataLayoutStrategy, Table, TableFormat
from onetable_spark.operators.maintenance import assign_compaction_bins, plan_compaction_bins
from onetable_spark.sources.parquet_inventory import build_inventory


def _files_df(spark, rows):
    return spark.createDataFrame(rows, "part string, path string, size long")


def test_stride_bins_deterministic(spark):
    # target 25: exclusive cumsums 0,10,20,30 -> bins 0,0,0,1; the stride
    # relaxation overshoots bin 0 by one file (30 bytes), bin 1 is a
    # singleton and dropped by min_files=2
    files = _files_df(
        spark,
        [("a", f"f{i}", 10) for i in range(4)],
    )
    plan = plan_compaction_bins(
        files, target_bytes=25, part_cols=("part",), order_col="path"
    ).collect()
    assert len(plan) == 1
    row = plan[0]
    assert (row["bin_id"], row["n_files"], row["total_bytes"]) == (0, 3, 30)
    assert (row["first_file"], row["last_file"]) == ("f0", "f2")


def test_large_files_excluded_and_partitions_independent(spark):
    files = _files_df(
        spark,
        [
            ("a", "big", 1000),  # >= target: already compacted, excluded
            ("a", "s1", 10),
            ("a", "s2", 10),
            ("b", "s3", 10),
            ("b", "s4", 10),
        ],
    )
    plan = {
        (r["part"], r["bin_id"]): r["n_files"]
        for r in plan_compaction_bins(
            files, target_bytes=100, part_cols=("part",), order_col="path"
        ).collect()
    }
    # the 1000-byte file neither joins a bin nor shifts partition a's cumsum
    assert plan == {("a", 0): 2, ("b", 0): 2}


def test_optimize_loop_on_real_delta_table(spark, sf_dir, tmp_path):
    """plan over snapshot_files() -> rewrite commit -> converged snapshot."""
    base = str(tmp_path / "opt")
    os.makedirs(base)
    src = os.path.join(sf_dir, "region.parquet")
    for i in range(4):
        shutil.copy(src, os.path.join(base, f"small{i}.parquet"))
    schema = spark.read.parquet(base).schema
    log = DeltaLog(spark, base)
    log.init_table(
        Table(
            name="opt",
            base_path=base,
            table_format=TableFormat.DELTA,
            read_schema=schema,
            layout=DataLayoutStrategy.FLAT,
        )
    )
    log.commit(
        adds=build_inventory(
            spark, [os.path.join(base, f"small{i}.parquet") for i in range(4)], root=base
        )
    )

    files = log.snapshot_files()
    # every small file lands in one bin: target far above 4x the file size
    target = files.agg(F.sum("size")).collect()[0][0] * 2
    plan = plan_compaction_bins(
        files,
        target_bytes=int(target),
        part_cols=(),
        size_col="size",
        order_col="path",
    ).collect()
    assert len(plan) == 1 and plan[0]["n_files"] == 4

    # execute the rewrite: one merged file replaces the bin's members
    merged_dir = os.path.join(base, "merged")
    spark.read.parquet(base).coalesce(1).write.parquet(merged_dir)
    merged = [
        os.path.join(merged_dir, f)
        for f in os.listdir(merged_dir)
        if f.endswith(".parquet")
    ]
    assert len(merged) == 1
    n_before = spark.read.parquet(base).count()
    log.commit(
        adds=build_inventory(spark, merged, root=base),
        removes=files,
        operation="OPTIMIZE",
    )
    live = log.snapshot_files()
    assert live.count() == 1
    # record count is preserved through the rewrite (stats plane)
    assert live.agg(F.sum("record_count")).collect()[0][0] == n_before


def _stage_native(spark, sf_dir, base, fmt, n_small=4):
    import pyspark.sql.functions as _F

    from onetable_spark.formats.hudi import HudiTimeline
    from onetable_spark.formats.iceberg import IcebergTable
    from onetable_spark.model import TableFormat

    os.makedirs(base)
    src = os.path.join(sf_dir, "region.parquet")
    small = []
    for i in range(n_small):
        p = os.path.join(base, f"small{i}.parquet")
        shutil.copy(src, p)
        small.append(p)
    schema = spark.read.parquet(base).schema
    cls = {
        TableFormat.DELTA: DeltaLog,
        TableFormat.ICEBERG: IcebergTable,
        TableFormat.HUDI: HudiTimeline,
    }[fmt]
    reader = cls(spark, base)
    reader.init_table(
        Table(
            name="opt",
            base_path=base,
            table_format=fmt,
            read_schema=schema,
            layout=DataLayoutStrategy.FLAT,
        )
    )
    inv = build_inventory(spark, small, root=base)
    if fmt is TableFormat.ICEBERG:
        reader.commit_overwrite(adds=inv)
    else:
        reader.commit(adds=inv)
    return reader


def test_compact_table_all_formats(spark, sf_dir, tmp_path):
    """compact_table executes the full OPTIMIZE loop in each format's own
    commit plane and converges the snapshot to the merged file with the
    record count preserved; an immediate second run is a no-op."""
    from onetable_spark.model import TableFormat
    from onetable_spark.operators.maintenance import compact_table

    for fmt in (TableFormat.DELTA, TableFormat.ICEBERG, TableFormat.HUDI):
        base = str(tmp_path / fmt.value.lower())
        reader = _stage_native(spark, sf_dir, base, fmt)
        before = reader.snapshot_files()
        n_files = before.count()
        n_records = before.agg(F.sum("record_count")).collect()[0][0]
        target = int(before.agg(F.sum("size")).collect()[0][0]) * 2

        out = compact_table(spark, fmt, base, target_bytes=target)
        assert out == {"bins": 1, "files_removed": n_files, "files_added": 1, "bins_deferred": 0}, fmt

        live = reader.snapshot_files()
        assert live.count() == 1, fmt
        assert live.agg(F.sum("record_count")).collect()[0][0] == n_records, fmt
        assert "compacted-" in live.first()["path"], fmt

        # idempotent: the merged file is a singleton bin -> nothing to do
        assert compact_table(spark, fmt, base, target_bytes=target) == {
            "bins": 0,
            "files_removed": 0,
            "files_added": 0,
            "bins_deferred": 0,
        }, fmt


def test_compact_table_max_bins_bounded_runs_converge(spark, sf_dir, tmp_path):
    """max_bins bounds one run's work and REPORTS the deferral; repeated
    bounded runs converge because the (partition, bin_id) order is
    deterministic."""
    from onetable_spark.model import TableFormat
    from onetable_spark.operators.maintenance import compact_table

    base = str(tmp_path / "bounded")
    src = os.path.join(sf_dir, "region.parquet")
    for part in ("k=a", "k=b"):
        d = os.path.join(base, part)
        os.makedirs(d)
        for i in range(2):
            shutil.copy(src, os.path.join(d, f"small{i}.parquet"))
    schema = spark.read.parquet(os.path.join(base, "k=a")).schema
    log = DeltaLog(spark, base)
    log.init_table(
        Table(name="b", base_path=base, table_format=TableFormat.DELTA, read_schema=schema)
    )
    inv = build_inventory(
        spark,
        [os.path.join(base, p, f"small{i}.parquet") for p in ("k=a", "k=b") for i in range(2)],
        root=base,
    )
    log.commit(adds=inv)
    target = int(log.snapshot_files().agg(F.sum("size")).collect()[0][0]) * 2

    r1 = compact_table(spark, TableFormat.DELTA, base, target_bytes=target, max_bins=1)
    assert r1 == {"bins": 1, "files_removed": 2, "files_added": 1, "bins_deferred": 1}
    r2 = compact_table(spark, TableFormat.DELTA, base, target_bytes=target, max_bins=1)
    assert r2 == {"bins": 1, "files_removed": 2, "files_added": 1, "bins_deferred": 0}
    assert log.snapshot_files().count() == 2  # one merged file per partition


def test_compact_table_partitioned_hudi(spark, sf_dir, tmp_path):
    """Partitioned compaction: bins never cross partitions, merged files
    land INSIDE their partition dir (hive values carry over), and the Hudi
    replace-commit ids the replaced groups by table-relative path."""
    from onetable_spark.formats.hudi import HudiTimeline
    from onetable_spark.model import TableFormat
    from onetable_spark.operators.maintenance import compact_table

    base = str(tmp_path / "part_hudi")
    src = os.path.join(sf_dir, "region.parquet")
    small = []
    for part in ("k=a", "k=b"):
        d = os.path.join(base, part)
        os.makedirs(d)
        for i in range(2):
            p = os.path.join(d, f"small{i}.parquet")
            shutil.copy(src, p)
            small.append(p)
    schema = spark.read.parquet(os.path.join(base, "k=a")).schema
    tl = HudiTimeline(spark, base)
    tl.init_table(
        Table(name="ph", base_path=base, table_format=TableFormat.HUDI, read_schema=schema)
    )
    tl.commit(adds=build_inventory(spark, small, root=base), schema=schema)

    target = int(tl.snapshot_files().agg(F.sum("size")).collect()[0][0]) * 2
    out = compact_table(spark, TableFormat.HUDI, base, target_bytes=target)
    assert out == {"bins": 2, "files_removed": 4, "files_added": 2, "bins_deferred": 0}

    live = tl.snapshot_files().collect()
    assert len(live) == 2
    by_part = {tuple(sorted((r["partition_values"] or {}).items())): r for r in live}
    assert set(by_part) == {(("k", "a"),), (("k", "b"),)}
    for key, r in by_part.items():
        part_dir = "=".join(key[0])
        assert f"/{part_dir}/compacted-" in r["path"]


def test_plan_feeds_hudi_replace_commit(spark, sf_dir, tmp_path):
    """The planner's output drives a Hudi CLUSTERING replace-commit — the
    consumer the reference reads back (HudiDataFileExtractor.java:181-198):
    the bin's members become replaced file groups, the merged file the new
    group, and the snapshot converges to it."""
    from onetable_spark.formats.hudi import HudiTimeline, _file_id_for

    base = str(tmp_path / "clust")
    os.makedirs(base)
    src = os.path.join(sf_dir, "region.parquet")
    for i in range(3):
        shutil.copy(src, os.path.join(base, f"small{i}.parquet"))
    schema = spark.read.parquet(base).schema
    tl = HudiTimeline(spark, base)
    tl.init_table(
        Table(
            name="clust",
            base_path=base,
            table_format=TableFormat.HUDI,
            read_schema=schema,
            record_key_fields=("r_regionkey",),
            layout=DataLayoutStrategy.FLAT,
        )
    )
    small = [os.path.join(base, f"small{i}.parquet") for i in range(3)]
    tl.commit(adds=build_inventory(spark, small, root=base), schema=schema)

    files = tl.snapshot_files()
    target = int(files.agg(F.sum("size")).collect()[0][0]) * 2
    plan = plan_compaction_bins(
        files, target_bytes=target, part_cols=(), size_col="size", order_col="path"
    ).collect()
    assert len(plan) == 1 and plan[0]["n_files"] == 3

    merged = os.path.join(base, "clustered-00000.parquet")
    spark.read.parquet(*small).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(base, "_m")
    )
    shutil.copy(
        next(
            os.path.join(base, "_m", f)
            for f in os.listdir(os.path.join(base, "_m"))
            if f.endswith(".parquet")
        ),
        merged,
    )
    replaced = [
        _file_id_for(os.path.basename(r["path"]))
        for r in files.select("path").collect()
    ]
    tl.commit(
        adds=build_inventory(spark, [merged], root=base),
        replace_file_ids={"": replaced},
    )
    live = [r["path"] for r in tl.snapshot_files().select("path").collect()]
    assert live == [merged]


def test_morton_key_matches_bit_interleave(spark):
    """morton_key == the hand-rolled 2-column interleave it replaced
    (bit i of col j at position i*k+j), spot-checked exhaustively over
    the low domain."""
    from onetable_spark.operators.maintenance import morton_key

    df = spark.range(0, 64).selectExpr("id % 8 AS a", "CAST(id / 8 AS INT) AS b")
    rows = df.withColumn("z", morton_key(["a", "b"])).collect()

    def ref(a, b):
        z = 0
        for i in range(8):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    for r in rows:
        assert r["z"] == ref(r["a"], r["b"]), (r["a"], r["b"])


def test_compact_table_zorder_tightens_file_bounds(spark, tmp_path):
    """OPTIMIZE ZORDER end-to-end on a real Delta table: four unsorted
    files (each spanning the FULL (a, b) domain, so every file's bounding
    box intersects every range predicate) are rewritten into disjoint
    z-range files in ONE transactional commit. Proven tighter: the summed
    per-file z-span shrinks, the per-file boxes stop covering the whole
    domain, and a small box predicate prunes files it could never prune
    before. Record count preserved exactly."""
    from onetable_spark.model import TableFormat
    from onetable_spark.operators.maintenance import compact_table, morton_key

    base = str(tmp_path / "ztbl")
    os.makedirs(base)
    # 4 files, each an (a, b) grid slice by ROW NUMBER (not by value):
    # every file spans the full 0..31 x 0..31 domain
    full = spark.range(0, 32 * 32).selectExpr(
        "CAST(id % 32 AS INT) AS a", "CAST(id / 32 AS INT) AS b"
    )
    paths = []
    for i in range(4):
        p = os.path.join(base, f"grid{i}.parquet")
        full.where(F.expr(f"(a + b * 32) % 4 = {i}")).coalesce(1).write.parquet(
            p + ".d"
        )
        part = next(f for f in os.listdir(p + ".d") if f.endswith(".parquet"))
        os.replace(os.path.join(p + ".d", part), p)
        shutil.rmtree(p + ".d", ignore_errors=True)
        paths.append(p)
    reader = DeltaLog(spark, base)
    reader.init_table(
        Table(
            name="z",
            base_path=base,
            table_format=TableFormat.DELTA,
            read_schema=spark.read.parquet(paths[0]).schema,
            layout=DataLayoutStrategy.FLAT,
        )
    )
    reader.commit(adds=build_inventory(spark, paths, root=base))

    def per_file_z_bounds(file_paths):
        out = {}
        for p in file_paths:
            row = (
                spark.read.parquet(p)
                .select(morton_key(["a", "b"]).alias("z"))
                .agg(F.min("z").alias("lo"), F.max("z").alias("hi"))
                .first()
            )
            out[p] = (row["lo"], row["hi"])
        return out

    before_paths = [r["path"] for r in reader.snapshot_files().collect()]
    before = per_file_z_bounds(before_paths)
    total = sum(os.path.getsize(p) for p in before_paths)

    result = compact_table(
        spark,
        TableFormat.DELTA,
        base,
        target_bytes=(total // 4) + 1,  # ~4 output z-range files
        zorder_by=("a", "b"),
    )
    assert result["files_removed"] == 4 and result["bins"] == 1
    after_paths = [r["path"] for r in reader.snapshot_files().collect()]
    assert len(after_paths) == result["files_added"] >= 2
    after = per_file_z_bounds(after_paths)

    # record count preserved exactly
    assert spark.read.parquet(*after_paths).count() == 32 * 32

    # 1) disjoint z ranges (range repartition + in-range sort)
    spans = sorted(after.values())
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2, spans
    # 2) provably tighter: summed z-span shrinks vs the before layout,
    # where every file covered ~the whole curve
    span = lambda b: sum(hi - lo for lo, hi in b.values())  # noqa: E731
    assert span(after) < span(before) / 2, (span(before), span(after))
    # 3) pruning win on the stats a scan would use: a small value box hits
    # every before-file but not every after-file
    def files_hit(bounds, a_rng, b_rng):
        zs = [
            (a, b)
            for a in range(a_rng[0], a_rng[1] + 1)
            for b in range(b_rng[0], b_rng[1] + 1)
        ]
        df = spark.createDataFrame(zs, "a int, b int").select(morton_key(["a", "b"]).alias("z"))
        lo, hi = df.agg(F.min("z"), F.max("z")).first()
        return sum(1 for flo, fhi in bounds.values() if not (fhi < lo or flo > hi))

    assert files_hit(before, (0, 3), (0, 3)) == 4  # every file intersects
    assert files_hit(after, (0, 3), (0, 3)) < len(after)  # some file prunes


def test_vacuum_orphans_all_formats(spark, sf_dir, tmp_path):
    """Orphan-file vacuum (r10): files no retained metadata version
    references and older than retention are removed; referenced files —
    including files only OLDER versions reference (time travel) — and
    recent orphans survive. Runs against each format's own reference set."""
    from onetable_spark.model import TableFormat
    from onetable_spark.operators.maintenance import vacuum_table

    for fmt in (TableFormat.DELTA, TableFormat.ICEBERG, TableFormat.HUDI):
        base = str(tmp_path / f"vac_{fmt.value.lower()}")
        reader = _stage_native(spark, sf_dir, base, fmt, n_small=2)
        # an orphan outside the retention window and one inside it
        old_orphan = os.path.join(base, "orphan_old.parquet")
        new_orphan = os.path.join(base, "orphan_new.parquet")
        shutil.copy(os.path.join(sf_dir, "region.parquet"), old_orphan)
        shutil.copy(os.path.join(sf_dir, "region.parquet"), new_orphan)
        os.utime(old_orphan, (946684800, 946684800))  # 2000-01-01
        hidden = os.path.join(base, "_SUCCESS")
        open(hidden, "w").write("")

        plan = {
            os.path.basename(r["path"]): r["status"]
            for r in vacuum_table(spark, fmt, base, retention_hours=1,
                                  dry_run=True, reader=reader).collect()
        }
        assert plan["orphan_old.parquet"] == "orphan"
        assert plan["orphan_new.parquet"] == "kept_recent"
        assert plan["small0.parquet"] == plan["small1.parquet"] == "referenced"
        assert "_SUCCESS" not in plan  # marker files invisible to vacuum

        got = {
            os.path.basename(r["path"]): r["status"]
            for r in vacuum_table(spark, fmt, base, retention_hours=1,
                                  reader=reader).collect()
        }
        assert got["orphan_old.parquet"] == "removed"
        assert not os.path.exists(old_orphan)
        assert os.path.exists(new_orphan) and os.path.exists(hidden)
        # the table itself is untouched and fully readable
        assert reader.snapshot_files().count() == 2
        assert spark.read.parquet(os.path.join(base, "small0.parquet")).count() > 0


def test_vacuum_protects_time_travel_files(spark, sf_dir, tmp_path):
    """A file REMOVED from the live Delta snapshot but still present in
    older log versions stays 'referenced' — vacuum must not break time
    travel; aging tombstones out is clean_log's job, not vacuum's."""
    from onetable_spark.model import TableFormat
    from onetable_spark.operators.maintenance import vacuum_table

    base = str(tmp_path / "vac_tt")
    reader = _stage_native(spark, sf_dir, base, TableFormat.DELTA, n_small=2)
    removed_path = os.path.join(base, "small0.parquet")
    removes = reader.snapshot_files().where(F.col("path") == removed_path)
    reader.commit(removes=removes)
    os.utime(removed_path, (946684800, 946684800))  # old enough to delete

    plan = {
        os.path.basename(r["path"]): r["status"]
        for r in vacuum_table(
            spark, TableFormat.DELTA, base, retention_hours=1, dry_run=True
        ).collect()
    }
    assert plan["small0.parquet"] == "referenced"  # an old version needs it
    assert reader.snapshot_files(version=1).count() == 2  # time travel intact


# property test: each hypothesis example spins Spark jobs — a dozen covers the shapes
@st.composite
def inventories(draw):
    n = draw(st.integers(min_value=1, max_value=24))
    rows = []
    for i in range(n):
        part = draw(st.sampled_from(["a", "b", "c"]))
        size = draw(st.integers(min_value=1, max_value=4000))
        rows.append((part, f"f{i:03d}", size))
    target = draw(st.integers(min_value=100, max_value=3000))
    return rows, target


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(inventories())
def test_compaction_planner_invariants(spark, inv):
    rows, target = inv
    files = spark.createDataFrame(rows, "part string, path string, size long")
    assigned = assign_compaction_bins(
        files, target, part_cols=("part",), order_col="path"
    ).collect()
    plan = plan_compaction_bins(
        files, target, part_cols=("part",), order_col="path"
    ).collect()

    # 1. assignment covers exactly the small files, each exactly once
    small = {(p, f) for p, f, s in rows if s < target}
    assert {(r["part"], r["path"]) for r in assigned} == small

    # 2. no bin crosses a partition, and the plan aggregates the assignment
    by_bin: dict = {}
    for r in assigned:
        by_bin.setdefault((r["part"], r["bin_id"]), []).append(r)
    for p in plan:
        members = by_bin[(p["part"], p["bin_id"])]
        assert p["n_files"] == len(members) >= 2
        assert p["total_bytes"] == sum(m["size"] for m in members)

    # 3. stride bound: a bin exceeds target only via its LAST file (the
    # documented one-file overshoot), never by two
    for (part, _bin), members in by_bin.items():
        members.sort(key=lambda m: m["path"])
        if len(members) >= 2:
            assert sum(m["size"] for m in members[:-1]) < target + max(
                m["size"] for m in members
            )
            # all but the last fit strictly under one stride start
            assert sum(m["size"] for m in members[:-1]) < 2 * target
