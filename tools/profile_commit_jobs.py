"""Count driver-blocking Spark jobs per metadata-plane engine operation
(guide §5: the driver should do almost no data work — here every job is a
serial py4j round-trip, and cProfile over the delta test files showed
141.7 of 160 s spent in socket recv waiting on exactly these).

The counter is the DAGScheduler's job-id high-water mark, so AQE stage
materializations and broadcast builds count too — they cost the same
scheduling latency as "real" jobs.

Jobs per operation, this tool's own output: the r16 baseline, after the
r16 upsert collapse, after the one-pass Delta upsert (each side of the
merge read once, commit spooled from driver-held rows), after the
Iceberg changelog moved onto Spark's parquet scan (own manifests decoded
on the driver, one pooled collect of the reachable parent files, no
Python row stage; the third column's 9 is the parent re-measured), and
after the one Hudi write path (file slices replayed on the driver, base
keys read by Spark's parquet scan, one log-author or merge action
collected as Arrow, commits spooled from driver-held rows; the two Hudi
writer rows were first measured at the fourth column):
  delta commit (plain add)          1 ->  1 -> 1 -> 1 ->  1
  delta upsert_by_key (CDF on)     34 -> 25 -> 7 -> 7 ->  7
  delta change_feed + count         3 ->  3 -> 3 -> 3 ->  3
  iceberg commit_overwrite          1 ->  1 -> 1 -> 1 ->  1
  iceberg commit_upsert             5 ->  5 -> 4 -> 4 ->  4
  iceberg eq-delete scan + count    3 ->  3 -> 3 -> 3 ->  3
  iceberg changelog + count        10 -> 10 -> 9 -> 5 ->  5
  hudi commit                       4 ->  4 -> 4 -> 4 ->  4
  hudi upsert_records                             14 ->  5
  hudi compact_file_groups                        15 ->  1
  sync full / incremental (2 tgt)   7 / 6 (unchanged)

Usage: python tools/profile_commit_jobs.py
"""

from __future__ import annotations

import os
import shutil
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.formats.hudi import HudiTimeline
    from onetable_spark.formats.iceberg import IcebergTable
    from onetable_spark.model import DataLayoutStrategy, Table, TableFormat
    from onetable_spark.session import get_spark
    from onetable_spark.sources.parquet_inventory import build_inventory
    from onetable_spark.sync import source_for, target_for
    from onetable_spark.sync.client import SyncClient

    spark = get_spark("profile-commit-jobs")
    sc = spark.sparkContext

    def njobs() -> int:
        return sc._jsc.sc().dagScheduler().nextJobId()

    def mk_file(path: str, lo: int = 0, n: int = 10) -> None:
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(range(lo, lo + n), pa.int64()),
                    "name": [f"name{i}" for i in range(lo, lo + n)],
                }
            ),
            path,
        )

    def probe(label, fn):
        j0 = njobs()
        fn()
        print(f"{label}: {njobs() - j0} jobs", flush=True)

    # --- Delta plane (CDF on: the upsert authors DVs + 3-way cdc rows)
    base = "/tmp/otb_jobprobe_delta"
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    p1 = os.path.join(base, "f1.parquet")
    mk_file(p1)
    schema = spark.read.parquet(p1).schema
    log = DeltaLog(spark, base)
    log.init_table(
        Table(name="t", base_path=base, table_format=TableFormat.DELTA,
              read_schema=schema, layout=DataLayoutStrategy.FLAT),
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    probe("delta commit (plain add)",
          lambda: log.commit(adds=build_inventory(spark, [p1], root=base)))
    p2 = os.path.join(base, "u1.parquet")
    mk_file(p2, n=2)
    ver = {}
    probe("delta upsert_by_key (CDF on)",
          lambda: ver.setdefault("v", log.upsert_by_key(
              build_inventory(spark, [p2], root=base), ["id"])))
    probe("delta change_feed + count",
          lambda: log.change_feed(ver["v"], ver["v"]).count())

    # --- Iceberg plane
    ibase = "/tmp/otb_jobprobe_ice"
    shutil.rmtree(ibase, ignore_errors=True)
    os.makedirs(ibase)
    ip = os.path.join(ibase, "f1.parquet")
    mk_file(ip)
    ice = IcebergTable(spark, ibase)
    ice.init_table(
        Table(name="i", base_path=ibase, table_format=TableFormat.ICEBERG,
              read_schema=spark.read.parquet(ip).schema,
              layout=DataLayoutStrategy.FLAT),
        format_version=2,
    )
    probe("iceberg commit_overwrite",
          lambda: ice.commit_overwrite(adds=build_inventory(spark, [ip], root=ibase)))
    ip2 = os.path.join(ibase, "u1.parquet")
    mk_file(ip2, n=2)
    probe("iceberg commit_upsert",
          lambda: ice.commit_upsert(build_inventory(spark, [ip2], root=ibase), ["id"]))
    probe("iceberg eq-delete scan + count",
          lambda: ice.snapshot_files(apply_equality_deletes=True).count())
    probe("iceberg changelog + count", lambda: ice.changelog().count())

    # --- Hudi plane
    hbase = "/tmp/otb_jobprobe_hudi"
    shutil.rmtree(hbase, ignore_errors=True)
    os.makedirs(hbase)
    hp = os.path.join(hbase, "f1.parquet")
    mk_file(hp)
    h = HudiTimeline(spark, hbase)
    h.init_table(
        Table(name="h", base_path=hbase, table_format=TableFormat.HUDI,
              read_schema=spark.read.parquet(hp).schema,
              layout=DataLayoutStrategy.FLAT, record_key_fields=("id",))
    )
    probe("hudi commit",
          lambda: h.commit(adds=build_inventory(spark, [hp], root=hbase)))
    probe("hudi snapshot + count", lambda: h.snapshot_files().count())
    batch = spark.createDataFrame([(2, "name2_v2"), (100, "fresh")], "id long, name string")
    probe("hudi upsert_records", lambda: h.upsert_records(batch))
    probe("hudi compact_file_groups", h.compact_file_groups)

    # --- sync plane (Delta source -> Iceberg + Hudi targets)
    dbase = "/tmp/otb_jobprobe_sync"
    shutil.rmtree(dbase, ignore_errors=True)
    os.makedirs(dbase)
    dp = os.path.join(dbase, "f1.parquet")
    mk_file(dp)
    dl = DeltaLog(spark, dbase)
    dl.init_table(
        Table(name="d", base_path=dbase, table_format=TableFormat.DELTA,
              read_schema=spark.read.parquet(dp).schema,
              layout=DataLayoutStrategy.FLAT)
    )
    dl.commit(adds=build_inventory(spark, [dp], root=dbase))
    client = SyncClient(spark)
    src = source_for(spark, TableFormat.DELTA, dbase)
    tgts = [target_for(spark, TableFormat.ICEBERG, dbase),
            target_for(spark, TableFormat.HUDI, dbase)]
    probe("sync full (2 targets)", lambda: client.sync(src, tgts))
    dp2 = os.path.join(dbase, "f2.parquet")
    mk_file(dp2, lo=10)
    dl.commit(adds=build_inventory(spark, [dp2], root=dbase))
    probe("sync incremental (2 targets)", lambda: client.sync(src, tgts))
    spark.stop()


if __name__ == "__main__":
    main()
