"""Chain-LENGTH probe for the three row-level changelogs (r14 — VERDICT
r13 #4): the r13 scale probe varied DATA 10x at a fixed 3-commit chain,
leaving chain-length growth unmeasured. This probe builds an N-commit
chain per format in /tmp (never committed), times the changelog over the
first quarter of the chain and over the full chain in the same warm
session, and verdicts ``~linear`` when wall grows <= 1.5x the chain
ratio.

Why this could be nonlinear: the r13 Iceberg changelog re-ran
``snapshot_with_deleted_positions(parent)`` per removed-file snapshot
(O(chain) re-decodes of every prior delete file → O(chain^2) work), and
the r13 Hudi changelog fired one ``.first()`` probe job per instant.
Both are fixed (incremental dead-position state; the Hudi change
planner reads the range's commit files once on the driver, with no Spark
job, and its plan holds one Python stage however long the chain); this
probe is the regression guard.

Chain shapes (each commit touches 1 key — the incremental-sync shape):
- delta: CDF-enabled, alternating keyed upserts (cdc authoring + DV) —
  exercises change_feed's per-version resolution;
- iceberg: v2 keyed upserts (equality delete + data file per snapshot) —
  exercises the dead-position walk;
- hudi: MOR ``upsert_records`` (one log block per instant) — exercises
  the driver-side change planner plus the one log-decoder stage.

Usage: python tools/chain_probe.py [N] [--append]
  N        chain length (default 100)
  --append append the markdown table to BASELINE.md
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

WORK = "/tmp/otb_chain_probe"


def _write_file(spark, rows, schema, path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    pq.write_table(pa.table({n: list(c) for n, c in zip(schema, cols)}), path)


def _timed(fn):
    t0 = time.time()
    n = fn()
    return time.time() - t0, n


def probe_delta(spark, n: int):
    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.model import Table, TableFormat
    from onetable_spark.sources.parquet_inventory import build_inventory

    base = os.path.join(WORK, "delta")
    os.makedirs(base)
    _write_file(spark, [(i, f"n{i}") for i in range(50)], ["id", "name"],
                os.path.join(base, "seed.parquet"))
    schema = spark.read.parquet(os.path.join(base, "seed.parquet")).schema
    log = DeltaLog(spark, base)
    log.init_table(
        Table(name="cp", base_path=base, table_format=TableFormat.DELTA,
              read_schema=schema),
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    log.commit(adds=build_inventory(spark, [os.path.join(base, "seed.parquet")],
                                    root=base))
    t0 = time.time()
    for k in range(n):
        f = os.path.join(base, f"u{k}.parquet")
        _write_file(spark, [(k % 50, f"v{k}")], ["id", "name"], f)
        log.upsert_by_key(build_inventory(spark, [f], root=base),
                          key_fields=["id"])
    build_s = time.time() - t0
    q = max(1, n // 4)
    tq, cq = _timed(lambda: log.change_feed(1, 1 + q).count())
    tf, cf = _timed(lambda: log.change_feed(1, 1 + n).count())
    return ("delta:change_feed", build_s, q, tq, cq, n, tf, cf)


def probe_iceberg(spark, n: int):
    from onetable_spark.formats.iceberg import IcebergTable
    from onetable_spark.model import DataLayoutStrategy, Table, TableFormat
    from onetable_spark.sources.parquet_inventory import build_inventory

    base = os.path.join(WORK, "iceberg")
    os.makedirs(base)
    _write_file(spark, [(i, f"n{i}") for i in range(50)], ["id", "name"],
                os.path.join(base, "seed.parquet"))
    schema = spark.read.parquet(os.path.join(base, "seed.parquet")).schema
    ice = IcebergTable(spark, base)
    ice.init_table(
        Table(name="cp", base_path=base, table_format=TableFormat.ICEBERG,
              read_schema=schema, layout=DataLayoutStrategy.FLAT),
        format_version=2,
    )
    ice.commit_overwrite(
        adds=build_inventory(spark, [os.path.join(base, "seed.parquet")],
                             root=base)
    )
    t0 = time.time()
    for k in range(n):
        f = os.path.join(base, f"u{k}.parquet")
        _write_file(spark, [(k % 50, f"v{k}")], ["id", "name"], f)
        ice.commit_upsert(build_inventory(spark, [f], root=base), ["id"])
        if (k + 1) % 40 == 0:
            # the 100-manifest guard is DESIGNED to force maintenance on
            # long upsert chains — run it at the realistic cadence; both
            # publish REPLACE snapshots the changelog skips by contract
            ice.rewrite_data_files(apply_equality_deletes=True)
            ice.compact_manifests()
    build_s = time.time() - t0
    # maintenance snapshots (operation=replace) interleave with the
    # upserts — pick the quarter boundary among NON-replace snapshots
    snaps = [
        s for s in ice.metadata()["snapshots"]
        if (s.get("summary") or {}).get("operation") != "replace"
    ]
    q = max(1, n // 4)
    quarter_id = snaps[q]["snapshot-id"]  # seed is snaps[0]
    tq, cq = _timed(lambda: ice.changelog(to_snapshot_id=quarter_id).count())
    tf, cf = _timed(lambda: ice.changelog().count())
    return ("iceberg:changelog", build_s, q, tq, cq, n, tf, cf)


def probe_hudi(spark, n: int):
    from onetable_spark.formats.hudi import HudiTimeline
    from onetable_spark.model import DataLayoutStrategy, Table, TableFormat
    from onetable_spark.sources.parquet_inventory import build_inventory

    base = os.path.join(WORK, "hudi")
    os.makedirs(base)
    _write_file(spark, [(i, f"n{i}") for i in range(50)], ["id", "name"],
                os.path.join(base, "seed.parquet"))
    schema = spark.read.parquet(os.path.join(base, "seed.parquet")).schema
    tl = HudiTimeline(spark, base)
    tl.init_table(
        Table(name="cp", base_path=base, table_format=TableFormat.HUDI,
              read_schema=schema, layout=DataLayoutStrategy.FLAT,
              record_key_fields=("id",))
    )
    tl.commit(adds=build_inventory(spark, [os.path.join(base, "seed.parquet")],
                                   root=base), action="deltacommit")
    t0 = time.time()
    for k in range(n):
        batch = spark.createDataFrame([(k % 50, f"v{k}")], "id long, name string")
        tl.upsert_records(batch)
    build_s = time.time() - t0
    instants = [i for i, _ in tl.completed_instants()]
    q = max(1, n // 4)
    quarter = instants[q]  # instants[0] is the seed
    tq, cq = _timed(lambda: tl.changelog(to_instant=quarter).count())
    tf, cf = _timed(lambda: tl.changelog().count())
    return ("hudi:changelog", build_s, q, tq, cq, n, tf, cf)


def main() -> None:
    n = 100
    append = False
    for a in sys.argv[1:]:
        if a == "--append":
            append = True
        else:
            n = int(a)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)

    from onetable_spark.session import get_spark

    spark = get_spark("chain_probe")
    rows = []
    for probe in (probe_delta, probe_iceberg, probe_hudi):
        rows.append(probe(spark, n))

    chain_ratio = None
    lines = [
        f"| changelog | build s | Q chain | Q sec | Q rows | full chain "
        f"| full sec | full rows | time ratio | verdict |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    worst = 0.0
    for name, build_s, q, tq, cq, full, tf, cf in rows:
        chain_ratio = full / q
        ratio = tf / max(tq, 1e-9)
        verdict = "~linear" if ratio <= 1.5 * chain_ratio else "SUPERLINEAR"
        worst = max(worst, ratio / chain_ratio)
        lines.append(
            f"| {name} | {build_s:.1f} | {q} | {tq:.2f} | {cq} | {full} "
            f"| {tf:.2f} | {cf} | {ratio:.2f}x | {verdict} |"
        )
    table = "\n".join(lines)
    print(table)
    print(f"chain ratio {chain_ratio:.1f}x; worst time/chain ratio {worst:.2f}")
    if append:
        stamp = time.strftime("%Y-%m-%d %H:%M")
        with open(REPO / "BASELINE.md", "a") as f:
            f.write(
                f"\n## Changelog chain-length probe (tools/chain_probe.py, "
                f"r14, {stamp})\n\n"
                f"N={n}-commit chains per format in /tmp, one key touched "
                f"per commit; changelog timed over the first quarter vs the "
                f"full chain in one warm session. Verdict `~linear` = wall "
                f"grows <= 1.5x the {chain_ratio:.0f}x chain ratio.\n\n"
                + table + "\n"
            )
    shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
