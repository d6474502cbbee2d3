"""The benchmark's four phases and the two workloads that run them.

Every run executes all four phases, one after another, in one Spark
session: ``sync_full``, ``sync_incremental``, ``row_upsert_cdc`` and
``query_mix``. Each phase is a closed loop with one client. A workload
(``WORKLOADS``) fixes the input shape the phases see; the seed fixes the
inputs themselves.

A phase stages its inputs (``stage``), then repeats ``one_pass`` within
its share of the run's seconds. A pass returns its wall time ``s`` and
per-op wall and CPU samples; the ``check`` step afterwards is untimed. In a traced pass every call
into the engine runs inside a span and, where the engine takes client
objects, through the proxies of ``spans``.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

import numpy as np
import pyarrow.parquet as pq

import inputs
from spans import SourceProxy, TargetProxy, dir_bytes

FORMATS = ("DELTA", "ICEBERG", "HUDI")
META_DIR = {"DELTA": "_delta_log", "ICEBERG": "metadata", "HUDI": ".hoodie"}

#: workload -> input shape. The two differ in how much one change
#: carries: with small changes the per-commit and per-op fixed costs
#: dominate; with large changes the per-file and per-row work shows.
WORKLOADS = {
    "small_changes": {"partitions": 4, "batch_keys": 100},
    "large_changes": {"partitions": 32, "batch_keys": 400},
}


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


def _open_table(spark, fmt: str, root: str):
    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.formats.hudi import HudiTimeline
    from onetable_spark.formats.iceberg import IcebergTable

    return {"DELTA": DeltaLog, "ICEBERG": IcebergTable, "HUDI": HudiTimeline}[fmt](spark, root)


def _live_files(spark, fmt: str, root: str) -> dict[str, int]:
    """path -> record_count of a table's current snapshot, read through the
    format's own reader."""
    tbl = _open_table(spark, fmt, root)
    rows = tbl.snapshot_files().select("path", "record_count").collect()
    return {r["path"]: r["record_count"] for r in rows}


def _median(xs) -> float:
    return float(np.median(list(xs)))


# ------------------------------------------------------------- sync_full


class SyncFull:
    """Three fabricated sources, one per format, each FULL-synced into
    fresh targets in the other two formats: all six directions per pass."""

    files = 300

    def __init__(self, ctx, shape: dict) -> None:
        self.ctx = ctx
        self.partitions = shape["partitions"]

    def stage(self, d: str):
        spark, seed = self.ctx.spark, self.ctx.seed
        self.roots, self.expected = {}, {}
        for i, fmt in enumerate(FORMATS):
            root = os.path.join(d, fmt.lower())
            os.makedirs(root)
            table = inputs.sync_table(root, fmt, f"full_{fmt.lower()}")
            inv = inputs.inventory(spark, root, seed + i, self.files, self.partitions)
            self.expected[fmt] = {
                r["path"]: r["record_count"] for r in inv.select("path", "record_count").collect()
            }
            tbl = _open_table(spark, fmt, root)
            tbl.init_table(table)
            if fmt == "DELTA":
                tbl.commit(adds=inv)
            elif fmt == "ICEBERG":
                tbl.commit_overwrite(adds=inv, partition_fields=table.partition_fields)
            else:
                tbl.commit(adds=inv, schema=table.read_schema)
            self.roots[fmt] = root

    def one_pass(self, tracer=None) -> dict:
        from onetable_spark.model import SyncMode
        from onetable_spark.sync import source_for, target_for

        spark, ctx = self.ctx.spark, self.ctx
        busy = cpu = 0.0
        walls = []
        meta_bytes: dict[str, list[int]] = {}
        for fmt in FORMATS:
            root = self.roots[fmt]
            targets = [f for f in FORMATS if f != fmt]
            for f in targets:
                shutil.rmtree(os.path.join(root, META_DIR[f]), ignore_errors=True)
            source = source_for(spark, fmt, root)
            tgts = [target_for(spark, f, root) for f in targets]
            if tracer is not None:
                source = SourceProxy(source, fmt, tracer)
                tgts = [TargetProxy(t, tracer) for t in tgts]
            t0 = ctx.clock()
            with _span(tracer, "sync.client") as sp:
                if tracer is not None:
                    tracer.root = sp.id
                results = ctx.op(lambda: ctx.client.sync(source, tgts))
            wall_ms, cpu_ms = ctx.lap(t0)
            busy += wall_ms / 1000
            cpu += cpu_ms / 1000
            ctx.sync_results(results, targets, SyncMode.FULL)
            if tracer is not None:
                tracer.root = None
                for f in targets:
                    meta_bytes.setdefault(f.lower(), []).append(
                        dir_bytes(os.path.join(root, META_DIR[f]))
                    )
        return {"s": busy, "cpu_s": cpu, "items": self.files * 2 * len(FORMATS),
                "meta_bytes": meta_bytes}

    def check(self) -> None:
        for fmt, root in self.roots.items():
            want = self.expected[fmt]
            for f in FORMATS:
                if f == fmt:
                    continue
                got = _live_files(self.ctx.spark, f, root)
                self.ctx.check(set(got) == set(want), f"{fmt}->{f} path set")
                self.ctx.check(
                    sum(got.values()) == sum(want.values()), f"{fmt}->{f} record_count sum"
                )

    def summary(self, passes) -> dict:
        # item = one file entry written into one target
        return {
            "full_sync_files_per_s": _median(p["items"] / p["s"] for p in passes),
            "full_sync_files_per_cpu_s": _median(p["items"] / p["cpu_s"] for p in passes),
        }


# ------------------------------------------------------ sync_incremental


class SyncIncremental:
    """A Delta source takes a small commit (one file per partition) and is
    synced INCREMENTALLY into Iceberg and Hudi; every ``remove_every``-th
    commit also removes an older commit's files."""

    base_files = 64
    remove_every = 4
    remove_lag = 3
    #: the first cycle runs cold; five give its CPU median a steady value
    min_passes = 5
    #: cycles a run may make: the Hudi target stays at ten instants or
    #: fewer (see README.md: past its archiving, its snapshot loses files)
    max_cycles = 8

    def __init__(self, ctx, shape: dict) -> None:
        self.ctx = ctx
        self.partitions = shape["partitions"]

    def _batch(self, b: int, files: int | None = None):
        n = files if files is not None else self.partitions
        return inputs.inventory(self.ctx.spark, self.root, self.ctx.seed, n, self.partitions, b)

    def _commit(self, tracer=None) -> tuple[float, float]:
        """Commit the next batch; returns its wall and CPU ms."""
        b = self.next_batch
        self.next_batch += 1
        adds = self._batch(b)
        removes = None
        if b % self.remove_every == 0 and b - self.remove_lag in self.live:
            removes = self._batch(b - self.remove_lag)
            self.live.discard(b - self.remove_lag)
        self.live.add(b)
        t0 = self.ctx.clock()
        with _span(tracer, "delta.commit"):
            self.ctx.op(lambda: self.log.commit(adds=adds, removes=removes))
        return self.ctx.lap(t0)

    def stage(self, d: str):
        from onetable_spark.formats.delta import DeltaLog
        from onetable_spark.model import SyncMode
        from onetable_spark.sync import source_for, target_for

        spark = self.ctx.spark
        self.root = os.path.join(d, "incr")
        os.makedirs(self.root)
        self.log = DeltaLog(spark, self.root)
        self.log.init_table(inputs.sync_table(self.root, "DELTA", "incr"))
        self.log.commit(adds=self._batch(0, self.base_files))
        self.live = {0}
        self.next_batch = 1
        self.source = source_for(spark, "DELTA", self.root)
        self.targets = [target_for(spark, f, self.root) for f in ("ICEBERG", "HUDI")]
        results = self.ctx.op(lambda: self.ctx.client.sync(self.source, self.targets))
        self.ctx.sync_results(results, ("ICEBERG", "HUDI"), SyncMode.FULL)

    def exhausted(self) -> bool:
        return self.next_batch > self.max_cycles

    def _manifests(self) -> set[str]:
        from onetable_spark.formats.avro_codec import read_container
        from onetable_spark.formats.iceberg import IcebergTable

        ice = IcebergTable(self.ctx.spark, self.root)
        _, entries = read_container(ice.current_snapshot_meta(ice.metadata())["manifest-list"])
        return {m["manifest_path"] for m in entries}

    def one_pass(self, tracer=None) -> dict:
        from onetable_spark.model import SyncMode

        ctx = self.ctx
        source, targets = self.source, self.targets
        out = {}
        if tracer is not None:
            source = SourceProxy(source, "DELTA", tracer)
            targets = [TargetProxy(t, tracer) for t in targets]
            before = {f: dir_bytes(os.path.join(self.root, META_DIR[f])) for f in FORMATS}
            manifests_before = self._manifests()
        commit_ms, commit_cpu_ms = self._commit(tracer)
        t1 = ctx.clock()
        with _span(tracer, "sync.client") as sp:
            if tracer is not None:
                tracer.root = sp.id
            results = ctx.op(lambda: ctx.client.sync(source, targets))
        sync_ms, sync_cpu_ms = ctx.lap(t1)
        ctx.sync_results(results, ("ICEBERG", "HUDI"), SyncMode.INCREMENTAL)
        if tracer is not None:
            tracer.root = None
            out["meta_bytes"] = {
                f.lower(): [dir_bytes(os.path.join(self.root, META_DIR[f])) - before[f]]
                for f in FORMATS
            }
            now = self._manifests()
            out["manifests_reused"] = (len(now & manifests_before), len(now))
        out.update(
            s=(commit_ms + sync_ms) / 1000, commit_ms=commit_ms,
            commit_cpu_ms=commit_cpu_ms, sync_ms=sync_ms, sync_cpu_ms=sync_cpu_ms,
        )
        return out

    def check(self) -> None:
        spark = self.ctx.spark
        want = _live_files(spark, "DELTA", self.root)
        expected_files = self.base_files + self.partitions * (len(self.live) - 1)
        self.ctx.check(len(want) == expected_files, f"source holds {len(want)} files")
        for f in ("ICEBERG", "HUDI"):
            got = _live_files(spark, f, self.root)
            self.ctx.check(set(got) == set(want), f"DELTA->{f} path set")
            self.ctx.check(sum(got.values()) == sum(want.values()), f"DELTA->{f} record_count")

    def summary(self, passes) -> dict:
        syncs = sorted(p["sync_ms"] for p in passes)
        n = len(syncs)
        # the tail is the highest percentile with at least ten samples
        # above it; with fewer than 22 samples that is below the median,
        # so the median stands in
        k = max(n - 11, n // 2)
        return {
            "incr_sync_p50_ms": _median(syncs),
            "incr_sync_tail_ms": syncs[k],
            "incr_sync_tail_pct": 100 * k / max(n - 1, 1),
            "incr_sync_n": n,
            "incr_sync_cpu_ms": _median(p["sync_cpu_ms"] for p in passes),
            "source_commit_p50_ms": _median(p["commit_ms"] for p in passes),
            "source_commit_cpu_ms": _median(p["commit_cpu_ms"] for p in passes),
        }


# -------------------------------------------------------- row_upsert_cdc


ROW_KEY = "o_orderkey"
EXPECTED_CHANGES = {
    # change type -> multiplier of (updated keys, inserted keys)
    "DELTA": {"update_preimage": (1, 0), "update_postimage": (1, 0), "insert": (0, 1)},
    "ICEBERG": {"delete": (1, 0), "insert": (1, 1)},
    "HUDI": {"u": (1, 0), "i": (0, 1)},
}
CHANGE_COL = {"DELTA": "_change_type", "ICEBERG": "_change_type", "HUDI": "_change_operation"}


class RowUpsertCdc:
    """``orders`` rows loaded as Delta (change data feed on), Iceberg v2
    and Hudi MOR, then keyed upsert batches into each, each followed by a
    read of that batch's row-level change history.

    Two engine defects shape the inputs (see ``README.md``):
    ``o_orderdate`` is an ISO string, and no key is upserted twice."""

    base_rows = 15_000
    base_files = 2
    insert_share = 0.25
    #: batches in the plan, one per pass
    max_batches = 20

    def __init__(self, ctx, shape: dict) -> None:
        self.ctx = ctx
        self.batch_keys = shape["batch_keys"]

    def stage(self, d: str):
        from onetable_spark.model import DataLayoutStrategy, Table, TableFormat
        from onetable_spark.sources.parquet_inventory import build_inventory

        spark, seed = self.ctx.spark, self.ctx.seed
        base, self.plan = inputs.upsert_plan(
            seed, self.base_rows, self.max_batches, self.batch_keys, self.insert_share
        )
        rows = inputs.orders_rows(np.random.default_rng(seed), base, version=0)
        schema = None
        self.roots, self.tables, self.batch_dir = {}, {}, os.path.join(d, "batches")
        os.makedirs(self.batch_dir)
        for fmt in FORMATS:
            root = os.path.join(d, fmt.lower())
            os.makedirs(root)
            paths = []
            for i, chunk in enumerate(np.array_split(np.arange(len(rows)), self.base_files)):
                p = os.path.join(root, f"base-{i}.parquet")
                pq.write_table(rows.take(chunk), p)
                paths.append(p)
            if schema is None:
                schema = spark.read.parquet(paths[0]).schema
            inv = build_inventory(spark, paths, root=root)
            table = Table(
                name=f"orders_{fmt.lower()}", base_path=root, table_format=TableFormat(fmt),
                read_schema=schema, layout=DataLayoutStrategy.FLAT,
                record_key_fields=(ROW_KEY,) if fmt == "HUDI" else (),
            )
            tbl = _open_table(spark, fmt, root)
            if fmt == "DELTA":
                tbl.init_table(table, configuration={"delta.enableChangeDataFeed": "true"})
                tbl.commit(adds=inv)
            elif fmt == "ICEBERG":
                tbl.init_table(table, format_version=2)
                tbl.commit_overwrite(adds=inv)
            else:
                tbl.init_table(table)
                tbl.commit(adds=inv, action="deltacommit")
            self.roots[fmt], self.tables[fmt] = root, tbl
        self.next_batch = 0
        self.live_rows = self.base_rows

    def exhausted(self) -> bool:
        return self.next_batch >= len(self.plan)

    def _position(self, fmt: str):
        """The table's current version / snapshot id / instant."""
        tbl = self.tables[fmt]
        if fmt == "DELTA":
            return tbl.latest_version()
        if fmt == "ICEBERG":
            return tbl.current_snapshot_meta(tbl.metadata())["snapshot-id"]
        return tbl.latest_instant()

    def _upsert(self, fmt: str, path: str, tracer):
        from onetable_spark.sources.parquet_inventory import build_inventory

        spark, tbl, root = self.ctx.spark, self.tables[fmt], self.roots[fmt]
        if fmt == "HUDI":
            return tbl.upsert_records(spark.read.parquet(path))
        local = os.path.join(root, os.path.basename(path))
        shutil.copyfile(path, local)
        with _span(tracer, "sources.parquet_inventory.build_inventory"):
            inv = build_inventory(spark, [local], root=root)
        if fmt == "DELTA":
            return tbl.upsert_by_key(inv, [ROW_KEY])
        return tbl.commit_upsert(inv, [ROW_KEY])

    def _changelog(self, fmt: str, before, after):
        tbl = self.tables[fmt]
        if fmt == "DELTA":
            df = tbl.change_feed(from_version=before + 1, to_version=after)
        elif fmt == "ICEBERG":
            df = tbl.changelog(from_snapshot_id=before, to_snapshot_id=after)
        else:
            df = tbl.changelog(from_instant=before, to_instant=after)
        return df.collect()

    def one_pass(self, tracer=None) -> dict:
        ctx = self.ctx
        b = self.next_batch
        self.next_batch += 1
        upd, ins = self.plan[b]
        rows = inputs.orders_rows(
            np.random.default_rng((ctx.seed, b)), np.concatenate([upd, ins]), b + 1
        )
        path = os.path.join(self.batch_dir, f"u{b}.parquet")
        pq.write_table(rows, path)
        # "<FMT>.<op>" -> (wall ms, cpu ms)
        ops, meta = {}, {}
        for fmt in FORMATS:
            before = self._position(fmt)
            mbefore = dir_bytes(os.path.join(self.roots[fmt], META_DIR[fmt])) if tracer else 0
            t0 = ctx.clock()
            with _span(tracer, f"{fmt.lower()}.upsert"):
                ctx.op(lambda f=fmt: self._upsert(f, path, tracer))
            ops[f"{fmt}.upsert"] = ctx.lap(t0)
            if tracer is not None:
                meta[fmt.lower()] = [
                    dir_bytes(os.path.join(self.roots[fmt], META_DIR[fmt])) - mbefore
                ]
            after = self._position(fmt)
            t0 = ctx.clock()
            with _span(tracer, f"{fmt.lower()}.changelog"):
                got = ctx.op(lambda f=fmt: self._changelog(f, before, after))
            ops[f"{fmt}.changelog"] = ctx.lap(t0)
            counts = Counter(r[CHANGE_COL[fmt]] for r in got or [])
            want = {
                k: u * len(upd) + i * len(ins) for k, (u, i) in EXPECTED_CHANGES[fmt].items()
            }
            ctx.check(dict(counts) == want, f"{fmt} batch {b} changes {dict(counts)} != {want}")
        self.live_rows += len(ins)
        busy = sum(w for w, _ in ops.values()) / 1000
        return {"s": busy, "ops": ops, "meta_bytes": meta}

    def _live_rows(self, fmt: str) -> int:
        tbl = self.tables[fmt]
        if fmt == "HUDI":
            files = tbl.snapshot_files(view="realtime")
            return int(files.agg({"record_count": "sum"}).collect()[0][0])
        if fmt == "DELTA":
            raw, dead = tbl.snapshot_with_deleted_positions()
        else:
            raw, dead = tbl.snapshot_with_deleted_positions(apply_equality_deletes=True)
        return int(raw.agg({"record_count": "sum"}).collect()[0][0]) - dead.count()

    def check(self) -> None:
        with ThreadPoolExecutor(len(FORMATS)) as pool:
            live = dict(zip(FORMATS, pool.map(self._live_rows, FORMATS)))
        for fmt, got in live.items():
            self.ctx.check(got == self.live_rows, f"{fmt} live rows {got} != {self.live_rows}")

    def summary(self, passes) -> dict:
        out = {}
        for i, kind in ((0, "p50_ms"), (1, "cpu_ms")):
            for fmt in FORMATS:
                out[f"{fmt.lower()}_upsert_{kind}"] = _median(
                    p["ops"][f"{fmt}.upsert"][i] for p in passes
                )
        for i, name in ((0, "changelog_s"), (1, "changelog_cpu_s")):
            out[name] = _median(
                sum(p["ops"][f"{fmt}.changelog"][i] for fmt in FORMATS) for p in passes
            ) / 1000
        return out


# ------------------------------------------------------------- query_mix


#: the mix, one or more of each shape: TPC-H aggregation (q1), join (q3)
#: and scan-filter (q6); inventory operators for file diffs (g1) and
#: stats regrouping (g8); and two Python-stage queries. Seven queries keep
#: a run within its time budget.
TPCH = ("tpch_q1", "tpch_q3", "tpch_q6")
INVENTORY_OPS = ("g1_files_diff", "g8_stats_regroup")
PYTHON_STAGE = ("asof_join", "sessionize")
QUERY_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
                "events", "embeddings")


def query_family(name: str) -> str:
    if name in TPCH:
        return "tpch"
    if name in INVENTORY_OPS:
        return "inventory_ops"
    return "python_stage"


def _norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if v != v else f"{v:.9g}"
    return str(v)


def result_digest(columns, rows) -> str:
    """Order-insensitive digest of a result, columns sorted by name (the
    same normalization the repository's oracle gate applies)."""
    import hashlib

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    vals = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    head = repr([columns[i] for i in order])
    return hashlib.sha256((head + repr(vals)).encode()).hexdigest()


class QueryMix:
    """A name-sorted set of declared queries over generated tables: TPC-H
    queries, inventory operators and Python-stage queries."""

    sf = 0.01

    def __init__(self, ctx, shape: dict) -> None:
        from onetable_spark.queries import ORACLE_SQL, SPARK_QUERIES

        self.ctx = ctx
        self.queries = SPARK_QUERIES
        self.oracle = ORACLE_SQL
        self.names = sorted(TPCH + INVENTORY_OPS + PYTHON_STAGE)

    def stage(self, d: str):
        self.dir = os.path.join(d, "tables")
        inputs.write_query_tables(inputs.query_tables(self.ctx.seed, self.sf), self.dir)
        self.results: dict[str, tuple] = {}

    def one_pass(self, tracer=None) -> dict:
        ctx = self.ctx
        t0 = ctx.clock()
        for name in self.names:
            with _span(tracer, f"queries.{query_family(name)}"):
                out = ctx.op(lambda n=name: self._run(n))
            if out is not None:
                self.results[name] = out
        wall_ms, cpu_ms = ctx.lap(t0)
        return {"s": wall_ms / 1000, "cpu_s": cpu_ms / 1000}

    def _run(self, name: str):
        df = self.queries[name](self.ctx.spark, self.dir)
        return df.columns, df.collect()

    def check(self) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            for t in QUERY_TABLES:
                path = os.path.join(self.dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for name in self.names:
                sql = self.oracle.get(name)
                if sql is None or name not in self.results:
                    self.ctx.check(False, f"{name}: no oracle or no result")
                    continue
                rel = con.execute(sql)
                want = result_digest([c[0] for c in rel.description], rel.fetchall())
                got = result_digest(*self.results[name])
                self.ctx.check(got == want, f"{name} differs from its DuckDB oracle")
        finally:
            con.close()

    def summary(self, passes) -> dict:
        return {
            "query_mix_s": _median(p["s"] for p in passes),
            "query_mix_cpu_s": _median(p["cpu_s"] for p in passes),
        }


#: phase name -> class, in run order
PHASES = {
    "sync_incremental": SyncIncremental,
    "sync_full": SyncFull,
    "row_upsert_cdc": RowUpsertCdc,
    "query_mix": QueryMix,
}
