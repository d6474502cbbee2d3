"""Helpers shared by the query families: the per-session corpus/staging
cache and the build-once staging of e2e table lifecycles."""

from __future__ import annotations

import threading as _threading

from pyspark.sql import SparkSession

# ---------------------------------------------------------------------------
# shared corpus intermediates
#
# Several dedup flavors consume the SAME derived tables over `documents`:
# the 3-gram shingle-hash table feeds exact-Jaccard pair-gen, MinHash-LSH
# banding, and both sides of every verification join; the exact-Jaccard
# pair set feeds both the pair report (ngram_jaccard) and clustering
# (dedup_clusters). Build each once per (session, corpus) and persist —
# the production play at 100 TB is identical: materialize the compact
# derived table (longs, orders of magnitude smaller than the text) and
# fan it out to every consumer instead of re-scanning the corpus.
# ---------------------------------------------------------------------------

_CORPUS_CACHE: dict = {}

#: per-(family, session, sf) build locks — staging runs from a thread
#: pool in bench.py and several queries share one family (r12)
_STAGE_LOCK_GUARD = _threading.Lock()
_STAGE_LOCKS: dict = {}


def _sf_tag(sf: str) -> int:
    """Stable per-sf-dir tag for streaming memory-sink/query names —
    Python's hash() is PYTHONHASHSEED-randomized across processes, which
    would make sink names unreproducible between runs."""
    import zlib

    return zlib.crc32(sf.encode())


def _scratch_dir(family: str, sf: str) -> str:
    """Per-(process, sf) scratch dir for the e2e sync queries. Keyed by
    pid so two harness processes on one host can't rmtree each other's
    live tables mid-query (same isolation _CORPUS_CACHE uses for its
    session keying); the query output never contains the path, so the
    keying cannot affect the correctness hash."""
    import os
    import tempfile

    return os.path.join(
        tempfile.gettempdir(), family, f"{os.getpid()}-{os.path.basename(sf.rstrip('/'))}"
    )


def _require(cond: bool, detail) -> None:
    """Lifecycle-stage invariant for the staged sync builds. A plain
    ``assert`` is stripped under ``python -O``, silently staging a broken
    lifecycle whose failure would only surface later as an opaque oracle
    hash mismatch (ADVICE r7) — raise for real instead."""
    if not cond:
        raise RuntimeError(f"staged sync lifecycle invariant failed: {detail}")


def _validate_staged(
    spark: SparkSession,
    base: str,
    source_fmt: str,
    target_fmts: tuple[str, ...],
    skip_spec: tuple[str, ...] = (),
    skip_schema: tuple[str, ...] = (),
) -> None:
    """Post-stage regression tripwire (VERDICT r7 #8): every staged e2e
    lifecycle runs the SyncValidator over its FINAL state before the
    query consumes it — a commit-plane change that drifts a target's
    spec/schema/counts/stats now fails the staging loudly instead of
    surfacing rounds later as an oracle hash mismatch. ``skip_spec``
    names targets whose partition spec legitimately diverges (e.g. the
    Hudi pinned-config rejection in sync_partition_evolution);
    ``skip_schema`` names targets whose schema legitimately diverges
    (Delta materializes generated partition columns as physical schema
    fields — schema/partitions.py C5 — where Iceberg/Hudi carry only the
    transform)."""
    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.formats.hudi import HudiTimeline
    from onetable_spark.formats.iceberg import IcebergTable
    from onetable_spark.sync.validation import (
        ALL_CHECKS,
        SyncValidator,
        ValidationCheck,
    )

    readers = {
        "DELTA": lambda: DeltaLog(spark, base),
        "ICEBERG": lambda: IcebergTable(spark, base),
        "HUDI": lambda: HudiTimeline(spark, base),
    }
    validator = SyncValidator()
    source = readers[source_fmt]()
    for fmt in target_fmts:
        checks = tuple(
            c
            for c in ALL_CHECKS
            if not (fmt in skip_spec and c == ValidationCheck.CHECK_TABLE_SPEC)
            and not (fmt in skip_schema and c == ValidationCheck.CHECK_SCHEMA)
        )
        results = validator.validate(source, readers[fmt](), checks)
        bad = {k.value: r.error_message for k, r in results.items() if not r.success}
        _require(not bad, f"post-stage validation {source_fmt}->{fmt}: {bad}")


#: per-family staging build seconds for the CURRENT process (filled by
#: _staged_once; bench.py reports these as separate "staging" entries so
#: sync_* per-query times measure the read-back plan, not whichever query
#: happened to stage first — VERDICT r8/r9 task: plan-attributable times)
STAGING_SECONDS: dict[str, float] = {}


def _staged_once(spark: SparkSession, sf: str, family: str, builder):
    """Build-once-per-(session, sf) staging for the e2e sync queries
    (VERDICT r6 #6): each sync_* query stages a deterministic throwaway
    table lifecycle under /tmp; sessions that run a query more than once
    (the oracle gate, the smoke matrix) re-ran the whole build every
    call. The FIRST call per session builds (rmtree + fresh lifecycle),
    later calls reuse the build's returned context; the scratch dir stays
    pid-keyed so concurrent harness processes cannot rmtree each other's
    live tables. Build wall-clock lands in ``STAGING_SECONDS[family]``.
    Thread-safe (r12): bench.py stages families from a thread pool, and
    several queries share one family — a per-key lock makes the build
    exactly-once instead of two threads rmtree-ing each other's
    half-built lifecycle. Returns whatever ``builder(base_dir)``
    returned."""
    import os
    import shutil
    import threading
    import time

    key = ("sync_stage", family, id(spark), sf)
    with _STAGE_LOCK_GUARD:
        lock = _STAGE_LOCKS.setdefault(key, threading.Lock())
    with lock:
        if key not in _CORPUS_CACHE:
            base = _scratch_dir(family, sf)
            shutil.rmtree(base, ignore_errors=True)
            os.makedirs(base, exist_ok=True)
            t0 = time.perf_counter()
            _CORPUS_CACHE[key] = builder(base)
            STAGING_SECONDS[family] = round(
                STAGING_SECONDS.get(family, 0.0) + time.perf_counter() - t0, 4
            )
    return _CORPUS_CACHE[key]
