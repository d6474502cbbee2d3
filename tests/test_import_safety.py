"""Import-safety regressions for the bench staging thread pool.

BENCH_r12 postmortem: bench.py stages lifecycle queries from a
ThreadPoolExecutor, and the staged query functions lazily `from
onetable_spark.sync import ...` inside their bodies. Two threads racing
the first import of a package (onetable_spark.sync) against one of its
submodules (onetable_spark.sync.validation) deadlocked Python's
per-module import locks (_frozen_importlib._DeadlockError) and killed
the driver bench (BENCH_r12.json rc=1, parsed=null).

Fix under test: onetable_spark/queries.py eagerly imports every package
module at module scope (single-threaded), so function-body imports are
no-op sys.modules lookups under any thread pool.
"""

from __future__ import annotations

import subprocess
import sys
import textwrap


def test_importing_queries_populates_every_submodule():
    """After `import onetable_spark.queries`, every module in the package
    must already be in sys.modules — the property that makes function-body
    imports lock-free under bench.py's staging pool."""
    script = textwrap.dedent(
        """
        import pkgutil, sys
        import onetable_spark.queries  # the eager-init block runs here
        import onetable_spark
        missing = [
            m.name
            for m in pkgutil.walk_packages(onetable_spark.__path__, "onetable_spark.")
            if m.name not in sys.modules
        ]
        assert not missing, f"not eagerly imported: {missing}"
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0, proc.stderr


def test_threaded_function_body_imports_after_queries_import():
    """The BENCH_r12 race, modeled the way bench.py now runs: the main
    thread imports onetable_spark.queries to completion (eager init), THEN
    a pool of threads performs the exact package-vs-submodule import pair
    that deadlocked r12 (onetable_spark.sync vs onetable_spark.sync
    .validation), many times, from a cold interpreter. Pre-fix, the first
    cold pair raced the import locks; post-fix every import is a
    sys.modules lookup and cannot take a lock."""
    script = textwrap.dedent(
        """
        import threading

        import onetable_spark.queries  # completes eager init, main thread

        errors = []
        barrier = threading.Barrier(8)

        def imp(name):
            try:
                barrier.wait(timeout=30)
                for _ in range(200):
                    __import__(name)
            except BaseException as e:  # noqa: BLE001 - record everything
                errors.append(f"{name}: {type(e).__name__}: {e}")

        names = ["onetable_spark.sync", "onetable_spark.sync.validation"] * 4
        threads = [threading.Thread(target=imp, args=(n,)) for n in names]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads), "import threads hung"
        assert not errors, errors
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=180
    )
    assert proc.returncode == 0, proc.stderr


def test_udf_runs_with_the_driver_outside_the_checkout(tmp_path):
    """A session from ``get_spark`` ships the package to its Python
    workers: a mapInPandas function that calls an ``onetable_spark``
    function (pickled by module reference) runs from a driver whose cwd
    is outside the checkout, where the workers would otherwise fail with
    ModuleNotFoundError."""
    import os
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(root)!r})
        from onetable_spark.formats.iceberg import _flat_fields
        from onetable_spark.session import get_spark

        def count_fields(batches):
            for pdf in batches:
                yield pdf.assign(n=len(_flat_fields({{"fields": [{{"name": "a", "id": 1}}]}})))

        spark = get_spark("worker-path", cpus=1)
        rows = spark.range(2).mapInPandas(count_fields, "id long, n long").collect()
        assert [r["n"] for r in rows] == [1, 1], rows
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
