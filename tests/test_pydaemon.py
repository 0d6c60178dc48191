"""The engine's PySpark worker daemon (``callysto_spark/runtime/pydaemon.py``):
its archive-caching rule, and that live Python tasks run under it."""

from __future__ import annotations

import json
import subprocess
import sys
import textwrap

from callysto_spark.session import ENGINE_ROOT

# Runs in a fresh interpreter, so this process's own zipimport stays stock.
_CACHING_PROBE = textwrap.dedent(
    """
    import importlib, json, os, sys, zipfile, zipimport

    from callysto_spark.runtime import pydaemon

    tmp = sys.argv[1]
    archive = os.path.join(tmp, "pkg.zip")

    def write_archive(modules):
        staged = archive + ".new"
        with zipfile.ZipFile(staged, "w") as zf:
            zf.writestr("zpkg/__init__.py", "")
            zf.writestr("zpkg/sub/__init__.py", "")
            for name in modules:
                zf.writestr(f"zpkg/{name}.py", f"NAME = {name!r}")
        os.replace(staged, archive)

    write_archive(["a"])
    sys.path.insert(0, archive)
    import zpkg.a, zpkg.sub

    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    zipimport._read_directory = counting_read
    counts = {}

    importlib.invalidate_caches()
    counts["stock"] = len(reads)

    pydaemon.install()
    pydaemon.install()
    wrapped = zipimport.zipimporter.invalidate_caches.__module__
    for step in ("first", "unchanged"):
        reads.clear()
        importlib.invalidate_caches()
        counts[step] = len(reads)

    write_archive(["a", "b"])
    reads.clear()
    importlib.invalidate_caches()
    counts["rewritten"] = len(reads)
    try:
        import zpkg.b
        new_module = zpkg.b.NAME
    except ImportError as exc:
        new_module = repr(exc)
    print(json.dumps({"counts": counts, "wrapped": wrapped, "new_module": new_module}))
    """
)


def test_zip_importers_reread_only_a_changed_archive(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", _CACHING_PROBE, str(tmp_path)],
        capture_output=True, text=True, check=True, cwd=ENGINE_ROOT,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    counts = got["counts"]
    assert got["wrapped"] == "callysto_spark.runtime.pydaemon"
    # stock 3.11 re-reads once per importer (root, zpkg/, zpkg/sub/)
    assert counts["stock"] >= 1
    # an importer with no stamp yet reads once, then skips while unchanged
    assert counts["first"] == counts["stock"]
    assert counts["unchanged"] == 0
    # a rewritten archive is read again, and its new module imports
    assert counts["rewritten"] >= 1
    assert got["new_module"] == "b"


def test_python_tasks_run_under_the_engine_daemon(spark):
    # defined here so cloudpickle ships it by value to the workers
    def probe(batches):
        import os
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        with open(f"/proc/{os.getppid()}/cmdline", "rb") as fh:
            parent = fh.read().replace(b"\0", b" ").decode()
        yield pd.DataFrame(
            {
                "wrapper": [zipimport.zipimporter.invalidate_caches.__module__],
                "parent": [parent],
            }
        )

    rows = (
        spark.range(4, numPartitions=2)
        .mapInPandas(probe, "wrapper string, parent string")
        .collect()
    )
    assert len(rows) == 2
    for row in rows:
        assert row.wrapper == "callysto_spark.runtime.pydaemon"
        assert "-m callysto_spark.runtime.pydaemon pyspark.worker" in row.parent
