"""The engine's Python worker daemon (bigdatawork_spark/worker_daemon.py).

Engine sessions fork their Python workers from a daemon that makes
``zipimporter.invalidate_caches`` re-read an archive only when it changed.
Without it, CPython < 3.13 re-reads every zip on a worker's ``sys.path``
(pyspark.zip, the spark-core jar, py4j) before each Python task.
"""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from bigdatawork_spark import worker_daemon
from bigdatawork_spark.session import ENGINE_ROOT


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_invalidation_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"a": "A = 1\n"})
    importer = zipimport.zipimporter(archive)
    # A worker holds several importers of one archive (12 for pyspark.zip).
    twin = zipimport.zipimporter(archive)
    # monkeypatch restores the stock method after the test, so the rest of
    # the process keeps the stdlib behaviour.
    monkeypatch.setattr(worker_daemon, "_read_stamps", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    worker_daemon.install()
    reads = []
    stock_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or stock_read(a)
    )

    importer.invalidate_caches()
    importer.invalidate_caches()
    twin.invalidate_caches()
    assert reads == []
    assert importer.find_spec("b") is None

    _write_zip(archive, {"a": "A = 1\n", "b": "B = 2\n"})
    importer.invalidate_caches()
    twin.invalidate_caches()
    assert reads == [archive]
    assert twin.find_spec("b") is not None
    spec = importer.find_spec("b")
    assert spec is not None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.B == 2

    importer.invalidate_caches()
    assert reads == [archive]


def test_engine_workers_skip_zip_rereads(spark):
    """Inside an engine worker, a task's importlib.invalidate_caches() reads
    no zip directory, and the worker's path does hold zips."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        reads = []
        stock_read = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or stock_read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        for _ in batches:
            pass
        zips = sum(
            1 for p in sys.path if isinstance(p, str) and p.endswith((".zip", ".jar"))
        )
        yield pd.DataFrame({"reads": [len(reads)], "zips": [zips]})

    rows = (
        spark.range(8).repartition(4)
        .mapInPandas(probe, "reads long, zips long")
        .collect()
    )
    assert rows
    assert all(r.reads == 0 for r in rows), rows
    assert all(r.zips >= 1 for r in rows), rows


_WORKER_PATH_SCRIPT = """
import os, sys
sys.path.insert(0, {root!r})
from bigdatawork_spark.session import get_spark

spark = get_spark("worker-path-test", cpus=2)

def f(batches):
    import sys
    import pandas as pd
    extra = os.environ.get("EXTRA_ENTRY")
    for b in batches:
        if extra:
            import extra_probe_mod
            assert extra in sys.path and extra_probe_mod.OK
        yield b

print("COUNT", spark.range(10).mapInPandas(f, "id long").count())
spark.stop()
"""


@pytest.mark.parametrize("preset", [False, True], ids=["unset", "preset"])
def test_get_spark_workers_find_engine_from_any_cwd(tmp_path, preset):
    """A get_spark session started outside the repo, with PYTHONPATH unset,
    runs Python UDFs; a caller's PYTHONPATH entry stays on the workers'
    path."""
    script = tmp_path / "run.py"
    script.write_text(_WORKER_PATH_SCRIPT.format(root=ENGINE_ROOT))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    if preset:
        extra = tmp_path / "extra"
        extra.mkdir()
        (extra / "extra_probe_mod.py").write_text("OK = True\n")
        env["PYTHONPATH"] = env["EXTRA_ENTRY"] = str(extra)
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert "COUNT 10" in out.stdout, out.stdout[-2000:] + out.stderr[-4000:]
