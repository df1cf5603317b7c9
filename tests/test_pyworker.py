"""Stat-validated zip invalidation (pyworker.install): an unchanged archive
is not re-read on importlib.invalidate_caches(), a rewritten one is, and
the wrapper reaches the Python workers that run engine code."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from migrate_cassandra_to_mysql_spark import pyworker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def test_install_rereads_only_changed_archives(tmp_path, monkeypatch):
    real = zipimport.zipimporter.invalidate_caches
    real = getattr(real, "__wrapped__", real)
    archive = str(tmp_path / "mods.zip")
    reads = []

    def counting(self):
        if self.archive == archive:
            reads.append(self)
        real(self)

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", counting)
    pyworker.install()
    wrapper = zipimport.zipimporter.invalidate_caches
    assert wrapper.__wrapped__ is counting

    _write_zip(archive, {"pw_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "pw_mod_a", raising=False)
    monkeypatch.delitem(sys.modules, "pw_mod_b", raising=False)
    assert importlib.import_module("pw_mod_a").X == 1

    # First sight of the importer refreshes and stamps it; after that an
    # unchanged archive is never re-read.
    importlib.invalidate_caches()
    n = len(reads)
    assert n >= 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == n

    _write_zip(archive, {"pw_mod_a": "X = 1\n", "pw_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) > n
    assert importlib.import_module("pw_mod_b").Y == 2

    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is wrapper


def test_install_leaves_stdlib_alone_without_invalidate_caches(monkeypatch):
    monkeypatch.delattr(zipimport.zipimporter, "invalidate_caches")
    pyworker.install()
    assert not hasattr(zipimport.zipimporter, "invalidate_caches")


_WORKER_PROBE = textwrap.dedent(
    """
    import json
    import os
    import zipimport

    import pyarrow as pa

    from migrate_cassandra_to_mysql_spark.operators.inverted_index import (
        term_bucket,
    )
    from migrate_cassandra_to_mysql_spark.session import get_spark

    def probe(batches):
        for _ in batches:
            pass
        inv = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pydict(
            {
                "pid": [os.getpid()],
                "bucket": [term_bucket("graft")],
                "wrapped": [getattr(inv, "__module__", "")],
            }
        )

    spark = get_spark("pyworker-probe", master="local[1]", shuffle_partitions=1)
    rows = (
        spark.range(0, 2, 1, 2)
        .mapInArrow(probe, "pid long, bucket long, wrapped string")
        .collect()
    )
    print(json.dumps([r.asDict() for r in rows]))
    spark.stop()
    """
)


def test_engine_import_installs_wrapper_in_python_workers():
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(
            [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, "-c", _WORKER_PROBE],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    ).stdout
    rows = json.loads(out.strip().splitlines()[-1])
    assert len(rows) == 2
    # local[1]: both tasks run in the same reused worker, one after the other.
    assert rows[0]["pid"] == rows[1]["pid"]
    assert rows[1]["wrapped"] == pyworker.__name__
