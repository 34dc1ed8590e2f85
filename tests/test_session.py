"""Session wiring: the worker daemon's zip-cache guard and loud conf
failures."""

from __future__ import annotations

import importlib
import logging
import re
import sys
import zipfile
import zipimport
from types import SimpleNamespace

from cooler_mapreduce_spark import session, worker_daemon


def test_guard_rereads_an_archive_only_when_it_changes(tmp_path, monkeypatch):
    archive = tmp_path / "guarded.zip"
    mod = "guarded_zip_probe"

    def write(body: str) -> None:
        with zipfile.ZipFile(archive, "w") as zf:  # rewrites the same path
            zf.writestr(f"{mod}.py", body)

    write("VALUE = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, mod, raising=False)
    assert importlib.import_module(mod).VALUE == 1

    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.guarded_invalidate_caches
    )
    reads = []
    real_read = worker_daemon._read_archive

    def counting_read(importer):
        if importer.archive == str(archive):
            reads.append(importer)
        real_read(importer)

    monkeypatch.setattr(worker_daemon, "_read_archive", counting_read)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1  # the first call stamps, the second is a no-op

    write("VALUE = 'a different, longer body'\n")
    importlib.invalidate_caches()
    assert len(reads) == 2
    del sys.modules[mod]
    assert importlib.import_module(mod).VALUE == "a different, longer body"


def test_session_workers_run_the_guard(spark):
    def probe(_):
        import os
        import zipimport

        f = zipimport.zipimporter.invalidate_caches
        return f.__qualname__, os.path.basename(f.__code__.co_filename)

    got = spark.sparkContext.parallelize([0], 1).map(probe).collect()
    assert got == [("guarded_invalidate_caches", "worker_daemon.py")]


def test_apply_session_defaults_logs_a_rejected_key(monkeypatch, caplog):
    monkeypatch.setattr(session, "ship_package", lambda spark: None)
    bad = "spark.sql.adaptive.skewJoin.enabled"

    def apply(reject: str | None) -> dict[str, str]:
        conf: dict[str, str] = {}

        def conf_set(k, v):
            if k == reject:
                raise RuntimeError("cannot modify")
            conf[k] = v

        session.apply_session_defaults(SimpleNamespace(
            conf=SimpleNamespace(set=conf_set),
            sparkContext=SimpleNamespace(defaultParallelism=4),
        ))
        return conf

    everything = apply(None)
    assert bad in everything
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        applied = apply(bad)
    assert [r.levelno for r in caplog.records] == [logging.WARNING]
    assert bad in caplog.records[0].getMessage()
    assert applied == {k: v for k, v in everything.items() if k != bad}


def test_ship_package_logs_a_rejected_file(caplog):
    def add_py_file(path):
        raise RuntimeError("context stopped")

    host = SimpleNamespace(sparkContext=SimpleNamespace(addPyFile=add_py_file))
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session.ship_package(host)
    [record] = caplog.records
    assert re.search(r"cooler_mapreduce_spark_pkg_\w+\.zip", record.getMessage())
