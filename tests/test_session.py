"""Session wiring: the worker daemon's zip-cache guard, the shared conf
table, loud conf failures and the shipped package zip."""

from __future__ import annotations

import importlib
import logging
import os
import re
import subprocess
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
        ), "")
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


def test_apply_session_defaults_sets_exactly_the_shared_table(tmp_path, monkeypatch):
    (tmp_path / "t.parquet").write_bytes(b"x" * 5000)
    monkeypatch.setattr(session, "ship_package", lambda spark: None)
    calls = []
    session.apply_session_defaults(SimpleNamespace(
        conf=SimpleNamespace(set=lambda k, v: calls.append((k, v))),
        sparkContext=SimpleNamespace(defaultParallelism=4),
    ), str(tmp_path))
    # 5000 input bytes size the initial shuffle to one partition
    assert calls == [*session.SESSION_DEFAULTS, ("spark.sql.shuffle.partitions", "1")]
    assert len(dict(calls)) == len(calls)


def test_queries_size_from_their_sf_dir_and_ship_once(tmp_path, monkeypatch):
    """Each ``queries()`` call sizes the shuffle from the ``sf_dir`` it is
    given, and the package zip is added to a SparkContext only once."""
    import __spark_entry__

    small, big = tmp_path / "small", tmp_path / "big"
    small.mkdir()
    big.mkdir()
    (small / "t.parquet").write_bytes(b"x" * 5000)
    (big / "t.parquet").write_bytes(b"x" * (5 << 20))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(small))  # must not be read
    spec = SimpleNamespace(fn=lambda spark, sf_dir: sf_dir, oracle=None)
    monkeypatch.setattr(__spark_entry__, "load_all", lambda: {"q": spec})
    widths, added = [], []
    host = SimpleNamespace(
        conf=SimpleNamespace(
            set=lambda k, v: widths.append(v) if k == "spark.sql.shuffle.partitions" else None
        ),
        sparkContext=SimpleNamespace(defaultParallelism=8, addPyFile=added.append),
    )
    run = __spark_entry__.queries()["q"]
    assert run(host, str(small)) == str(small)
    assert run(host, str(big)) == str(big)
    assert widths == ["1", "3"]
    assert len(added) == 1


def test_verify_script_runs_workers_from_the_shipped_zip(sf_dir, tmp_path):
    """``scripts/verify.py`` builds its own session, as the driver does, so
    its Python workers run the stock daemon. With no ``PYTHONPATH`` and a
    foreign working directory, ``mr_word_count``'s workers can import the
    package only from :func:`session.ship_package`'s zip."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "verify.py"),
         "--sf", sf_dir, "pricing_summary", "mr_word_count"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stdout + out.stderr[-3000:]
    green = [line for line in out.stdout.splitlines() if line.endswith(" HASH-GREEN")]
    assert green == ["pricing_summary HASH-GREEN", "mr_word_count HASH-GREEN"]
