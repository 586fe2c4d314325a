"""The Python worker daemon of the engine's local sessions
(``lwetl_spark/_worker/lwetl_worker_daemon.py``): its zip-directory
cache, its stand-alone import, and when ``get_spark`` selects it."""
import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from lwetl_spark import session

DAEMON = "lwetl_worker_daemon"
DAEMON_FILE = os.path.join(session._DAEMON_DIR, DAEMON + ".py")


def _load_daemon():
    spec = importlib.util.spec_from_file_location(DAEMON, DAEMON_FILE)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name in members:
            zf.writestr(name, "X = 1\n")


def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    mod = _load_daemon()
    reads = []

    def counting(self):
        reads.append(self.archive)
        return zipimport.zipimporter.invalidate_caches(self)

    monkeypatch.setattr(mod, "_reread", counting)
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, ["a.py"])
    imp = zipimport.zipimporter(archive)

    mod._invalidate_caches(imp)  # first call: nothing recorded yet
    mod._invalidate_caches(imp)
    mod._invalidate_caches(imp)
    assert reads == [archive]
    assert imp.find_spec("a") is not None and imp.find_spec("b") is None

    before = os.stat(archive).st_mtime_ns
    _write_zip(archive, ["a.py", "b.py"])
    os.utime(archive, ns=(before + 10**9, before + 10**9))
    mod._invalidate_caches(imp)
    assert reads == [archive, archive]
    assert imp.find_spec("b") is not None
    mod._invalidate_caches(imp)
    assert len(reads) == 2


def test_daemon_imports_where_lwetl_spark_is_not_importable(tmp_path):
    assert [f for f in os.listdir(session._DAEMON_DIR) if f != "__pycache__"] == [
        DAEMON + ".py"
    ]
    code = (
        "import importlib.util, zipimport\n"
        "assert importlib.util.find_spec('lwetl_spark') is None\n"
        f"import {DAEMON} as d\n"
        "assert zipimport.zipimporter.invalidate_caches is not d._invalidate_caches\n"
        "print('ok')\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = session._DAEMON_DIR
    out = subprocess.run(  # -S: no site-packages, so no installed lwetl_spark
        [sys.executable, "-S", "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


class _Built(Exception):
    """Carries the builder options ``get_spark`` would start a session with."""


@pytest.fixture
def builder_options(monkeypatch):
    from pyspark.sql import SparkSession

    def capture(self):
        raise _Built(dict(self._options))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    for var in ("SPARK_MASTER", "SPARK_GRAFT_NO_MASTER", "SPARK_GRAFT_MASTER"):
        monkeypatch.delenv(var, raising=False)

    def build(**kw):
        with pytest.raises(_Built) as got:
            session.get_spark(**kw)
        return got.value.args[0]

    return build


def test_get_spark_selects_the_daemon_for_its_local_master(builder_options, monkeypatch):
    opts = builder_options(cpus=3)
    assert opts["spark.master"] == "local[3]"
    assert opts["spark.python.daemon.module"] == DAEMON
    assert opts["spark.executorEnv.PYTHONPATH"] == session._DAEMON_DIR

    opts = builder_options(extra_conf={"spark.executorEnv.PYTHONPATH": "/srv/extra"})
    assert opts["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(
        ["/srv/extra", session._DAEMON_DIR]
    )

    monkeypatch.setenv("SPARK_GRAFT_MASTER", "local-cluster[2,1,1024]")
    assert builder_options()["spark.python.daemon.module"] == DAEMON


@pytest.mark.parametrize(
    "var, value",
    [
        ("SPARK_MASTER", "spark://head:7077"),
        ("SPARK_GRAFT_NO_MASTER", "1"),
        ("SPARK_GRAFT_MASTER", "yarn"),
    ],
)
def test_get_spark_keeps_pyspark_daemon_for_other_masters(
    builder_options, monkeypatch, var, value
):
    monkeypatch.setenv(var, value)
    opts = builder_options(extra_conf={"spark.executorEnv.PYTHONPATH": "/srv/extra"})
    assert "spark.python.daemon.module" not in opts
    assert opts["spark.executorEnv.PYTHONPATH"] == "/srv/extra"


def test_session_workers_run_the_patched_importer(spark):
    if spark.conf.get("spark.python.daemon.module", None) != DAEMON:
        pytest.skip("the session's master was not chosen by get_spark")

    def probe(batches):
        import os
        import zipimport

        import pandas as pd

        code = zipimport.zipimporter.invalidate_caches.__code__
        for pdf in batches:
            yield pd.DataFrame({"f": [os.path.basename(code.co_filename)] * len(pdf)})

    got = spark.range(8).repartition(4).mapInPandas(probe, "f string").collect()
    assert {r["f"] for r in got} == {DAEMON + ".py"}
