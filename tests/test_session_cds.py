"""The driver JVM's class-data-sharing archive (``session._ClassArchive``).

Every test points ``XDG_CACHE_HOME`` at its own tmp dir and
``SPARK_CONF_DIR`` at a templates-only dir. Archives are made and probed
with ``java -version`` runs over a one-jar class path (about 0.3 s each);
one test starts one real Spark session in a subprocess.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from mega_data_factory_spark.session import _ClassArchive, _cds_key, _find_spark_home, _java_home

MEMORY = "2g"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def cache(tmp_path, monkeypatch):
    """A fresh cache and a templates-only conf dir; returns the archive
    paths this process's starts use."""
    conf = tmp_path / "spark-conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("# template\n")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"):
        monkeypatch.delenv(var, raising=False)
    root = tmp_path / "xdg" / "mega-data-factory-spark" / "cds"
    return _ClassArchive(str(root), _cds_key(_find_spark_home(), _java_home(), MEMORY))


def _dead_pid() -> int:
    proc = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"], capture_output=True, text=True)
    return int(proc.stdout)


def _finished_dump(archive: _ClassArchive, content=None) -> str:
    """The state a dumping start leaves once its JVM has exited: a lock
    naming a dead pid, a record of that JVM and a ``.tmp`` archive, dumped
    by a real ``java -version`` over the cache's empty conf dir and one
    jar. ``content`` maps the archive's bytes (truncation, garbage)."""
    os.makedirs(archive.conf_dir, exist_ok=True)
    java_home = _java_home()
    jar = min(glob.glob(os.path.join(_find_spark_home(), "jars", "py4j-*.jar")))
    classpath = f"{archive.conf_dir}/:{jar}"
    tmp = archive.tmp.replace(f".{os.getpid()}.tmp", f".{_dead_pid()}.tmp")
    java = os.path.join(java_home, "bin", "java")
    subprocess.run(
        [java, "-cp", classpath, f"-XX:ArchiveClassesAtExit={tmp}", "-Xlog:cds=off,cds+dynamic=off", "-version"],
        check=True, capture_output=True,
    )
    if content is not None:
        with open(tmp, "rb") as f:
            data = content(f.read())
        os.chmod(tmp, 0o644)
        with open(tmp, "wb") as f:
            f.write(data)
    with open(archive.lock, "w") as f:
        json.dump({"pid": _dead_pid(), "tmp": tmp}, f)
    with open(archive.record, "w") as f:
        json.dump({"dumps": 1, "classpath": classpath, "java_home": java_home, "jvm_args": ["-Xmx2g"]}, f)
    return tmp


def test_probe_promotes_a_whole_archive(cache):
    """The positive control for the rejections below: the same dump,
    untouched, passes the probe, becomes ``<key>.jsa`` and is used."""
    tmp = _finished_dump(cache)
    started = _ClassArchive.open(MEMORY)
    assert started is not None and not started.dumping
    assert f"-XX:SharedArchiveFile={cache.jsa} -Xshare:auto" in started.java_options
    assert os.path.exists(cache.jsa) and not os.path.exists(tmp) and not os.path.exists(cache.lock)
    st = os.stat(cache.jsa)
    with open(cache.record) as f:
        assert json.load(f)["archive"] == [st.st_size, st.st_mtime_ns]


@pytest.mark.parametrize(
    "content",
    [pytest.param(lambda b: b[: len(b) * 9 // 10], id="truncated"), pytest.param(lambda b: os.urandom(4096), id="garbage")],
)
def test_probe_rejects_a_broken_archive_and_dumps_again(cache, content):
    """A truncated archive aborts even ``-Xshare:auto`` JVMs and garbage is
    refused: the probe deletes either, never promotes it, and the start
    launches without an archive to map (it dumps a fresh one)."""
    tmp = _finished_dump(cache, content)
    started = _ClassArchive.open(MEMORY)
    assert not os.path.exists(tmp) and not os.path.exists(cache.jsa)
    assert started is not None and started.dumping
    assert "SharedArchiveFile" not in started.java_options
    assert f"-XX:ArchiveClassesAtExit={cache.tmp}" in started.java_options
    with open(cache.lock) as f:
        assert json.load(f) == {"pid": os.getpid(), "tmp": cache.tmp}


def test_changed_archive_is_dropped(cache):
    """A promoted archive whose size no longer matches its record is
    deleted, and that start is a plain one."""
    _finished_dump(cache)
    assert "SharedArchiveFile" in _ClassArchive.open(MEMORY).java_options
    os.chmod(cache.jsa, 0o644)
    with open(cache.jsa, "ab") as f:
        f.write(b"\0")
    assert _ClassArchive.open(MEMORY) is None
    assert not os.path.exists(cache.jsa) and not os.path.exists(cache.record)


def test_deployment_conf_gets_no_archive(cache, tmp_path, monkeypatch):
    """A conf dir with a real ``spark-defaults.conf`` is never redirected:
    no archive flags, and the cache is not even created."""
    conf = tmp_path / "spark-conf"
    (conf / "spark-defaults.conf").write_text("spark.executor.memory 1g\n")
    assert _ClassArchive.open(MEMORY) is None
    assert os.environ["SPARK_CONF_DIR"] == str(conf)
    assert not os.path.exists(cache.root)


def test_concurrent_first_starts_make_one_dumper(cache):
    """Starts racing on an empty cache: exactly one dumps, the others
    start plainly while its lock names a live process."""
    n = 4
    barrier = threading.Barrier(n)

    def start(_):
        barrier.wait(timeout=30)
        return _ClassArchive.open(MEMORY)

    with ThreadPoolExecutor(n) as pool:
        started = list(pool.map(start, range(n), timeout=60))
    dumpers = [a for a in started if a is not None]
    assert len(dumpers) == 1 and dumpers[0].dumping
    with open(cache.record) as f:
        assert json.load(f) == {"dumps": 1}


def test_real_session_dump_is_promoted(cache, tmp_path):
    """One real first start in a subprocess: it launches with the dump
    flags and the empty conf dir, restores the caller's SPARK_CONF_DIR,
    and its JVM writes an archive at exit that the next start's probe
    accepts with the recorded Spark class path."""
    script = """
import os
from mega_data_factory_spark.session import get_spark
spark = get_spark("cds-test", cpus=1)
spark.range(1).count()
print("OPTS", spark.sparkContext.getConf().get("spark.driver.extraJavaOptions"))
print("CONF", os.environ["SPARK_CONF_DIR"])
gateway = spark.sparkContext._gateway
spark.stop()
gateway.shutdown()
gateway.proc.stdin.close()
gateway.proc.wait(timeout=120)
"""
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g", PYTHONPATH=REPO, SPARK_LOCAL_DIRS=str(tmp_path))
    env.pop("SPARK_DRIVER_JAVA_OPTIONS", None)
    done = subprocess.run([sys.executable, "-c", script], env=env, capture_output=True, text=True, timeout=300)
    assert done.returncode == 0, done.stderr[-2000:]
    out = dict(line.split(" ", 1) for line in done.stdout.splitlines() if line.startswith(("OPTS", "CONF")))
    assert f"-XX:ArchiveClassesAtExit={cache.root}" in out["OPTS"]
    assert out["CONF"] == os.environ["SPARK_CONF_DIR"]
    with open(cache.record) as f:
        assert f"{cache.conf_dir}/:" in json.load(f)["classpath"]
    started = _ClassArchive.open(MEMORY)
    assert started is not None and "SharedArchiveFile" in started.java_options
    assert os.path.getsize(cache.jsa) > 1 << 20
