"""Session factory: CPU default, the package's Python worker daemon, Unix
domain sockets for the workers, and running from a foreign working
directory."""

from __future__ import annotations

import os
import stat
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from multithreaded_mapreduce_library_spark import pyworker
from multithreaded_mapreduce_library_spark.session import DAEMON_MODULE, PACKAGE_PARENT, default_cpus, socket_dir


# ---------------------------------------------------------------------------
# default_cpus
# ---------------------------------------------------------------------------

def test_default_cpus_falls_back_to_usable_cpus(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))


def test_default_cpus_reads_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3


@pytest.mark.parametrize("raw", ["four", "0", "-2", "", "2.5"])
def test_default_cpus_rejects_bad_env(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        default_cpus()


# ---------------------------------------------------------------------------
# worker daemon: zip importers skip unchanged archives
# ---------------------------------------------------------------------------

def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_unchanged_archive_is_not_reread_and_changed_one_is(tmp_path, monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches)
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real_read(p))

    archive = tmp_path / "lib.zip"
    _write_zip(archive, ["alpha"])
    importer = zipimport.zipimporter(str(archive))
    importer.invalidate_caches()  # the first call reads and records the stamp
    files, n = importer._files, len(reads)
    for _ in range(3):
        importer.invalidate_caches()
    assert importer._files is files
    assert len(reads) == n

    _write_zip(archive, ["alpha", "beta"])
    importer.invalidate_caches()
    assert len(reads) == n + 1
    assert importer.find_spec("beta") is not None

    archive.unlink()  # unreadable: re-read on every call, as before
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert len(reads) == n + 3
    assert importer._files == {}


def test_python_workers_run_under_package_daemon(spark):
    def probe(_):
        import sys
        import zipimport

        patched = zipimport.zipimporter.invalidate_caches
        stamped = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter) and hasattr(f, "_read_stamp")
        ]
        yield f"{patched.__module__}.{patched.__name__}", len(stamped) > 0

    got = set(spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect())
    assert got == {(f"{DAEMON_MODULE}.invalidate_caches", True)}
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == DAEMON_MODULE
    assert conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)[0] == PACKAGE_PARENT


def test_python_workers_use_private_unix_socket_dir(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    path = conf.get("spark.python.unix.domain.socket.dir")
    assert path == socket_dir()
    st = os.stat(path)
    assert stat.S_ISDIR(st.st_mode) and stat.S_IMODE(st.st_mode) == 0o700
    assert st.st_uid == os.getuid()
    # Spark appends "/.<uuid4>.sock" (43 bytes); sun_path holds 107
    assert len(path.encode()) <= 64


def test_facade_job_runs_from_foreign_working_directory(tmp_path):
    """The driver finds the package through ``sys.path`` only; the Python
    workers still import it (and its daemon) through the session conf.
    ``TMPDIR`` and ``java.io.tmpdir`` are too long to hold a socket path,
    and the socket directory is gone once the driver has exited."""
    deep = tmp_path / ("d" * 100)
    deep.mkdir()
    script = tmp_path / "job.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {PACKAGE_PARENT!r})
        from multithreaded_mapreduce_library_spark.mapreduce import mr_run, wordcount_mapper, wordcount_reducer
        from multithreaded_mapreduce_library_spark.session import get_spark

        spark = get_spark(cpus=2, extra_conf={{
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir={deep}",
        }})
        print(spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir"))
        rdd = spark.sparkContext.parallelize(["a b", "b c c"], 2)
        print(sorted(mr_run(spark, rdd, wordcount_mapper, wordcount_reducer, num_partitions=3).collect()))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_DRIVER_MEM="1g", SPARK_LOCAL_DIRS=str(tmp_path), TMPDIR=str(deep))
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    sock_dir, result = proc.stdout.strip().splitlines()[-2:]
    assert result == "[('a', 1), ('b', 2), ('c', 2)]"
    assert os.path.isabs(sock_dir) and not os.path.exists(sock_dir)
