"""The session's Python worker daemon (``daemon.py``).

* Workers of the shared session fork from it: their
  ``zipimporter.invalidate_caches`` is the package's on Python < 3.13,
  the stock one from 3.13 on.
* A worker's second task does not re-read ``pyspark.zip``.
* pyspark's reason for calling ``importlib.invalidate_caches()`` on
  every task still holds: a module added to an archive on ``sys.path``
  becomes importable after the call.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from operating_system_map_reduce_spark import daemon

DAEMON_FILE = os.path.join("operating_system_map_reduce_spark", "daemon.py")


def test_workers_fork_from_the_package_daemon(spark):
    def probe(_):
        import sys
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        yield sys.version_info[:2], fn.__code__.co_filename

    [(version, filename)] = (spark.sparkContext.parallelize([0], 1)
                             .mapPartitions(probe).collect())
    if tuple(version) < (3, 13):
        assert filename.endswith(DAEMON_FILE), filename
    else:
        assert filename == "<frozen zipimport>", filename


def test_a_second_task_in_a_worker_does_not_reread_pyspark_zip(spark):
    def probe(rows):
        import os
        import zipimport

        list(rows)  # a worker whose input is left unread is not reused
        archives = [a for a in zipimport._zip_directory_cache
                    if os.path.basename(a) == "pyspark.zip"]
        files = [zipimport._zip_directory_cache[a] for a in archives]
        # a re-read replaces the cached directory with a new dict
        seen = getattr(zipimport, "_test_daemon_seen", None)
        zipimport._test_daemon_seen = files
        yield (os.getpid(), bool(archives), seen is not None,
               seen is not None and all(a is b for a, b in zip(seen, files)))

    sc = spark.sparkContext
    again = []
    # single-task jobs take idle workers round-robin, so within
    # (idle workers + 1) jobs one worker runs a second task
    for _ in range(2 * sc.defaultParallelism + 2):
        [(pid, from_zip, second, same)] = (sc.parallelize([0], 1)
                                           .mapPartitions(probe).collect())
        if not from_zip:
            pytest.skip("workers do not import pyspark from pyspark.zip")
        if second:
            again.append((pid, same))
        if len(again) >= 2:
            break
    assert again, "no worker ran a second task"
    assert all(same for _, same in again), again


@pytest.fixture
def package_invalidation(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        daemon.invalidate_caches)


def _write_archive(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_a_rewritten_archive_is_reread(tmp_path, monkeypatch,
                                       package_invalidation):
    archive = str(tmp_path / "shipped.zip")
    _write_archive(archive, {"daemon_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("daemon_mod_a", "daemon_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("daemon_mod_a").X == 1

    importlib.invalidate_caches()  # stamps the archive
    importer = sys.path_importer_cache[archive]
    files = importer._files
    importlib.invalidate_caches()  # unchanged: not re-read
    assert importer._files is files

    _write_archive(archive, {"daemon_mod_a": "X = 1\n",
                             "daemon_mod_b": "Y = 2\n"})
    with pytest.raises(ImportError):
        importlib.import_module("daemon_mod_b")
    importlib.invalidate_caches()
    assert importlib.import_module("daemon_mod_b").Y == 2
