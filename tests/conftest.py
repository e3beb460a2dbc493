import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bm25_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="bm25-spark-tests", cores=8, shuffle_partitions=8,
                  driver_memory="8g")
    yield s
    s.stop()



class Roots:
    """``roots(name)`` -> a root under tmp_path in the fixture's form;
    ``roots.chdir(name)`` runs the rest of the test from a fresh working
    directory, so a state file resolved against the cwd is not found
    again."""

    def __init__(self, form, tmp_path, monkeypatch):
        self.form, self.tmp_path, self.monkeypatch = form, tmp_path, monkeypatch

    def __call__(self, name: str) -> str:
        path = str(self.tmp_path / name)
        return f"file://{path}" if self.form == "file_uri" else path

    def chdir(self, name: str) -> None:
        (self.tmp_path / name).mkdir()
        self.monkeypatch.chdir(self.tmp_path / name)


@pytest.fixture(params=("plain", "file_uri", "hadoop"))
def roots(request, tmp_path, monkeypatch):
    """Index, checkpoint and ingest roots in three forms: a plain path, a
    file:// URI, and a plain path with the OS branch of the indexer's
    path helpers switched off, so its state files take the Hadoop
    FileSystem branch that hdfs:// and s3a:// roots take. The test starts
    in a scratch working directory."""
    from bm25_spark.operators import indexer

    if request.param == "hadoop":
        monkeypatch.setattr(indexer, "_local_path", lambda path: None)
    r = Roots(request.param, tmp_path, monkeypatch)
    r.chdir("cwd0")
    return r
