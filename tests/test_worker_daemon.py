"""The engine-owned Python worker daemon: the zipimport backport it installs,
that Spark's workers actually fork from it, and that the workers import the
engine whatever the driver's cwd and PYTHONPATH."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from streaming_spark import worker_daemon
from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def backport(monkeypatch):
    """Install the backport for one test and undo it afterwards."""
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    if not worker_daemon.install():
        pytest.skip("zipimport is already lazy on this Python")
    yield
    del zipimport.zipimporter._files


@pytest.fixture
def read_calls(monkeypatch):
    """Count ``zipimport._read_directory`` calls by archive."""
    calls = []
    inner = zipimport._read_directory

    def counted(archive):
        calls.append(archive)
        return inner(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return calls


def _write_zip(path, source: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zmod.py", source)


def test_changed_archive_is_reimported_after_invalidation(backport, tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zmod").VALUE == 1
        _write_zip(archive, "VALUE = 'two, and a longer body'\n")
        del sys.modules["zmod"]
        importlib.invalidate_caches()
        assert importlib.import_module("zmod").VALUE == "two, and a longer body"
    finally:
        sys.modules.pop("zmod", None)
        sys.path_importer_cache.pop(archive, None)


def test_sixteen_importers_read_an_unchanged_archive_at_most_once(
    backport, read_calls, tmp_path
):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "VALUE = 1\n")
    importers = [zipimport.zipimporter(archive) for _ in range(16)]
    for _ in range(3):
        read_calls.clear()
        for imp in importers:
            imp.invalidate_caches()
        for imp in importers:
            assert imp.find_spec("zmod") is not None
        assert len(read_calls) <= 1
    # a changed archive is re-read exactly once, however many importers
    _write_zip(archive, "VALUE = 'changed'\n")
    read_calls.clear()
    for imp in importers:
        imp.invalidate_caches()
    for imp in importers:
        assert imp.find_spec("zmod") is not None
    assert read_calls == [archive]


def test_python_313_zipimport_is_left_untouched():
    before = zipimport.zipimporter.invalidate_caches
    assert worker_daemon.install(version=(3, 13, 0)) is False
    assert zipimport.zipimporter.invalidate_caches is before
    assert "_files" not in vars(zipimport.zipimporter)


def test_spark_workers_fork_from_the_engine_daemon(spark):
    """Catches the daemon conf silently not applying (e.g. ``getOrCreate``
    returning a session started without it)."""
    import pandas as pd

    def patched_by(batches):
        import zipimport

        for _ in batches:
            pass
        yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    rows = spark.range(0, 2, 1, 2).mapInPandas(patched_by, "m STRING").collect()
    assert {r.m for r in rows} == {"streaming_spark.worker_daemon"}


_OUTSIDE_REPO = """
import sys
sys.path.insert(0, {repo!r})  # the driver only; workers get no PYTHONPATH
import pandas as pd
from streaming_spark import get_spark
from streaming_spark.oracle import compare, duckdb_connection
from streaming_spark.queries import ORACLES, REGISTRY

def engine_module(batches):
    import streaming_spark.operators.stream as mod
    for b in batches:
        yield pd.DataFrame({{"m": [mod.__name__] * len(b)}})

spark = get_spark(app_name="worker-path", cpus=2, shuffle_partitions=2)
rows = spark.range(0, 4, 1, 2).mapInPandas(engine_module, "m STRING").collect()
assert {{r.m for r in rows}} == {{"streaming_spark.operators.stream"}}, rows
got = REGISTRY["q_df_roundtrip"](spark, {sf!r}).toPandas()
want = duckdb_connection({sf!r}).execute(ORACLES["q_df_roundtrip"]).fetchdf()
assert not compare(got, want), compare(got, want)
spark.stop()
print("OK")
"""


@pytest.mark.skipif(not os.path.isdir(SF_SMOKE), reason="sf0.001 fixtures missing")
def test_workers_import_the_engine_outside_the_repo(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    code = textwrap.dedent(_OUTSIDE_REPO).format(repo=REPO, sf=SF_SMOKE)
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0 and out.stdout.strip().endswith("OK"), out.stderr[-4000:]
