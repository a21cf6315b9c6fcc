"""The Python-worker daemon entry (`awskinesisconsumer_spark/pyworker.py`):
a stat-checked zipimporter `invalidate_caches` in Spark's workers only."""

from __future__ import annotations

import subprocess
import sys
import textwrap
import zipimport
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]

# Counts zipimport._read_directory calls made by importlib.invalidate_caches().
_PRELUDE = textwrap.dedent("""
    import importlib, sys, zipfile, zipimport

    def write_zip(path, modules):
        with zipfile.ZipFile(path, "w") as z:
            for name in modules:
                z.writestr(name + ".py", "VALUE = %r\\n" % name)

    def reads_on_invalidate():
        calls = []
        orig = zipimport._read_directory
        zipimport._read_directory = lambda a: calls.append(a) or orig(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        return len(calls)
""")


def _run(tmp_path, body: str) -> str:
    code = _PRELUDE + textwrap.dedent(body)
    out = subprocess.run(
        [sys.executable, "-c", code, str(tmp_path / "mods.zip")],
        cwd=ROOT, capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    return out.stdout.strip()


@pytest.mark.skipif(hasattr(zipimport.zipimporter, "_get_files"),
                    reason="zipimport is lazy here; pyworker leaves it alone")
def test_unchanged_zip_is_not_reread_and_a_rewrite_is(tmp_path):
    out = _run(tmp_path, """
        path = sys.argv[1]
        write_zip(path, ["mod_a"])
        sys.path.insert(0, path)
        import mod_a
        from awskinesisconsumer_spark import pyworker
        pyworker.install()
        unchanged = reads_on_invalidate()
        write_zip(path, ["mod_a", "mod_b"])
        rewritten = reads_on_invalidate()
        import mod_b
        print(unchanged, rewritten > 0, mod_b.VALUE)
    """)
    assert out == "0 True mod_b"


def test_lazy_zipimporter_is_left_alone(tmp_path):
    out = _run(tmp_path, """
        zipimport.zipimporter._get_files = lambda self: self._files
        before = zipimport.zipimporter.invalidate_caches
        from awskinesisconsumer_spark import pyworker
        pyworker.install()
        print(zipimport.zipimporter.invalidate_caches is before)
    """)
    assert out == "True"


def test_spark_tasks_skip_the_reread_and_the_driver_is_untouched(spark):
    import pandas as pd

    def count_reads(batches):
        import importlib
        import zipimport

        calls = []
        orig = zipimport._read_directory
        zipimport._read_directory = lambda a: calls.append(a) or orig(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(calls)]})

    rows = (spark.range(10).repartition(1)
            .mapInPandas(count_reads, "reads long").collect())
    assert [r.reads for r in rows] == [0]
    fn = zipimport.zipimporter.invalidate_caches
    assert (fn.__module__, fn.__qualname__) == (
        "zipimport", "zipimporter.invalidate_caches")
