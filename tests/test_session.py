"""Session factory: the worker start-up hook that keeps zipimport from
re-reading unchanged archives, and the host-sized driver heap."""

import importlib.util
import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

from parquetranger_spark.session import _WORKER_SITE, _driver_memory

EAGER_ZIP_REREAD = (3, 10) <= sys.version_info[:2] <= (3, 12)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(not EAGER_ZIP_REREAD, reason="zipimport re-reads lazily here")
def test_hook_skips_unchanged_archive_and_rereads_changed_one(tmp_path):
    # a subprocess, so this suite's own import system stays untouched
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zmod_a": "A = 1\n"})
    probe = textwrap.dedent(f"""
        import importlib, json, sys, zipfile, zipimport
        import zmod_a
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or read(p)
        for _ in range(3):
            importlib.invalidate_caches()
        unchanged = len(reads)
        with zipfile.ZipFile({str(archive)!r}, "w") as z:
            z.writestr("zmod_a.py", "A = 1\\n")
            z.writestr("zmod_b.py", "B = 2\\n")
        importlib.invalidate_caches()
        import zmod_b
        print(json.dumps({{"hooked": "sitecustomize" in sys.modules,
                          "unchanged": unchanged, "changed": len(reads) - unchanged,
                          "b": zmod_b.B}}))
    """)
    env = {**os.environ, "PYTHONPATH": os.pathsep.join([str(archive), _WORKER_SITE])}
    out = subprocess.run([sys.executable, "-c", probe], env=env, cwd=tmp_path,
                         capture_output=True, text=True, timeout=60, check=True)
    assert out.stdout.strip().endswith(
        '{"hooked": true, "unchanged": 0, "changed": 1, "b": 2}'), out.stdout


@pytest.mark.skipif(not EAGER_ZIP_REREAD, reason="zipimport re-reads lazily here")
@pytest.mark.skipif(importlib.util.find_spec("sitecustomize") is not None,
                    reason="get_spark leaves an environment's own sitecustomize in place")
def test_python_workers_skip_archive_rereads(spark):
    def reads_per_invalidate(batches):
        import importlib
        import zipimport

        import pandas as pd

        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or read(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)]})

    rows = (spark.range(0, 4, numPartitions=4)
            .mapInPandas(reads_per_invalidate, "reads long").collect())
    assert [r.reads for r in rows] == [0, 0, 0, 0]


@pytest.mark.parametrize("meminfo, heap", [
    ("MemTotal:       16456384 kB\nMemFree:        15069272 kB\n", "7g"),  # 15.7 GiB
    ("MemTotal:       33554432 kB\n", "16g"),  # 32 GiB
    ("MemTotal:      263750000 kB\n", "16g"),
    ("MemTotal:        4194304 kB\n", "2g"),
    ("MemTotal:        1048576 kB\n", "1g"),
    ("", "16g"),
])
def test_driver_memory_is_half_the_host_capped_at_16g(meminfo, heap):
    assert _driver_memory(meminfo) == heap
