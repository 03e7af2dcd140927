"""The library's Python worker daemon: every Python task of a
``get_spark`` session runs under it, and its one patch re-reads a zip
archive's directory only when the archive has changed."""

from __future__ import annotations

import subprocess
import sys
import textwrap
import zipimport

import pytest

ROOT = __file__.rsplit("/tests/", 1)[0]


def test_python_tasks_run_under_the_library_daemon(spark):
    def probe(batches):
        import sys
        import zipimport

        import pandas as pd

        main = sys.modules["__main__"]
        patched = zipimport.zipimporter.invalidate_caches is getattr(
            main, "invalidate_caches_if_changed", None
        )
        for _ in batches:
            pass
        yield pd.DataFrame(
            {"daemon": [main.__spec__.name if main.__spec__ else ""], "patched": [patched]}
        )

    rows = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "daemon string, patched boolean")
        .collect()
    )
    assert [r.daemon for r in rows] == ["openset_spark.worker_daemon"]
    if sys.version_info < (3, 13):
        assert [r.patched for r in rows] == [True]


_PATCH_RULE = textwrap.dedent(
    """
    import importlib, os, sys, zipfile, zipimport

    from openset_spark import worker_daemon

    path = os.path.join(sys.argv[1], "lib.zip")

    def write(mods):
        tmp = path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for name in mods:
                z.writestr(f"pkg/{name}.py", f"NAME = {name!r}\\n")
            z.writestr("pkg/__init__.py", "")
        os.replace(tmp, path)

    write(["mod_a"])
    sys.path.insert(0, path)
    import pkg.mod_a

    worker_daemon.install()
    reads = []
    eager = zipimport._read_directory
    zipimport._read_directory = lambda a: reads.append(a) or eager(a)

    importlib.invalidate_caches()
    assert reads == [], reads

    write(["mod_a", "mod_b"])
    importlib.invalidate_caches()
    assert reads == [path], reads
    import pkg.mod_b
    assert pkg.mod_b.NAME == "mod_b"
    print("ok")
    """
)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13 re-reads lazily; nothing is patched")
def test_unchanged_zip_is_not_reread_and_a_rewritten_one_is(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", _PATCH_RULE, str(tmp_path)],
        cwd=ROOT, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


def test_importing_the_module_patches_nothing():
    before = zipimport.zipimporter.invalidate_caches
    from openset_spark import worker_daemon

    assert zipimport.zipimporter.invalidate_caches is before
    assert zipimport.zipimporter.invalidate_caches is not worker_daemon.invalidate_caches_if_changed
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
