"""The Python worker daemon re-reads a zip archive only when it has changed."""

import os
import subprocess
import sys
import textwrap

import pandas as pd
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh interpreter: importing pyworker patches zipimport for the
# whole process, which must not leak into the test session.
GUARD_SCRIPT = textwrap.dedent(
    """
    import importlib, os, sys, zipfile, zipimport

    import go_log_forwarder_spark.pyworker  # noqa: F401  (installs the guard)

    archive = sys.argv[1]

    def write(members):
        tmp = archive + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for name, src in members.items():
                z.writestr(name, src)
        os.replace(tmp, archive)

    base = {"alpha.py": "X = 1\\n", "pkg/__init__.py": "", "pkg/one.py": "Y = 1\\n"}
    write(base)
    sys.path.insert(0, archive)
    import alpha, pkg.one  # one importer for the archive root, one for pkg/

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    zipimport._read_directory = counting
    counts = []
    for _ in range(3):
        importlib.invalidate_caches()
        counts.append(len(reads))
    assert counts[1] == counts[0] and counts[2] == counts[0], counts

    write({**base, "beta.py": "Z = 2\\n", "pkg/two.py": "W = 2\\n"})
    importlib.invalidate_caches()
    import beta, pkg.two
    assert len(reads) > counts[2], reads  # read at invalidation, or lazily (3.13)
    assert (alpha.X, beta.Z, pkg.one.Y, pkg.two.W) == (1, 2, 1, 2)
    print("ok", counts)
    """
)


def test_zip_archive_reread_only_when_changed(tmp_path):
    env = dict(os.environ, PYTHONPATH=ROOT)
    out = subprocess.run(
        [sys.executable, "-c", GUARD_SCRIPT, str(tmp_path / "mods.zip")],
        env=env, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.startswith("ok")


def test_python_workers_fork_from_pyworker(spark):
    @F.pandas_udf("string")
    def guard_module(ids: pd.Series) -> pd.Series:
        import zipimport

        return pd.Series([zipimport.zipimporter.invalidate_caches.__module__] * len(ids))

    rows = spark.range(0, 400, numPartitions=4).select(guard_module("id").alias("m")).collect()
    assert len(rows) == 400
    assert {r.m for r in rows} == {"go_log_forwarder_spark.pyworker"}


def test_daemon_starts_outside_the_repo(tmp_path):
    """In local mode the workers find the daemon module from any cwd, with no
    PYTHONPATH set by the caller."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from go_log_forwarder_spark.session import get_spark
        spark = get_spark(master="local[2]")
        print("rows", spark.range(0, 100, numPartitions=2).mapInArrow(lambda b: b, "id long").count())
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "rows 100" in out.stdout
