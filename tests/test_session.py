"""Session-factory semantics: the correctness-critical runtime confs must
hold on EVERY session object, not just the first one in an application.

ADVICE round 4 (medium): the confs in ``REQUIRED_RUNTIME_CONFS`` are
session-scoped SQL confs, so memoizing their application by applicationId
silently skips a second ``spark.newSession()`` — whose nanos-layout events
scan would fail with PARQUET_TYPE_ILLEGAL and whose timestamps would shift
vs the UTC oracle.
"""

from __future__ import annotations

from dask_hivemetastore_spark.session import (
    REQUIRED_RUNTIME_CONFS,
    ensure_runtime_confs,
)


def test_new_session_gets_runtime_confs(spark):
    """A sibling session starts with cloned confs, but must ALSO be
    re-applied if it drifts: ensure_runtime_confs may not be memoized at
    application scope."""
    sibling = spark.newSession()
    # Simulate the driver handing us a session whose conf drifted (or was
    # never configured by get_spark): break one required conf.
    sibling.conf.set("spark.sql.session.timeZone", "America/New_York")
    ensure_runtime_confs(sibling)
    for k, v in REQUIRED_RUNTIME_CONFS.items():
        assert sibling.conf.get(k) == v, k
    # The original session is untouched (session-scoped confs are isolated).
    for k, v in REQUIRED_RUNTIME_CONFS.items():
        assert spark.conf.get(k) == v, k


def test_runtime_confs_memoized_per_session(spark):
    """Second call on the SAME object is a no-op (memo hit) but a DIFFERENT
    session object is never skipped just because one with the same
    applicationId was configured first."""
    s2 = spark.newSession()
    s2.conf.set("spark.sql.session.timeZone", "America/New_York")
    # spark was configured at fixture creation; s2 shares its applicationId
    # but must still be fixed up.
    ensure_runtime_confs(s2)
    assert s2.conf.get("spark.sql.session.timeZone") == "UTC"


def test_pyfiles_zip_removed_at_exit(tmp_path):
    """The package zip shipped to executors lives until interpreter exit
    and no longer: a process that shipped it leaves no zip behind."""
    import os
    import subprocess
    import sys
    import textwrap

    from .conftest import REPO_ROOT

    child = textwrap.dedent(f"""
        import os, sys
        sys.path.insert(0, {REPO_ROOT!r})
        from dask_hivemetastore_spark.session import ensure_package_on_executors

        class Context:
            applicationId = "app-zip-test"
            def addPyFile(self, path):
                self.added = path

        class Session:
            sparkContext = Context()

        s = Session()
        ensure_package_on_executors(s)
        print(s.sparkContext.added, os.path.exists(s.sparkContext.added))
    """)
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    out = subprocess.run([sys.executable, "-c", child], env=env,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    path, existed = out.stdout.split()
    assert os.path.dirname(path) == str(tmp_path)
    assert existed == "True"
    assert not os.path.exists(path)
    assert os.listdir(tmp_path) == []
