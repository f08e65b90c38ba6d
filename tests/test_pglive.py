"""Lifecycle of the ephemeral PostgreSQL fixture (cdc/pglive.py):
``stopped_after`` stops a server the block started and leaves alone a
server that was already up. Runs on a private fixture dir, never the
shared one; skips where the server binaries or user are absent."""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile

import pytest

from deltalake_poc_spark.cdc import pglive

pytestmark = pytest.mark.skipif(
    not pglive.available(), reason="no local postgres server binaries")


@pytest.fixture
def pg_root():
    # the server runs as 'postgres', which must reach its data dir:
    # a postgres-owned parent under /tmp (pytest's tmp_path sits below
    # a root-only directory)
    parent = tempfile.mkdtemp(prefix="pglive_stop_")
    subprocess.run(["chown", "postgres", parent], check=True)
    root = os.path.join(parent, "pg")
    yield root
    pglive.stop(root)
    shutil.rmtree(parent, ignore_errors=True)


def test_stopped_after_stops_only_what_it_started(pg_root):
    assert not pglive.running(pg_root)
    with pglive.stopped_after(pg_root):
        pg = pglive.EphemeralPostgres(pg_root)
        assert pg.sql("SELECT 1").strip() == "1"
        assert pglive.running(pg_root)
    assert not pglive.running(pg_root)

    pglive.EphemeralPostgres(pg_root)  # restarts the existing data dir
    with pglive.stopped_after(pg_root):
        pglive.EphemeralPostgres(pg_root)
    assert pglive.running(pg_root)
    pglive.stop(pg_root)
    assert not pglive.running(pg_root)
    pglive.stop(pg_root)  # stopping a stopped server is a no-op
