"""Ephemeral local PostgreSQL for live WAL-CDC exercises.

Driver-side management of a throwaway PostgreSQL server (initdb +
unix socket under /tmp, ``wal_level=logical``) so the WAL-CDC path
(cdc/pgwal.py) can be exercised against a REAL database wherever the
postgres server binaries exist — the gate query ``wal_cdc_pipeline``
uses it, as do tests/test_live_postgres.py's fixtures. Where the
binaries (or the ``postgres`` system user — the server refuses to run
as root) are unavailable, callers fall back to synthesizing
test_decoding lines (same decoder, same downstream path).

The server is shared per-machine under a fixture dir and reused
across invocations/processes: first caller initdbs into a scratch dir
and atomically renames it into place; everyone pg_ctl-starts
idempotently (a concurrent/second start fails benignly when already
running). Callers isolate by table/slot name, never by server. A
process that should leave no server behind runs under
``stopped_after()``, which stops the server on exit unless it was
already up on entry (bench.py does).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import subprocess
import tempfile

PG_BIN = "/usr/lib/postgresql/15/bin"
FIXTURE = "/tmp/spark_graft_pg_v1"


def available() -> bool:
    """Server binaries + a non-root user to run them under."""
    if not os.path.exists(os.path.join(PG_BIN, "initdb")):
        return False
    try:
        r = subprocess.run(["su", "postgres", "-c", "true"], cwd="/tmp",
                           capture_output=True, timeout=10)
        return r.returncode == 0
    except Exception:
        return False


def _su(cmd: str, check: bool = True) -> subprocess.CompletedProcess:
    r = subprocess.run(["su", "postgres", "-c", cmd], cwd="/tmp",
                       capture_output=True, text=True, timeout=120)
    if check and r.returncode != 0:
        raise RuntimeError(f"{cmd}\n{r.stdout}\n{r.stderr}")
    return r


def running(root: str = FIXTURE) -> bool:
    """Whether a server is up on the fixture dir ``root``."""
    data = os.path.join(root, "data")
    return os.path.isdir(data) and _su(
        f"{PG_BIN}/pg_ctl -D {data} status", check=False).returncode == 0


def stop(root: str = FIXTURE) -> None:
    """Stop the server on ``root`` if one is up (fast shutdown: open
    sessions are disconnected)."""
    if running(root):
        _su(f"{PG_BIN}/pg_ctl -D {os.path.join(root, 'data')} -m fast stop")


@contextlib.contextmanager
def stopped_after(root: str = FIXTURE):
    """On exit, stop the server on ``root`` unless it was already up on
    entry: a run that starts the shared server leaves none behind, and
    a run that found it up leaves it up for whoever started it."""
    was_up = running(root)
    try:
        yield
    finally:
        if not was_up:
            stop(root)


class EphemeralPostgres:
    """Get-or-start the shared local server; run SQL through psql."""

    def __init__(self, root: str = FIXTURE):
        self.root = root
        self.data = os.path.join(root, "data")
        self.sock = os.path.join(root, "sock")
        self._ensure()

    def _ensure(self) -> None:
        if not os.path.isdir(self.data):
            build = tempfile.mkdtemp(prefix="pgfix_build_")
            os.makedirs(os.path.join(build, "data"))
            os.makedirs(os.path.join(build, "sock"))
            subprocess.run(["chown", "-R", "postgres", build], check=True)
            _su(f"{PG_BIN}/initdb -D {build}/data -A trust")
            try:
                os.rename(build, self.root)
            except OSError:
                shutil.rmtree(build, ignore_errors=True)  # lost the race
        if not running(self.root):
            # a concurrent start racing us fails benignly
            _su(f"{PG_BIN}/pg_ctl -D {self.data} "
                f"-o \"-k {self.sock} -c listen_addresses='' "
                f"-c wal_level=logical -c max_replication_slots=8 "
                f"-c max_wal_senders=8 -c timezone=UTC\" "
                f"-l {self.root}/log start", check=False)
            if not running(self.root):
                raise RuntimeError("postgres fixture failed to start")

    def sql(self, statement: str, db: str = "postgres",
            sep: str = "|") -> str:
        """Tuples-only unaligned psql; ``sep='\\x1f'`` switches the
        field separator to the unit separator for data that may
        contain pipes."""
        fd, path = tempfile.mkstemp(suffix=".sql", dir="/tmp")
        try:
            with os.fdopen(fd, "w") as fh:
                fh.write(statement)
            os.chmod(path, 0o644)
            flag = " -F $'\\x1f'" if sep == "\x1f" else ""
            return _su(f"psql -h {self.sock} -d {db} "
                       f"-v ON_ERROR_STOP=1 -qAt{flag} -f {path}").stdout
        finally:
            os.unlink(path)
