"""A scratch PostgreSQL server for the benchmark's ``wrds_update``
calls: initdb + pg_ctl run as the ``postgres`` OS user through
``runuser``, unix socket only, ``fsync=off`` (the flush policy: no
durability, as a throwaway cluster needs none; the sink's COPY and
DDL still commit normally).

The client side is the product's own ``psql_runners`` with psql run as
the calling user, so ``\\copy`` reads the sink's CSV parts with the
caller's permissions.  Any failure raises; nothing here is skipped.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile
import time


class PgError(RuntimeError):
    pass


def _as_postgres(argv, cwd):
    return subprocess.run(["runuser", "-u", "postgres", "--"] + list(argv),
                          capture_output=True, text=True, cwd=cwd,
                          timeout=120)


def _postgres_can_reach(path: str) -> bool:
    r = subprocess.run(["runuser", "-u", "postgres", "--", "test", "-x", path],
                       capture_output=True, timeout=30)
    return r.returncode == 0


class ScratchPostgres:
    """Context manager: start on enter, stop and delete on exit (also
    when the body raised)."""

    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        self.base: str | None = None
        self.start_s = 0.0

    def __enter__(self) -> "ScratchPostgres":
        for exe in ("initdb", "pg_ctl", "psql", "runuser"):
            if shutil.which(exe) is None:
                raise PgError(f"{exe} not found on PATH")
        t0 = time.perf_counter()
        # The server runs as `postgres`, which must be able to walk to
        # its data directory; a run directory under a private home is
        # out of its reach, so fall back to a private directory in /tmp.
        # (unix socket paths are limited to ~100 bytes, too)
        parent = self.run_dir
        if len(parent) > 80 or not _postgres_can_reach(parent):
            parent = "/tmp"
        self.base = tempfile.mkdtemp(prefix="pg-", dir=parent)
        os.chmod(self.base, 0o700)
        shutil.chown(self.base, user="postgres")
        try:
            self._check(_as_postgres(
                ["initdb", "-D", f"{self.base}/data", "-E", "UTF8",
                 "--no-sync", "-A", "trust", "-U", "postgres"],
                self.base), "initdb")
            self._check(_as_postgres(
                ["pg_ctl", "-D", f"{self.base}/data", "-w", "-o",
                 f"-c listen_addresses='' -k {self.base} -c fsync=off "
                 "-c synchronous_commit=off -c full_page_writes=off",
                 "-l", f"{self.base}/server.log", "start"],
                self.base), "pg_ctl start")
        except BaseException:
            self.__exit__(None, None, None)
            raise
        self.start_s = time.perf_counter() - t0
        return self

    @staticmethod
    def _check(r, what):
        if r.returncode != 0:
            raise PgError(f"{what} failed: {(r.stderr or r.stdout)[-400:]}")

    @property
    def psql_argv(self) -> list[str]:
        return ["psql", "-h", self.base, "-U", "postgres", "-d", "postgres"]

    @property
    def server_pid(self) -> int:
        with open(f"{self.base}/data/postmaster.pid") as f:
            return int(f.readline())

    def __exit__(self, *exc) -> None:
        if self.base is None:
            return
        if os.path.exists(f"{self.base}/data/postmaster.pid"):
            _as_postgres(["pg_ctl", "-D", f"{self.base}/data", "-w",
                          "-m", "immediate", "stop"], self.base)
        shutil.rmtree(self.base, ignore_errors=True)
        self.base = None
