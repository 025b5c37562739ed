"""DuckDB in a child process.

The benchmark builds its record file, its warehouse table and its
reference answers with DuckDB, and checks every run's output with it.
Running DuckDB in a child process keeps that memory out of the driver
process, whose peak resident set is part of the measured memory; the
child's pid is left out of that measurement.

The child is a plain ``subprocess`` running this file, talking pickles
over its stdin and stdout, so no helper process (such as multiprocessing's
resource tracker) outlives the benchmark.
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys


def _serve() -> None:
    """Child side: read SQL strings from stdin until ``None``, answer each
    with ``(error, rows)`` on the original stdout.  Anything else written to
    fd 1 goes to stderr, so it cannot corrupt the replies."""
    import duckdb

    rd = os.fdopen(0, "rb")
    wr = os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)
    db = duckdb.connect()
    while True:
        try:
            sql = pickle.load(rd)
        except EOFError:
            return
        if sql is None:
            return
        try:
            reply = (None, db.execute(sql).fetchall())
        except Exception as e:  # handed back to the caller, which raises
            reply = (f"{type(e).__name__}: {e}", None)
        pickle.dump(reply, wr)
        wr.flush()


class Duck:
    """One DuckDB connection in a child process; ``rows(sql)`` runs a
    statement there and returns its rows as tuples."""

    def __init__(self) -> None:
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
        )
        self.pid = self._proc.pid

    def rows(self, sql: str) -> list[tuple]:
        pickle.dump(sql, self._proc.stdin)
        self._proc.stdin.flush()
        err, rows = pickle.load(self._proc.stdout)
        if err is not None:
            raise RuntimeError(f"duckdb: {err}")
        return rows

    def one(self, sql: str) -> tuple:
        return self.rows(sql)[0]

    def close(self) -> None:
        """Ask the child to stop, kill it if it does not, and wait for it."""
        try:
            pickle.dump(None, self._proc.stdin)
            self._proc.stdin.close()
        except (BrokenPipeError, ValueError):
            pass
        try:
            self._proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait()
        self._proc.stdout.close()


if __name__ == "__main__":
    _serve()
