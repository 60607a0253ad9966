"""Output checks: DuckDB oracle rows, normalised result digests, and a
counting xmlpipe2 sink.

Rows are normalised the way ``tests/oracle_harness.py`` does it (column
order by name, typed cell text, rows sorted), so a Spark result and its
DuckDB ``ORACLE`` twin compare row for row.  A docset is summarised as
(document count, order-insensitive digest); the envelope is checked
against the reference framing, written out here rather than imported, so
a change to the engine's constants cannot pass by itself.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
import re
import time
from datetime import date, datetime

import duckdb

PROLOG = '<?xml version="1.0" encoding="utf-8"?>'
DOCSET_OPEN = "<sphinx:docset>"
DOCSET_CLOSE = "\n</sphinx:docset>"
DOC_START = '\n<sphinx:document id="'
_BANDS_RE = re.compile(r"read_parquet\('[^']*minhash_bands\.parquet'\)")


def _cell(v) -> str:
    if v is None:
        return "\0NULL"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, (datetime, date)):
        return f"t:{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "l:[" + ",".join(_cell(x) for x in v) + "]"
    return f"{type(v).__name__[:1]}:{v}"


def norm_rows(cols: list[str], rows) -> list[str]:
    cols = [c.lower() for c in cols]
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_cell(r[i]) for i in idx) for r in rows)


def rows_digest(cols: list[str], rows) -> str:
    return hashlib.sha256("\n".join(norm_rows(cols, rows)).encode()).hexdigest()


class Oracle:
    """DuckDB over the generated parquet: one view per table."""

    def __init__(self, data_dir: str, tables: list[str], bands_path: str | None = None):
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{os.path.join(data_dir, 'duckdb-tmp')}'")
        self.bands_path = bands_path
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        if self.bands_path:
            sql = _BANDS_RE.sub(f"read_parquet('{self.bands_path}')", sql)
        rel = self.con.sql(sql)
        return list(rel.columns), rel.fetchall()

    def close(self) -> None:
        self.con.close()


def docs_digest(xmls) -> tuple[int, int]:
    """(count, sum of per-document hashes mod 2**64) — order-insensitive;
    valid within one process (``hash`` of str is salted per process)."""
    n, acc = 0, 0
    for x in xmls:
        n += 1
        acc = (acc + hash(x)) & 0xFFFFFFFFFFFFFFFF
    return n, acc


class DocsetSink:
    """Text sink for ``write_docset_stream`` that keeps no documents: it
    counts and digests them, records when the first one arrived and how
    long its own writes took, and checks the docset envelope."""

    def __init__(self) -> None:
        self.n = 0
        self.acc = 0
        self.bytes = 0
        self.envelope: list[tuple[int, str]] = []
        self.first_doc_at: float | None = None
        self.write_s = 0.0

    def write(self, s: str) -> None:
        t0 = time.perf_counter()
        if s.startswith(DOC_START):
            if self.first_doc_at is None:
                self.first_doc_at = t0
            self.n += 1
            self.acc = (self.acc + hash(s)) & 0xFFFFFFFFFFFFFFFF
        else:
            self.envelope.append((self.n, s))
        self.bytes += len(s)
        self.write_s += time.perf_counter() - t0

    def flush(self) -> None:
        pass

    def problems(self, expect: tuple[int, int]) -> list[str]:
        out = []
        want = [(0, PROLOG), (0, DOCSET_OPEN), (self.n, DOCSET_CLOSE)]
        if self.envelope != want:
            out.append(f"envelope {self.envelope[:4]!r} != {want!r}")
        if (self.n, self.acc) != expect:
            out.append(f"docs (count, digest) {(self.n, self.acc)} != oracle {expect}")
        return out


def scale_output(out_dir: str) -> tuple[list[str], tuple[int, int], int]:
    """Check a ``write_docset_scale`` directory: the envelope parts and the
    document lines.  Returns (problems, (count, digest), bytes)."""
    problems = []
    with open(os.path.join(out_dir, "_PROLOG"), encoding="utf-8") as fh:
        if fh.read() != PROLOG + DOCSET_OPEN + "\n":
            problems.append("_PROLOG differs from the reference prolog")
    with open(os.path.join(out_dir, "_CLOSE"), encoding="utf-8") as fh:
        if fh.read() != DOCSET_CLOSE.lstrip("\n"):
            problems.append("_CLOSE differs from the reference close tag")
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*")))
    if not parts:
        problems.append("no part files")
    size = 0

    def lines():
        nonlocal size
        for p in parts:
            size += os.path.getsize(p)
            with open(p, encoding="utf-8") as fh:
                for line in fh:
                    yield "\n" + line[:-1]

    return problems, docs_digest(lines()), size
