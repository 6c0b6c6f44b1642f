"""Independent reference computations the benchmark checks results against.

Nothing here calls the engine: the change-log reference is DuckDB over the
stored parquet log, and the dedup references are plain Python over the
generated corpus.
"""

from __future__ import annotations

import hashlib
import os

DELETE, UPDATE_BEFORE = 1, 3

_LWW_SQL = """
WITH ranked AS (
  SELECT repo, path, change_type, content,
         row_number() OVER (PARTITION BY repo, path
                            ORDER BY lsn DESC, seqval DESC) AS rn
  FROM read_parquet($files)
  WHERE change_type <> {ub}
)
SELECT repo, path, change_type = {dl} AS deleted,
       CASE WHEN change_type = {dl} THEN NULL ELSE sha256(content) END AS sha
FROM ranked WHERE rn = 1
""".format(ub=UPDATE_BEFORE, dl=DELETE)


def parquet_files(dirs: list[str]) -> list[str]:
    return sorted(
        os.path.join(d, f) for d in dirs for f in os.listdir(d) if f.endswith(".parquet")
    )


class LogState:
    """Last-write-wins state of a stored change log, computed by DuckDB:
    newest ``(lsn, seqval)`` per ``(repo, path)``, UPDATE_BEFORE ignored,
    keys whose newest event is a DELETE dropped."""

    def __init__(self, log_dirs: list[str]):
        import duckdb

        con = duckdb.connect()
        try:
            rows = con.execute(_LWW_SQL, {"files": parquet_files(log_dirs)}).fetchall()
        finally:
            con.close()
        self.live = {(r, p): sha for r, p, deleted, sha in rows if not deleted}
        self.deleted = sorted((r, p) for r, p, deleted, _ in rows if deleted)

    def digest(self) -> tuple[int, int]:
        return digest((r, p, sha) for (r, p), sha in self.live.items())


def digest(rows) -> tuple[int, int]:
    """Row count and an order-independent hash of ``(repo, path, sha)``."""
    n, h = 0, 0
    for r in rows:
        n += 1
        d = hashlib.blake2b("\x00".join(r).encode(), digest_size=8).digest()
        h = (h + int.from_bytes(d, "little")) % (1 << 64)
    return n, h


def commit_log_gaps(records, lo: int, hi: int) -> list[str]:
    """Problems with a commit log that must cover ``[lo, hi]`` exactly:
    epoch ids dense from 0 and applied once, LSN ranges contiguous."""
    problems = []
    ids = [r.epoch for r in records]
    if ids != list(range(len(ids))):
        problems.append(f"epoch ids not dense/unique: {ids[:5]}..{ids[-5:]}")
    if not records:
        return problems + ["no epochs committed"]
    if records[0].from_lsn != lo:
        problems.append(f"first epoch starts at {records[0].from_lsn}, log at {lo}")
    if records[-1].to_lsn != hi:
        problems.append(f"last epoch ends at {records[-1].to_lsn}, log at {hi}")
    for a, b in zip(records, records[1:]):
        if b.from_lsn != a.to_lsn + 1:
            problems.append(f"epochs {a.epoch}->{b.epoch}: {a.to_lsn} then {b.from_lsn}")
    return problems


# -- dedup -------------------------------------------------------------------

def planted_edges(n_docs: int) -> set[tuple[int, int]]:
    """The near-duplicate edges the corpus generator plants (see
    ``workloads.build_corpus``): ``(id-1, id)`` for every ``id % 10 == 9``
    outside a chain, and consecutive members of each 4-doc chain rooted at
    ``id % 100 == 96``."""
    edges = set()
    for i in range(n_docs):
        m = i % 100
        if m in (97, 98, 99):
            edges.add((i - 1, i))
        elif i % 10 == 9:
            edges.add((i - 1, i))
    return edges


def shingle_jaccard(a: str, b: str, n: int = 3) -> float:
    def sh(t: str) -> set[str]:
        toks = t.split()
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


def components(edges) -> dict[int, int]:
    """Union-find: doc id -> minimum doc id of its connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}
