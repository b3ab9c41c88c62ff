"""Output checks and triple sets, computed with pyarrow outside Spark.

A graph is read back from its parquet directories, so every check sees what
a downstream reader would see. Triples are identity tuples: a node is
``(repo, label, key)`` and an edge is ``(repo, src_key, rel_type,
dst_key)``.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow.dataset as ds

SYMBOL = "src__Symbol"
DECLARES = "src__DECLARES"
INVOKES = "src__INVOKES"
DEPENDS_ON = "src__DEPENDS_ON"


def read_table(path: str, columns: list[str]):
    """Rows of a parquet directory (hive-partitioned or not) as a dict of
    python lists; an absent directory reads as no rows."""
    if not os.path.isdir(path):
        return {c: [] for c in columns}
    t = ds.dataset(path, format="parquet", partitioning="hive",
                   exclude_invalid_files=True).to_table(columns=columns)
    return t.to_pydict()


def node_triples(cols: dict) -> set[tuple]:
    return set(zip(cols["repo"], cols["label"], cols["key"]))


def edge_triples(cols: dict) -> set[tuple]:
    return set(zip(cols["repo"], cols["src_key"], cols["rel_type"],
                   cols["dst_key"]))


def digest(triples) -> str:
    h = hashlib.sha256()
    for t in sorted(triples):
        h.update("\x1f".join(t).encode())
        h.update(b"\n")
    return h.hexdigest()


def dangling(nodes: set[tuple], edges: set[tuple]) -> list[tuple]:
    """DECLARES, INVOKES and DEPENDS_ON edges with an endpoint missing from
    the graph: a DECLARES target and both INVOKES ends must be symbols; a
    DEPENDS_ON end may be any node (type dependencies join symbols,
    package dependencies join a project to a Dependency node)."""
    symbols = {(r, k) for r, lab, k in nodes if lab == SYMBOL}
    keys = {(r, k) for r, _lab, k in nodes}
    bad = []
    for e in edges:
        repo, src, rel, dst = e
        if rel == DECLARES:
            ok = (repo, src) in keys and (repo, dst) in symbols
        elif rel == INVOKES:
            ok = (repo, src) in symbols and (repo, dst) in symbols
        elif rel == DEPENDS_ON:
            ok = (repo, src) in keys and (repo, dst) in keys
        else:
            continue
        if not ok:
            bad.append(e)
    return bad


def undeclared(nodes: set[tuple], edges: set[tuple]) -> list[tuple]:
    """Symbols no DECLARES edge points at. Every symbol row is declared by
    its file, so a missing DECLARES edge shows here."""
    declared = {(r, d) for r, _s, rel, d in edges if rel == DECLARES}
    return [n for n in nodes if n[1] == SYMBOL and (n[0], n[2]) not in declared]


def sha_mismatches(files: dict, expected: dict[tuple, str]) -> int:
    """Files-table rows whose sha256 differs from the content's sha256, plus
    source files the table lacks."""
    got = dict(zip(zip(files["repo"], files["path"]), files["sha256"]))
    return sum(got.get(k) != v for k, v in expected.items())


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under a directory, excluding checksum files."""
    n_bytes = n_files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".crc"):
                continue
            n_bytes += os.path.getsize(os.path.join(root, name))
            n_files += name.endswith(".parquet")
    return n_bytes, n_files


def recall_precision(got: set, ref: set) -> tuple[float, float]:
    hit = len(got & ref)
    return (hit / len(ref) if ref else 1.0, hit / len(got) if got else 1.0)
