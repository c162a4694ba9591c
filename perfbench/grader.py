"""Ground-truth grading and output fingerprints.

The grader shares no code with ``rlerrorgenerator_spark.linkage.metrics``:
it collects the (small) pair and cluster tables to the driver and scores
them in plain Python against the truth the generators planted, the
dirty table's ``orig_url`` for pages and ``voter_reg_num`` for persons.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
from collections import defaultdict

import pyspark
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rlerrorgenerator_spark.operators.driver import ROW_OPS


def fingerprint(df: DataFrame) -> tuple[int, int, int]:
    """Order-independent fingerprint of every column of ``df``: row count,
    sum and xor of per-row 64-bit hashes (the sum keeps duplicate rows
    from cancelling out)."""
    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("s"),
        F.bit_xor(h).alias("x"),
    ).collect()[0]
    return (row.n, row.s or 0, row.x or 0)


class FingerprintStore:
    """Fingerprints kept across runs in one JSON file, keyed by a hash of
    the program's and the benchmark's sources and the Spark and Python
    versions, so that runs of the same code and seed must agree and a
    change to any of them starts afresh."""

    def __init__(self, path: str, source_dirs: list[str], scope: str):
        self.path = path
        self.prefix = f"{_source_hash(source_dirs)}/{scope}"
        try:
            with open(path) as f:
                self.data = json.load(f)
        except (OSError, ValueError):
            self.data = {}

    def same(self, key: str, fp: tuple) -> bool:
        return self.data.setdefault(f"{self.prefix}/{key}", list(fp)) == \
            list(fp)

    def save(self) -> None:
        tmp = f"{self.path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(self.data, f, indent=0, sort_keys=True)
        os.replace(tmp, self.path)


def _source_hash(source_dirs: list[str]) -> str:
    h = hashlib.sha256(f"{pyspark.__version__} {sys.version}".encode())
    for top in source_dirs:
        for root, dirs, files in os.walk(top):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(root, name)
                    h.update(os.path.relpath(path, os.path.dirname(top))
                             .encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def pairs(df: DataFrame, *cols: str) -> list[tuple]:
    return [tuple(r) for r in df.select(*cols).collect()]


def f1(tp: int, fp: int, fn: int) -> float:
    return 2 * tp / (2 * tp + fp + fn) if tp else 0.0


def _groups(assign: dict[str, str]) -> set[frozenset]:
    by = defaultdict(set)
    for node, label in assign.items():
        by[label].add(node)
    return {frozenset(m) for m in by.values()}


def _truth_clusters(truth: dict[str, str]) -> set[frozenset]:
    """One cluster per clean record: itself plus every dirty row whose
    origin it is. Dirty rows edited in place keep their clean id, so they
    are the same node as their origin."""
    return _groups({**{o: o for o in truth.values()}, **truth})


def cluster_exact_frac(truth: dict[str, str],
                       predicted: dict[str, str]) -> float:
    """Share of ground-truth clusters that the prediction reproduces
    exactly. ``predicted`` maps id → cluster label over the same ids."""
    want = _truth_clusters(truth)
    got = _groups({k: v for k, v in predicted.items()
                   if k in truth or k in truth.values()})
    return sum(1 for c in want if c in got) / max(len(want), 1)


def grade_scored(truth: dict[str, str], candidates: list[tuple],
                 scored: list[tuple]) -> dict[str, float]:
    """``truth``: dirty rid → origin clean id. ``candidates``: (rid_a,
    rid_b). ``scored``: (rid_a, rid_b, prediction). F1 is over the scored
    candidates, the universe ``pairwise_metrics`` counts in; pairs the
    blocking never proposed show up in ``blocking_recall`` instead."""
    true_pairs = {(o, r) for r, o in truth.items()}
    cand = set(candidates)
    pred = {(a, b) for a, b, p in scored if p}
    tp = len(pred & true_pairs)
    fp = len(pred) - tp
    fn = len((cand & true_pairs) - pred)
    return {
        "pair_f1": f1(tp, fp, fn),
        "blocking_recall": len(cand & true_pairs) / max(len(true_pairs), 1),
        "useful_frac": len(cand & true_pairs) / max(len(cand), 1),
        "accept_frac": len(pred) / max(len(scored), 1),
    }


def components(nodes, edges) -> dict[str, str]:
    """Connected components by union-find; label = smallest member id."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def grade_person_pairs(clean_vrn: dict[str, str], dirty_vrn: dict[str, str],
                       labeled: list[tuple]) -> dict[str, float]:
    """``labeled``: (rid_a, rid_b, label) from ``generate_person_pairs``.
    Truth: a clean and a dirty record match iff they share
    ``voter_reg_num``."""
    by_vrn = defaultdict(list)
    for rid, vrn in clean_vrn.items():
        by_vrn[vrn].append(rid)
    true_pairs = {(a, b) for b, vrn in dirty_vrn.items() for a in by_vrn[vrn]}
    seen = {(a, b) for a, b, _ in labeled}
    pred = {(a, b) for a, b, lab in labeled if lab}
    tp = len(pred & true_pairs)
    truth = {b: a for a, b in true_pairs}
    got = components(set(clean_vrn) | set(dirty_vrn), pred)
    return {
        "pair_f1": f1(tp, len(pred) - tp, len(true_pairs) - tp),
        "blocking_recall": len(seen & true_pairs) / max(len(true_pairs), 1),
        "cluster_exact_frac": cluster_exact_frac(truth, got),
    }


def expected_lineage(config, n_rows: int) -> dict[int, tuple[str, int]]:
    """Stage number → (operator, k) for an exact-k program, with row
    operators after cell operators as ``mess_data`` orders them (its own
    ``ROW_OPS`` set decides which are which). ``k`` is ``ceil(amount × n)``
    for a fraction and ``amount`` for a count, split evenly over the
    operator's columns."""
    ordered = ([r for r in config if r.error not in ROW_OPS]
               + [r for r in config if r.error in ROW_OPS])
    out = {}
    for ts, row in enumerate(ordered, 1):
        k = (math.ceil(row.amount * n_rows) if row.amount < 1
             else int(row.amount))
        cols = max(len(row.col_names), 1)
        out[ts] = (row.error, (k // cols) * cols)
    return out
