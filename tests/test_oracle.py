"""Driver-contract conformance: every queries() entry runs; every
oracle_sql() entry matches DuckDB row-for-row (order-insensitive), the
same comparison the driver performs at sf0.01."""

from __future__ import annotations

import math
import os
from collections import Counter

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")

TABLES = ["documents", "customer"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    return str(v)


def _norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in idx) for r in rows)


ORACLE_KEYS = sorted(entry_mod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_oracle_match(spark, duck, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(entry_mod.oracle_sql()[name])
    d_cols = [d[0] for d in rel.description]
    d_rows = rel.fetchall()
    assert sorted(s_cols) == sorted(d_cols), f"{name}: columns {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), f"{name}: rowcount {len(s_rows)} vs {len(d_rows)}"
    sn, dn = _norm_rows(s_cols, s_rows), _norm_rows(d_cols, d_rows)
    mismatches = [(a, b) for a, b in zip(sn, dn) if a != b][:5]
    assert sn == dn, f"{name}: first mismatches {mismatches}"
    if name == "er_incremental_clusters":
        # the only cross-engine check of connected components: it must
        # keep transitive (4+ member) components, not just 2-member stars
        sizes = Counter(r[s_cols.index("cluster_id")] for r in s_rows)
        assert max(sizes.values()) >= 4, f"{name}: component sizes {Counter(sizes.values())}"


NON_ORACLE = [k for k in entry_mod.queries() if k not in entry_mod.oracle_sql()]


@pytest.mark.parametrize("name", sorted(NON_ORACLE))
def test_rows_only_queries_run(spark, name):
    sdf = entry_mod.queries()[name](spark, SF_DIR)
    assert sdf.count() >= 0
    assert sdf.columns


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
