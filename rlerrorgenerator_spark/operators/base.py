"""Shared machinery for error-injection transforms.

Reference semantics being reproduced (SURVEY.md §2.A "common driver
semantics", `/root/reference/R/1_error.R:48-109`):

- resolve ``n_errors`` from a fraction or absolute count;
- sample candidate rows *without replacement* among eligible rows;
- mutate the cell;
- append lineage rows ``(rid, field, error, before, after, ts)``
  (`/root/reference/R/1_error.R:30-36` ``update_error_record``).

Scale design: candidate selection is a row predicate — a seeded top-k
cut (one ``orderBy(xxhash64).limit(k)`` collect → TakeOrderedAndProject,
no global shuffle) or hash-Bernoulli for the 10^12-row path; the mutation
is either a built-in column expression or one Arrow-batched pandas UDF,
applied in one narrow projection that also appends the lineage entry.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rlerrorgenerator_spark.rng import rank_col, seeded_bernoulli

KEY = "rid"

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("rid", T.StringType(), False),
        T.StructField("field", T.StringType(), False),
        T.StructField("error", T.StringType(), False),
        T.StructField("before", T.StringType(), True),
        T.StructField("after", T.StringType(), True),
        T.StructField("ts", T.LongType(), False),
    ]
)

# Accumulated-lineage column (both selection paths): instead of one lazy
# lineage DataFrame branch per stage — each re-running every pandas-UDF
# stage since the last checkpoint when finally materialized (quadratic
# re-execution; the round-1 inject-stage scaling killer) — the dirty
# table carries its own lineage as an array<struct> column appended in
# the SAME projection as the edit. One pass computes dirty AND lineage,
# every staged table holds the lineage so far, and the driver explodes
# the column once, from the last staged table.
LINEAGE_ARRAY_COL = "__lineage"
LINEAGE_ENTRY_TYPE = (
    "array<struct<field:string,error:string,before:string,after:string,ts:bigint>>"
)


def lineage_entry(col: str, error: str, before: Column, after: Column, ts: int) -> Column:
    return F.struct(
        F.lit(col).alias("field"),
        F.lit(error).alias("error"),
        before.cast("string").alias("before"),
        after.cast("string").alias("after"),
        F.lit(ts).cast("long").alias("ts"),
    )


def union_lineage(dfs: list) -> DataFrame | None:
    """Union explicit lineage branches, ignoring accumulate-mode Nones."""
    real = [d for d in dfs if d is not None]
    if not real:
        return None
    out = real[0]
    for d in real[1:]:
        out = out.unionByName(d)
    return out

# name -> transform fn; mirrors the reference's by-name dynamic dispatch
# from the error-table config (`/root/reference/R/1_error.R:95-100`).
REGISTRY: dict[str, Callable] = {}


def register(name: str):
    def deco(fn):
        REGISTRY[name] = fn
        fn.__transform_name__ = name
        return fn
    return deco


def empty_lineage(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], LINEAGE_SCHEMA)


def resolve_n_errors(amount: float, n_rows: int) -> int:
    """`ceiling(amount*n)` if amount<1 else int(amount)
    (`/root/reference/R/1_error.R:78-80`)."""
    return math.ceil(amount * n_rows) if amount < 1 else int(amount)


def split_across_cols(n_errors: int, n_cols: int) -> int:
    """`floor(n_errors / p)` per column
    (`/root/reference/R/2_edit_distance_errors.R:6-8`)."""
    return max(n_errors // n_cols, 0) if n_cols else 0


def choose_ids(
    df: DataFrame,
    eligible: Column,
    k: int,
    seed: int,
    stage: str,
    exact: bool = True,
    rate: float | None = None,
    rng: str = "xxhash",
) -> DataFrame:
    """Seeded sample of ``k`` eligible row keys, without replacement.

    exact=True  → distributed top-k on a deterministic hash rank
                  (test-scale & "exactly k" semantics of the reference).
    exact=False → hash-threshold Bernoulli(rate): no ranking, the
                  10^12-row path (binomially equivalent; SURVEY.md §4).
    ``rng='md5'`` (Bernoulli only) makes the selection reproducible in a
    DuckDB oracle (rng.py md5 mode).
    """
    cand = df.where(eligible).select(KEY)
    if exact:
        return cand.orderBy(rank_col(KEY, seed, stage)).limit(int(k))
    assert rate is not None
    return cand.where(seeded_bernoulli(KEY, seed, stage, rate, rng))


def topk_predicate(cand: DataFrame, key: str, k: int, seed: int,
                   stage: str) -> Column:
    """Exact-k seeded selection as a row predicate.

    ``cand`` holds the eligible rows, unique in ``key``. One small driver
    collect (TakeOrderedAndProject, one job) fetches the ``k`` smallest
    ``(rank_col(key, seed, stage), key)``; the predicate holds exactly on
    rows at or below the k-th of them. Ranks are 64-bit hashes and
    ``key`` breaks their ties, so the order is total and the selection
    independent of partitioning. ``k <= 0`` selects nothing without a
    job; ``k`` at or above the candidate count selects every candidate.
    """
    k = int(k)
    if k <= 0:
        return F.lit(False)
    rank = rank_col(key, seed, stage)
    top = (cand.select(rank.alias("__rank"), F.col(key).alias("__key"))
           .orderBy("__rank", "__key").limit(k).collect())
    if len(top) < k:
        return F.lit(True)
    rank_k, key_k = top[-1]
    return (rank < F.lit(rank_k)) | (
        (rank == F.lit(rank_k)) & (F.col(key) <= F.lit(key_k)))


def select_rows(
    df: DataFrame,
    eligible: Column,
    k: int,
    seed: int,
    stage: str,
    exact: bool = True,
    rate: float | None = None,
    rng: str = "xxhash",
) -> Column:
    """Row selection for a transform, as a boolean COLUMN predicate.

    exact=True  → ``eligible`` ∧ the seeded top-k of ``topk_predicate``
                  (one driver collect per call).
    exact=False → ``eligible`` ∧ hash-Bernoulli(rate): no job at all, the
                  10^12-row path (same set as ``choose_ids(exact=False)``).

    Either way ``apply_cell_edit`` runs the stage as one narrow
    projection: no joins, and consecutive transforms fuse into a single
    codegen stage.
    """
    if exact:
        return eligible & topk_predicate(df.where(eligible), KEY, k, seed, stage)
    assert rate is not None
    return eligible & seeded_bernoulli(KEY, seed, stage, rate, rng)


def append_lineage(selected: Column, *entries: Column) -> Column:
    """The accumulated-lineage column with ``entries`` appended on
    selected rows."""
    arr = F.col(LINEAGE_ARRAY_COL)
    return F.when(selected, F.concat(arr, F.array(*entries))).otherwise(arr)


def apply_cell_edit(
    df: DataFrame,
    col: str,
    selected: Column,
    new_value: Column,
    error: str,
    ts: int,
    lineage_after: Column | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """Overwrite ``col`` with ``new_value`` where ``selected`` holds; emit
    lineage.

    The edit is one narrow projection — ``__sel`` flag, ``__after``
    value, conditional overwrite — on both the exact-k and the Bernoulli
    path (``select_rows`` returns a predicate for each). ``new_value``
    may reference ``__sel``: pandas UDFs use it to skip unselected rows
    cheaply, since Spark evaluates UDFs under ``when`` unconditionally.

    Lineage: when ``df`` carries the accumulated-lineage array column
    (``mess_data`` adds it; see ``LINEAGE_ARRAY_COL``), the entry is
    appended in the SAME projection and the returned lineage DataFrame is
    ``None``. Direct calls on a table without the column get an explicit
    lineage DataFrame instead. ``lineage_after`` overrides the recorded
    ``after`` value (e.g. ``make_missing`` records ``""`` per the
    reference convention).
    """
    tmp = df.withColumn("__sel", selected).withColumn("__after", new_value)
    after_rec = lineage_after if lineage_after is not None else F.col("__after")
    entry = lineage_entry(col, error, F.col(col), after_rec, ts)
    lineage_new = None
    if LINEAGE_ARRAY_COL in df.columns:
        tmp = tmp.withColumn(LINEAGE_ARRAY_COL, append_lineage(F.col("__sel"), entry))
    else:
        lineage_new = tmp.where(F.col("__sel")).select(
            F.col(KEY).alias("rid"), entry.alias("e")
        ).select("rid", "e.*")
    out = tmp.withColumn(
        col, F.when(F.col("__sel"), F.col("__after")).otherwise(F.col(col))
    ).drop("__sel", "__after")
    return out, lineage_new
