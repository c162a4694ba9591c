"""Field-level error transforms: abbreviation, char swaps, missing, field swap.

Reference: `/root/reference/R/4_abbreviations.R` and `R/5_swaps.R`. Every
one of these is expressible with built-in Catalyst expressions — zero
Python on the executor hot path (whole-stage codegen end to end).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rlerrorgenerator_spark.operators.base import (
    KEY,
    LINEAGE_ARRAY_COL,
    append_lineage,
    apply_cell_edit,
    lineage_entry,
    register,
    select_rows,
    split_across_cols,
)

import re as _re


@register("first_letter_abbreviate")
def first_letter_abbreviate(df: DataFrame, lineage: DataFrame, n_errors: int,
                            col_names: list[str], *, seed: int, stage: str,
                            ts: int, exact: bool = True, rate: float | None = None,
                            rng: str = "xxhash"):
    """Truncate value to its first character (`R/4_abbreviations.R:1-27`)."""
    per_col = split_across_cols(n_errors, len(col_names))
    lineages = []
    for col in col_names:
        st = f"{stage}|abbr|{col}"
        eligible = F.col(col).isNotNull() & (F.length(col) > 1)
        sel = select_rows(df, eligible, per_col, seed, st, exact, rate, rng=rng)
        df, ln = apply_cell_edit(
            df, col, sel, F.substring(F.col(col), 1, 1),
            "first_letter_abbreviate", ts,
        )
        lineages.append(ln)
    return df, _union(lineages)


@register("ch1_to_ch2")
def ch1_to_ch2(df: DataFrame, lineage: DataFrame, n_errors: int,
               col_names: list[str], *, seed: int, stage: str, ts: int,
               ch1: str, ch2: str, all: bool = True,  # noqa: A002 (reference kwarg name)
               exact: bool = True, rate: float | None = None, rng: str = "xxhash"):
    """Replace literal ch1→ch2, all or first occurrence
    (`R/4_abbreviations.R:40-97`). Eligibility: ch1 appears flanked by
    alphanumerics (`str_detect(.., '[[:alnum:]]ch1[[:alnum:]]')`, `:56`)."""
    per_col = split_across_cols(n_errors, len(col_names))
    q1 = _re.escape(ch1)
    flanked = f"[a-z0-9A-Z]{q1}[a-z0-9A-Z]"
    lineages = []
    for col in col_names:
        st = f"{stage}|ch1ch2|{col}"
        eligible = F.col(col).isNotNull() & F.col(col).rlike(flanked)
        sel = select_rows(df, eligible, per_col, seed, st, exact, rate, rng=rng)
        if all:
            new = F.regexp_replace(F.col(col), q1, ch2)
        else:
            # first occurrence only: splice at locate() — regexp_replace
            # has no max-count arg in Spark SQL.
            pos = F.locate(ch1, F.col(col))
            new = F.concat(
                F.substring(F.col(col), 1, pos - 1),
                F.lit(ch2),
                F.col(col).substr(pos + len(ch1), F.length(col)),
            )
        df, ln = apply_cell_edit(df, col, sel, new, "ch1_to_ch2", ts)
        lineages.append(ln)
    return df, _union(lineages)


@register("blanks_to_hyphens")
def blanks_to_hyphens(df, lineage, n_errors, col_names, *, seed, stage, ts,
                      exact: bool = True, rate: float | None = None,
                      rng: str = "xxhash"):
    """`R/4_abbreviations.R:29-31` — delegates to ch1_to_ch2(' ', '-')."""
    return ch1_to_ch2(df, lineage, n_errors, col_names, seed=seed, stage=stage,
                      ts=ts, ch1=" ", ch2="-", all=True, exact=exact, rate=rate,
                      rng=rng)


@register("hyphens_to_blanks")
def hyphens_to_blanks(df, lineage, n_errors, col_names, *, seed, stage, ts,
                      exact: bool = True, rate: float | None = None,
                      rng: str = "xxhash"):
    """`R/4_abbreviations.R:33-35` — delegates to ch1_to_ch2('-', ' ')."""
    return ch1_to_ch2(df, lineage, n_errors, col_names, seed=seed, stage=stage,
                      ts=ts, ch1="-", ch2=" ", all=True, exact=exact, rate=rate,
                      rng=rng)


@register("make_missing")
def make_missing(df: DataFrame, lineage: DataFrame, n_errors: int,
                 col_names: list[str], *, seed: int, stage: str, ts: int,
                 exact: bool = True, rate: float | None = None,
                 rng: str = "xxhash"):
    """Null out the field on rows not already errored on that field.

    The reference reads its own lineage to exclude prior-errored ids
    (`R/4_abbreviations.R:112-117`) — here ``F.exists`` over the in-row
    accumulated lineage, so the stage stays one narrow projection; a
    direct call on a table without that column flags the prior ids from
    the explicit ``lineage`` table instead. Records ``after=""``
    (`:120-127`).
    """
    per_col = split_across_cols(n_errors, len(col_names))
    lineages = []
    for col in col_names:
        st = f"{stage}|missing|{col}"
        col_type = dict(df.dtypes)[col]
        if LINEAGE_ARRAY_COL in df.columns:
            prior = F.exists(LINEAGE_ARRAY_COL, lambda e: e["field"] == col)
        else:
            ids = lineage.where(F.col("field") == col).select(
                F.col("rid").alias(KEY), F.lit(True).alias("__prior")
            ).distinct()
            df = df.join(ids, KEY, "left")
            prior = F.col("__prior").isNotNull()
        eligible = F.col(col).isNotNull() & ~prior
        sel = select_rows(df, eligible, per_col, seed, st, exact, rate, rng=rng)
        # reference logs after="" rather than NA (`R/4_abbreviations.R:123`)
        df, ln = apply_cell_edit(
            df, col, sel, F.lit(None).cast(col_type), "make_missing",
            ts, lineage_after=F.lit(""),
        )
        if "__prior" in df.columns:
            df = df.drop("__prior")
        lineages.append(ln)
    return df, _union(lineages)


@register("swap_fields")
def swap_fields(df: DataFrame, lineage: DataFrame, n_errors: int,
                col_names: list[str], *, seed: int, stage: str, ts: int,
                exact: bool = True, rate: float | None = None,
                rng: str = "xxhash"):
    """Swap values of column pairs on sampled rows (`R/5_swaps.R:1-31`).

    ``col_names`` is even-length: (c1,c2)[, (c3,c4) ...]; each pair gets
    ``floor(n/p)`` swaps. Lineage gets one row per swapped field.
    """
    pairs = [(col_names[i], col_names[i + 1]) for i in range(0, len(col_names), 2)]
    per_pair = split_across_cols(n_errors, len(pairs))
    lineages = []
    for c1, c2 in pairs:
        st = f"{stage}|swap|{c1}|{c2}"
        eligible = (
            F.col(c1).isNotNull() & F.col(c2).isNotNull()
            & (F.col(c1).cast("string") != F.col(c2).cast("string"))
        )
        sel = select_rows(df, eligible, per_pair, seed, st, exact, rate, rng=rng)
        flagged = df.withColumn("__sel", sel)
        if LINEAGE_ARRAY_COL in df.columns:
            # accumulate mode: both swap entries appended in-projection
            flagged = flagged.withColumn(LINEAGE_ARRAY_COL, append_lineage(
                F.col("__sel"),
                lineage_entry(c1, "swap_fields", F.col(c1), F.col(c2), ts),
                lineage_entry(c2, "swap_fields", F.col(c2), F.col(c1), ts),
            ))
        else:
            swapped = flagged.where("__sel")
            for a, b in ((c1, c2), (c2, c1)):
                lineages.append(swapped.select(
                    F.col(KEY).alias("rid"),
                    lineage_entry(a, "swap_fields", F.col(a), F.col(b), ts).alias("e"),
                ).select("rid", "e.*"))
        df = (
            flagged.withColumn(
                "__n1", F.when(F.col("__sel"), F.col(c2)).otherwise(F.col(c1))
            )
            .withColumn(c2, F.when(F.col("__sel"), F.col(c1)).otherwise(F.col(c2)))
            .withColumn(c1, F.col("__n1"))
            .drop("__sel", "__n1")
        )
    return df, _union(lineages)


def _union(dfs):
    from rlerrorgenerator_spark.operators.base import union_lineage

    return union_lineage(dfs)
