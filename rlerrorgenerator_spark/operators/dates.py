"""Date / timestamp error transforms.

Reference: `/root/reference/R/7_dob_errors.R` — day↔month swap, digit
transposition of day / 2-digit year, digit replacement of day/month/year,
dob synthesis from age. Every one is a pure Catalyst expression here
(make_date / year / month / dayofmonth / last_day + seeded xxhash64
arithmetic) — no Python, whole-stage codegen.

The reference's ``date_transpose(token='month')`` branch is a latent bug
(calls purrr ``transpose`` on integers, `:139-151`) and is unused by its
shipped configs — we implement day/year only, matching behavior
(SURVEY.md §2.A #22).

For the pages table the date ops apply to the *date part* of ``warc_ts``
(timestamp), preserving the time-of-day — controlled by the column's type.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rlerrorgenerator_spark.operators.base import (
    KEY,
    apply_cell_edit,
    register,
    select_rows,
    split_across_cols,
)
from rlerrorgenerator_spark.rng import MD5_RNG, draw_token, md5_mod


def _date_part(col: str, is_ts: bool) -> Column:
    return F.to_date(col) if is_ts else F.col(col)


def _rebuild(col: str, is_ts: bool, new_date: Column) -> Column:
    """Reattach time-of-day when the target column is a timestamp."""
    if not is_ts:
        return new_date
    secs = F.unix_timestamp(col) - F.unix_timestamp(F.to_date(col).cast("timestamp"))
    return F.timestamp_seconds(F.unix_timestamp(new_date.cast("timestamp")) + secs)


def _is_ts(df: DataFrame, col: str) -> bool:
    return dict(df.dtypes)[col].startswith("timestamp")


def _seeded_int(stage: str, mod: int) -> Column:
    return F.pmod(F.xxhash64(F.lit(stage), F.col(KEY)), F.lit(mod)).cast("int")


@register("date_swap")
def date_swap(df: DataFrame, lineage: DataFrame, n_errors: int,
              col_names: list[str], *, seed: int, stage: str, ts: int,
              exact: bool = True, rate: float | None = None,
              rng: str = "xxhash"):
    """Swap day↔month where ``day < 13 && month != day``
    (`R/7_dob_errors.R:28-82`)."""
    per_col = split_across_cols(n_errors, len(col_names))
    lineages = []
    for col in col_names:
        st = f"{stage}|date_swap|{col}"
        is_ts = _is_ts(df, col)
        d = _date_part(col, is_ts)
        eligible = (
            F.col(col).isNotNull()
            & (F.dayofmonth(d) < 13)
            & (F.month(d) != F.dayofmonth(d))
        )
        sel = select_rows(df, eligible, per_col, seed, st, exact, rate, rng=rng)
        # SELF-GUARDED make_date: the edit value is a projection that
        # Spark may evaluate on every row, not only the selected ones
        # (expressions are assumed pure), so under ANSI mode the swapped
        # date must be total over ALL rows — the lazy CASE WHEN keeps
        # make_date off the ineligible branch.
        swapped = F.when(eligible, F.make_date(F.year(d), F.dayofmonth(d), F.month(d))) \
                   .otherwise(d)
        new = _rebuild(col, is_ts, swapped)
        df, ln = apply_cell_edit(df, col, sel, new, "date_swap", ts)
        lineages.append(ln)
    return df, _union(lineages)


@register("date_transpose")
def date_transpose(df: DataFrame, lineage: DataFrame, n_errors: int,
                   col_names: list[str], *, seed: int, stage: str, ts: int,
                   token: str = "day", exact: bool = True,
                   rate: float | None = None, rng: str = "xxhash"):
    """Transpose the two digits of the zero-padded day, or the last two
    digits of the year (`R/7_dob_errors.R:85-193`).

    Eligibility falls out of validity: digits must differ and the
    transposed date must exist (reproduces the reference's hand-listed
    day set {1,2,3,10,12,13,20,21,30,31} ∩ month-validity, `:163-171`).
    """
    if token not in ("day", "year"):
        raise ValueError(f"date_transpose: unsupported token {token!r} "
                         "(month branch is a reference defect, SURVEY §2.A#22)")
    per_col = split_across_cols(n_errors, len(col_names))
    lineages = []
    for col in col_names:
        st = f"{stage}|date_tpose_{token}|{col}"
        is_ts = _is_ts(df, col)
        d = _date_part(col, is_ts)
        if token == "day":
            day = F.dayofmonth(d)
            newday = (day % 10) * 10 + (day / 10).cast("int")
            eligible = (
                F.col(col).isNotNull()
                & (newday != day) & (newday >= 1)
                & (newday <= F.dayofmonth(F.last_day(d)))
            )
            # guarded: projection may be evaluated on ineligible rows
            # — see date_swap note
            new_date = F.when(eligible, F.make_date(F.year(d), F.month(d), newday)) \
                        .otherwise(d)
        else:
            y = F.year(d)
            d1 = y % 10
            d2 = (y / 10).cast("int") % 10
            newy = y - d2 * 10 - d1 + d1 * 10 + d2
            # transposed year must keep the date valid (Feb 29 → leap year)
            eligible = (
                F.col(col).isNotNull() & (d1 != d2)
                & (
                    (F.month(d) != 2) | (F.dayofmonth(d) != 29)
                    | ((newy % 4 == 0) & ((newy % 100 != 0) | (newy % 400 == 0)))
                )
            )
            # guarded like the day branch (see date_swap note)
            new_date = F.when(
                eligible, F.make_date(newy, F.month(d), F.dayofmonth(d))
            ).otherwise(d)
        sel = select_rows(df, eligible, per_col, seed, st, exact, rate, rng=rng)
        new = _rebuild(col, is_ts, new_date)
        df, ln = apply_cell_edit(df, col, sel, new, f"date_transpose_{token}", ts)
        lineages.append(ln)
    return df, _union(lineages)


@register("date_replace")
def date_replace(df: DataFrame, lineage: DataFrame, n_errors: int,
                 col_names: list[str], *, seed: int, stage: str, ts: int,
                 token: str = "day", exact: bool = True,
                 rate: float | None = None, rng: str = "xxhash"):
    """Replace a date component (`R/7_dob_errors.R:197-256`):

    - year: replace one of the last two year digits with a different digit;
    - month: uniform different valid month for the row's day;
    - day: replace a day digit, clamped into the month's valid range.

    Seeded digit choice is ``(old + 1 + u%9) % 10`` — uniform over digits
    ≠ old, no rejection loop needed.
    """
    if token not in ("day", "month", "year"):
        raise ValueError(f"date_replace: bad token {token!r}")
    per_col = split_across_cols(n_errors, len(col_names))
    lineages = []
    for col in col_names:
        st = f"{stage}|date_repl_{token}|{col}"
        is_ts = _is_ts(df, col)
        d = _date_part(col, is_ts)
        if rng == MD5_RNG:
            u = md5_mod(draw_token(seed, st, "digit"), KEY, 9)      # 0..8
            upos = md5_mod(draw_token(seed, st, "pos"), KEY, 2)     # which digit
        else:
            u = _seeded_int(st, 9)          # 0..8
            upos = _seeded_int(st + "#pos", 2)  # which digit
        maxday = F.dayofmonth(F.last_day(d))
        if token == "year":
            y = F.year(d)
            ones, tens = y % 10, (y / 10).cast("int") % 10
            new_ones = (ones + 1 + u) % 10
            new_tens = (tens + 1 + u) % 10
            newy = F.when(upos == 0, y - ones + new_ones) \
                    .otherwise(y - tens * 10 + new_tens * 10)
            eligible = F.col(col).isNotNull() & (
                (F.month(d) != 2) | (F.dayofmonth(d) != 29)
            )  # keep it simple: never move Feb 29 across years invalidly
            # guarded against projection pushdown (see date_swap note)
            new_date = F.when(
                eligible, F.make_date(newy, F.month(d), F.dayofmonth(d))
            ).otherwise(d)
        elif token == "month":
            m = F.month(d)
            um = (md5_mod(draw_token(seed, st, "month"), KEY, 11)
                  if rng == MD5_RNG else _seeded_int(st, 11))
            newm = (m - 1 + 1 + um) % 12 + 1
            # validity: day must exist in the new month (reference's
            # valid_months, `:259-268` — with its swapped-arg behavior
            # reproduced as plain day-in-month validity)
            newm_maxday = F.dayofmonth(F.last_day(F.make_date(F.year(d), newm, F.lit(1))))
            eligible = F.col(col).isNotNull()
            new_date = F.when(
                F.dayofmonth(d) <= newm_maxday,
                F.make_date(F.year(d), newm, F.dayofmonth(d)),
            ).otherwise(F.make_date(F.year(d), F.month(d), F.dayofmonth(d)))
        else:  # day
            day = F.dayofmonth(d)
            ones, tens = day % 10, (day / 10).cast("int")
            new_ones = (ones + 1 + u) % 10
            new_tens = (tens + 1 + u) % 3  # tens digit of a day ∈ 0..3
            cand = F.when(upos == 0, day - ones + new_ones) \
                    .otherwise(day - tens * 10 + new_tens * 10)
            # clamp to valid range (`R/7_dob_errors.R:230-236` clamps to
            # max(valid_days)); 0 → 1
            newday = F.greatest(F.lit(1), F.least(cand, maxday))
            eligible = F.col(col).isNotNull()
            new_date = F.make_date(F.year(d), F.month(d), newday)
        sel = select_rows(df, eligible, per_col, seed, st, exact, rate, rng=rng)
        new = _rebuild(col, is_ts, new_date)
        df, ln = apply_cell_edit(df, col, sel, new, f"date_replace_{token}", ts)
        # drop no-op lineage rows (e.g. month replace that clamped back)
        if ln is None:
            # accumulate mode: prune the no-op entry from the in-row array
            from rlerrorgenerator_spark.operators.base import LINEAGE_ARRAY_COL
            err = f"date_replace_{token}"
            df = df.withColumn(
                LINEAGE_ARRAY_COL,
                F.filter(
                    F.col(LINEAGE_ARRAY_COL),
                    lambda e: (e["error"] != err) | (e["before"] != e["after"]),
                ),
            )
        else:
            ln = ln.where(F.col("before") != F.col("after"))
        lineages.append(ln)
    return df, _union(lineages)


@register("gen_birthday_from_age")
def gen_birthday_from_age(df: DataFrame, lineage: DataFrame, n_errors: int,
                          col_names: list[str], *, seed: int, stage: str, ts: int,
                          age: str, out_col: str = "dob",
                          as_of_year: int = 2024, rng: str = "xxhash", **_):
    """Synthesize a dob column from an age column
    (`R/7_dob_errors.R:1-25`): random day within the year, year forced to
    ``as_of_year − age``. Applies to ALL rows (it's a generator, not an
    error). Deterministic per row."""
    st = f"{stage}|gen_bday"
    doy = (md5_mod(draw_token(seed, st, "doy"), KEY, 365)
           if rng == MD5_RNG else _seeded_int(st, 365))
    year = F.lit(as_of_year) - F.col(age).cast("int")
    new = F.date_add(F.make_date(year, F.lit(1), F.lit(1)), doy)
    out = df.withColumn(out_col, new)
    ln = out.select(
        F.col(KEY).alias("rid"),
        F.lit(out_col).alias("field"),
        F.lit("gen_birthday_from_age").alias("error"),
        F.lit(None).cast("string").alias("before"),
        F.col(out_col).cast("string").alias("after"),
        F.lit(ts).cast("long").alias("ts"),
    ).limit(0)  # generator: no error lineage recorded (reference does not)
    return out, ln


def _union(dfs):
    from rlerrorgenerator_spark.operators.base import union_lineage

    return union_lineage(dfs)
