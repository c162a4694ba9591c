"""Edit-distance error transforms: indel, repl, tpose.

Reference semantics (`/root/reference/R/2_edit_distance_errors.R`):

- ``indel`` (`:5-93`): with p=0.5 insert a random charset char at a uniform
  position, else delete a uniform position; only non-empty values eligible.
- ``repl`` (`:99-180`): replace one uniform position with a *different*
  random charset char (rejection loop). Our extension (north star):
  ``charset='keyboard'|'ocr'`` replaces via a confusion map of the char at
  the chosen position.
- ``tpose`` (`:182-276`): swap two adjacent differing chars at a random
  eligible position; rows need >1 distinct char (`tpose_eligible`,
  `:182-192`).

All three share one shape: seeded per-row string surgery inside an
Arrow-batched pandas UDF (the scalar R cores `indel.default`/`repl.default`
/`tpose.base` are row-at-a-time `map_chr` loops — the slow path we never
take). Determinism: each row's RNG is keyed on (seed, stage, rid), so the
result is independent of partitioning.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rlerrorgenerator_spark.operators.base import (
    KEY,
    apply_cell_edit,
    register,
    select_rows,
    split_across_cols,
)
from rlerrorgenerator_spark.operators.charsets import CHARSETS, CONFUSION_MAPS
from rlerrorgenerator_spark.rng import MD5_RNG, draw_streams, draw_token, md5_u64_str, seed64_col


def _resolve_charset(charset: str) -> tuple[str | None, dict[str, str] | None]:
    if charset in CONFUSION_MAPS:
        return None, CONFUSION_MAPS[charset]
    return CHARSETS.get(charset, charset), None


def _seed_series_to_u64(seed64: pd.Series):
    import numpy as np

    return seed64.to_numpy(dtype="int64", na_value=0).view("uint64")


def _make_udf(fn):
    """Wrap a scalar (draws, str) -> str editor as an Arrow-batched pandas
    UDF over (value, selected, seed64). The per-row seed is derived
    JVM-side (``seed64_col``); the UDF mixes it into draw streams with
    VECTORIZED splitmix64 — no per-row hashing or Generator construction.
    Spark evaluates pandas UDFs under when() unconditionally, so the
    selection flag is an input and unselected rows skip the edit."""
    @F.pandas_udf("string")
    def udf(val: pd.Series, flag: pd.Series, seed64: pd.Series) -> pd.Series:
        u0, u1, u2 = draw_streams(_seed_series_to_u64(seed64), 3)
        out = []
        for v, f, a, b, c in zip(val.to_numpy(), flag.to_numpy(), u0, u1, u2):
            if not f or v is None:
                out.append(v)
                continue
            out.append(fn((int(a), int(b), int(c)), str(v)))
        return pd.Series(out, dtype="object")

    return udf


def _make_udf_md5(fn):
    """md5-mode variant: the three u64 draws arrive as JVM-computed
    DECIMAL STRINGS (rng.md5_u64_str — the cross-engine draw a DuckDB
    oracle reproduces bit-identically); the UDF does no hashing at all."""
    @F.pandas_udf("string")
    def udf(val: pd.Series, flag: pd.Series, d0: pd.Series, d1: pd.Series,
            d2: pd.Series) -> pd.Series:
        out = []
        for v, f, a, b, c in zip(val.to_numpy(), flag.to_numpy(),
                                 d0.to_numpy(), d1.to_numpy(), d2.to_numpy()):
            if not f or v is None:
                out.append(v)
                continue
            out.append(fn((int(a), int(b), int(c)), str(v)))
        return pd.Series(out, dtype="object")

    return udf


def _apply_editor(df, col, scalar_fn, error_name, per_col, seed, st, ts,
                  exact, rate, eligible, rng_mode: str = "xxhash"):
    """Shared skeleton: selection predicate + UDF wiring + apply_cell_edit."""
    sel = select_rows(df, eligible, per_col, seed, st, exact, rate, rng=rng_mode)
    # ship NULL instead of the (KB-scale) value for unselected rows:
    # the Arrow exchange then carries ~rate×|col| bytes instead of
    # |col| bytes — at a few % selection this cuts the Python
    # round-trip ~20×, the measured bandwidth bound of the inject
    # stage. Selected ⇒ eligible ⇒ non-null, so NULL is unambiguous.
    gated = F.when(F.col("__sel"), F.col(col))
    if rng_mode == MD5_RNG:
        udf = _make_udf_md5(scalar_fn)
        draws = [md5_u64_str(draw_token(seed, st, f"d{i}"), KEY)
                 for i in range(3)]
        new_value = udf(gated, F.col("__sel"), *draws)
    else:
        udf = _make_udf(scalar_fn)
        new_value = udf(gated, F.col("__sel"), seed64_col(KEY, seed, st))
    return apply_cell_edit(df, col, sel, new_value, error_name, ts)


def _indel_one(u, s: str, charset: str) -> str:
    # p=0.5 insert vs delete (`R/2_edit_distance_errors.R:66-93`); a
    # 1-char string always gets an insert (delete would empty it — the
    # reference guards eligibility on non-empty only, we keep len>=1).
    # ``u`` = three independent 64-bit draws (see _make_udf).
    u0, u1, u2 = u
    do_insert = (u0 & 1 == 0) or len(s) <= 1
    if do_insert:
        pos = u1 % (len(s) + 1)
        ch = charset[u2 % len(charset)]
        return s[:pos] + ch + s[pos:]
    pos = u1 % len(s)
    return s[:pos] + s[pos + 1:]


def _repl_one(u, s: str, charset: str | None, confusion: dict[str, str] | None) -> str:
    if not s:
        return s
    u0, u1, u2 = u
    if confusion is not None:
        # keyboard/OCR variant: only positions with a mapped char eligible.
        positions = [i for i, c in enumerate(s) if c in confusion]
        if not positions:
            return s
        pos = positions[u0 % len(positions)]
        cands = confusion[s[pos]]
        ch = cands[u1 % len(cands)]
        return s[:pos] + ch + s[pos + 1:]
    pos = u0 % len(s)
    # replacement must differ (`R/2_edit:171-178`): pick an index, and if
    # it lands on the current char step to another one — uniform over the
    # remaining charset, no rejection loop
    idx = u1 % len(charset)
    if charset[idx] == s[pos]:
        idx = (idx + 1 + u2 % (len(charset) - 1)) % len(charset)
        if charset[idx] == s[pos]:  # duplicate chars in custom charsets
            for step in range(1, len(charset)):
                j = (idx + step) % len(charset)
                if charset[j] != s[pos]:
                    idx = j
                    break
            else:
                return s
    return s[:pos] + charset[idx] + s[pos + 1:]


def _tpose_one(u, s: str) -> str:
    # positions where adjacent chars differ (`R/2_edit:244-276`)
    positions = [i for i in range(len(s) - 1) if s[i] != s[i + 1]]
    if not positions:
        return s
    pos = positions[u[0] % len(positions)]
    return s[:pos] + s[pos + 1] + s[pos] + s[pos + 2:]


@register("indel")
def indel(df: DataFrame, lineage: DataFrame, n_errors: int, col_names: list[str],
          *, seed: int, stage: str, ts: int, charset: str = "letters",
          exact: bool = True, rate: float | None = None, rng: str = "xxhash"):
    """Insert-or-delete one char (`R/2_edit_distance_errors.R:5-93`)."""
    per_col = split_across_cols(n_errors, len(col_names))
    cs, _ = _resolve_charset(charset)
    lineages = []
    for col in col_names:
        st = f"{stage}|indel|{col}"
        eligible = F.col(col).isNotNull() & (F.length(col) > 0)
        df, ln = _apply_editor(df, col, lambda u, s, cs=cs: _indel_one(u, s, cs),
                               "indel", per_col, seed, st, ts, exact, rate,
                               eligible, rng_mode=rng)
        lineages.append(ln)
    return df, _union(lineages)


@register("repl")
def repl(df: DataFrame, lineage: DataFrame, n_errors: int, col_names: list[str],
         *, seed: int, stage: str, ts: int, charset: str = "letters",
         exact: bool = True, rate: float | None = None, rng: str = "xxhash"):
    """Replace one char with a different one (`R/2_edit:99-180`); with
    ``charset='keyboard'|'ocr'`` replacement follows a confusion map."""
    per_col = split_across_cols(n_errors, len(col_names))
    cs, confusion = _resolve_charset(charset)
    lineages = []
    for col in col_names:
        st = f"{stage}|repl|{col}"
        eligible = F.col(col).isNotNull() & (F.length(col) > 0)
        if confusion is not None:
            # only rows containing a confusable char are eligible
            pat = "[" + "".join(sorted(set(confusion))).replace("\\", "\\\\").replace("]", "\\]") + "]"
            eligible = eligible & F.col(col).rlike(pat)
        name = "repl" if confusion is None else f"repl_{charset}"
        df, ln = _apply_editor(
            df, col, lambda u, s, cs=cs, cf=confusion: _repl_one(u, s, cs, cf),
            name, per_col, seed, st, ts, exact, rate, eligible, rng_mode=rng,
        )
        lineages.append(ln)
    return df, _union(lineages)


@register("tpose")
def tpose(df: DataFrame, lineage: DataFrame, n_errors: int, col_names: list[str],
          *, seed: int, stage: str, ts: int, exact: bool = True,
          rate: float | None = None, rng: str = "xxhash"):
    """Transpose two adjacent differing chars (`R/2_edit:199-276`)."""
    per_col = split_across_cols(n_errors, len(col_names))
    lineages = []
    for col in col_names:
        st = f"{stage}|tpose|{col}"
        # tpose_eligible (`R/2_edit:182-192`): >1 distinct character. A
        # cheap JVM-side proxy: length>1 AND not all chars equal (string
        # differs from its first char repeated).
        eligible = (
            F.col(col).isNotNull()
            & (F.length(col) > 1)
            & (F.col(col) != F.expr(f"repeat(substring({col}, 1, 1), length({col}))"))
        )
        df, ln = _apply_editor(df, col, lambda u, s: _tpose_one(u, s),
                               "tpose", per_col, seed, st, ts, exact, rate,
                               eligible, rng_mode=rng)
        lineages.append(ln)
    return df, _union(lineages)


def _union(dfs):
    from rlerrorgenerator_spark.operators.base import union_lineage

    return union_lineage(dfs)
