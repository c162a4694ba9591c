"""The ``mess_data`` driver: interpret an error-config program.

Reference: `/root/reference/R/1_error.R:44-127` (S3 generic + df_pairs
method) and the CSV program format `benchmarking/error_table.csv:1-22` —
rows ``(error, amount, col_names, arguments)``; ``amount<1`` is a fraction
(``ceiling(amount*n)``), ``≥1`` an absolute count; dynamic dispatch by
function name via a registry; ``add_duplicates`` always held for last
(`R/1_error.R:115-126`).

Spark lifecycle (SURVEY.md §3.1): each config row appends one narrow
projection (selection predicate, edit, lineage entry appended to the
in-row ``LINEAGE_ARRAY_COL``) to the plan, on both selection paths.
Exact-k selection costs one small top-k collect per operator column;
Bernoulli selection costs nothing. The exact path snapshots each stage
(``localCheckpoint`` volatile, or durable parquet/Iceberg via a
``CheckpointManager``) — the per-stage snapshot discipline of the
reference (`benchmarking/utils.R:504-641`) and the north rule's
resumable stages — so every staged table holds the lineage so far. The
lineage table is exploded once, from the last staged table, before the
row-generating ops that read it.
"""

from __future__ import annotations

import ast
import csv
import io
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rlerrorgenerator_spark.checkpoint import CheckpointManager
from rlerrorgenerator_spark.operators.base import (
    KEY,
    LINEAGE_ARRAY_COL,
    LINEAGE_ENTRY_TYPE,
    REGISTRY,
    empty_lineage,
    resolve_n_errors,
)

ROW_OPS = {"add_duplicates", "add_near_duplicates", "twins_generate"}


@dataclass
class ErrorConfigRow:
    error: str
    amount: float
    col_names: list[str] = dc_field(default_factory=list)
    kwargs: dict = dc_field(default_factory=dict)


def parse_error_table(csv_text: str) -> list[ErrorConfigRow]:
    """Parse the reference's CSV program format
    (`benchmarking/error_table.csv`): error, amount, col_names (comma
    separated), arguments (``k=v`` pairs, Python literals)."""
    rows = []
    # skipinitialspace: the reference CSV writes ``..,, "lname = ...``
    # (space before the quoted field) — without it csv keeps the quotes
    for rec in csv.DictReader(io.StringIO(csv_text), skipinitialspace=True):
        kwargs = {}
        arg_text = (rec.get("arguments") or "").strip()
        if arg_text:
            for part in _split_args(arg_text):
                k, _, v = part.partition("=")
                kwargs[k.strip()] = ast.literal_eval(v.strip())
        cols = [c.strip() for c in (rec.get("col_names") or "").split(",") if c.strip()]
        rows.append(ErrorConfigRow(rec["error"].strip(), float(rec["amount"]), cols, kwargs))
    return rows


def _split_args(text: str) -> list[str]:
    parts, depth, quote, cur = [], 0, None, []
    for ch in text:
        if quote:
            cur.append(ch)
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
            cur.append(ch)
        elif ch in "([{":
            depth += 1
            cur.append(ch)
        elif ch in ")]}":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return [p for p in (s.strip() for s in parts) if p]


def mess_data(
    clean: DataFrame,
    config: list[ErrorConfigRow],
    *,
    seed: int = 42,
    lookups: dict[str, DataFrame] | None = None,
    exact: bool = True,
    amount_mult: float = 1.0,
    ckpt: CheckpointManager | None = None,
    checkpoint_every: int = 1,
    verbose: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Apply the error program to a copy of ``clean``; return
    ``(dirty, lineage)``.

    Mirrors ``mess_data.df_pairs`` (`R/1_error.R:111-127`): errors hit the
    secondary copy only; row-generating ops (duplicates/twins) run last so
    they can read the finished lineage. ``amount_mult`` scales every rate
    (calibration hook, `benchmarking/utils.R:699-709`).
    """
    spark = clean.sparkSession
    lookups = lookups or {}
    # LAZY row count: on the Bernoulli path with all-fractional rates the
    # count is never consumed (selection is a hash predicate, not top-k),
    # so the job — one full-scan action barrier before any injection —
    # only runs when exact-k selection or an absolute amount needs it.
    _n_cache: list[int] = []

    def n_rows() -> int:
        if not _n_cache:
            _n_cache.append(clean.count())
        return _n_cache[0]
    # Work on a SLIM copy: columns no transform targets (e.g. the ~KB html
    # binary) are projected out before the per-stage checkpoints and
    # re-joined once at the end — at 100 TB you never rewrite untouched
    # wide columns 9×, and locally this halves checkpoint bytes.
    targeted = {c for r in config for c in r.col_names}
    key_cols = {c for c in ("rid", "orig_url", "file") if c in clean.columns}
    heavy = [
        c for c, t in clean.dtypes
        if c not in targeted and c not in key_cols and t == "binary"
    ]
    dirty = clean.drop(*heavy) if heavy else clean
    # Both selection paths: lineage accumulates as an array column inside
    # the SAME narrow projections as the edits, so staging dirty stages
    # its lineage too and nothing re-derives an edit to recover it. The
    # column is exploded into the lineage table right before the
    # row-generating ops (which read lineage for eligibility).
    dirty = dirty.withColumn(
        LINEAGE_ARRAY_COL, F.expr("array()").cast(LINEAGE_ENTRY_TYPE)
    )
    lineage = empty_lineage(spark)
    mgr = ckpt or CheckpointManager(spark)
    ordered = [r for r in config if r.error not in ROW_OPS] + [
        r for r in config if r.error in ROW_OPS
    ]
    n_cell_ops = sum(1 for r in ordered if r.error not in ROW_OPS)
    ts = 0
    unstaged = 0  # operators applied since dirty was last staged

    def split_lineage(name: str):
        # materialize the cell-edit chain once unless the last operator's
        # stage already did, then read the lineage off that table
        nonlocal dirty, lineage, unstaged
        if unstaged:
            dirty = mgr.stage(dirty, name)
            unstaged = 0
        lineage = lineage.unionByName(_explode_lineage(dirty))
        dirty = dirty.drop(LINEAGE_ARRAY_COL)

    for row in ordered:
        fn = REGISTRY.get(row.error)
        if fn is None:
            raise KeyError(f"unknown error transform {row.error!r}; "
                           f"registered: {sorted(REGISTRY)}")
        if ts == n_cell_ops and LINEAGE_ARRAY_COL in dirty.columns:
            split_lineage(f"dirty_cells_ts{ts:03d}")
        amount = row.amount * amount_mult
        if row.amount < 1:
            # fractional row: calibration can scale it past 1.0 — clamp the
            # RATE to 1.0 and make the exact-k count saturate at n (naively
            # passing the clamped 1.0 into resolve_n_errors would hit the
            # absolute-count branch and inject exactly ONE error).
            rate = min(amount, 1.0)
            if exact:
                n_errors = n_rows() if rate >= 1.0 else resolve_n_errors(rate, n_rows())
            else:
                n_errors = 0  # Bernoulli selection reads only ``rate``
        else:
            n_errors = resolve_n_errors(amount, n_rows())
            rate = min(amount / max(n_rows(), 1), 1.0)
        kwargs = dict(row.kwargs)
        col_names = list(row.col_names)
        # R-style column-pointer kwargs (`benchmarking/error_table.csv`:
        # ``date='dob'``, ``lname='lname'``, ``fname=...``, parsed by the
        # reference at `R/1_error.R:83-91`): when the transform has no
        # parameter of that name, the value IS the target column — map it
        # into col_names so the reference's shipped CSV runs verbatim.
        params = _params(fn)
        for key in ("date", "lname", "fname"):
            if key in kwargs and key not in params:
                col_names.append(kwargs.pop(key))
        if "id" in kwargs and "id" not in params and "id_col" in params:
            kwargs["id_col"] = kwargs.pop("id")
        # resolve named lookup dims from the provided dict
        for key in ("lookup", "surnames", "names"):
            if key in kwargs and isinstance(kwargs[key], str):
                kwargs[key] = lookups[kwargs[key]]
            elif key not in kwargs and key in lookups and key in params:
                kwargs[key] = lookups[key]
        if row.error == "add_duplicates":
            kwargs["clean"] = clean.drop(*heavy) if heavy else clean
        ts += 1
        dirty, ln = fn(
            dirty, lineage, n_errors, col_names,
            seed=seed, stage=f"s{ts:03d}", ts=ts,
            exact=exact, rate=rate, **kwargs,
        )
        if ln is not None:
            lineage = lineage.unionByName(ln)
        if verbose:
            # Bernoulli path selects by rate and leaves n_errors unset —
            # printing n=0 there misreads as "no errors injected"
            amt = (f"rate={rate:.4f}" if not n_errors and rate
                   else f"n={n_errors}")
            print(f"[mess_data] {ts:02d} {row.error} {amt}")
        unstaged += 1
        if unstaged >= checkpoint_every and (exact or ts >= n_cell_ops):
            # exact path: per-stage snapshot discipline; each stage's
            # top-k collect then scans a staged table instead of
            # re-running the edits before it. Bernoulli path: the
            # cell-edit chain is ONE fused narrow projection — no
            # intermediate checkpoints needed or taken before the
            # dirty_cells materialization above.
            dirty = mgr.stage(dirty, f"dirty_ts{ts:03d}")
            unstaged = 0
    if LINEAGE_ARRAY_COL in dirty.columns:
        # program had no row ops: extract lineage now
        split_lineage("dirty_cells_final")
    if heavy:
        wide = clean.select("orig_url", *heavy)
        dirty = dirty.join(wide, "orig_url", "left")
    durable = mgr.base_dir is not None
    if heavy or (unstaged and (exact or durable)):
        dirty = mgr.stage(dirty, "dirty_final")
    # else: dirty is already a staged table, or the volatile Bernoulli
    # row-op tail — a few shallow ops over checkpointed parents, where
    # re-materializing the whole table would double the memory-write
    # cost of injection for no plan-depth benefit.
    if exact or durable:
        lineage = mgr.stage(lineage, "lineage_final")
    # else: volatile Bernoulli lineage is one explode of a staged table
    # plus at most two shallow row-op branches — every consumer
    # (label_pairs, audits) re-derives those in one cheap pass off
    # materialized parents; a second full staging measured 5.7s at 4
    # cores for zero plan-depth benefit.
    return dirty, lineage


def _explode_lineage(dirty: DataFrame) -> DataFrame:
    """Accumulated-lineage array column → lineage table rows."""
    return dirty.select(
        F.col(KEY).alias("rid"), F.explode(LINEAGE_ARRAY_COL).alias("e")
    ).select("rid", "e.field", "e.error", "e.before", "e.after", "e.ts")


def _params(fn) -> set[str]:
    import inspect

    return set(inspect.signature(fn).parameters)


def calc_perc_id_err(lineage: DataFrame, n_rows: int) -> float:
    """Fraction of distinct row ids with ≥1 error
    (`benchmarking/utils.R:648-661`)."""
    return lineage.select("rid").distinct().count() / max(n_rows, 1)


def calibrate_error_rate(
    clean: DataFrame,
    config: list[ErrorConfigRow],
    e_target: float,
    *,
    seed: int = 42,
    lookups: dict[str, DataFrame] | None = None,
    err_mult: float = 1.0,
    err_mult_inc: float = 0.25,
    max_iter: int = 8,
    exact: bool = True,
) -> tuple[DataFrame, DataFrame, float]:
    """Regenerate with scaled amounts until the realized distinct-errored-id
    fraction ≥ ``e_target`` (`benchmarking/utils.R:712-768`). One count()
    action per iteration; the clean table should be cached by the caller."""
    n = clean.count()
    last = None
    for _ in range(max_iter):
        dirty, lineage = mess_data(
            clean, config, seed=seed, lookups=lookups, exact=exact,
            amount_mult=err_mult,
        )
        realized = calc_perc_id_err(lineage, n)
        last = (dirty, lineage, err_mult)
        if realized >= e_target:
            return last
        # ratio-adaptive step (the reference bumps by a fixed 0.01/iter,
        # `utils.R:707`, which needs many regenerations; scaling by the
        # observed shortfall converges in 1-2 extra runs)
        err_mult = max(
            err_mult * e_target / max(realized, 1e-9) * 1.05,
            err_mult + err_mult_inc,
        )
    return last
