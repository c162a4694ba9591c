"""Per-transform unit tests: invariants + lineage (SURVEY.md §5.1-5.3).

Invariants mirror the reference scalar cores:
- indel changes length by ±1 (`R/2_edit_distance_errors.R:63-93`)
- repl preserves length, changes exactly one char (`:165-180`)
- tpose is an adjacent-swap permutation (`:244-276`)
- make_missing only hits not-yet-errored ids (`R/4_abbreviations.R:112-117`)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rlerrorgenerator_spark.operators import ErrorConfigRow, mess_data
from rlerrorgenerator_spark.operators.base import empty_lineage
from rlerrorgenerator_spark.operators.edit import indel, repl, tpose
from rlerrorgenerator_spark.operators.field import (
    ch1_to_ch2,
    first_letter_abbreviate,
    make_missing,
    swap_fields,
)


def _before_after(clean, dirty, lineage, col):
    orig = {r.rid: r[col] for r in clean.select("rid", col).collect()}
    new = {r.rid: r[col] for r in dirty.select("rid", col).collect()}
    touched = [r.rid for r in lineage.where(F.col("field") == col).collect()]
    return orig, new, touched


def test_indel_length_pm_one(spark, pages_small):
    ln0 = empty_lineage(spark)
    dirty, ln = indel(pages_small, ln0, 30, ["text"], seed=1, stage="t", ts=1)
    orig, new, touched = _before_after(pages_small, dirty, ln, "text")
    assert len(touched) == 30
    for rid in touched:
        assert abs(len(new[rid]) - len(orig[rid])) == 1
    for rid in set(orig) - set(touched):
        assert new[rid] == orig[rid]


def test_repl_one_char_same_length(spark, pages_small):
    dirty, ln = repl(pages_small, empty_lineage(spark), 30, ["text"], seed=2, stage="t", ts=1)
    orig, new, touched = _before_after(pages_small, dirty, ln, "text")
    assert len(touched) == 30
    for rid in touched:
        a, b = orig[rid], new[rid]
        assert len(a) == len(b)
        assert sum(1 for x, y in zip(a, b) if x != y) == 1


def test_repl_keyboard_adjacency(spark, pages_small):
    from rlerrorgenerator_spark.operators.charsets import KEYBOARD_ADJACENT

    dirty, ln = repl(pages_small, empty_lineage(spark), 20, ["text"],
                     seed=3, stage="t", ts=1, charset="keyboard")
    orig, new, touched = _before_after(pages_small, dirty, ln, "text")
    for rid in touched:
        diffs = [(x, y) for x, y in zip(orig[rid], new[rid]) if x != y]
        assert len(diffs) == 1
        old_c, new_c = diffs[0]
        assert new_c in KEYBOARD_ADJACENT[old_c]


def test_tpose_adjacent_swap(spark, pages_small):
    dirty, ln = tpose(pages_small, empty_lineage(spark), 30, ["text"], seed=4, stage="t", ts=1)
    orig, new, touched = _before_after(pages_small, dirty, ln, "text")
    assert len(touched) == 30
    for rid in touched:
        a, b = orig[rid], new[rid]
        assert len(a) == len(b) and sorted(a) == sorted(b)
        d = [i for i in range(len(a)) if a[i] != b[i]]
        assert len(d) == 2 and d[1] == d[0] + 1
        assert a[d[0]] == b[d[1]] and a[d[1]] == b[d[0]]


def test_first_letter_abbreviate(spark, pages_small):
    dirty, ln = first_letter_abbreviate(pages_small, empty_lineage(spark), 10,
                                        ["lang"], seed=5, stage="t", ts=1)
    orig, new, touched = _before_after(pages_small, dirty, ln, "lang")
    assert len(touched) == 10
    for rid in touched:
        assert new[rid] == orig[rid][0]


def test_ch1_to_ch2_all_and_first(spark, pages_small):
    dirty, ln = ch1_to_ch2(pages_small, empty_lineage(spark), 10, ["url"],
                           seed=6, stage="t", ts=1, ch1="0", ch2="9", all=True)
    orig, new, touched = _before_after(pages_small, dirty, ln, "url")
    for rid in touched:
        assert new[rid] == orig[rid].replace("0", "9")
    dirty, ln = ch1_to_ch2(pages_small, empty_lineage(spark), 10, ["url"],
                           seed=6, stage="t2", ts=1, ch1="0", ch2="9", all=False)
    orig, new, touched = _before_after(pages_small, dirty, ln, "url")
    for rid in touched:
        assert new[rid] == orig[rid].replace("0", "9", 1)


def test_make_missing_excludes_prior_errors(spark, pages_small):
    d1, ln1 = repl(pages_small, empty_lineage(spark), 50, ["lang"], seed=7, stage="a", ts=1)
    d2, ln2 = make_missing(d1, ln1, 50, ["lang"], seed=7, stage="b", ts=2)
    prior = {r.rid for r in ln1.collect()}
    nulled = {r.rid for r in ln2.collect()}
    assert len(nulled) == 50
    assert not (prior & nulled)
    new = {r.rid: r.lang for r in d2.select("rid", "lang").collect()}
    for rid in nulled:
        assert new[rid] is None
    after_vals = {r.after for r in ln2.collect()}
    assert after_vals == {""}  # reference records "" (`R/4_abbr:123`)


def test_swap_fields(spark, pages_small):
    dirty, ln = swap_fields(pages_small, empty_lineage(spark), 10,
                            ["text", "lang"], seed=8, stage="t", ts=1)
    otext = {r.rid: (r.text, r.lang) for r in pages_small.select("rid", "text", "lang").collect()}
    ntext = {r.rid: (r.text, r.lang) for r in dirty.select("rid", "text", "lang").collect()}
    touched = {r.rid for r in ln.collect()}
    assert ln.count() == 20  # two lineage rows per swap
    for rid in touched:
        assert ntext[rid] == (otext[rid][1], otext[rid][0])


def test_date_ops(spark, pages_small):
    from rlerrorgenerator_spark.operators.dates import date_replace, date_swap, date_transpose

    for fn, kw in [
        (date_swap, {}),
        (date_transpose, {"token": "day"}),
        (date_transpose, {"token": "year"}),
        (date_replace, {"token": "day"}),
        (date_replace, {"token": "month"}),
        (date_replace, {"token": "year"}),
    ]:
        dirty, ln = fn(pages_small, empty_lineage(spark), 15, ["warc_ts"],
                       seed=9, stage=f"t{kw.get('token','')}", ts=1, **kw)
        rows = ln.collect()
        assert rows, f"{fn.__name__} {kw} produced no lineage"
        for r in rows:
            assert r.before != r.after
            # value must remain a valid timestamp
            assert r.after is not None and len(r.after) >= 10
        # time-of-day preserved on timestamps
        for r in rows:
            assert r.before[11:] == r.after[11:]


def test_mess_data_determinism_across_parallelism(spark):
    """Same seed ⇒ identical dirty table + lineage at different partition
    counts AND different core counts (SURVEY.md §5.2)."""
    from rlerrorgenerator_spark.sources.pages import prep_pages, synth_pages

    cfg = [
        ErrorConfigRow("indel", 0.1, ["text"]),
        ErrorConfigRow("repl", 0.1, ["url"]),
        ErrorConfigRow("make_missing", 0.05, ["lang"]),
    ]
    outs = []
    for parts in (2, 7):
        clean = prep_pages(synth_pages(spark, 200, seed=11, partitions=parts))
        dirty, lineage = mess_data(clean, cfg, seed=11)
        outs.append(
            (
                sorted(map(tuple, dirty.select("rid", "url", "text", "lang").collect())),
                sorted(map(tuple, lineage.select("rid", "field", "error", "before", "after").collect())),
            )
        )
    assert outs[0] == outs[1]


def test_add_duplicates_appends_clean_rows(spark, pages_small):
    cfg = [
        ErrorConfigRow("repl", 0.2, ["text"]),
        ErrorConfigRow("add_duplicates", 15, []),
    ]
    dirty, lineage = mess_data(pages_small, cfg, seed=13)
    dups = dirty.where(F.col("rid").contains("#dup"))
    assert dups.count() == 15
    # duplicate rows carry the clean text
    orig = {r.rid: r.text for r in pages_small.select("rid", "text").collect()}
    for r in dups.select("orig_url", "text").collect():
        assert r.text == orig[r.orig_url]


def test_lookup_substitution(spark):
    from rlerrorgenerator_spark.operators.lookup import real_to_nicknames

    df = spark.createDataFrame(
        [(f"r{i}", ["robert", "william", "james", "xavier"][i % 4]) for i in range(40)],
        ["rid", "fname"],
    )
    lk = spark.createDataFrame(
        [("robert", "bob", "to_nick"), ("robert", "rob", "to_nick"),
         ("william", "bill", "to_nick"), ("james", "jim", "to_nick")],
        ["lookup_name", "lookup_alternate", "lookup_type"],
    )
    dirty, ln = real_to_nicknames(df, None, 10, ["fname"], seed=3, stage="t",
                                  ts=1, lookup=lk)
    rows = ln.collect()
    assert len(rows) == 10
    nick_map = {"robert": {"bob", "rob"}, "william": {"bill"}, "james": {"jim"}}
    for r in rows:
        assert r.after in nick_map[r.before]
    # xavier has no nickname → never touched
    assert all(r.before != "xavier" for r in rows)


def test_calibration_reaches_target(spark, pages_small):
    from rlerrorgenerator_spark.operators import calibrate_error_rate
    from rlerrorgenerator_spark.operators.driver import calc_perc_id_err

    cfg = [ErrorConfigRow("repl", 0.05, ["text"])]
    dirty, lineage, mult = calibrate_error_rate(pages_small, cfg, e_target=0.15, seed=5)
    realized = calc_perc_id_err(lineage, pages_small.count())
    assert realized >= 0.15
    assert mult > 1.0


def test_exact_predicate_matches_orderby_limit(spark, pages_small):
    """Exact-k as a predicate selects the same rows as the seeded top-k
    ``orderBy(rank_col).limit(k)``, for k = 0 and k > eligible too."""
    from rlerrorgenerator_spark.operators.base import KEY, select_rows
    from rlerrorgenerator_spark.rng import rank_col

    eligible = F.pmod(F.xxhash64("rid"), F.lit(3)) == 0
    n_eligible = pages_small.where(eligible).count()
    assert 0 < n_eligible < pages_small.count()
    for k in (0, 1, 17, n_eligible, n_eligible + 25):
        sel = select_rows(pages_small, eligible, k, 3, "topk", exact=True)
        got = {r.rid for r in pages_small.where(sel).select(KEY).collect()}
        want = {r.rid for r in pages_small.where(eligible)
                .orderBy(rank_col(KEY, 3, "topk")).limit(k).collect()}
        assert got == want
        assert len(got) == min(k, n_eligible)


def test_exact_swap_then_make_missing_skips_swapped(spark, pages_small):
    """In-row lineage: exact ``make_missing`` after an exact swap of the
    same field never hits a swapped row, and still nulls exactly k."""
    cfg = [
        ErrorConfigRow("swap_fields", 0.3, ["url", "lang"]),
        ErrorConfigRow("make_missing", 0.5, ["lang"]),
    ]
    dirty, lineage = mess_data(pages_small, cfg, seed=17, exact=True)
    swapped = {r.rid for r in lineage.where(F.col("error") == "swap_fields").collect()}
    nulled = {r.rid for r in lineage.where(F.col("error") == "make_missing").collect()}
    assert len(swapped) == 90
    assert len(nulled) == 150
    assert not (swapped & nulled)
    lang = {r.rid: r.lang for r in dirty.select("rid", "lang").collect()}
    assert all(lang[rid] is None for rid in nulled)
    assert all(lang[rid] is not None for rid in swapped)
