"""Linkage pipeline tests (SURVEY.md §5.5-5.7)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rlerrorgenerator_spark.functions.similarity import jaro_winkler
from rlerrorgenerator_spark.linkage.resolve import connected_components, find_best_links
from rlerrorgenerator_spark.pipeline import default_error_config, run_linkage


def test_jaro_winkler_known_values():
    # canonical JW examples (winkler p=0.1)
    assert jaro_winkler("martha", "marhta") == pytest.approx(0.9611, abs=1e-3)
    assert jaro_winkler("dwayne", "duane") == pytest.approx(0.84, abs=1e-2)
    assert jaro_winkler("dixon", "dicksonx") == pytest.approx(0.8133, abs=1e-3)
    assert jaro_winkler("abc", "abc") == 1.0
    assert jaro_winkler("abc", "xyz") == 0.0


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"), ("r", "s")],
        ["src", "dst"],
    )
    comp = {r.id: r.component for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"
    assert comp["p"] == comp["q"] == comp["r"] == comp["s"] == "p"


def test_connected_components_long_chain(spark):
    # chain of 33 nodes → needs several hash-to-min rounds
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(32)], ["src", "dst"]
    )
    comp = connected_components(edges)
    assert comp.select("component").distinct().count() == 1


def test_find_best_links_one_to_one(spark):
    scored = spark.createDataFrame(
        [
            ("a1", "b1", 0.95),  # clear best
            ("a1", "b2", 0.40),
            ("a2", "b2", 0.90),  # a2's margin over runner-up is small → rejected
            ("a2", "b3", 0.85),
            ("a3", "b3", 0.99),
        ],
        ["rid_a", "rid_b", "match_prob"],
    )
    links = {(r.rid_a, r.rid_b) for r in find_best_links(scored, odds=0.4).collect()}
    assert ("a1", "b1") in links
    assert ("a3", "b3") in links
    assert all(a != "a2" for a, _ in links)


@pytest.fixture(scope="module")
def linkage_result(spark):
    return run_linkage(spark, n_rows=800, seed=42)


def test_blocking_recall(linkage_result):
    res = linkage_result
    truth = res.dirty.select(
        F.col("rid").alias("rid_b"), F.col("orig_url").alias("rid_a")
    )
    n_truth = truth.count()
    found = truth.join(res.candidates, ["rid_a", "rid_b"], "left_semi").count()
    assert found / n_truth >= 0.99


def test_end_to_end_f1(linkage_result):
    m = linkage_result.metrics.collect()[0]
    assert m.f1 >= 0.99, f"pairwise F1 {m.f1} < 0.99 (tp={m.tp} fp={m.fp} fn={m.fn})"
    assert m.brier < 0.1


def test_clusters_match_ground_truth(linkage_result):
    res = linkage_result
    cl = res.clusters
    truth = res.dirty.select(F.col("rid").alias("id"), "orig_url")
    j = (
        truth.join(cl, "id")
        .withColumnRenamed("cluster_id", "c_dirty")
        .join(
            cl.withColumnRenamed("id", "orig_url").withColumnRenamed("cluster_id", "c_clean"),
            "orig_url",
        )
    )
    bad = j.where(F.col("c_dirty") != F.col("c_clean")).count()
    assert bad / truth.count() <= 0.01


@pytest.mark.parametrize("e_target", [0.1, 0.3])
def test_f1_across_error_rates(spark, e_target):
    """F1 ≥ 0.99 as error rate grows (reference grid 0→0.6,
    `paper_flow_dob_latest.Rmd:60`; we spot-check two points)."""
    from rlerrorgenerator_spark.operators import ErrorConfigRow

    cfg = [
        ErrorConfigRow("indel", e_target / 2, ["text"]),
        ErrorConfigRow("repl", e_target / 2, ["text"], {"charset": "keyboard"}),
        ErrorConfigRow("repl", e_target / 3, ["url"]),
        ErrorConfigRow("make_missing", e_target / 5, ["lang"]),
    ]
    res = run_linkage(spark, n_rows=400, seed=17, config=cfg)
    m = res.metrics.collect()[0]
    assert m.f1 >= 0.99, f"e={e_target}: F1={m.f1}"


def test_candidates_deterministic(spark):
    """build_candidates must yield the identical pair set across repeated
    evaluations (guards the SNM global-rank offset consistency and every
    hash-based blocker)."""
    from rlerrorgenerator_spark.linkage.blocking import build_candidates
    from rlerrorgenerator_spark.sources.pages import prep_pages, synth_pages
    from rlerrorgenerator_spark.operators import mess_data
    from rlerrorgenerator_spark.pipeline import default_error_config

    clean = prep_pages(synth_pages(spark, 400, seed=3)).localCheckpoint(eager=True)
    dirty, _ = mess_data(clean, default_error_config(), seed=3, exact=False)
    sets = []
    for _ in range(2):
        cand = build_candidates(clean, dirty)
        sets.append({(r.rid_a, r.rid_b) for r in cand.collect()})
    assert sets[0] == sets[1]


def test_resume_from_checkpoint(spark, tmp_path):
    """North rule: any stage resumes mid-run — rerunning with the same
    checkpoint dir must reuse stage outputs and reproduce results."""
    d = str(tmp_path / "ck")
    r1 = run_linkage(spark, n_rows=300, seed=9, ckpt_dir=d, compute_clusters=False)
    m1 = r1.metrics.collect()[0]
    # second run resumes: stages all exist → identical outputs
    r2 = run_linkage(spark, n_rows=300, seed=9, ckpt_dir=d, compute_clusters=False)
    m2 = r2.metrics.collect()[0]
    assert (m1.tp, m1.fp, m1.fn, m1.f1) == (m2.tp, m2.fp, m2.fn, m2.f1)
    s1 = sorted(map(tuple, r1.scored.select("rid_a", "rid_b", "match_prob").collect()))
    s2 = sorted(map(tuple, r2.scored.select("rid_a", "rid_b", "match_prob").collect()))
    assert s1 == s2


def test_checkpoint_format_env_gate(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_CKPT_FORMAT selects the checkpoint storage format
    (north rule: Iceberg tables on a catalog-configured deployment; the
    sandbox has no Iceberg runtime jar so the format RESOLUTION is what
    is testable here — the write API itself is format-agnostic)."""
    from rlerrorgenerator_spark.checkpoint import CheckpointManager

    monkeypatch.delenv("SPARK_GRAFT_CKPT_FORMAT", raising=False)
    assert CheckpointManager(spark).fmt == "parquet"
    monkeypatch.setenv("SPARK_GRAFT_CKPT_FORMAT", "iceberg")
    mgr = CheckpointManager(spark, str(tmp_path / "ice"))
    assert mgr.fmt == "iceberg"
    # explicit fmt always wins over the env gate
    assert CheckpointManager(spark, fmt="parquet").fmt == "parquet"
    # iceberg existence = committed metadata, not a parquet _SUCCESS flag
    assert not mgr.exists("stage1")
    (tmp_path / "ice" / "stage1" / "metadata").mkdir(parents=True)
    assert mgr.exists("stage1")


def test_checkpoint_file_uri_written_once(spark, tmp_path, monkeypatch):
    """Skip-if-exists resolves through the Hadoop FileSystem, so a stage
    under a ``file://`` base_dir is written once and skipped after."""
    from rlerrorgenerator_spark.checkpoint import CheckpointManager

    monkeypatch.delenv("SPARK_GRAFT_CKPT_FORMAT", raising=False)
    mgr = CheckpointManager(spark, f"file://{tmp_path}/ck")
    assert not mgr.exists("s1")
    first = mgr.stage(spark.range(3), "s1")
    assert mgr.exists("s1")
    assert (tmp_path / "ck" / "s1" / "_SUCCESS").exists()
    # a second stage under the same name is skipped: the stored rows stay
    again = mgr.stage(spark.range(10, 15), "s1")
    assert sorted(r.id for r in again.collect()) == [0, 1, 2]
    assert again.schema == first.schema


def test_osa_distance_known_values():
    """dl/osa vs lev divergence on adjacent transpositions (tpose edits)."""
    from rlerrorgenerator_spark.functions.similarity import osa_distance

    assert osa_distance("pear", "paer") == 1      # lev would be 2
    assert osa_distance("1990", "9190") == 1      # year transpose
    assert osa_distance("12", "21") == 1
    assert osa_distance("abc", "abc") == 0
    assert osa_distance("abc", "") == 3
    assert osa_distance("kitten", "sitting") == 3  # == lev when no tpose
    assert osa_distance("ca", "abc") == 3          # OSA (true DL would be 2)


def test_osa_udf_matches_scalar(spark):
    from rlerrorgenerator_spark.functions.similarity import osa_distance, osa_udf
    from pyspark.sql import functions as F

    rows = [("pear", "paer"), ("smith", "smiht"), ("jon", "john"), ("a", "b")]
    df = spark.createDataFrame(rows, ["s1", "s2"])
    got = df.select("s1", "s2", osa_udf(F.col("s1"), F.col("s2")).alias("d")).collect()
    for r in got:
        expect = osa_distance(r.s1, r.s2) / max(len(r.s1), len(r.s2), 1)
        assert r.d == expect


def test_cc_salted_hot_node(spark):
    """Explicit skew-key splitting: a star node above hot_degree engages
    the salted join path and yields identical components."""
    from rlerrorgenerator_spark.linkage.resolve import connected_components

    edges = [("hub", f"n{i:04d}") for i in range(500)]
    edges += [("n0001", "side1"), ("x1", "x2")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    plain = {r.id: r.component
             for r in connected_components(df, hot_degree=10**9).collect()}
    salted = {r.id: r.component
              for r in connected_components(df, hot_degree=100,
                                            salt_factor=4).collect()}
    assert salted == plain
    # the star collapses to one component anchored at the min id
    comp = {v for k, v in salted.items() if k.startswith("n") or k == "hub"}
    assert comp == {"hub"}
    assert salted["x1"] == salted["x2"] == "x1"


def test_shingle_jaccard_mixed_sample_boundary(spark):
    """Docs straddling the 32-shingle subsample boundary (one side ships
    the full shingle array, the other the 1-in-4 sample) must still see a
    high Jaccard for near-identical content — the full side is filtered to
    the same sample at pair time instead of biasing the estimate ~4x low."""
    import datetime as dt

    from pyspark.sql import functions as F

    from rlerrorgenerator_spark.linkage.features import score_pairs

    base = " ".join(f"w{i}" for i in range(34))          # 31 shingles -> full
    longer = base + " x1 x2 x3"                           # 34 shingles -> sampled
    ts = dt.datetime(2024, 1, 1)
    clean = spark.createDataFrame(
        [("https://a.com/p", ts, longer, "en")],
        "url string, warc_ts timestamp, text string, lang string",
    )
    dirty = spark.createDataFrame(
        [("r1", "https://a.com/p", ts, base, "en")],
        "rid string, url string, warc_ts timestamp, text string, lang string",
    )
    cand = spark.createDataFrame([("https://a.com/p", "r1")], "rid_a string, rid_b string")
    row = score_pairs(cand, clean, dirty).collect()[0]
    # true shingle jaccard is 31/34 ~ 0.91; the symmetrized sampled
    # estimate must stay in the same regime (and above the 0.5 gate)
    assert row["metric_text_jaccard"] >= 0.5
    # and two short docs (both full arrays) get EXACT jaccard
    short_a = " ".join(f"s{i}" for i in range(20))        # 17 shingles
    clean2 = spark.createDataFrame(
        [("https://b.com/p", ts, short_a, "en")],
        "url string, warc_ts timestamp, text string, lang string",
    )
    dirty2 = spark.createDataFrame(
        [("r2", "https://b.com/p", ts, short_a, "en")],
        "rid string, url string, warc_ts timestamp, text string, lang string",
    )
    cand2 = spark.createDataFrame([("https://b.com/p", "r2")], "rid_a string, rid_b string")
    row2 = score_pairs(cand2, clean2, dirty2).collect()[0]
    assert row2["metric_text_jaccard"] == 1.0


def test_cap_forms_produce_identical_pairs(spark, monkeypatch):
    """The window-count cap (default) and the broadcast-blacklist cap
    (SPARK_GRAFT_WINDOW_CAPS=0) must yield the SAME candidate pair set —
    the two physical strategies implement one logical skew guard."""
    from rlerrorgenerator_spark.linkage.blocking import (
        exact_blocks,
        minhash_blocks,
    )

    rows_c, rows_d = [], []
    for i in range(30):
        txt = ("shared boilerplate text block " * 3 if i % 3 == 0
               else f"unique document body number {i} with words w{i} x{i}")
        rows_c.append((f"https://h{i % 7}.com/p/{i}", txt))
        rows_d.append((f"d:{i:04d}", f"https://h{i % 7}.com/p/{i}", txt))
    clean = spark.createDataFrame(rows_c, "url string, text string")
    dirty = spark.createDataFrame(rows_d, "rid string, url string, text string")

    def pairs():
        ex = {(r.rid_a, r.rid_b) for r in
              exact_blocks(clean, dirty, max_block_size=5).collect()}
        mh = {(r.rid_a, r.rid_b) for r in
              minhash_blocks(clean, dirty, max_block_size=5).collect()}
        return ex, mh

    monkeypatch.setenv("SPARK_GRAFT_WINDOW_CAPS", "1")
    ex_w, mh_w = pairs()
    monkeypatch.setenv("SPARK_GRAFT_WINDOW_CAPS", "0")
    ex_b, mh_b = pairs()
    assert ex_w == ex_b and mh_w == mh_b
    assert ex_w and mh_w  # non-degenerate fixture


def test_hot_block_cap_drops_giant_buckets(spark):
    """Skew guard: a block key shared by > max_block_size rows on either
    side is dropped entirely (boilerplate/empty-text protection), while
    normal-sized blocks keep their pairs — for the exact strategy and the
    md5-verified MinHash-LSH strategy alike."""
    from pyspark.sql import types as T

    from rlerrorgenerator_spark.linkage.blocking import (
        exact_blocks,
        minhash_blocks_verified,
    )

    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    uniq = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows_c, rows_d = [], []
    for i in range(12):  # 12 > cap of 8 → the boilerplate bucket dies
        rows_c.append((f"https://h.com/boiler/{i}", boiler))
        rows_d.append((f"d:boiler{i}", f"https://h.com/boiler/{i}", boiler))
    rows_c.append(("https://h.com/uniq", uniq))
    rows_d.append(("d:uniq", "https://h.com/uniq", uniq))
    clean = spark.createDataFrame(rows_c, "url string, text string")
    dirty = spark.createDataFrame(rows_d, "rid string, url string, text string")

    mh = minhash_blocks_verified(clean, dirty, max_block_size=8).collect()
    got = {(r.rid_a, r.rid_b) for r in mh}
    assert ("https://h.com/uniq", "d:uniq") in got
    assert not any("boiler" in a for a, _ in got)

    # exact strategy: same cap semantics on the url_norm / text keys
    ex = exact_blocks(clean.withColumn("lang", F.lit("en")),
                      dirty.withColumn("lang", F.lit("en")),
                      max_block_size=8).collect()
    got_ex = {(r.rid_a, r.rid_b) for r in ex}
    assert ("https://h.com/uniq", "d:uniq") in got_ex
    # per-url blocks are size 1 (unique urls) so url pairs survive; the
    # TEXT-prefix key is the hot one and contributes no boiler pairs
    text_pairs = {p for p in ex if p.block == "exact:text_prefix"}
    assert not any("boiler" in r.rid_a for r in text_pairs)
