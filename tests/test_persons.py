"""Person-domain (reference-native voter shape) end-to-end tests:
synth → get_bdays → inject person errors → generate_pairs →
add_feature_vector (23 features) → MLlib classifier → F1."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rlerrorgenerator_spark.operators import ErrorConfigRow, mess_data
from rlerrorgenerator_spark.sources.persons import (
    get_bdays,
    nickname_lookup,
    surname_dim,
    synth_persons,
)


# The reference person program (also the persons benchmark's program).
PERSON_PROGRAM = [
    ErrorConfigRow("indel", 0.05, ["fname", "lname"]),
    ErrorConfigRow("repl", 0.05, ["fname"], {"charset": "keyboard"}),
    ErrorConfigRow("real_to_nicknames", 0.08, ["fname"], {"lookup": "lookup"}),
    ErrorConfigRow("first_letter_abbreviate", 0.03, ["mname"]),
    ErrorConfigRow("make_missing", 0.03, ["mname"]),
    ErrorConfigRow("married_name_change", 0.04, ["lname"],
                   {"surnames": "surnames", "sex": "gender_code"}),
    ErrorConfigRow("date_swap", 0.03, ["dob"]),
    ErrorConfigRow("date_replace", 0.03, ["dob"], {"token": "day"}),
    ErrorConfigRow("make_twins", 5, []),
]


def _lookups(spark):
    return {"lookup": nickname_lookup(spark), "surnames": surname_dim(spark)}


@pytest.fixture(scope="module")
def persons(spark):
    base = synth_persons(spark, 1200, seed=42)
    return get_bdays(base, seed=42).localCheckpoint(eager=True)


def test_synth_persons_deterministic(spark):
    a = synth_persons(spark, 200, seed=1, partitions=2).orderBy("rid").collect()
    b = synth_persons(spark, 200, seed=1, partitions=9).orderBy("rid").collect()
    assert a == b


def test_get_bdays_twins(persons):
    twins = persons.where(F.col("twin_id").isNotNull())
    assert twins.count() > 0
    grp = twins.groupBy("twin_id").agg(
        F.countDistinct("bday_twin").alias("nb"), F.count("*").alias("n")
    )
    rows = grp.collect()
    assert all(r.nb == 1 for r in rows)
    assert all(r.n >= 2 for r in rows)


@pytest.fixture(scope="module")
def person_linkage(spark, persons):
    dirty, lineage = mess_data(persons, PERSON_PROGRAM, seed=23,
                               lookups=_lookups(persons.sparkSession))
    return persons, dirty, lineage


def test_exact_injection_job_budget(spark, persons, tmp_path):
    """Exact-k selection is one top-k collect per operator column and the
    lineage rides in the staged tables: the whole durable program stays
    within five Spark jobs per config row."""
    from rlerrorgenerator_spark.checkpoint import CheckpointManager

    lookups = _lookups(spark)
    sc = spark.sparkContext
    group = "exact-injection-job-budget"
    sc.setJobGroup(group, "mess_data job budget")
    try:
        dirty, lineage = mess_data(
            persons, PERSON_PROGRAM, seed=29, lookups=lookups, exact=True,
            ckpt=CheckpointManager(spark, str(tmp_path / "ckpt")))
        # the status store is fed asynchronously; count every job started
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs <= 5 * len(PERSON_PROGRAM), jobs
    assert dirty.count() == persons.count()
    assert lineage.where(F.col("error") == "make_missing").count() == 36


def test_person_error_injection(person_linkage):
    persons, dirty, lineage = person_linkage
    counts = {r.error: r.n for r in
              lineage.groupBy("error").agg(F.count("*").alias("n")).collect()}
    for err in ("indel", "repl_keyboard", "real_to_nicknames",
                "first_letter_abbreviate", "make_missing",
                "married_name_change", "make_twins"):
        assert counts.get(err, 0) > 0, f"no lineage for {err}: {counts}"
    # nickname substitutions are real nicknames
    nick = {r.before: r.after for r in lineage.where(F.col("error") == "real_to_nicknames").collect()}
    from rlerrorgenerator_spark.sources.persons import NICKNAMES
    valid = {}
    for a, b in NICKNAMES:
        valid.setdefault(a, set()).add(b)
    for before, after in nick.items():
        assert after in valid[before]


def test_person_pairs_and_model(spark, person_linkage):
    from rlerrorgenerator_spark.linkage.metrics import pairwise_metrics
    from rlerrorgenerator_spark.linkage.models import predict_match_prob, train_match_model
    from rlerrorgenerator_spark.linkage.person_pairs import (
        FEATURE_COLS,
        add_person_features,
        generate_person_pairs,
    )

    persons, dirty, lineage = person_linkage
    pairs = generate_person_pairs(persons, dirty, neg_ratio=4, seed=7)
    n_pos = pairs.where("label").count()
    n_neg = pairs.where(~F.col("label")).count()
    assert n_pos >= 1200  # every dirty row has its clean origin
    assert n_neg > 0

    feats = add_person_features(pairs, persons, dirty).localCheckpoint(eager=True)
    for c in FEATURE_COLS:
        assert c in feats.columns
    assert len(FEATURE_COLS) == 23

    train, test = feats.randomSplit([0.7, 0.3], seed=11)
    model = train_match_model(train, FEATURE_COLS, model="logreg")
    scored = predict_match_prob(model, test, FEATURE_COLS)
    m = pairwise_metrics(scored.withColumnRenamed("label", "label")).collect()[0]
    assert m.f1 >= 0.97, f"person-domain F1 {m.f1}"


def test_review_pct_and_sample_strat(spark, person_linkage):
    from rlerrorgenerator_spark.linkage.metrics import calc_review_pct, sample_strat
    from rlerrorgenerator_spark.linkage.person_pairs import (
        FEATURE_COLS,
        add_person_features,
        generate_person_pairs,
    )

    persons, dirty, lineage = person_linkage
    pairs = generate_person_pairs(persons, dirty, neg_ratio=2, seed=7)
    feats = add_person_features(pairs, persons, dirty)
    # quick deterministic prob: 1 - avg of name distances
    scored = feats.withColumn(
        "match_prob",
        F.lit(1.0) - (F.col("metric_fname_jw") + F.col("metric_lname_jw")
                      + F.col("metric_dob_full")) / 3.0,
    ).localCheckpoint(eager=True)
    rp = calc_review_pct(scored, 0.95, 0.95).collect()[0]
    assert 0.0 <= rp.review_pct <= 1.0
    # lower > upper is legal: the scorer separates so well that nothing
    # falls between the NPV-safe reject and PPV-safe accept thresholds
    assert rp.n_review == scored.where(
        (F.col("match_prob") > rp.lower_threshold)
        & (F.col("match_prob") < rp.upper_threshold)
    ).count()

    samp = sample_strat(scored, 500, match_frac=0.2, seed=3)
    got = samp.groupBy("label").count().collect()
    by = {r.label: r["count"] for r in got}
    assert by.get(True, 0) == 100
    assert by.get(False, 0) == 400


def test_add_count_name(spark):
    from rlerrorgenerator_spark.functions.stats import add_count_name

    df = spark.createDataFrame(
        [("1", "ann"), ("2", "ann"), ("3", "bob"), ("4", "cat")], ["rid", "fname"]
    )
    out = {r.rid: (r.fname_freq, round(r.fname_freq_z, 4))
           for r in add_count_name(df, "fname").collect()}
    assert out["1"][0] == 2.0 and out["2"][0] == 2.0
    assert out["3"][0] == 1.0
    # z-scores sum to ~0
    assert abs(sum(v[1] for v in out.values())) < 1e-6


def test_model_family_parity(spark, person_linkage):
    """Reference model family (`utils.R:916-995`): RF, svmLinear, NN —
    each trains and meets the deterministic scorer's bar on the fixture."""
    from rlerrorgenerator_spark.linkage.metrics import pairwise_metrics
    from rlerrorgenerator_spark.linkage.models import (
        predict_match_prob,
        train_match_model,
    )
    from rlerrorgenerator_spark.linkage.person_pairs import (
        FEATURE_COLS,
        add_person_features,
        generate_person_pairs,
    )

    persons, dirty, lineage = person_linkage
    pairs = generate_person_pairs(persons, dirty, neg_ratio=3, seed=9)
    feats = add_person_features(pairs, persons, dirty).localCheckpoint(eager=True)
    train, test = feats.randomSplit([0.7, 0.3], seed=13)
    for name in ("svm_linear", "mlp"):
        model = train_match_model(train, FEATURE_COLS, model=name)
        scored = predict_match_prob(model, test, FEATURE_COLS)
        m = pairwise_metrics(scored).collect()[0]
        assert m.f1 >= 0.95, f"{name} F1 {m.f1}"
