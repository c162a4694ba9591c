"""The workloads: batch page linkage and the reference persons program.

Each workload generates its inputs from the seed in ``setup_inputs``
(called more than once, so set-up time is a median), runs one closed-loop
operation per ``run`` call through the package's public functions, and
grades that operation in ``check``, outside the timed region. Call sites
that the traced run routes through spans are listed in ``patches``.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter

from pyspark.sql import functions as F

import grader

from rlerrorgenerator_spark.checkpoint import CheckpointManager
from rlerrorgenerator_spark import pipeline
from rlerrorgenerator_spark.linkage import blocking, incremental, resolve
from rlerrorgenerator_spark.linkage.person_pairs import (
    FEATURE_COLS,
    add_person_features,
    generate_person_pairs,
)
from rlerrorgenerator_spark.operators import ErrorConfigRow, mess_data
from rlerrorgenerator_spark.pipeline import default_error_config, run_linkage
from rlerrorgenerator_spark.sources.pages import prep_pages, synth_pages
from rlerrorgenerator_spark.sources.persons import (
    get_bdays,
    nickname_lookup,
    surname_dim,
    synth_persons,
)
from rlerrorgenerator_spark.streaming import linkage_stream

# Common-Crawl text density: KB-scale page bodies.
BODY_TOKENS = (200, 600)
# Sized so that a whole run, Spark start included, stays under a minute
# on a 4-slot box: fixed per-job costs dominate at this size (a warm link
# pass over 2k pages takes about 10 s, over 20k pages 23 s).
LINK_PAGES = 2000
# generate_person_pairs' single-field joins grow with the square of the
# first-name block size; 20k persons took 75-98 s in that step alone.
PERSONS = 800
FILES = 8

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


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _count(key):
    return lambda args, out: {key: out.count()}


def _edges(args, out):
    return {"edges": args[0].count()}


BLOCKING_PATCHES = [
    (blocking, "exact_blocks", "blocking.exact", True, None),
    (blocking, "sorted_neighborhood_blocks", "blocking.snm", True, None),
    (blocking, "minhash_blocks", "blocking.minhash", True, None),
]


class Workload:
    name = ""

    def __init__(self, spark, tracer, seed: int, work: str,
                 store: grader.FingerprintStore):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.work = os.path.join(work, self.name)
        os.makedirs(self.work)
        self.reference: dict[str, tuple] = {}
        self.store = store
        self.quality: dict[str, list[float]] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def same_as_before(self, key: str, fp: tuple) -> bool:
        """Fingerprints of one output must not change between repetitions
        of the same code on the same input, in this run or in an earlier
        run of the same seed."""
        in_run = self.reference.setdefault(key, fp) == fp
        return self.store.same(key, fp) and in_run

    def note(self, **values: float) -> None:
        for k, v in values.items():
            self.quality.setdefault(k, []).append(v)

    def traced_extras(self) -> list[str]:
        """Extra checks and spans a traced run adds after its first
        operation."""
        return []

    def prepare(self, i: int) -> None:
        pass

    def check_inputs(self) -> tuple[list[str], dict]:
        return [], {}


class LinkPages(Workload):
    """Link a persisted dirty pages table back to its clean table."""

    name = "link_pages"

    def setup_inputs(self) -> None:
        sp = self.tracer.span
        with sp("sources.synth_pages"):
            (synth_pages(self.spark, LINK_PAGES, seed=self.seed,
                         body_tokens=BODY_TOKENS)
             .repartition(FILES).write.mode("overwrite")
             .parquet(self.path("pages")))
        with sp("operators.mess_data"):
            dirty, self.lineage = mess_data(self.clean(),
                                            default_error_config(),
                                            seed=self.seed, exact=False)
            dirty.repartition(FILES).write.mode("overwrite") \
                .parquet(self.path("dirty"))

    def clean(self):
        return prep_pages(self.spark.read.parquet(self.path("pages"))) \
            .drop("html")

    def dirty(self):
        return self.spark.read.parquet(self.path("dirty"))

    def check_inputs(self) -> tuple[list[str], dict]:
        """The injected table and its lineage must come out the same on
        every set-up."""
        bad = []
        if not self.same_as_before("dirty", grader.fingerprint(self.dirty())):
            bad.append("dirty table fingerprint changed between set-ups")
        lineage = grader.fingerprint(self.lineage)
        if not self.same_as_before("lineage", lineage):
            bad.append("lineage fingerprint changed between set-ups")
        return bad, {"lineage_rows": lineage[0]}

    def setup_once(self) -> None:
        self.truth = dict(grader.pairs(self.dirty(), "rid", "orig_url"))
        self.rows = len(self.truth)

    def fold(self, batch) -> None:
        linkage_stream.fold_batch(self.clean(), batch, self.path("clusters"))

    def folded(self) -> list[tuple]:
        clusters = self.spark.read.parquet(self.path("clusters"))
        return sorted(grader.pairs(clusters, "id", "cluster_id"))

    def traced_extras(self) -> list[str]:
        """Fold the whole dirty table into an empty clusters table, which
        must equal the first operation's monolithic linkage, then fold a
        2% batch of it again, which may change no label. The second fold
        times the incremental layer on a small batch against the whole
        history."""
        tracer = self.tracer
        problems = []
        expected = sorted(grader.pairs(self.clusters, "id", "cluster_id"))
        self.fold(self.dirty())
        if self.folded() != expected:
            problems.append("folding the dirty table did not reproduce the "
                            "monolithic linkage")
        batch = self.dirty().where(F.pmod(F.xxhash64("rid"), F.lit(50)) == 0)
        with tracer.span("setup.fold") as unit:
            prior = self.spark.read.parquet(self.path("clusters"))
            unit.counts["prior_edges"] = prior.where(
                F.col("id") != F.col("cluster_id")).count()
            with tracer.patched(self.fold_patches()):
                with tracer.span("incremental.fold_batch"):
                    self.fold(batch)
            unit.counts["fold_bytes"] = (
                dir_bytes(self.path("clusters"))
                + dir_bytes(self.path("clusters__next")))
        if self.folded() != expected:
            problems.append("re-folding a linked batch changed the clusters "
                            "table")
        return problems

    def fold_patches(self) -> list:
        return [
            (linkage_stream, "link_increment", "incremental.link_increment",
             True, None),
            (incremental, "build_candidates", "blocking.build_candidates",
             True, _count("candidates")),
            *BLOCKING_PATCHES,
            (incremental, "score_pairs", "features.score_pairs", True, None),
            (incremental, "connected_components",
             "resolve.connected_components", True, _edges),
        ]

    def patches(self) -> list:
        return [
            (pipeline, "build_candidates", "blocking.build_candidates", True,
             _count("candidates")),
            *BLOCKING_PATCHES,
            (pipeline, "score_pairs", "features.score_pairs", True, None),
            (pipeline, "pairwise_metrics", "metrics.pairwise_metrics", True,
             None),
            (pipeline, "clusters_from_links", "resolve.clusters_from_links",
             True, None),
            (resolve, "connected_components", "resolve.connected_components",
             True, _edges),
            (CheckpointManager, "stage", "checkpoint.stage", False, None),
        ]

    def run(self, i: int) -> int:
        res = run_linkage(
            self.spark, pages=self.spark.read.parquet(self.path("pages")),
            dirty_pages=self.dirty())
        self.metrics_row = res.metrics.collect()[0]
        self.clusters = res.clusters.localCheckpoint(eager=True)
        self.res = res
        return self.rows

    def check(self, i: int) -> tuple[bool, dict]:
        res = self.res
        g = grader.grade_scored(
            self.truth, grader.pairs(res.candidates, "rid_a", "rid_b"),
            grader.pairs(res.scored, "rid_a", "rid_b", "prediction"))
        clusters = grader.pairs(self.clusters, "id", "cluster_id")
        g["cluster_exact_frac"] = grader.cluster_exact_frac(
            self.truth, dict(clusters))
        self.note(pair_f1=g["pair_f1"], blocking_recall=g["blocking_recall"],
                  cluster_exact_frac=g["cluster_exact_frac"])
        ok = (abs(g["pair_f1"] - self.metrics_row.f1) < 1e-9
              and g["pair_f1"] >= 0.99
              and self.same_as_before("candidates",
                                      grader.fingerprint(res.candidates))
              and self.same_as_before("clusters",
                                      grader.fingerprint(self.clusters)))
        counts = {"useful_frac": g["useful_frac"],
                  "accept_frac": g["accept_frac"]}
        return ok, counts


class PersonsReference(Workload):
    """The reference's own domain and error program, exact-k with a
    durable checkpoint, through labeled 23-feature pairs."""

    name = "persons_reference"

    def setup_inputs(self) -> None:
        with self.tracer.span("sources.synth_persons"):
            get_bdays(synth_persons(self.spark, PERSONS, seed=self.seed),
                      seed=self.seed).repartition(FILES) \
                .write.mode("overwrite").parquet(self.path("persons"))

    def setup_once(self) -> None:
        persons = self.spark.read.parquet(self.path("persons"))
        self.clean_vrn = dict(grader.pairs(persons, "rid", "voter_reg_num"))
        self.twin_of = {r: t for r, t in grader.pairs(persons, "rid",
                                                       "twin_id")
                        if t is not None}
        self.clean_keys = grader.pairs(persons, "fname", "lname", "dob")
        self.input_bytes = dir_bytes(self.path("persons"))
        self.expected = grader.expected_lineage(PERSON_PROGRAM, PERSONS)
        self.lookups = {"lookup": nickname_lookup(self.spark),
                        "surnames": surname_dim(self.spark)}

    def prepare(self, i: int) -> None:
        shutil.rmtree(self.path(f"ckpt{i - 1}"), ignore_errors=True)

    def patches(self) -> list:
        return [(CheckpointManager, "stage", "checkpoint.stage", False, None)]

    def run(self, i: int) -> int:
        sp = self.tracer.span
        persons = self.spark.read.parquet(self.path("persons"))
        with sp("operators.mess_data"):
            dirty, lineage = mess_data(
                persons, PERSON_PROGRAM, seed=self.seed, lookups=self.lookups,
                exact=True,
                ckpt=CheckpointManager(self.spark, self.path(f"ckpt{i}")))
        with sp("person_pairs.generate"):
            pairs = generate_person_pairs(persons, dirty)
            if self.tracer.enabled:
                pairs = pairs.localCheckpoint(eager=True)
        with sp("person_pairs.features"):
            self.features = add_person_features(pairs, persons, dirty) \
                .localCheckpoint(eager=True)
        self.dirty, self.lineage, self.labeled = dirty, lineage, pairs
        return PERSONS

    def check(self, i: int) -> tuple[bool, dict]:
        dirty, lineage = self.dirty, self.lineage
        labeled = grader.pairs(self.labeled, "rid_a", "rid_b", "label")
        g = grader.grade_person_pairs(
            self.clean_vrn, dict(grader.pairs(dirty, "rid", "voter_reg_num")),
            labeled)
        self.note(**g)
        lineage_rows = grader.pairs(lineage, "ts", "error", "rid")
        ok = (g["pair_f1"] == 1.0 and g["blocking_recall"] == 1.0
              and self._lineage_ok(lineage_rows)
              and all(c in self.features.columns for c in FEATURE_COLS)
              and len(FEATURE_COLS) == 23
              and self.same_as_before("dirty", grader.fingerprint(dirty))
              and self.same_as_before("lineage", grader.fingerprint(lineage))
              and self.same_as_before("features",
                                      grader.fingerprint(self.features)))
        block_pairs = self._block_pairs(
            grader.pairs(dirty, "fname", "lname", "dob"))
        counts = {"lineage_rows": len(lineage_rows),
                  "ckpt_bytes": dir_bytes(self.path(f"ckpt{i}")),
                  "input_bytes": self.input_bytes,
                  "block_pairs": block_pairs,
                  "kept_frac": len(labeled) / max(block_pairs, 1)}
        return ok, counts

    def _lineage_ok(self, rows) -> bool:
        """Every exact-k operator records exactly k edits. Two operators
        define k differently: ``date_replace`` drops the edits that left a
        date unchanged, so it records at most k, and ``make_twins`` picks k
        twin groups and records one row per member."""
        by_ts: dict[int, list] = {}
        for ts, error, rid in rows:
            by_ts.setdefault(ts, []).append((error, rid))
        for ts, (op, k) in self.expected.items():
            got = by_ts.get(ts, [])
            if op == "make_twins":
                if len({self.twin_of.get(r) for _, r in got}) != k:
                    return False
            elif op == "date_replace":
                if not 0 < len(got) <= k:
                    return False
            elif len(got) != k:
                return False
        return True

    def _block_pairs(self, dirty_keys) -> int:
        """Pairs the fname, lname and dob equi-joins enumerate."""
        total = 0
        for f in range(3):
            a = Counter(k[f] for k in self.clean_keys)
            b = Counter(k[f] for k in dirty_keys)
            total += sum(n * b[v] for v, n in a.items())
        return total


WORKLOADS = {w.name: w for w in (LinkPages, PersonsReference)}
