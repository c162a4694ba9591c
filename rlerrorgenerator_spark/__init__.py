"""rlerrorgenerator_spark — a PySpark-native record-linkage benchmark engine.

A from-scratch reimplementation of the *capabilities* of
pinformatics/rlErrorGeneratoR (an R package for generating record-linkage
benchmarks by injecting controlled errors into clean tables, then linking
the dirty copy back and evaluating linkage quality) — re-architected as
idiomatic PySpark:

- deterministic, seeded, partition-invariant error injection
  (``operators/``) producing a dirty table + a ground-truth lineage table
  (reference: ``R/1_error.R`` .. ``R/7_dob_errors.R``);
- blocking (exact keys, sorted-neighborhood, MinHash-LSH), batched pairwise
  scoring, 1-to-1 resolution and transitive clustering (``linkage/``)
  (reference: ``benchmarking/utils.R:502-645,189-311,426-470``);
- evaluation metrics (F1/precision/recall/Brier) (``linkage/metrics.py``,
  reference: ``benchmarking/utils.R:1005-1081``);
- single-table document dedup (exact / n-gram Jaccard / MinHash /
  SimHash) and the text features it uses (``linkage/dedup.py``,
  ``functions/textops.py``).

Everything is DataFrame-first: Catalyst plans + built-in functions on the
hot path, Arrow-batched pandas UDFs where string surgery is unavoidable,
never row-at-a-time Python UDFs.
"""

from rlerrorgenerator_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
