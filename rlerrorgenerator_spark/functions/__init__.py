"""Scalar/vectorized function library: string similarity, text
features, Arrow hashing kernels, distributed ranks and group-count
statistics."""

from rlerrorgenerator_spark.functions.similarity import (
    jaro_winkler,
    jaro_winkler_udf,
    norm_levenshtein,
)

__all__ = ["jaro_winkler", "jaro_winkler_udf", "norm_levenshtein"]
