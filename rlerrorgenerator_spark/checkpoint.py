"""Stage checkpoint / resume.

The reference "checkpoints" by writing RDS snapshots of every intermediate
(`/root/reference/benchmarking/utils.R:504-641`,
`paper_flow_dob_latest.Rmd:91-140`). Here: staged table writes +
idempotent skip-if-exists, which is the north rule's "resumable from
checkpoint". The storage format is selected by ``SPARK_GRAFT_CKPT_FORMAT``
(default ``parquet``): on a deployment whose SparkSession has an Iceberg
catalog configured (``spark.sql.catalog.* = org.apache.iceberg.spark.*``
plus the runtime jar), ``SPARK_GRAFT_CKPT_FORMAT=iceberg`` routes every
``stage()``/``load()`` through ``df.write.format('iceberg')`` — the write
API is format-agnostic, so nothing else changes. The sandbox has no
Iceberg runtime jar, so tests exercise the parquet path and the format
resolution itself. Inside iterative loops ``localCheckpoint`` truncates
lineage instead (cheaper, no durability needed between rounds).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def is_committed(spark: SparkSession, path: str, fmt: str = "parquet") -> bool:
    """Whether a table write to ``path`` committed. Resolved through the
    Hadoop ``FileSystem`` of ``path``, so it works for local, ``file://``,
    HDFS and object-store URIs alike (``os.path.exists`` sees only plain
    local paths)."""
    # path-based Iceberg tables mark commit state in metadata/, not a
    # _SUCCESS flag
    marker = "metadata" if fmt == "iceberg" else "_SUCCESS"
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(os.path.join(path, marker))
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


class CheckpointManager:
    """Write-once staged tables under ``base_dir``; resume = read-back.

    ``base_dir=None`` → volatile mode: ``localCheckpoint`` only (tests).
    """

    def __init__(self, spark: SparkSession, base_dir: str | None = None,
                 fmt: str | None = None):
        self.spark = spark
        self.base_dir = base_dir
        # explicit fmt wins; else the SPARK_GRAFT_CKPT_FORMAT env gate
        # (module docstring) — 'iceberg' on catalog-configured clusters
        self.fmt = fmt or os.environ.get("SPARK_GRAFT_CKPT_FORMAT",
                                         "parquet")

    def _path(self, name: str) -> str:
        assert self.base_dir is not None
        return os.path.join(self.base_dir, name)

    def exists(self, name: str) -> bool:
        """Whether stage ``name`` was committed (see :func:`is_committed`)."""
        if self.base_dir is None:
            return False
        return is_committed(self.spark, self._path(name), self.fmt)

    def load(self, name: str, schema: StructType | None = None) -> DataFrame:
        reader = self.spark.read.format(self.fmt)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.load(self._path(name))

    def stage(self, df: DataFrame, name: str) -> DataFrame:
        """Materialize ``df`` as stage ``name`` (skip if already written)
        and return the durable re-read. Volatile mode → localCheckpoint.

        A parquet stage is re-read with ``df``'s schema, so the reload
        runs no schema-inference job; Iceberg loads from its metadata.
        """
        if self.base_dir is None:
            return df.localCheckpoint(eager=True)
        if not self.exists(name):
            df.write.mode("overwrite").format(self.fmt).save(self._path(name))
        return self.load(name, df.schema if self.fmt == "parquet" else None)
