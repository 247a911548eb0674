"""CSV sources with the reference's ingestion semantics (S1-S4).

Reference behavior being reproduced (Spark-first, not a port):

- S1 single-file scan: validate ``.csv`` suffix case-insensitively else
  ``ValueError``; missing path -> ``FileNotFoundError``; header row +
  full type inference (reference src/ingest.py:12-21, api.py:36-40).
- S2 directory scan: non-recursive, skip dotfiles, keep ``.csv`` any
  case, align columns BY NAME across heterogeneous files (missing ->
  null), error if no readable file (reference src/ingest.py:23-36).
- S3 error tolerance: a file that fails to parse is logged and
  skipped, the pipeline continues (reference src/ingest.py:27-32).

Spark mapping: ``spark.read.csv`` is lazy/distributed/splittable; the
by-name alignment uses per-file readers + ``unionByName(
allowMissingColumns=True)`` because a single multi-path read aligns by
position. Per-file error tolerance resolves each file's schema eagerly:
with ``inferSchema`` that is two Spark jobs per file, a header read
plus a full inference scan. The probes are independent, so they run
concurrently on a thread pool; the union still follows sorted file
order, so the first file fixes the column order.

At scale: a directory of homogeneous CSVs should use the single
``spark.read.csv(dir)`` path (one distributed scan, no union plan);
``read_csv_dir`` keeps the reference's tolerant/heterogeneous
semantics for ragged inputs.
"""

from __future__ import annotations

import logging
import os
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

logger = logging.getLogger(__name__)


def _validate_csv_path(path: str) -> None:
    if not os.path.exists(path):
        raise FileNotFoundError(f"Path not found: {path}")
    if os.path.isfile(path) and not path.lower().endswith(".csv"):
        raise ValueError(f"Not a CSV file: {path}")


def read_csv(
    spark: SparkSession,
    path: str,
    header: bool = True,
    infer_schema: bool = True,
    schema=None,
) -> DataFrame:
    """Single-file CSV scan (reference S1). Explicit ``schema`` beats
    inference for production determinism; inference kept as the
    reference-parity default."""
    _validate_csv_path(path)
    reader = spark.read.option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", infer_schema)
    return reader.csv(path)


def read_csv_dir(
    spark: SparkSession,
    dir_path: str,
    header: bool = True,
    infer_schema: bool = True,
) -> DataFrame:
    """Tolerant non-recursive directory scan with by-name column
    alignment (reference S2+S3)."""
    if not os.path.isdir(dir_path):
        raise FileNotFoundError(f"Directory not found: {dir_path}")
    names = sorted(
        f
        for f in os.listdir(dir_path)
        if not f.startswith(".")
        and f.lower().endswith(".csv")
        and os.path.isfile(os.path.join(dir_path, f))
    )

    # run on pool threads with the caller's job group and tags
    @inheritable_thread_target(spark)
    def probe(name: str) -> DataFrame | None:
        full = os.path.join(dir_path, name)
        try:
            df = read_csv(spark, full, header=header, infer_schema=infer_schema)
            # force header/schema resolution now so a corrupt file is
            # caught here and skipped, like the reference's per-file try
            _ = df.schema
            return df
        except Exception as exc:  # noqa: BLE001 - reference skips any per-file failure
            logger.warning("Skipping unreadable CSV %s: %s", full, exc)
            return None

    workers = max(1, min(len(names), spark.sparkContext.defaultParallelism))
    with ThreadPoolExecutor(max_workers=workers) as ex:
        frames = [df for df in ex.map(probe, names) if df is not None]
    if not frames:
        raise FileNotFoundError(f"No readable CSV files in: {dir_path}")
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)
