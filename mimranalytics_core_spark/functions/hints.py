"""Size-conditional plan hints (100 TB posture).

An unconditional ``F.broadcast`` on a corpus-sized frame is a latent OOM: it
works at test scale and kills every executor at 100 TB. These helpers make
the hint conditional on an estimate of the source footprint, falling back to
an unhinted join (shuffle on the join key; AQE may still broadcast
genuinely-small sides at runtime).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Safety factor when estimating an in-memory relation from its compressed
# parquet source bytes (decompression + row overhead).
CORPUS_INFLATION = 4

THRESHOLD_CONF = "spark.mimranalytics.broadcast_threshold_bytes"
DEFAULT_THRESHOLD = 128 * 1024 * 1024  # well under a healthy executor heap


def source_bytes(df: DataFrame) -> int | None:
    """On-disk bytes of ``df``'s input files, or None if unknowable."""
    try:
        files = df.inputFiles()
        if not files:
            return None
        return sum(os.path.getsize(p.removeprefix("file:")) for p in files)
    except Exception:  # views/streams/in-memory relations
        return None


def broadcast_if_small(
    spark: SparkSession, source_df: DataFrame, hinted_df: DataFrame
) -> DataFrame:
    """Broadcast-hint ``hinted_df`` only when ``source_df``'s footprint
    (× CORPUS_INFLATION) is under ``spark.mimranalytics.broadcast_threshold_bytes``.
    Unknown size counts as too big."""
    threshold = int(spark.conf.get(THRESHOLD_CONF, str(DEFAULT_THRESHOLD)))
    est = source_bytes(source_df)
    if est is not None and est * CORPUS_INFLATION <= threshold:
        return F.broadcast(hinted_df)
    return hinted_df


def source_rows(df: DataFrame) -> int | None:
    """Row count of ``df``'s parquet input files from footer metadata —
    driver-side, no job. None if the inputs are not plain parquet files.
    Compressed bytes are a poor scale proxy for replicated fixtures
    (columnar encoding collapses duplicates), so row-count gates use this
    instead of :func:`source_bytes`.

    Assumes ``df`` reads ONE source table: the footers of every file in
    ``df.inputFiles()`` are summed, so a join or union of several tables
    counts all of their rows. Callers gate on a single base table (the
    graph snapshot sums three single-table calls); passing a multi-table
    plan only inflates the count, which turns a gate off, never on."""
    try:
        import pyarrow.parquet as pq

        files = df.inputFiles()
        if not files:
            return None
        return sum(
            pq.ParquetFile(p.removeprefix("file:")).metadata.num_rows
            for p in files
        )
    except Exception:  # views/streams/non-parquet relations
        return None
