"""Crawl-to-crawl delta: adjudicate added / removed / changed / unchanged
documents between two snapshots of the same url space.

A recurring web-scale ingestion question: given last month's processed
crawl and this month's raw crawl, which documents are NEW work? Re-running
the full quality pipeline over 10^12 mostly-unchanged documents wastes the
cluster; the delta is usually a few percent. soda-core frames the analogue
as a reconciliation/row-count drift check between two datasets (reference:
soda-core/src/soda_core/contracts/impl/check_types/row_count_check.py
compares one dataset against a threshold; the two-sided diff is the
extension a crawl pipeline needs).

Scale shape: ONE full-outer join on the snapshot key (url). Both sides
hash-partition on the same key, so with bucketed snapshot tables
(sources/bucketing.py) the join is Exchange-free; otherwise it is a single
symmetric shuffle — there is no cheaper complete diff. Fingerprints are
compared as equality on precomputed digests (md5 of the content), never by
re-reading content, so row width through the shuffle is key + 2 digests.
The output feeds directly into incremental processing: ``status IN
('added','changed')`` is the work set, ``'removed'`` drives retention
deletes, ``'unchanged'`` carries forward prior results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def crawl_delta(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "url",
    fingerprint_col: str = "fingerprint",
    status_col: str = "status",
) -> DataFrame:
    """Full-outer diff of two snapshots keyed by ``key_col``: returns
    (key, old_fp, new_fp, status) with status in {'added', 'removed',
    'changed', 'unchanged'}. Each input must have at most one row per
    key (a snapshot); fingerprints should be non-NULL digests — a NULL
    fingerprint on a present row is treated as a distinct value (NULL-
    safe compare), not as absence.
    """
    o = old.select(
        F.col(key_col).alias(key_col),
        F.col(fingerprint_col).alias("old_fp"),
        F.lit(True).alias("__cd_in_old"),
    )
    n = new.select(
        F.col(key_col).alias(key_col),
        F.col(fingerprint_col).alias("new_fp"),
        F.lit(True).alias("__cd_in_new"),
    )
    joined = o.join(n, key_col, "full_outer")
    status = (
        F.when(F.col("__cd_in_old").isNull(), F.lit("added"))
        .when(F.col("__cd_in_new").isNull(), F.lit("removed"))
        .when(F.col("old_fp").eqNullSafe(F.col("new_fp")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        key_col, "old_fp", "new_fp", status.alias(status_col)
    )


def delta_summary(delta: DataFrame, status_col: str = "status") -> DataFrame:
    """Tiny per-status rollup of :func:`crawl_delta` output — the number
    an ingestion dashboard actually plots (one partial-agg groupBy over
    a 4-value key; no skew concern at any scale)."""
    return delta.groupBy(status_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


def incremental_work_set(
    delta: DataFrame,
    new: DataFrame,
    key_col: str = "url",
    status_col: str = "status",
) -> DataFrame:
    """The rows of ``new`` that actually need (re)processing: keys whose
    delta status is 'added' or 'changed'. A broadcast-friendly semi-join
    when the delta is small relative to the crawl (the common case);
    Spark's AQE converts it automatically when the filtered delta fits
    the broadcast threshold."""
    keys = delta.where(
        F.col(status_col).isin("added", "changed")
    ).select(key_col)
    return new.join(keys, key_col, "left_semi")
