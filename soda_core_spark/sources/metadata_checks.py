"""Metadata-only contract verification — footer statistics instead of a
data scan.

At 100 TB the cheapest scan is the one that never reads a row: parquet
footers already carry exact per-row-group row counts and null counts,
so ``row_count`` and ``missing`` (NULL-definition) checks can evaluate
from pure driver-side metadata I/O — milliseconds against any corpus
size, no executors involved. This is the engine's analogue of
metadata-driven monitoring on warehouse backends (the reference's
dataset row-count discovery reads catalog metadata the same way;
``data-source discover``, cli/cli.py:446-548) and of Iceberg's
manifest-level stats.

Semantics are deliberately conservative:

* ``row_count`` — exact from footers (parquet row counts are not
  optional statistics).
* ``missing`` with the default NULL definition and NO custom values /
  filter / column_expression — exact from footer ``null_count`` when
  every row group carries it; any row group without the statistic →
  NOT_EVALUATED (never a guess).
* ``freshness`` with no filter / column_expression — exact from the
  footer MAX of the timestamp column (parquet min/max statistics for
  timestamps are never truncated, unlike strings), with the identical
  now − max(ts) unit-floor arithmetic as the scan path; any row group
  without the statistic → NOT_EVALUATED.
* ``schema`` — exact from the footer file schema converted to the same
  ``StructType`` the scan would produce; the diff is the scan engine's
  own :func:`~soda_core_spark.operators.checks.schema_diff`, so the two
  paths cannot disagree. Multiple files must agree on their schema or
  the check is NOT_EVALUATED (a mixed-schema directory has no single
  answer without a scan's mergeSchema decision).
* every other check type (or a missing check with custom semantics) →
  NOT_EVALUATED with a "requires a data scan" message — run the full
  engine for those; the result object says exactly which checks still
  need it.

The outcome/threshold/identity machinery is the SAME code the scan
engine uses (operators/checks.py helpers), so a check passes here iff
it would pass a full scan when the statistics cover it.
"""

from __future__ import annotations

import glob
import math
import os
from datetime import datetime, timezone
from typing import Optional

from pyspark.sql import SparkSession

from soda_core_spark.operators.checks import (
    _FRESHNESS_DIVISORS,
    _outcome,
    _schema_outcome,
    schema_diff,
)
from soda_core_spark.plans.model import Contract
from soda_core_spark.plans.results import (
    CheckOutcome,
    CheckResult,
    ContractVerificationResult,
    check_identity,
)


def parquet_footer_stats(path: str) -> tuple[int, dict[str, int | None]]:
    """(total_rows, {column: exact_null_count_or_None}) from parquet
    footers only. A column maps to None when ANY row group lacks the
    null-count statistic — partial statistics must not masquerade as
    exact counts."""
    import pyarrow.parquet as pq

    files = (
        sorted(glob.glob(os.path.join(path, "*.parquet")))
        if os.path.isdir(path)
        else [path]
    )
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    total = 0
    nulls: dict[str, int | None] = {}
    for f in files:
        md = pq.read_metadata(f)
        total += md.num_rows
        names = list(md.schema.names)
        for rg in range(md.num_row_groups):
            for ci in range(md.row_group(rg).num_columns):
                col = names[ci]
                st = md.row_group(rg).column(ci).statistics
                if st is None or st.null_count is None:
                    nulls[col] = None
                elif nulls.get(col, 0) is not None:
                    nulls[col] = nulls.get(col, 0) + st.null_count
    return total, nulls


def parquet_footer_bounds(path: str) -> dict[str, tuple]:
    """{column: (min, max)} from footers; a column is absent when any
    row group lacks min-max statistics."""
    import pyarrow.parquet as pq

    files = (
        sorted(glob.glob(os.path.join(path, "*.parquet")))
        if os.path.isdir(path)
        else [path]
    )
    bounds: dict[str, tuple | None] = {}
    for f in files:
        md = pq.read_metadata(f)
        names = list(md.schema.names)
        for rg in range(md.num_row_groups):
            for ci in range(md.row_group(rg).num_columns):
                col = names[ci]
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    bounds[col] = None
                    continue
                cur = bounds.get(col)
                if cur is None and col in bounds:
                    continue
                lo = st.min if cur is None else min(cur[0], st.min)
                hi = st.max if cur is None else max(cur[1], st.max)
                bounds[col] = (lo, hi)
    return {c: b for c, b in bounds.items() if b is not None}


def _bounds_only_invalid(check) -> tuple | None:
    """(valid_min, valid_max) when the check's validity config is ONLY
    numeric bounds (either side optional) — the subset footer min/max
    can reason about; None otherwise."""
    v = getattr(check, "validity", None)
    if v is None:
        return None
    others = any(
        getattr(v, k, None) is not None
        for k in (
            "valid_values",
            "invalid_values",
            "valid_format",
            "invalid_format",
            "valid_min_length",
            "valid_max_length",
            "valid_length",
        )
    )
    lo = getattr(v, "valid_min", None)
    hi = getattr(v, "valid_max", None)
    if others or (lo is None and hi is None):
        return None
    if getattr(check, "filter", None) or getattr(check, "column_expression", None):
        return None
    return (lo, hi)


def parquet_footer_schema(path: str):
    """The files' Spark ``StructField`` list from footers only (no
    scan), via the same arrow→Spark type mapping the scan reader uses.
    Returns ``None`` when the directory's files disagree on schema —
    a mixed directory has no single footer answer (the scan path's
    result there depends on its merge policy, so guessing would break
    the equal-to-full-scan guarantee)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    files = (
        sorted(glob.glob(os.path.join(path, "*.parquet")))
        if os.path.isdir(path)
        else [path]
    )
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    arrow_schema = None
    for f in files:
        s = pq.read_metadata(f).schema.to_arrow_schema()
        if arrow_schema is None:
            arrow_schema = s
        elif not s.equals(arrow_schema):
            return None
    return list(from_arrow_schema(arrow_schema).fields)


def _plain_freshness(check) -> bool:
    """True when the footer MAX can stand in for the scan's MAX: no
    filter, no column_expression (both would change which rows count)."""
    return (
        not getattr(check, "filter", None)
        and not getattr(check, "column_expression", None)
    )


def _plain_missing(check) -> bool:
    """True when the check's missing semantics are exactly SQL NULL —
    the one definition footer null counts measure."""
    m = getattr(check, "missing", None)
    configured = m.is_configured() if m is not None else False
    return (
        not configured
        and not getattr(check, "filter", None)
        and not getattr(check, "column_expression", None)
    )


def verify_contract_metadata_only(
    spark: SparkSession,
    contract: Contract,
    path: str,
    data_timestamp: Optional[datetime] = None,
) -> ContractVerificationResult:
    """Evaluate the metadata-expressible subset of ``contract`` against
    the parquet footers at ``path`` (file or directory). Returns the
    standard result object; checks needing a data scan come back
    NOT_EVALUATED with an explanatory message. ``data_timestamp`` is
    freshness's "now" (same contract as the scan engine's): when a
    freshness check's footer max IS available but the timestamp is not,
    the check FAILS outright — the scan path's own semantics."""
    total, nulls = parquet_footer_stats(path)
    bounds = parquet_footer_bounds(path)
    footer_fields = parquet_footer_schema(path)
    results: list[CheckResult] = []
    for check in contract.all_checks():
        ident = check_identity(
            contract.dataset,
            check.type,
            check.column,
            check.qualifier,
            ",".join(check.columns) if check.columns else None,
        )
        value = None
        message = None
        forced_outcome = None
        diagnostics: dict = {"source": "parquet-footer"}
        if check.type == "row_count" and not getattr(check, "filter", None):
            value = float(total)
        elif check.type == "schema":
            if footer_fields is None:
                message = (
                    "files disagree on footer schema — requires a data "
                    "scan (mergeSchema decides)"
                )
            else:
                problems, sdiag = schema_diff(
                    check, contract.columns, footer_fields, None
                )
                value = float(problems)
                diagnostics.update(sdiag)
                forced_outcome = _schema_outcome(check, problems)
        elif check.type == "freshness" and _plain_freshness(check):
            b = bounds.get(check.column)
            if b is None:
                message = "footer min-max statistic unavailable"
            elif not isinstance(b[1], datetime):
                message = (
                    f"column {check.column!r} footer max is not a timestamp"
                )
            else:
                max_ts = b[1]
                if max_ts.tzinfo is None:
                    max_ts = max_ts.replace(tzinfo=timezone.utc)
                now = data_timestamp
                if now is not None and now.tzinfo is None:
                    now = now.replace(tzinfo=timezone.utc)
                if now is None:
                    # scan-path semantics (freshness_check.py:208-209):
                    # max is known, "now" is not → FAILED outright
                    forced_outcome = CheckOutcome.FAILED
                    message = (
                        "freshness not computable: missing max timestamp "
                        "or data_timestamp"
                    )
                    diagnostics["maxTimestamp"] = max_ts.isoformat()
                else:
                    delta_s = (now - max_ts).total_seconds()
                    value = float(
                        math.floor(delta_s / _FRESHNESS_DIVISORS[check.unit])
                    )
                    diagnostics.update(
                        {
                            "maxTimestamp": max_ts.isoformat(),
                            "now": now.isoformat(),
                            "freshnessMs": int(delta_s * 1000),
                            "unit": check.unit,
                        }
                    )
        elif check.type == "missing" and _plain_missing(check):
            nc = nulls.get(check.column) if check.column else None
            if check.column not in nulls:
                message = f"column {check.column!r} not in footer schema"
            elif nc is None:
                message = "footer null-count statistic incomplete"
            elif getattr(check, "metric", "") == "percent":
                value = 100.0 * nc / total if total else 0.0
            else:
                value = float(nc)
        elif check.type == "invalid" and _bounds_only_invalid(check):
            lo, hi = _bounds_only_invalid(check)
            b = bounds.get(check.column)
            if b is None:
                message = "footer min-max statistic unavailable"
            else:
                col_lo, col_hi = b
                try:
                    proven = (lo is None or float(col_lo) >= float(lo)) and (
                        hi is None or float(col_hi) <= float(hi)
                    )
                except (TypeError, ValueError):
                    proven = False
                    message = "column bounds are not numeric"
                if proven:
                    # the bounds PROVE zero out-of-range values; footers
                    # cannot COUNT violations, so anything else defers
                    value = 0.0
                    diagnostics["proof"] = f"bounds [{col_lo}, {col_hi}]"
                elif message is None:
                    message = (
                        "bounds cannot prove zero invalid — requires a "
                        "data scan"
                    )
        else:
            message = "requires a data scan (run verify_contract)"
        results.append(
            CheckResult(
                identity=ident,
                check_type=check.type,
                name=check.default_name(),
                column=check.column,
                outcome=(
                    _outcome(check, value)
                    if forced_outcome is None
                    else forced_outcome
                ),
                metric_value=value,
                threshold=check.threshold.describe(),
                level=check.level,
                diagnostics=diagnostics,
                message=message,
                metric_unavailable=value is None,
            )
        )
    return ContractVerificationResult(
        dataset=contract.dataset, check_results=results, measurements=[]
    )
