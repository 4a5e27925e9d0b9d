"""Check operators: each check type plans metrics and evaluates outcomes.

Re-expresses the reference's 9 core check types
(``soda-core/src/soda_core/contracts/impl/check_types/check_types.py:14-114``)
over native Spark plans:

* every aggregation metric becomes one aliased expression inside a single
  fused ``df.agg(...)`` (the reference's AggregationQuery batching,
  ``contract_verification_impl.py:1577-1644``, without the SQL-length limit),
* reference-data validity becomes a broadcast **left-anti join**
  (the reference emits ``LEFT JOIN ... WHERE ref IS NULL``,
  ``invalidity_check.py:287-338`` — anti-join is the idiomatic Spark form),
* schema checks are a pure-Python ``df.schema`` diff (the reference
  introspects information_schema / DESCRIBE, ``schema_check.py:83-262``),
* derived metrics (percent, duplicate_count) are driver-side arithmetic
  with None-propagation so a failed upstream metric yields NOT_EVALUATED,
  never a false PASS (ref ``gather_dependency_values`` :1488-1497).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Callable, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from soda_core_spark.operators.compiler import (
    check_filter_col,
    combined_key,
    count_if,
    is_invalid_col,
    is_missing_col,
    value_col,
)
from soda_core_spark.plans.model import CheckSpec, Contract
from soda_core_spark.plans.results import (
    CheckOutcome,
    CheckResult,
    check_identity,
)


# ---------------------------------------------------------------------------
# Metric planning primitives
# ---------------------------------------------------------------------------


@dataclass
class AggMetric:
    """One aggregate expression destined for the fused ``df.agg``.

    ``key`` is the dedup identity — the reference dedupes metrics by an
    identity hash over (type, dataset, column, filter, validity, expression)
    (``contract_verification_impl.py:1356-1436``); metrics shared by several
    checks (e.g. missing_count used by missing+invalid+duplicate) are
    computed once and fanned out.
    """

    key: str
    name: str
    build: Callable[[], Column]
    coerce_zero: bool = False  # SUM over zero rows is NULL; reference coerces to 0


@dataclass
class SideQuery:
    """A metric that needs its own Spark job (reference-data anti-join,
    user metric query) — the reference's dedicated query roundtrips
    (``invalidity_check.py:255-256``, ``metric_check.py:152-199``)."""

    key: str
    name: str
    run: Callable[["CheckContext"], Any]


@dataclass
class CheckContext:
    spark: SparkSession
    contract: Contract
    df: DataFrame  # unfiltered dataset
    filtered: DataFrame  # dataset under the contract-level filter
    datasets: dict[str, DataFrame] = field(default_factory=dict)
    data_timestamp: Optional[datetime] = None
    #: actual primary-key columns (sorted) from source introspection —
    #: None means the source doesn't introspect PKs (parquet/views),
    #: mirroring reference metadata_types.py:95-97
    primary_keys: Optional[list[str]] = None

    def now_utc(self) -> Optional[datetime]:
        ts = self.data_timestamp
        if ts is None:
            return None
        if ts.tzinfo is None:
            return ts.replace(tzinfo=timezone.utc)
        return ts.astimezone(timezone.utc)


@dataclass
class CheckPlan:
    check: CheckSpec
    metrics: list[AggMetric] = field(default_factory=list)
    side_queries: list[SideQuery] = field(default_factory=list)
    evaluate: Callable[[dict[str, Any], CheckContext], CheckResult] = None  # type: ignore


# ---------------------------------------------------------------------------
# Shared metric builders
# ---------------------------------------------------------------------------


def _fkey(check: CheckSpec) -> str:
    return check.filter or ""


def rows_metric(check: CheckSpec) -> AggMetric:
    """check_rows_tested — COUNT(*) under the check filter."""
    f = check_filter_col(check)
    key = f"rows|{_fkey(check)}"
    if f is not None:
        return AggMetric(key, "check_rows_tested", lambda: count_if(check_filter_col(check)), True)
    return AggMetric(key, "check_rows_tested", lambda: F.count(F.lit(1)), True)


def dataset_rows_metric() -> AggMetric:
    return AggMetric("rows|", "dataset_rows_tested", lambda: F.count(F.lit(1)), True)


def missing_metric(check: CheckSpec) -> AggMetric:
    col, cfg, ce = check.column, check.missing, check.column_expression
    key = f"missing|{col}|{ce}|{cfg!r}|{_fkey(check)}"

    def build() -> Column:
        cond = is_missing_col(col, cfg, ce)
        f = check_filter_col(check)
        if f is not None:
            cond = f & cond
        return count_if(cond)

    return AggMetric(key, f"missing_count({col})", build, True)


def invalid_metric(check: CheckSpec) -> AggMetric:
    col, validity, missing = check.column, check.validity, check.missing
    ce = check.column_expression
    key = f"invalid|{col}|{ce}|{validity!r}|{missing!r}|{_fkey(check)}"

    def build() -> Column:
        cond = is_invalid_col(col, validity, missing, ce)
        f = check_filter_col(check)
        if f is not None:
            cond = f & cond
        return count_if(cond)

    return AggMetric(key, f"invalid_count({col})", build, True)


def _percent(numerator: Any, denominator: Any) -> Optional[float]:
    """fraction*100/total, 0 when total==0, None-propagating
    (reference :1506-1526, :1488-1497)."""
    if numerator is None or denominator is None:
        return None
    if denominator == 0:
        return 0.0
    return 100.0 * float(numerator) / float(denominator)


def _not_passed(check: CheckSpec) -> CheckOutcome:
    return CheckOutcome.WARNED if check.level == "warn" else CheckOutcome.FAILED


def _outcome(check: CheckSpec, value: Any) -> CheckOutcome:
    if value is None:
        return CheckOutcome.NOT_EVALUATED
    if check.threshold.passes(value):
        return CheckOutcome.PASSED
    return _not_passed(check)


def _schema_outcome(check: CheckSpec, problems: int) -> CheckOutcome:
    """PASS iff every schema diff category is empty — the schema check's
    rule (schema_check.py:237-246), not a numeric threshold."""
    return CheckOutcome.PASSED if problems == 0 else _not_passed(check)


def _identity(ctx: CheckContext, check: CheckSpec) -> str:
    extra = ",".join(check.columns) if check.columns else None
    return check_identity(
        ctx.contract.dataset, check.type, check.column, check.qualifier, extra
    )


def _base_result(
    ctx: CheckContext,
    check: CheckSpec,
    value: Any,
    diagnostics: dict[str, Any],
    message: Optional[str] = None,
) -> CheckResult:
    return CheckResult(
        identity=_identity(ctx, check),
        check_type=check.type,
        name=check.default_name(),
        column=check.column,
        outcome=_outcome(check, value),
        metric_value=value,
        threshold=check.threshold.describe(),
        level=check.level,
        diagnostics=diagnostics,
        message=message,
    )


# ---------------------------------------------------------------------------
# Check planners (registry at the bottom)
# ---------------------------------------------------------------------------


def plan_row_count(check: CheckSpec, ctx: CheckContext) -> CheckPlan:
    """row_count_check.py:36-115 — COUNT(*) (optionally filtered)."""
    rm = rows_metric(check)
    dm = dataset_rows_metric()

    def evaluate(values: dict[str, Any], ctx: CheckContext) -> CheckResult:
        value = values.get(rm.key)
        return _base_result(
            ctx,
            check,
            value,
            {
                "datasetRowsTested": values.get(dm.key),
                "checkRowsTested": value,
            },
        )

    return CheckPlan(check, metrics=[rm, dm], evaluate=evaluate)


def plan_missing(check: CheckSpec, ctx: CheckContext) -> CheckPlan:
    """missing_check.py:39-140 — count/percent of missing values."""
    mm = missing_metric(check)
    rm = rows_metric(check)
    dm = dataset_rows_metric()

    def evaluate(values: dict[str, Any], ctx: CheckContext) -> CheckResult:
        count = values.get(mm.key)
        rows = values.get(rm.key)
        pct = _percent(count, rows)
        value = pct if check.metric == "percent" else count
        return _base_result(
            ctx,
            check,
            value,
            {
                "failedRowsCount": count,
                "failedRowsPercent": pct,
                "datasetRowsTested": values.get(dm.key),
                "checkRowsTested": rows,
            },
        )

    return CheckPlan(check, metrics=[mm, rm, dm], evaluate=evaluate)


def plan_invalid(check: CheckSpec, ctx: CheckContext) -> CheckPlan:
    """invalidity_check.py:52-349 — in-set/format/range/length validity,
    plus reference-data validity as a broadcast left-anti join."""
    rm = rows_metric(check)
    mm = missing_metric(check)
    dm = dataset_rows_metric()
    metrics = [rm, mm, dm]
    side: list[SideQuery] = []

    if check.validity.has_reference():
        ref_ds = check.validity.valid_reference_dataset
        ref_col = check.validity.valid_reference_column or check.column
        key = (
            f"invalid_ref|{check.column}|{check.column_expression}|"
            f"{ref_ds}.{ref_col}|{check.missing!r}|{_fkey(check)}"
        )

        def run_ref(ctx: CheckContext) -> int:
            # invalid := not-missing values with no match in the reference
            # column. Reference emits LEFT JOIN + IS NULL filter
            # (invalidity_check.py:287-338); Spark-first: broadcast
            # left-anti join — no NULL-probe ambiguity, one shuffle-free
            # pass when the reference list is small.
            ref_frame = ctx.datasets.get(ref_ds)
            if ref_frame is None:
                # '/'-qualified reference names resolve like the contract
                # dataset (reference carries ref_prefix in check identity,
                # contract_verification_impl.py:1421); fall back to the
                # session catalog for either form
                from soda_core_spark.plans.model import DatasetIdentifier

                ident = DatasetIdentifier.parse(ref_ds)
                if ident.data_source_name is not None:
                    ref_frame = ctx.datasets.get(ident.spark_name) or ctx.datasets.get(
                        ident.dataset_name
                    )
                if ref_frame is None:
                    try:
                        ref_frame = ctx.spark.table(ident.spark_name)
                    except Exception:
                        raise ValueError(
                            f"reference dataset {ref_ds!r} not provided and not "
                            "resolvable as a catalog table"
                        ) from None
            ref_df = ref_frame.select(
                F.col(ref_col).alias("__ref_value")
            ).where(F.col("__ref_value").isNotNull()).distinct()
            left = ctx.filtered
            f = check_filter_col(check)
            if f is not None:
                left = left.where(f)
            left = left.where(
                ~is_missing_col(check.column, check.missing, check.column_expression)
            )
            # materialize the checked value (physical column or
            # column_expression — the reference alias-rewrites expressions
            # into the join, invalidity_check.py:293-303) so the anti-join
            # key is unambiguous across both forms
            left = left.withColumn(
                "__check_value", value_col(check.column, check.column_expression)
            )
            return left.join(
                F.broadcast(ref_df),
                on=left["__check_value"] == ref_df["__ref_value"],
                how="left_anti",
            ).count()

        side.append(SideQuery(key, f"invalid_reference_count({check.column})", run_ref))
        value_key = key
    else:
        im = invalid_metric(check)
        metrics.append(im)
        value_key = im.key

    def evaluate(values: dict[str, Any], ctx: CheckContext) -> CheckResult:
        count = values.get(value_key)
        rows = values.get(rm.key)
        pct = _percent(count, rows)
        value = pct if check.metric == "percent" else count
        return _base_result(
            ctx,
            check,
            value,
            {
                "failedRowsCount": count,
                "failedRowsPercent": pct,
                "missingCount": values.get(mm.key),
                "datasetRowsTested": values.get(dm.key),
                "checkRowsTested": rows,
            },
        )

    return CheckPlan(check, metrics=metrics, side_queries=side, evaluate=evaluate)


def plan_duplicate(check: CheckSpec, ctx: CheckContext) -> CheckPlan:
    """duplicate_check.py:58-343 —
    single column:  dup = rows_tested − missing − distinct (:122-131)
    multi column:   dup = rows_tested − distinct(combined key) (:333-338)
    Spark-first: ``countDistinct`` directly; multi-column NULLs kept via the
    sentinel key (see compiler.combined_key). At web scale a contract can
    opt into ``approx: true`` semantics via the engine flag (exact used for
    parity tests)."""
    rm = rows_metric(check)
    dm = dataset_rows_metric()
    metrics = [rm, dm]

    def _distinct_agg(key_col: Column) -> Column:
        # approx=True: HLL sketch instead of exact distinct — at 10^12
        # rows exact COUNT DISTINCT shuffles every distinct value; the
        # sketch is constant-size per partition (rsd 1%)
        if check.approx:
            return F.approx_count_distinct(key_col, rsd=0.01)
        return F.countDistinct(key_col)

    approx_tag = "~" if check.approx else ""
    if check.columns:  # multi-column
        cols = list(check.columns)
        dkey = f"distinct_multi{approx_tag}|{','.join(cols)}|{_fkey(check)}"

        def build_distinct() -> Column:
            key_col = combined_key(cols)
            f = check_filter_col(check)
            if f is not None:
                key_col = F.when(f, key_col)
            return _distinct_agg(key_col)

        distinct_m = AggMetric(dkey, f"distinct_count({','.join(cols)})", build_distinct, True)
        metrics.append(distinct_m)
        mm = None
    else:
        col = check.column
        ce = check.column_expression
        dkey = f"distinct{approx_tag}|{col}|{ce}|{check.missing!r}|{_fkey(check)}"

        def build_distinct() -> Column:
            cond = ~is_missing_col(col, check.missing, ce)
            f = check_filter_col(check)
            if f is not None:
                cond = f & cond
            return _distinct_agg(F.when(cond, value_col(col, ce)))

        distinct_m = AggMetric(dkey, f"distinct_count({col})", build_distinct, True)
        mm = missing_metric(check)
        metrics.extend([distinct_m, mm])

    def evaluate(values: dict[str, Any], ctx: CheckContext) -> CheckResult:
        rows = values.get(rm.key)
        distinct = values.get(distinct_m.key)
        miss = values.get(mm.key) if mm is not None else 0
        if rows is None or distinct is None or miss is None:
            dup = None
        else:
            dup = rows - miss - distinct
        pct = _percent(dup, rows)
        value = pct if check.metric == "percent" else dup
        return _base_result(
            ctx,
            check,
            value,
            {
                "failedRowsCount": dup,
                "failedRowsPercent": pct,
                "distinctCount": distinct,
                "missingCount": miss,
                "datasetRowsTested": values.get(dm.key),
                "checkRowsTested": rows,
            },
        )

    return CheckPlan(check, metrics=metrics, evaluate=evaluate)


_FRESHNESS_DIVISORS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}


def plan_freshness(check: CheckSpec, ctx: CheckContext) -> CheckPlan:
    """freshness_check.py:46-276 — now − MAX(ts), floored to unit, UTC."""
    col = check.column
    key = f"max_ts|{col}|{check.column_expression}|{_fkey(check)}"

    def build() -> Column:
        c = value_col(col, check.column_expression)
        f = check_filter_col(check)
        if f is not None:
            c = F.when(f, c)
        return F.max(c)

    max_m = AggMetric(key, f"max({col})", build, False)
    rm = rows_metric(check)

    def evaluate(values: dict[str, Any], ctx: CheckContext) -> CheckResult:
        max_ts = values.get(key)
        now = ctx.now_utc()
        if max_ts is None or now is None:
            # reference fails outright when max or now is unavailable
            # (freshness_check.py:208-209)
            res = _base_result(ctx, check, None, {"maxTimestamp": max_ts, "now": now})
            res.outcome = CheckOutcome.FAILED
            res.message = "freshness not computable: missing max timestamp or data_timestamp"
            return res
        if max_ts.tzinfo is None:
            max_ts = max_ts.replace(tzinfo=timezone.utc)
        delta_s = (now - max_ts).total_seconds()
        value = math.floor(delta_s / _FRESHNESS_DIVISORS[check.unit])
        return _base_result(
            ctx,
            check,
            value,
            {
                "maxTimestamp": max_ts.isoformat(),
                "now": now.isoformat(),
                "freshnessMs": int(delta_s * 1000),
                "unit": check.unit,
                "checkRowsTested": values.get(rm.key),
            },
        )

    return CheckPlan(check, metrics=[max_m, rm], evaluate=evaluate)


_AGG_FUNCS = {"avg", "sum", "min", "max", "avg_length", "min_length", "max_length"}


def plan_aggregate(check: CheckSpec, ctx: CheckContext) -> CheckPlan:
    """aggregate_check.py:42-153 — whitelisted function over *valid* values
    (non-missing, non-invalid, check-filtered); whitelist mirrors
    sql_dialect.py:1335-1364."""
    fn = (check.function or "").lower()
    if fn not in _AGG_FUNCS:
        raise ValueError(f"aggregate function {fn!r} not in {sorted(_AGG_FUNCS)}")
    col = check.column
    ce = check.column_expression
    key = f"agg|{fn}|{col}|{ce}|{check.validity!r}|{check.missing!r}|{_fkey(check)}"

    def build() -> Column:
        valid = ~is_missing_col(col, check.missing, ce)
        inv = is_invalid_col(col, check.validity, check.missing, ce)
        valid = valid & ~F.coalesce(inv, F.lit(False))
        f = check_filter_col(check)
        if f is not None:
            valid = f & valid
        base = value_col(col, ce)
        if fn.endswith("_length"):
            base = F.length(base.cast("string"))
        guarded = F.when(valid, base)
        # NaN guard for float aggregates (databricks_data_source.py:174-177)
        if fn in ("avg", "sum", "min", "max") and not fn.endswith("_length"):
            guarded = F.when(valid & ~F.isnan(base.cast("double")), base)
        agg = {"avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max,
               "avg_length": F.avg, "min_length": F.min, "max_length": F.max}[fn]
        return agg(guarded)

    m = AggMetric(key, f"{fn}({col})", build, False)

    def evaluate(values: dict[str, Any], ctx: CheckContext) -> CheckResult:
        return _base_result(ctx, check, values.get(key), {"function": fn})

    return CheckPlan(check, metrics=[m], evaluate=evaluate)


def plan_metric(check: CheckSpec, ctx: CheckContext) -> CheckPlan:
    """metric_check.py:48-199 — expression form joins the fused agg as
    ``F.expr``; query form is a dedicated ``spark.sql`` roundtrip reading
    the first cell of the first row (:185-199)."""
    if check.expression:
        key = f"metric_expr|{check.expression}|{_fkey(check)}"

        def build() -> Column:
            e = F.expr(check.expression)
            return e

        m = AggMetric(key, f"metric({check.expression})", build, False)

        def evaluate(values: dict[str, Any], ctx: CheckContext) -> CheckResult:
            return _base_result(ctx, check, values.get(key), {"expression": check.expression})

        return CheckPlan(check, metrics=[m], evaluate=evaluate)

    if check.query:
        key = f"metric_query|{check.query}"

        def run(ctx: CheckContext) -> Any:
            row = ctx.spark.sql(check.query).first()
            return None if row is None else row[0]

        sq = SideQuery(key, "metric_query", run)

        def evaluate(values: dict[str, Any], ctx: CheckContext) -> CheckResult:
            return _base_result(ctx, check, values.get(key), {"query": check.query})

        return CheckPlan(check, side_queries=[sq], evaluate=evaluate)

    raise ValueError("metric check requires 'expression' or 'query'")


#: past this many extracted keys, warn and stop collecting to the driver
#: (reference STREAMING_COUNT_WARNING_THRESHOLD, failed_rows_check.py:314)
KEYS_QUERY_WARNING_THRESHOLD = 10_000

#: key prefix under which the engine records side-query execution errors in
#: the values dict (value = error string); evaluators use it to distinguish
#: a failed query from a query that legitimately returned NULL
SIDE_QUERY_ERROR_PREFIX = "__soda_error__:"


def _reject_raw_sql_under_sampling(check: CheckSpec, ctx: CheckContext) -> None:
    """Contract-level ``sample:`` applies to the filtered frame the fused
    aggregation reads — but a check's raw user SQL (query / keys_query /
    rows_tested_query) runs against the *catalog tables*, which this
    engine cannot rewrite to sample the same rows (the reference parses
    and wraps the SQL, sql_utils.py:40-71 / failed_rows_check.py:95-130).
    Mixing an unsampled numerator with a sampled denominator silently
    corrupts failedRowsPercent, so the combination is rejected at planning
    time: the check lands NOT_EVALUATED with this message and the rest of
    the scan proceeds."""
    if ctx.contract.sample.is_configured() and (
        check.query or check.keys_query or check.rows_tested_query
    ):
        raise ValueError(
            "contract-level 'sample:' cannot be applied to this check's raw "
            "SQL (query/keys_query/rows_tested_query run on the unsampled "
            "catalog tables, while fused metrics see the sampled frame — "
            "the resulting counts would mix inconsistent row sets). Either "
            "drop 'sample:' or express the check as a 'condition:'."
        )


def plan_failed_rows(check: CheckSpec, ctx: CheckContext) -> CheckPlan:
    """failed_rows_check.py:47-391 — four forms:

    * ``condition``: counts rows where the boolean holds (∧ check filter,
      :247-256), inside the fused agg;
    * ``query``: counts a user SQL's rows (CTE-wrapped COUNT in the
      reference :322-329 — in Spark simply ``spark.sql(q).count()``,
      always pushed; no streaming fallback needed);
    * ``keys_query``: same count, but the failing KEYS are also captured
      (first column, capped at KEYS_QUERY_WARNING_THRESHOLD — the
      reference streams them into diagnostics fk_/fr_ tables, :85-90;
      here they land in the check diagnostics);
    * ``rows_tested_query``: custom denominator — first cell of the first
      row replaces COUNT(*) as checkRowsTested / the percent denominator
      (:109-128; may legitimately return NULL → count-metric checks still
      evaluate, percent ones go NOT_EVALUATED with
      ``metric_unavailable=True``, which is NOT an error exit)."""
    _reject_raw_sql_under_sampling(check, ctx)
    rm = rows_metric(check)
    dm = dataset_rows_metric()
    metrics = [rm, dm]
    side: list[SideQuery] = []

    keys_holder: dict[str, Any] = {}

    if check.condition:
        key = f"failed_rows|{check.condition}|{_fkey(check)}"

        def build() -> Column:
            cond = F.expr(check.condition)
            f = check_filter_col(check)
            if f is not None:
                cond = f & cond
            return count_if(cond)

        metrics.append(AggMetric(key, f"failed_rows({check.condition})", build, True))
        value_key = key
    elif check.query:
        key = f"failed_rows_query|{check.query}"

        def run(ctx: CheckContext) -> int:
            return ctx.spark.sql(check.query).count()

        side.append(SideQuery(key, "failed_rows_query", run))
        value_key = key
    elif check.keys_query:
        # unlike other metrics, this side query carries per-check STATE
        # (the captured keys land in this plan's closure) — keying it by
        # check identity opts it out of cross-check metric dedup, else a
        # second check sharing the same SQL would silently get no keys
        key = f"failed_rows_keys_query|{check.keys_query}|{_identity(ctx, check)}"

        def run_keys(ctx: CheckContext) -> int:
            qdf = ctx.spark.sql(check.keys_query)
            # one job: cap+1 keys tell us the count is over the cap without
            # collecting the tail; the exact count is its own cheap job
            # (count aggregates dataset-side, never ships rows)
            head = qdf.select(qdf.columns[0]).limit(
                KEYS_QUERY_WARNING_THRESHOLD + 1
            ).collect()
            n = qdf.count() if len(head) > KEYS_QUERY_WARNING_THRESHOLD else len(head)
            keys_holder["keys"] = [r[0] for r in head[:KEYS_QUERY_WARNING_THRESHOLD]]
            keys_holder["truncated"] = n > KEYS_QUERY_WARNING_THRESHOLD
            return n

        side.append(SideQuery(key, "failed_rows_keys_query", run_keys))
        value_key = key
    else:
        raise ValueError(
            "failed_rows check requires 'condition', 'query' or 'keys_query'"
        )

    rows_tested_key: Optional[str] = None
    if check.rows_tested_query:
        # deliberately NOT rows_metric: the reference warns that reusing the
        # row-count metric identity would clobber dataset_rows_tested
        # (failed_rows_check.py:111-114)
        rows_tested_key = f"rows_tested_query|{check.rows_tested_query}"

        def run_rows_tested(ctx: CheckContext) -> Any:
            row = ctx.spark.sql(check.rows_tested_query).first()
            return None if row is None else row[0]

        side.append(SideQuery(rows_tested_key, "rows_tested_query", run_rows_tested))

    def evaluate(values: dict[str, Any], ctx: CheckContext) -> CheckResult:
        count = values.get(value_key)
        rows = (
            values.get(rows_tested_key)
            if rows_tested_key is not None
            else values.get(rm.key)
        )
        pct = _percent(count, rows)
        value = pct if check.metric == "percent" else count
        diagnostics = {
            "failedRowsCount": count,
            "failedRowsPercent": pct,
            "datasetRowsTested": values.get(dm.key),
            "checkRowsTested": rows,
        }
        if "keys" in keys_holder:
            diagnostics["failedKeys"] = keys_holder["keys"]
            diagnostics["failedKeysTruncated"] = keys_holder["truncated"]
        result = _base_result(ctx, check, value, diagnostics)
        if (
            value is None
            and count is not None
            and rows is None
            and rows_tested_key is not None
            and SIDE_QUERY_ERROR_PREFIX + rows_tested_key not in values
        ):
            # the rows_tested_query ran fine and returned NULL — the
            # reference treats that as a valid "denominator unavailable"
            # state (failed_rows_check.py:133-140), not an engine error
            result.metric_unavailable = True
        return result

    return CheckPlan(check, metrics=metrics, side_queries=side, evaluate=evaluate)


# --- schema check -----------------------------------------------------------

#: canonical type-name synonym classes (sparkdf_data_source.py:137-141)
_TYPE_SYNONYMS = [
    {"text", "varchar", "char", "string"},
    {"numeric", "decimal"},
    {"timestamp_tz", "timestamp"},
    {"integer", "int"},
]


def _canonical(name: str) -> str:
    name = name.lower().split("(")[0].strip()
    for cls in _TYPE_SYNONYMS:
        if name in cls:
            return sorted(cls)[0]
    return name


_TYPE_PARAMS_RE = re.compile(
    r"^\s*([A-Za-z_][A-Za-z0-9_ ]*?)\s*(?:\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\))?\s*$"
)

_CHAR_FAMILY = {"text", "varchar", "char", "string"}
_NUMERIC_FAMILY = {"numeric", "decimal"}


def _declared_type_params(spec) -> tuple[Optional[str], Optional[int], Optional[int], Optional[int]]:
    """(base_name, char_len, precision, scale) from a ColumnSpec: inline
    ``decimal(10,2)`` / ``varchar(20)`` parameters in ``data_type`` are
    parsed into the slot their type family uses; the explicit
    ``character_maximum_length`` / ``numeric_precision`` / ``numeric_scale``
    fields (reference contract YAML surface) take precedence."""
    base = spec.data_type
    char_len = prec = scale = None
    if base is not None:
        m = _TYPE_PARAMS_RE.match(base)
        if m:
            base = m.group(1)
            p1 = int(m.group(2)) if m.group(2) is not None else None
            p2 = int(m.group(3)) if m.group(3) is not None else None
            fam = _canonical(base)
            if fam in _CHAR_FAMILY:
                char_len = p1
            else:
                prec, scale = p1, p2
    if spec.character_maximum_length is not None:
        char_len = spec.character_maximum_length
    if spec.numeric_precision is not None:
        prec = spec.numeric_precision
    if spec.numeric_scale is not None:
        scale = spec.numeric_scale
    return base, char_len, prec, scale


def _actual_type_params(dt: T.DataType) -> tuple[Optional[int], Optional[int], Optional[int]]:
    """(char_len, precision, scale) of a Spark type. Plain StringType has
    no length — a declared varchar(20) against it mismatches, same as the
    reference comparing an expected length to a NULL actual length."""
    if isinstance(dt, T.DecimalType):
        return None, dt.precision, dt.scale
    if isinstance(dt, (T.VarcharType, T.CharType)):
        return dt.length, None, None
    return None, None, None


def _declared_type_matches(spec, dt: T.DataType) -> bool:
    """Name-synonym + parameter-wise compare, mirroring the reference's
    ``is_same_data_type_for_schema_check`` (sql_dialect.py:198-212): each
    declared integer parameter must equal the actual one; undeclared
    parameters are not compared."""
    base, exp_len, exp_prec, exp_scale = _declared_type_params(spec)
    if base is None:
        return True
    if _canonical(base) != _canonical(spark_type_canonical(dt)):
        return False
    act_len, act_prec, act_scale = _actual_type_params(dt)
    if isinstance(exp_len, int) and exp_len != act_len:
        return False
    if isinstance(exp_prec, int) and exp_prec != act_prec:
        return False
    if isinstance(exp_scale, int) and exp_scale != act_scale:
        return False
    return True


_SPARK_TO_CANONICAL = {
    T.StringType: "string",
    T.ShortType: "smallint",
    T.IntegerType: "integer",
    T.LongType: "bigint",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.BooleanType: "boolean",
    T.DateType: "date",
    T.TimestampType: "timestamp",
    T.TimestampNTZType: "timestamp",
    T.BinaryType: "binary",
}


def spark_type_canonical(dt: T.DataType) -> str:
    if isinstance(dt, T.DecimalType):
        return "decimal"
    return _SPARK_TO_CANONICAL.get(type(dt), dt.simpleString())


def schema_diff(
    check: CheckSpec,
    contract_columns,
    actual_fields,
    primary_keys,
) -> tuple[int, dict]:
    """The schema-check diff itself — declared contract columns vs an
    actual field list (missing / extra / type mismatch / order /
    primary key) — shared by the scan path (``ctx.df.schema.fields``)
    and the metadata-only path (parquet footer schema converted to a
    StructType), so the two can never disagree on semantics. Returns
    ``(problems, diagnostics)``."""
    declared = [(c.name, c) for c in contract_columns]
    actual = {f.name: f.dataType for f in actual_fields}
    actual_order = [f.name for f in actual_fields]

    missing_cols = [n for n, _ in declared if n not in actual]
    declared_names = {n for n, _ in declared}
    extra_cols = (
        [] if check.allow_extra_columns
        else [n for n in actual_order if n not in declared_names]
    )
    type_mismatches = {}
    for n, spec in declared:
        if spec.data_type is not None and n in actual:
            if not _declared_type_matches(spec, actual[n]):
                type_mismatches[n] = {
                    "expected": spec.data_type,
                    "actual": actual[n].simpleString(),
                }
    order_mismatch = False
    if not check.allow_other_column_order:
        declared_seq = [n for n, _ in declared if n in actual]
        actual_seq = [n for n in actual_order if n in declared_names]
        order_mismatch = declared_seq != actual_seq

    # primary key: declared `primary_key: true` columns vs the
    # source's introspected key (Iceberg identifier fields; reference
    # ColumnMetadata.is_primary_key + MetadataPrimaryKeysQuery).
    # primary_keys None = source doesn't introspect (parquet,
    # views) → record the declaration, compare nothing — the
    # reference's own semantics for non-introspecting sources.
    declared_pk = sorted(n for n, c in declared if c.is_primary_key)
    pk_mismatch = None
    if declared_pk and primary_keys is not None:
        actual_pk = sorted(primary_keys)
        if declared_pk != actual_pk:
            pk_mismatch = {"expected": declared_pk, "actual": actual_pk}

    problems = (
        len(missing_cols) + len(extra_cols) + len(type_mismatches)
        + (1 if order_mismatch else 0)
        + (1 if pk_mismatch else 0)
    )
    diagnostics = {
        "missingColumns": missing_cols,
        "extraColumns": extra_cols,
        "typeMismatches": type_mismatches,
        "orderMismatch": order_mismatch,
    }
    if declared_pk:
        diagnostics["declaredPrimaryKey"] = declared_pk
        diagnostics["primaryKeyIntrospection"] = (
            "unavailable" if primary_keys is None else "compared"
        )
    if pk_mismatch:
        diagnostics["primaryKeyMismatch"] = pk_mismatch
    return problems, diagnostics


def plan_schema(check: CheckSpec, ctx: CheckContext) -> CheckPlan:
    """schema_check.py:83-262 — pure-Python diff of declared contract
    columns vs ``df.schema`` (missing / extra / type mismatch / order);
    the reference introspects information_schema, Spark hands us the
    StructType for free."""

    def evaluate(values: dict[str, Any], ctx: CheckContext) -> CheckResult:
        problems, diagnostics = schema_diff(
            check, ctx.contract.columns, ctx.df.schema.fields,
            ctx.primary_keys,
        )
        res = _base_result(ctx, check, problems, diagnostics)
        res.outcome = _schema_outcome(check, problems)
        return res

    return CheckPlan(check, evaluate=evaluate)


CHECK_PLANNERS: dict[str, Callable[[CheckSpec, CheckContext], CheckPlan]] = {
    "schema": plan_schema,
    "row_count": plan_row_count,
    "missing": plan_missing,
    "invalid": plan_invalid,
    "duplicate": plan_duplicate,
    "freshness": plan_freshness,
    "aggregate": plan_aggregate,
    "metric": plan_metric,
    "failed_rows": plan_failed_rows,
}

#: pristine snapshot so unregister_check_type can restore an overridden
#: built-in planner
_BUILTIN_PLANNERS = dict(CHECK_PLANNERS)


def register_check_type(
    name: str,
    planner: Callable[[CheckSpec, CheckContext], CheckPlan],
    yaml_parser: Optional[Callable[..., CheckSpec]] = None,
    replace: bool = False,
) -> None:
    """Public check-type extension point — the Spark twin of the
    reference's paired registries (``CheckImpl.register``
    contract_verification_impl.py:1049-1058 for planning/execution,
    ``CheckYaml.register`` contract_yaml.py:619-628 for YAML parsing).
    One call wires BOTH sides so a registered type works end-to-end
    through ``contract_from_yaml`` + ``verify_contract``:

    * ``planner(check, ctx) -> CheckPlan`` joins ``CHECK_PLANNERS`` —
      its AggMetrics fuse into the scan's single aggregation job like
      any built-in check's;
    * ``yaml_parser(type_name, body, column) -> CheckSpec`` (optional)
      replaces the generic body parsing; omit it to accept the standard
      keys (thresholds, filter, qualifier, name, attributes) with the
      custom parameters riding in ``attributes``.

    Re-registering an existing type (built-in or custom) requires
    ``replace=True`` — accidental shadowing of e.g. ``missing`` is a
    contract-semantics change and must be explicit. Overriding a
    built-in replaces BOTH sides (a custom ``yaml_parser`` takes
    precedence over the generic parsing for that type too);
    :func:`unregister_check_type` restores the built-in behavior."""
    from soda_core_spark.plans import model

    if not name or not isinstance(name, str):
        raise ValueError("check type name must be a non-empty string")
    taken = name in CHECK_PLANNERS or name in model.CUSTOM_CHECK_PARSERS
    if taken and not replace:
        raise ValueError(
            f"check type {name!r} is already registered; pass replace=True "
            "to override it"
        )
    CHECK_PLANNERS[name] = planner
    # always clear any previous custom parser first: re-registering a
    # built-in WITHOUT a yaml_parser must restore generic parsing, not
    # keep a stale parser from an earlier registration
    model.CUSTOM_CHECK_PARSERS.pop(name, None)
    if yaml_parser is not None or name not in model.CHECK_TYPES:
        model.CUSTOM_CHECK_PARSERS[name] = yaml_parser


def unregister_check_type(name: str) -> None:
    """Remove a custom check type; an overridden BUILT-IN type is
    restored to its original planner + generic parsing (never deleted)."""
    from soda_core_spark.plans import model

    if name in model.CHECK_TYPES:
        CHECK_PLANNERS[name] = _BUILTIN_PLANNERS[name]
    else:
        CHECK_PLANNERS.pop(name, None)
    model.CUSTOM_CHECK_PARSERS.pop(name, None)


def referential_integrity_profile(
    edges: list[tuple["DataFrame", str, "DataFrame", str, str]],
) -> "DataFrame":
    """Corpus-wide referential-integrity report: one row per FK edge
    ``(child_df, fk_col, parent_df, pk_col, edge_name)`` with orphan
    accounting — the reference's single invalid-reference check
    (invalid_check.py reference-data form) generalized to the
    whole-schema audit a warehouse migration runs first.

    One row per edge::

        edge: string
        n_child: bigint          -- child rows with a NON-NULL key
        n_null_fk: bigint        -- child rows with NULL key (not
                                    orphans: SQL FK semantics)
        n_orphans: bigint        -- non-NULL keys with no parent
        n_orphan_keys: bigint    -- distinct orphan key values
        orphan_rate: double (6dp, of non-NULL child rows; NULL when 0)

    Scale shape: per edge, ONE aggregation over a left join of the
    child's (key, count) grain — child collapses to distinct keys with
    map-side combine BEFORE the join, so the join is keys × keys, not
    rows × rows, and a hot FK value never fans out. Parent side prunes
    to its key column. Edges evaluate independently and union into one
    report (each edge is its own scan pair; there is nothing shared to
    fuse across tables)."""
    if not edges:
        raise ValueError("edges must be non-empty")
    outs = []
    for child, fk, parent, pk, name in edges:
        ckeys = (
            child.select(F.col(fk).alias("__k"))
            .groupBy("__k")
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        pkeys = parent.select(F.col(pk).alias("__p")).distinct()
        j = ckeys.join(pkeys, ckeys["__k"] == pkeys["__p"], "left")
        agg = j.agg(
            F.coalesce(
                F.sum(F.when(F.col("__k").isNotNull(), F.col("__n"))),
                F.lit(0),
            ).cast("long").alias("n_child"),
            F.coalesce(
                F.sum(F.when(F.col("__k").isNull(), F.col("__n"))),
                F.lit(0),
            ).cast("long").alias("n_null_fk"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("__k").isNotNull() & F.col("__p").isNull(),
                        F.col("__n"),
                    )
                ),
                F.lit(0),
            ).cast("long").alias("n_orphans"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("__k").isNotNull() & F.col("__p").isNull(), 1
                    )
                ),
                F.lit(0),
            ).cast("long").alias("n_orphan_keys"),
        )
        outs.append(
            agg.select(
                F.lit(name).alias("edge"),
                "n_child",
                "n_null_fk",
                "n_orphans",
                "n_orphan_keys",
                F.round(
                    F.when(
                        F.col("n_child") > 0,
                        F.col("n_orphans")
                        / F.col("n_child").cast("double"),
                    ),
                    6,
                ).alias("orphan_rate"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("edge")


def reconciliation_audit(
    parent: "DataFrame",
    parent_key: str,
    parent_value: str,
    child: "DataFrame",
    child_key: str,
    child_value_expr: Column,
    tolerance: float = 0.01,
) -> "DataFrame":
    """Cross-table derived-column reconciliation: does a parent's
    stored aggregate equal what its children actually sum to? The
    classic warehouse audit (order total vs line amounts, account
    balance vs ledger, shard row-count vs manifest) that catches silent
    partial loads and double-applied updates — a check class the
    reference's single-table checks cannot express.

    One summary row::

        n_parents: bigint        -- parent rows with non-NULL key
        n_with_children: bigint
        n_childless: bigint
        n_matched: bigint        -- |stored - derived| <= tolerance
        n_mismatched: bigint     -- has children but out of tolerance
        max_abs_err: double (6 dp, over parents with children)
        mean_abs_err: double (6 dp)

    Scale shape: the child side collapses FIRST to (key, sum) grain
    through a map-side-combined groupBy, then ONE key-grain left join
    from the parent (AQE-skew-splittable) and a single reduce. The
    child expression evaluates row-side inside the partial aggregate —
    one pass over each table. Float caveat: the derived sum's
    add-order varies per engine/partitioning, so compare with an
    absolute ``tolerance``, never equality (the audit's own point)."""
    p = parent.select(
        F.col(parent_key).alias("__k"),
        F.col(parent_value).cast("double").alias("__stored"),
    ).where(F.col("__k").isNotNull())
    c = (
        child.select(
            F.col(child_key).alias("__k"),
            child_value_expr.cast("double").alias("__v"),
        )
        .groupBy("__k")
        .agg(F.sum("__v").alias("__derived"))
    )
    j = p.join(c, "__k", "left")
    err = F.abs(F.col("__stored") - F.col("__derived"))
    has = F.col("__derived").isNotNull()
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_parents"),
        F.sum(F.when(has, 1).otherwise(0)).cast("long")
        .alias("n_with_children"),
        F.sum(F.when(has, 0).otherwise(1)).cast("long")
        .alias("n_childless"),
        F.sum(F.when(has & (err <= tolerance), 1).otherwise(0))
        .cast("long")
        .alias("n_matched"),
        F.sum(F.when(has & (err > tolerance), 1).otherwise(0))
        .cast("long")
        .alias("n_mismatched"),
        F.round(F.max(F.when(has, err)), 6).alias("max_abs_err"),
        F.round(F.avg(F.when(has, err)), 6).alias("mean_abs_err"),
    )
