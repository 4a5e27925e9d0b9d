"""robots.txt compliance filter: parse per-host robots bodies into a
rules table, then gate crawled pages on longest-prefix-match semantics.

A compliant crawl pipeline must drop pages its robots.txt disallows for
the crawling agent — at 10^12 documents this is a JOIN problem, not a
per-fetch check: one tiny (host, path_prefix, allow) rules table against
the page table. Matching follows the Google robots spec (RFC 9309): the
rule with the LONGEST matching path prefix decides; on a length tie,
allow wins; a host with no matching rule (or no robots.txt) is allowed.

Scale shape: the rules table is per-host metadata (millions of rows at
web scale, kilobytes-to-megabytes serialized — broadcastable). Rules are
pre-collected into per-host ARRAYS (a tiny groupBy over rules only), the
corpus takes ONE broadcast equi-join on host, and the longest-match
decision folds over the array in a higher-order function —
``max(2*len(prefix) + allow)`` encodes longest-wins / allow-breaks-ties
in one integer. The corpus is never shuffled and never grouped; every
page row stays in place. Parsing bodies is an Arrow-batched pandas UDF
(string munging, no JVM builtin).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def parse_robots_txt(
    body: str | None, user_agent: str = "*"
) -> list[tuple[str, bool]]:
    """Parse one robots.txt body into [(path_prefix, allow)] for
    ``user_agent``: RFC 9309 group semantics — consecutive User-agent
    lines share a group; the most specific matching group applies
    (exact agent name beats '*'); empty Disallow means no restriction.
    Unknown directives and comments are ignored. Returns [] when no
    group matches or the body is NULL/empty.

    Limitation (documented, not silent): RFC 9309's optional ``*``
    wildcard and ``$`` end-anchor inside paths are treated as literal
    characters here — rules using them effectively never match, which
    FAILS OPEN to the spec's no-match default (allowed). Extending the
    gate means swapping ``startswith`` for an anchored regex translated
    per rule; the join/fold shape is unchanged."""
    if not body:
        return []
    ua = user_agent.lower()
    groups: list[tuple[list[str], list[tuple[str, bool]]]] = []
    current_agents: list[str] | None = None
    in_agent_run = False
    for raw in body.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not in_agent_run:
                current_agents = []
                groups.append((current_agents, []))
            in_agent_run = True
            if current_agents is not None:
                current_agents.append(val.lower())
            continue
        in_agent_run = False
        if key in ("allow", "disallow") and groups:
            if not val:
                continue  # empty path = no restriction
            groups[-1][1].append((val, key == "allow"))
    exact: list[tuple[str, bool]] | None = None
    wildcard: list[tuple[str, bool]] | None = None
    for agents, rules in groups:
        if ua in agents and exact is None:
            exact = rules
        if "*" in agents and wildcard is None:
            wildcard = rules
    chosen = exact if exact is not None else wildcard
    return chosen or []


_RULES_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("allow", T.BooleanType()),
        ]
    )
)


def robots_rules(
    robots: DataFrame,
    host_col: str = "host",
    body_col: str = "body",
    user_agent: str = "*",
) -> DataFrame:
    """Explode a (host, robots.txt body) table into the flat
    (host, rule_path, allow) rules table :func:`apply_robots_rules`
    consumes. Hosts whose body yields no applicable rules produce no
    rows (they default to allowed at probe time)."""

    @pandas_udf(_RULES_TYPE)
    def _parse(bodies: pd.Series) -> pd.Series:
        return bodies.map(lambda b: parse_robots_txt(b, user_agent))

    exploded = robots.select(
        F.col(host_col).alias("host"),
        F.explode(_parse(F.col(body_col))).alias("__rb_rule"),
    )
    return exploded.select(
        "host",
        F.col("__rb_rule.path").alias("rule_path"),
        F.col("__rb_rule.allow").alias("allow"),
    )


def apply_robots_rules(
    pages: DataFrame,
    rules: DataFrame,
    host_col: str = "host",
    path_col: str = "path",
    allowed_col: str = "allowed",
) -> DataFrame:
    """Annotate every page with ``allowed`` under longest-prefix-match
    robots semantics. ``rules`` is (host, rule_path, allow) — broadcast
    (per-host metadata is small next to the corpus). One broadcast-hash
    join on host (prefix test as join filter) + one partial-agg max per
    page; unmatched pages are allowed.
    """
    # per-host rule ARRAYS, so the corpus side needs one broadcast
    # equi-join and zero shuffles — a join on (host, prefix-match) with a
    # per-page groupBy would shuffle the whole corpus to re-assemble
    # pages; folding the match over an array column keeps every page row
    # in place. longest-prefix-wins / allow-breaks-ties is encoded as
    # max over 2*len(prefix) + allow.
    host_rules = rules.groupBy(F.col("host").alias("__rb_host")).agg(
        F.collect_list(
            F.struct(
                F.col("rule_path").alias("path"),
                F.col("allow").alias("allow"),
            )
        ).alias("__rb_rules")
    )
    joined = pages.join(
        F.broadcast(host_rules),
        F.col(host_col) == F.col("__rb_host"),
        "left",
    )
    p = F.col(path_col)
    best = F.aggregate(
        F.filter(
            F.col("__rb_rules"), lambda r: p.startswith(r["path"])
        ),
        F.lit(-1),
        lambda acc, r: F.greatest(
            acc, F.length(r["path"]) * 2 + r["allow"].cast("int")
        ),
    )
    allowed = F.when(
        F.col("__rb_rules").isNull() | (best < 0), F.lit(True)
    ).otherwise(best % 2 == 1)
    return joined.select(*pages.columns, allowed.alias(allowed_col))


def robots_filter(
    pages: DataFrame,
    rules: DataFrame,
    host_col: str = "host",
    path_col: str = "path",
) -> DataFrame:
    """Keep only the pages robots.txt allows (the crawl-gate form)."""
    out = apply_robots_rules(
        pages, rules, host_col=host_col, path_col=path_col
    )
    return out.where(F.col("allowed")).drop("allowed")


def parse_crawl_delay(body: str | None, user_agent: str = "*") -> float | None:
    """``Crawl-delay`` for ``user_agent`` — the de-facto politeness
    directive (not in RFC 9309 but honored by most crawlers): same group
    semantics as :func:`parse_robots_txt` (exact agent beats '*');
    returns seconds as float, None when absent/unparseable."""
    if not body:
        return None
    ua = user_agent.lower()
    groups: list[tuple[list[str], list[float]]] = []
    current_agents: list[str] | None = None
    in_agent_run = False
    for raw in body.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not in_agent_run:
                current_agents = []
                groups.append((current_agents, []))
            in_agent_run = True
            if current_agents is not None:
                current_agents.append(val.lower())
            continue
        in_agent_run = False
        if key == "crawl-delay" and groups:
            try:
                groups[-1][1].append(float(val))
            except ValueError:
                continue
    exact: list[float] | None = None
    wildcard: list[float] | None = None
    for agents, delays in groups:
        if ua in agents and exact is None and delays:
            exact = delays
        if "*" in agents and wildcard is None and delays:
            wildcard = delays
    chosen = exact if exact is not None else wildcard
    return chosen[0] if chosen else None


def crawl_delays(
    robots: DataFrame,
    user_agent: str = "*",
    host_col: str = "host",
    body_col: str = "robots_txt",
    out_col: str = "crawl_delay_s",
) -> DataFrame:
    """Per-host politeness table: (host, crawl_delay_s) — the frontier
    scheduler's rate-limit input. Arrow-batched parse (robots bodies
    per HOST, not per page — the same tiny table robots_rules uses);
    hosts without a delay directive carry NULL (scheduler default)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _parse(bodies: pd.Series) -> pd.Series:
        return bodies.map(lambda b: parse_crawl_delay(b, user_agent))

    return robots.select(
        F.col(host_col).alias("host"),
        _parse(F.col(body_col)).alias(out_col),
    )
