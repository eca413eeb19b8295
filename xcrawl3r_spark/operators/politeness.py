"""A1/A5: per-host politeness budgets + deterministic priority ordering,
plus north-rule robots.txt allow/deny enforcement.

The reference rate-limits with colly's LimitRule{DomainGlob:"*",
Parallelism:P} (pkg/xcrawl3r/xcrawl3r.go:277-281) — a time-domain in-flight
cap. In a batch BFS the deterministic equivalent is a *budget per
iteration*: at most ``budget`` fetches per (seed_id, host) per round,
selected by the total priority order (depth, host_rank, disc_iter,
url_hash); overflow rows are re-queued to the next iteration at the same
depth. Budget = P x iteration-quantum; no URL is ever dropped, so the final
seen/edges sets match the reference (which also never drops, only delays).

Skew: a hot host (~30% of frontier) would serialize its selection window
on one shuffle partition, so ``politeness_flag`` ranks in two phases: a
salted partial top-k per (seed_id, host, pmod(url_hash, skew_salt)), then
the exact window over the survivors. The fetch downstream is a plain join
on url, and AQE skew-join handles residual imbalance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def politeness_flag(
    frontier: DataFrame, budget: int, skew_salt: int = 0,
    eligible: F.Column | None = None,
) -> DataFrame:
    """Add boolean ``_sel``: True for the per-(seed,host) top-``budget``
    rows by the deterministic order (depth, url_hash).

    Returned as ONE flagged frame (rather than two filtered branches) so
    the caller can checkpoint the window result once and derive
    selected/overflow as cheap filters.

    ``eligible``: rows where this column is False pass THROUGH the window
    (added as ``_elig``) but never take a budget slot and never select —
    they sort after every eligible row, so eligible rows' row_numbers
    equal their rank among eligibles and ``_sel = rn <= budget & _elig``
    is exactly the top-k over the eligible subset. This lets the crawl
    flag media-aborted / robots-denied rows in the SAME frame (one
    checkpoint per iteration instead of one per branch).

    Skew: with ``skew_salt`` > 0 the top-k runs in two phases — a partial
    top-``budget`` per (seed, host, pmod(url_hash, salt)) bucket, then the
    exact window over the <= salt*budget survivors per host. A hot host
    holding 30% of the frontier never serializes one shuffle partition;
    the result is identical to the single-window top-k (any global top-k
    row is in its bucket's top-k; an eligible bucket top-k row stays
    top-k because ineligible rows sort last in the bucket too).
    """
    order = []
    if eligible is not None:
        frontier = frontier.withColumn("_elig", eligible)
        order.append(F.col("_elig").desc())
    order.append(F.col("depth"))
    if "disc_iter" in frontier.columns:
        order.append(F.col("disc_iter"))   # discovery time (north-rule A5)
    order.append(F.col("url_hash"))

    def sel(rn_ok: F.Column) -> F.Column:
        return rn_ok & F.col("_elig") if eligible is not None else rn_ok

    if skew_salt > 1:
        wb = Window.partitionBy(
            "seed_id", "host", F.pmod(F.col("url_hash"), F.lit(skew_salt))
        ).orderBy(*order)
        pre = frontier.withColumn("_brn", F.row_number().over(wb))
        survivors = pre.filter(F.col("_brn") <= budget)
        losers = pre.filter(F.col("_brn") > budget).drop("_brn").withColumn(
            "_sel", F.lit(False))
        w = Window.partitionBy("seed_id", "host").orderBy(*order)
        ranked = survivors.drop("_brn").withColumn(
            "_sel", sel(F.row_number().over(w) <= budget))
        return ranked.unionByName(losers)
    w = Window.partitionBy("seed_id", "host").orderBy(*order)
    return frontier.withColumn("_sel", sel(F.row_number().over(w) <= budget))


def politeness_select(
    frontier: DataFrame, budget: int, skew_salt: int = 0
) -> tuple[DataFrame, DataFrame]:
    """Split frontier into (selected, overflow) by per-(seed,host) top-k.

    Returns DataFrames with identical schemas; overflow re-enters the next
    iteration's frontier unchanged (same depth — delay, not drop).
    """
    ranked = politeness_flag(frontier, budget, skew_salt)
    selected = ranked.filter(F.col("_sel")).drop("_sel")
    overflow = ranked.filter(~F.col("_sel")).drop("_sel")
    return selected, overflow


def parse_robots_rules(fetched_robots: DataFrame) -> DataFrame:
    """Parse fetched robots.txt bodies into the (host, allow, deny) rules
    table — fully native (split/explode/aggregate, no Python).

    The reference only MINES robots for URLs (IgnoreRobotsTxt,
    xcrawl3r.go:272); enforcement is the north rule's addition. Rules
    honored: ``Allow:``/``Disallow:`` path patterns with the RFC 9309
    matching subset (``*`` wildcard, trailing ``$`` end anchor — see
    ``robots_pattern_regex``), all user-agents pooled (the engine
    identifies as one crawler). Empty ``Disallow:`` lines (= allow all)
    are dropped.

    Input: rows with (host, body) of fetched robots.txt pages. Output is
    one row per host — small by construction (#hosts, not #URLs) — sized
    for the broadcast join in ``robots_filter``.
    """
    lines = fetched_robots.select(
        "host", F.explode(F.split("body", r"\r?\n")).alias("line"))
    rule = F.regexp_extract("line", r"(?i)^\s*(Allow|Disallow)\s*:\s*(\S+)", 1)
    path = F.regexp_extract("line", r"(?i)^\s*(Allow|Disallow)\s*:\s*(\S+)", 2)
    parsed = (
        lines.select("host", F.lower(rule).alias("rule"), path.alias("path"))
        .filter((F.col("rule") != "") & (F.col("path") != ""))
    )
    return parsed.groupBy("host").agg(
        F.array_sort(F.array_distinct(F.collect_list(
            F.when(F.col("rule") == "allow", F.col("path"))))).alias("allow"),
        F.array_sort(F.array_distinct(F.collect_list(
            F.when(F.col("rule") == "disallow", F.col("path"))))).alias("deny"),
    )


def collapse_robots_rules(rules: DataFrame) -> DataFrame:
    """Re-aggregate a (possibly union-merged) rules table to ONE row per
    host. Under per-seed dedup scope two seeds on one host — or a
    politeness-deferred seed-expansion fetch — mine the same host's
    robots.txt in different iterations, so a plain ``unionByName`` carries
    duplicate host rows; ``robots_filter`` joins on host and would fan out
    every frontier row for that host (duplicate fetches + duplicate
    emit-per-occurrence edges). Arrays are flattened, deduped, and sorted
    so the collapsed table is deterministic regardless of union order
    (resume bit-identity)."""
    return rules.groupBy("host").agg(
        F.array_sort(F.array_distinct(
            F.flatten(F.collect_list("allow")))).alias("allow"),
        F.array_sort(F.array_distinct(
            F.flatten(F.collect_list("deny")))).alias("deny"),
    )


def robots_pattern_regex(p):
    """robots rule pattern -> anchored regex, the RFC 9309 matching
    subset: ``*`` matches any char sequence, a TRAILING ``$`` anchors the
    end, every other char is literal (specials escaped). Pure column
    expression (no Python at match time); a plain prefix pattern reduces
    to ``^prefix`` — exactly the old startswith semantics."""
    anchored = p.endswith("$")
    body = F.when(anchored, F.substring(p, F.lit(1), F.length(p) - 1)) \
        .otherwise(p)
    esc = F.regexp_replace(body, r"([\\.\[\]{}()+?^$|])", r"\\$1")
    wild = F.regexp_replace(esc, r"\*", ".*")
    return F.concat(F.lit("^"), wild,
                    F.when(anchored, F.lit("$")).otherwise(F.lit("")))


def _robots_allowed(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """frontier broadcast-joined with the rules table + ``_robots_ok``
    boolean: most-specific (longest-pattern) deny unless an >=-length
    allow wins — RFC 9309 precedence, with ``*``/trailing-``$`` wildcard
    patterns honored via ``robots_pattern_regex``."""
    path = F.coalesce(F.try_parse_url(F.col("url"), F.lit("PATH")), F.lit("/"))
    joined = frontier.join(F.broadcast(robots), "host", "left")

    def longest_match(col: str):
        hits = F.filter(
            F.coalesce(F.col(col), F.array().cast("array<string>")),
            lambda p: F.regexp_like(path, robots_pattern_regex(p)),
        )
        return F.array_max(F.transform(hits, F.length))

    best_allow, best_deny = longest_match("allow"), longest_match("deny")
    allowed = best_deny.isNull() | (
        best_allow.isNotNull() & (best_allow >= best_deny)
    )
    return joined.withColumn("_robots_ok", allowed).drop("allow", "deny")


def robots_filter(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """North-rule robots.txt enforcement (the reference only MINES robots,
    xcrawl3r.go:272): drop frontier rows whose path matches a deny prefix
    unless a longer allow prefix matches. ``robots`` is a small table
    (host, allow array<string>, deny array<string>) -> broadcast join.
    """
    return _robots_allowed(frontier, robots).filter(
        F.col("_robots_ok")).drop("_robots_ok")


def robots_flag(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """Non-dropping variant of ``robots_filter``: every row kept, denial
    recorded in ``_robots_ok`` — lets the crawl fold robots enforcement
    into the single flagged-frame checkpoint."""
    return _robots_allowed(frontier, robots)
