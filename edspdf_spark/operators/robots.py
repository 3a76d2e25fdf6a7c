"""robots.txt evaluation for crawl frontiers: parse per-host robots
files into applicable allow/disallow rules, then verdict every
frontier URL by the longest-matching-rule standard (RFC 9309: most
specific path wins; on a length tie, allow wins; no rule -> allowed).

Subset contract (documented, mirrored exactly by the oracle): prefix
rules only — the `*` wildcard and `$` anchor extensions are not
interpreted (their rules are skipped); group matching follows RFC 9309
§2.2.1 specificity: when any group on a host names the literal agent
token, ONLY those groups apply and `*` groups are ignored — `*` groups
apply only on hosts with no literal-agent group (merging both would
let a long `Allow:` in the `*` group override an agent-specific
Disallow); directives are matched case-insensitively; values are taken
verbatim to end-of-line (after stripping CR and inline spaces).

Scale shape: robots files are one small row per host — the entire
parse (split/explode + two running-sum windows partitioned by host) is
tiny next to the frontier. The frontier joins the applicable-rule
table on host (broadcast when the rule table fits — the common case:
rules ~ hosts x a few lines) and the verdict is a struct-max partial
aggregate per URL, never a window over the frontier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F  # noqa: N812



def _parsed_groups(robots: DataFrame, agent: str, host_col: str,
                   text_col: str):
    """Shared robots.txt front half: comment-stripped directive/value
    lines with RFC group ids, plus the per-group applicability table
    for `agent`. RFC 9309 §2.2.1 most-specific-group: a group applies
    when it names the literal agent token, or when it is a '*' group
    AND the host has no literal-agent group at all."""
    agent = agent.lower()
    lines = (robots.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.replace(F.col(text_col),
                                       F.lit("\r"), F.lit("")), "\n"))
        .alias("idx", "raw"))
        .withColumn("l0", F.trim(F.col("raw"))))
    # strip comments (everything from '#'), then re-trim
    line = F.trim(F.when(
        F.instr(F.col("l0"), "#") > 0,
        F.expr("substring(l0, 1, instr(l0, '#') - 1)"))
        .otherwise(F.col("l0")))
    parsed = (lines.select("host", "idx", line.alias("line"))
              .withColumn("directive",
                          F.lower(F.trim(F.substring_index(
                              F.col("line"), ":", 1))))
              .withColumn("value",
                          F.when(F.instr(F.col("line"), ":") > 0,
                                 F.trim(F.expr(
                                     "substring(line, "
                                     "instr(line, ':') + 1)")))
                          .otherwise(F.lit("")))
              .where(F.col("line") != ""))
    is_ua = F.col("directive") == "user-agent"
    w = Window.partitionBy("host").orderBy("idx")
    prev_ua = F.lag(is_ua.cast("int"), 1, 0).over(w)
    new_group = (is_ua & (prev_ua == 0)).cast("int")
    grouped = parsed.withColumn(
        "group_id", F.sum(new_group).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    per_group = (grouped.where(is_ua)
                 .groupBy("host", "group_id")
                 .agg(F.max(F.lower(F.col("value")) == agent)
                      .alias("lit_match"),
                      F.max(F.col("value") == "*").alias("star_match")))
    # '*' groups count only on hosts with no literal-agent group
    # (RFC 9309 §2.2.1). The per-host bool is a window over the tiny
    # group table (rows ~ groups per robots file), not the frontier.
    has_specific = F.max("lit_match").over(Window.partitionBy("host"))
    uas = (per_group
           .withColumn("applies",
                       F.col("lit_match") |
                       (F.col("star_match") & ~has_specific))
           .select("host", "group_id", "applies"))
    return grouped, uas


def robots_rules(robots: DataFrame, agent: str = "spark-graft",
                 host_col: str = "host",
                 text_col: str = "robots_txt") -> DataFrame:
    """(host, robots_txt) -> (host, is_allow, path, plen): the rules
    of every group whose user-agent line matches `agent` or '*'.

    Group semantics per RFC 9309 §2.2.1: a group is one or more
    consecutive User-agent lines followed by rules; a rule line
    belongs to the nearest preceding group. Implemented with two
    per-host running windows (new-group detection, then group-id
    inheritance) — pure codegen, no Python."""
    grouped, uas = _parsed_groups(robots, agent, host_col, text_col)
    rules = (grouped
             .where(F.col("directive").isin("allow", "disallow"))
             .where(F.col("value") != "")            # empty = no rule
             .where(~F.col("value").contains("*") &
                    ~F.col("value").contains("$"))   # subset contract
             .join(uas, ["host", "group_id"])
             .where(F.col("applies")))
    return rules.select(
        "host", (F.col("directive") == "allow").alias("is_allow"),
        F.col("value").alias("path"),
        F.length("value").cast("bigint").alias("plen"))


def robots_verdicts(frontier: DataFrame, rules: DataFrame,
                    url_col: str = "url") -> DataFrame:
    """frontier(url, ...) -> (url, host, path, allowed, match_len):
    longest matching applicable rule decides (allow wins ties); no
    matching rule -> allowed. One host join against the broadcast rules
    table + one struct-max groupBy."""
    host = F.lower(F.split_part(F.split_part(F.col(url_col),
                                             F.lit("//"), F.lit(2)),
                                F.lit("/"), F.lit(1)))
    base = frontier.select(
        F.col(url_col).alias("url"), host.alias("host"),
        F.when(F.instr(F.split_part(F.col(url_col), F.lit("//"),
                                    F.lit(2)), "/") > 0,
               F.expr(f"substring(split_part({url_col}, '//', 2), "
                      f"instr(split_part({url_col}, '//', 2), '/'))"))
        .otherwise(F.lit("/")).alias("path"))
    r = F.broadcast(rules.select("host", "is_allow",
                                 F.col("path").alias("rule_path"), "plen"))
    j = (base.join(r, "host", "left")
         .withColumn("hit", F.col("rule_path").isNotNull() &
                     F.col("path").startswith(F.col("rule_path"))))
    agg = (j.groupBy("url", "host", "path")
           .agg(F.max(F.when(F.col("hit"),
                             F.struct(F.col("plen").alias("l"),
                                      F.col("is_allow").alias("a"))))
                .alias("best")))
    return agg.select(
        "url", "host", "path",
        F.coalesce(F.col("best.a"), F.lit(True)).alias("allowed"),
        F.coalesce(F.col("best.l"), F.lit(0).cast("bigint"))
        .alias("match_len"))


def robots_crawl_delays(robots: DataFrame, agent: str = "spark-graft",
                        host_col: str = "host",
                        text_col: str = "robots_txt") -> DataFrame:
    """(host, crawl_delay_ms, crawl_delay_s): the Crawl-delay
    directive of applicable groups (same group/agent semantics as
    robots_rules), minimum wins when several apply. Integer AND
    fractional values (`2.5`) are honored via per-mille integer
    quantization (r4 VERDICT #8): delay_ms = int_part * 1000 +
    first-three fraction digits right-padded with zeros — pure
    string/integer ops that mean the same thing in Spark and DuckDB,
    so no float parse ever enters the oracle. Fraction digits beyond
    milliseconds are truncated (sub-ms crawl pacing is meaningless).
    crawl_delay_s = crawl_delay_ms div 1000 is kept for consumers
    that pace in whole seconds (floor of the minimum).

    Feeds crawl_schedule: slot pacing per host = max(politeness
    default, crawl_delay_s)."""
    grouped, uas = _parsed_groups(robots, agent, host_col, text_col)
    ms = (F.split_part(F.col("value"), F.lit("."), F.lit(1))
          .cast("bigint") * 1000
          + F.rpad(F.substring(
              F.split_part(F.col("value"), F.lit("."), F.lit(2)),
              1, 3), 3, "0").cast("bigint"))
    return (grouped
            .where(F.col("directive") == "crawl-delay")
            .where(F.col("value").rlike("^[0-9]+(\\.[0-9]+)?$"))
            .join(uas, ["host", "group_id"])
            .where(F.col("applies"))
            .groupBy("host")
            .agg(F.min(ms).alias("crawl_delay_ms"))
            .withColumn("crawl_delay_s",
                        F.expr("crawl_delay_ms div 1000")))


def robots_sitemaps(robots: DataFrame, host_col: str = "host",
                    text_col: str = "robots_txt") -> DataFrame:
    """(host, sitemap_url): Sitemap directives — group-INDEPENDENT
    per RFC 9309 §2.3 / sitemaps.org (they apply to all agents, so no
    applicability join), one row per occurrence, order-free. The
    crawl bootstrap: sitemap URLs seed the frontier before any link
    graph exists."""
    grouped, _uas = _parsed_groups(robots, "*", host_col, text_col)
    return (grouped.where(F.col("directive") == "sitemap")
            .where(F.col("value") != "")
            .select("host", F.col("value").alias("sitemap_url"))
            .distinct())
