"""robots.txt parsing + crawl-permission decisions.

A trillion-document crawl pipeline has to respect the Robots Exclusion
Protocol (RFC 9309) before it ever fetches/keeps a page; the reference
plugin has no crawl layer, so this is new Spark-first surface on the
webtext side.

Semantics implemented (the deterministic RFC 9309 core):

- groups: one or more consecutive ``User-agent:`` lines followed by
  rule lines; a ``User-agent`` line after a rule line starts a NEW group
  (RFC 9309 §2.2.1). Only groups naming ``*`` apply (this engine models
  the generic crawler; per-product UA matching is a filter swap).
- rules: ``Allow:`` / ``Disallow:`` with a path value; keys are
  case-insensitive, values are case-sensitive paths; ``#`` comments and
  blank lines are ignored; an empty ``Disallow:`` value means
  "everything allowed" and produces no rule.
- decision (``robots_allowed``): the most specific (longest) matching
  rule wins; on a length tie Allow wins (RFC 9309 §2.2.2 — the Google
  REP tie rule). No matching rule → allowed.

**DIV** (documented simplification): rule paths match as literal
prefixes; the optional ``*`` wildcard / ``$`` end-anchor extension is
not expanded (rows whose rules carry them still match the literal
prefix up to the wildcard char — swap in a regex translation at the
``starts_with`` seam if needed).

Scale shape: the parse is posexplode + one bounded per-(host) window
over robots LINES (a robots.txt is capped at 500 KiB by RFC 9309 —
genuinely bounded groups); the decision is a host equi-join + max-struct
argmax. No collects, no cross joins, no per-URL Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

__all__ = ["parse_robots", "robots_allowed"]


def parse_robots(
    robots: DataFrame, host_col: str = "host", body_col: str = "body"
) -> DataFrame:
    """robots.txt bodies → (host, rule_path, allow, rule_len) for the
    ``User-agent: *`` groups. One row per applicable rule."""
    lines = robots.select(
        F.col(host_col).alias("host"),
        F.posexplode(
            F.split(F.coalesce(F.col(body_col), F.lit("")), "\r?\n")
        ).alias("pos", "raw"),
    )
    # strip comments + whitespace; classify
    line = F.trim(F.regexp_replace(F.col("raw"), "#.*$", ""))
    key = F.lower(F.regexp_extract(line, "^([A-Za-z-]+)\\s*:", 1))
    value = F.trim(F.regexp_extract(line, "^[A-Za-z-]+\\s*:(.*)$", 1))
    t = lines.select(
        "host",
        "pos",
        key.alias("key"),
        value.alias("value"),
    ).where(F.col("key").isin("user-agent", "allow", "disallow"))
    # a user-agent line AFTER a non-user-agent line starts a new group
    w = Window.partitionBy("host").orderBy("pos")
    is_ua = (F.col("key") == "user-agent").cast("int")
    prev_ua = F.coalesce(F.lag(is_ua).over(w), F.lit(0))
    seq = t.select(
        "host", "pos", "key", "value",
        F.sum(((is_ua == 1) & (prev_ua == 0)).cast("int"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("grp"),
    )
    star_groups = (
        seq.where((F.col("key") == "user-agent") & (F.col("value") == "*"))
        .select("host", "grp")
        .distinct()
    )
    rules = seq.where(
        F.col("key").isin("allow", "disallow") & (F.col("value") != "")
    ).join(star_groups, ["host", "grp"])
    return rules.select(
        "host",
        F.col("value").alias("rule_path"),
        (F.col("key") == "allow").alias("allow"),
        F.length("value").alias("rule_len"),
    ).distinct()


def robots_allowed(
    urls: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Per-URL crawl decision against ``parse_robots`` output: longest
    matching rule wins, Allow wins length ties, no match → allowed.
    Returns (url, host, path, allowed, rule_path)."""
    host = F.regexp_extract(
        F.col(url_col), r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#@]*@)?([^/:?#]+)", 2
    )
    path_raw = F.regexp_extract(F.col(url_col), r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*(/[^?#]*)", 1)
    path = F.when(path_raw == "", F.lit("/")).otherwise(path_raw)
    u = urls.select(
        F.col(url_col).alias("url"), host.alias("host"), path.alias("path")
    )
    matched = (
        u.join(rules, "host")
        .where(F.col("path").startswith(F.col("rule_path")))
        .groupBy("url", "host", "path")
        .agg(
            F.max(
                F.struct(
                    F.col("rule_len"),
                    F.col("allow").cast("int").alias("allow_i"),
                    F.col("rule_path"),
                )
            ).alias("win")
        )
        .select(
            "url", "host", "path",
            (F.col("win.allow_i") == 1).alias("allowed"),
            F.col("win.rule_path").alias("rule_path"),
        )
    )
    return (
        u.join(matched.select("url", "allowed", "rule_path"), "url", "left")
        .select(
            "url", "host", "path",
            F.coalesce(F.col("allowed"), F.lit(True)).alias("allowed"),
            "rule_path",
        )
    )
