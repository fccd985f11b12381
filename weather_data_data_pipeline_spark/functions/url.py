"""URL canonicalization + registrable-domain extraction (VERDICT r9 ask
#4): the CommonCrawl-style curation stage with no prior counterpart —
URL-level dedup after canonicalization, and domain-level rollups against
a blocklist.

Every kernel is a PAIRED (Spark Column expression, DuckDB SQL string)
like ``text.py``'s ``_NORM_SQL`` pattern, so the oracle replays the
EXACT same string pipeline: split-based parsing only (``split_part`` /
``substr`` / ``string_split``), no engine-specific URL functions (Spark
``parse_url`` has no DuckDB twin) and no regex beyond the two anchored
patterns both regex engines (Java, RE2) treat identically. All of it is
per-row JVM-side string work — no shuffle, no UDF; at 100 TB it
pipelines into the scan stage.

Canonicalization rules (the standard crawl-dedup set):
  - fragment stripped (``#...`` never reaches the server);
  - scheme and host lowercased; a scheme-less URL is treated as http;
  - leading ``www.`` stripped from the host;
  - default ports stripped (http:80, https:443); other ports kept;
  - trailing ``/`` runs stripped from the path;
  - tracking params dropped (``utm_*``, ``ref``, ``fbclid``, ``gclid``,
    ``igshid``, ``mc_eid``); survivors SORTED so param order never
    splits a canonical identity; an emptied query string disappears.

Out of scope by contract (documented, unit-pinned for cross-engine
AGREEMENT even so): bracketed IPv6 authorities (``[::1]:8080`` — the
colon-split port parse predates RFC 3986 bracket handling) and
percent-encoding case normalization. A deployment fronting raw crawl
data normalizes those upstream or extends ``_parts``/``_parts_sql`` in
lockstep.

Registrable domain: last two host labels, or last three when the last
two form a multi-part public suffix (``co.uk`` etc.). The embedded
suffix set is a deliberately small, documented subset of the public
suffix list — the method (label slicing against a suffix set) is what a
production deployment swaps the full PSL into; the plan shape is
identical for any list size (it rides as one literal IN-set).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Multi-part public suffixes (subset of the PSL — see module docstring).
MULTIPART_SUFFIXES: tuple[str, ...] = (
    "co.uk",
    "org.uk",
    "ac.uk",
    "gov.uk",
    "co.jp",
    "ne.jp",
    "or.jp",
    "com.au",
    "net.au",
    "org.au",
    "co.nz",
    "co.in",
    "co.za",
    "com.br",
    "com.mx",
    "com.ar",
    "com.cn",
    "com.sg",
    "com.tr",
)

# Tracking params: prefix-match families and exact names (matched as
# ``name=...`` or a bare ``name``).
TRACKING_PREFIXES: tuple[str, ...] = ("utm_",)
TRACKING_NAMES: tuple[str, ...] = (
    "ref",
    "fbclid",
    "gclid",
    "igshid",
    "mc_eid",
)


def _col(c: Column | str) -> Column:
    return c if isinstance(c, Column) else F.col(c)


def _parts(u: Column) -> dict[str, Column]:
    """Split a raw URL into (scheme, host, port, path, query) Columns.

    Pure split_part/substr arithmetic — keep in lockstep with
    :func:`_parts_sql`."""
    u0 = F.split_part(u, F.lit("#"), F.lit(1))  # fragment never survives
    has_scheme = F.instr(u0, "://") > 0
    scheme = F.when(
        has_scheme, F.lower(F.split_part(u0, F.lit("://"), F.lit(1)))
    ).otherwise(F.lit("http"))
    rest = F.when(
        has_scheme, F.split_part(u0, F.lit("://"), F.lit(2))
    ).otherwise(u0)
    hostport = F.split_part(
        F.split_part(rest, F.lit("/"), F.lit(1)), F.lit("?"), F.lit(1)
    )
    pathq = F.substr(rest, F.length(hostport) + F.lit(1))
    # userinfo (user:pass@) never survives canonicalization — and must
    # strip BEFORE the port split, or 'u:p@host' would parse 'u' as the
    # host. GREEDY to the LAST '@' (browser behavior): RFC 3986 says a
    # literal '@' in userinfo must be %-encoded, but crawl garbage
    # contains raw multi-@ authorities, and first-@ stripping leaves
    # 'u:p@host' behind — the fuzz-caught idempotence leak.
    hostport_na = F.regexp_replace(hostport, r"^.*@", "")
    # (www\.)+ not www\.: stripping ONE label would make
    # canonicalization non-idempotent on degenerate www.www.* hosts
    # (fuzz-pinned in tests/test_url.py)
    host = F.regexp_replace(
        F.lower(F.split_part(hostport_na, F.lit(":"), F.lit(1))),
        r"^(www\.)+",
        "",
    )
    port = F.split_part(hostport_na, F.lit(":"), F.lit(2))
    path = F.regexp_replace(
        F.split_part(pathq, F.lit("?"), F.lit(1)), r"/+$", ""
    )
    query = F.when(
        F.instr(pathq, "?") > 0, F.split_part(pathq, F.lit("?"), F.lit(2))
    ).otherwise(F.lit(""))
    return {
        "scheme": scheme,
        "host": host,
        "port": port,
        "path": path,
        "query": query,
    }


def _keep_param(p: Column) -> Column:
    cond = p != F.lit("")
    for pre in TRACKING_PREFIXES:
        cond = cond & ~p.startswith(pre)
    for name in TRACKING_NAMES:
        cond = cond & ~p.startswith(name + "=") & (p != F.lit(name))
    return cond


def canonical_url(c: Column | str) -> Column:
    """Canonical form of a raw URL string (rules in module docstring).
    NULL in → NULL out (pinned explicitly on BOTH engines: DuckDB's
    ``concat`` otherwise SKIPS NULL arguments where Spark's propagates
    them — the one place the twins would silently diverge)."""
    u = _col(c)
    p = _parts(u)
    keep_port = (
        (p["port"] != F.lit(""))
        & ~((p["scheme"] == F.lit("http")) & (p["port"] == F.lit("80")))
        & ~((p["scheme"] == F.lit("https")) & (p["port"] == F.lit("443")))
    )
    params = F.array_sort(
        F.filter(F.split(p["query"], "&"), _keep_param)
    )
    out = F.concat(
        p["scheme"],
        F.lit("://"),
        p["host"],
        F.when(keep_port, F.concat(F.lit(":"), p["port"])).otherwise(
            F.lit("")
        ),
        p["path"],
        F.when(
            F.size(params) > 0,
            F.concat(F.lit("?"), F.array_join(params, "&")),
        ).otherwise(F.lit("")),
    )
    return F.when(u.isNull(), F.lit(None).cast("string")).otherwise(out)


def canonical_host(c: Column | str) -> Column:
    """Lowercased, www-stripped host of a raw URL."""
    return _parts(_col(c))["host"]


def registrable_domain(host: Column | str) -> Column:
    """Registrable domain of a (canonical) host: last two labels, last
    three when the last two form a multi-part public suffix. NULL in →
    NULL out (explicit on both engines, same reason as
    :func:`canonical_url`)."""
    h = _col(host)
    labels = F.split(h, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(
        ".", F.element_at(labels, -2), F.element_at(labels, -1)
    )
    out = F.when(n <= 2, h).otherwise(
        F.when(
            last2.isin(*MULTIPART_SUFFIXES),
            F.concat_ws(".", F.element_at(labels, -3), last2),
        ).otherwise(last2)
    )
    return F.when(h.isNull(), F.lit(None).cast("string")).otherwise(out)


def domain_share_rollup(
    dom_df,
    blocked: tuple[str, ...],
    share_alias: str = "corpus_share",
):
    """Per-domain volume rollup + blocklist flag + decimal-pinned share
    of the input — the ONE definition compiled by BOTH the batch
    ``domain_blocklist_rollup`` query and the streaming
    ``url_blocklist_monitor_sink`` (per micro-batch), so the two paths
    cannot drift. ``dom_df`` is a frame with a single ``domain``
    column; share denominator = the frame's row count (the corpus for
    the batch query, the arriving batch for the monitor)."""
    agg = dom_df.groupBy("domain").agg(
        F.count("*").cast("bigint").alias("n_urls")
    )
    tot = agg.agg(F.sum("n_urls").alias("total"))
    return agg.crossJoin(F.broadcast(tot)).select(
        "domain",
        "n_urls",
        F.col("domain").isin(*blocked).alias("blocked"),
        F.round(
            (
                F.col("n_urls").cast("double")
                / F.col("total").cast("double")
            ).cast("decimal(38,15)"),
            6,
        )
        .cast("decimal(38,6)")
        .cast("double")
        .alias(share_alias),
    )


# --- DuckDB twins -----------------------------------------------------
# Each *_sql builder inlines the full split pipeline per occurrence (no
# shared CTE state) so oracle strings can use them anywhere. Keep the
# arithmetic in lockstep with the Column forms above.


def _parts_sql(expr: str) -> dict[str, str]:
    u0 = f"split_part({expr}, '#', 1)"
    has = f"(strpos({u0}, '://') > 0)"
    scheme = (
        f"CASE WHEN {has} THEN lower(split_part({u0}, '://', 1)) "
        f"ELSE 'http' END"
    )
    rest = f"CASE WHEN {has} THEN split_part({u0}, '://', 2) ELSE {u0} END"
    hostport = f"split_part(split_part({rest}, '/', 1), '?', 1)"
    pathq = f"substr({rest}, len({hostport}) + 1)"
    # userinfo strips BEFORE the port split, greedy to the LAST '@'
    # (see _parts)
    hostport_na = f"regexp_replace({hostport}, '^.*@', '')"
    host = (
        f"regexp_replace(lower(split_part({hostport_na}, ':', 1)), "
        f"'^(www\\.)+', '')"
    )
    port = f"split_part({hostport_na}, ':', 2)"
    path = f"regexp_replace(split_part({pathq}, '?', 1), '/+$', '')"
    query = (
        f"CASE WHEN strpos({pathq}, '?') > 0 "
        f"THEN split_part({pathq}, '?', 2) ELSE '' END"
    )
    return {
        "scheme": scheme,
        "host": host,
        "port": port,
        "path": path,
        "query": query,
    }


def _keep_param_sql(var: str = "p") -> str:
    terms = [f"{var} <> ''"]
    for pre in TRACKING_PREFIXES:
        terms.append(f"NOT starts_with({var}, '{pre}')")
    for name in TRACKING_NAMES:
        terms.append(
            f"NOT (starts_with({var}, '{name}=') OR {var} = '{name}')"
        )
    return " AND ".join(terms)


def canonical_url_sql(expr: str) -> str:
    p = _parts_sql(expr)
    keep_port = (
        f"({p['port']} <> '' "
        f"AND NOT (({p['scheme']}) = 'http' AND ({p['port']}) = '80') "
        f"AND NOT (({p['scheme']}) = 'https' AND ({p['port']}) = '443'))"
    )
    params = (
        f"list_sort(list_filter(string_split({p['query']}, '&'), "
        f"p -> {_keep_param_sql('p')}))"
    )
    # NULL guard: DuckDB concat SKIPS NULL args (Spark propagates), so
    # NULL-in → NULL-out must be pinned explicitly
    return (
        f"CASE WHEN ({expr}) IS NULL THEN NULL ELSE "
        f"concat({p['scheme']}, '://', {p['host']}, "
        f"CASE WHEN {keep_port} THEN concat(':', {p['port']}) "
        f"ELSE '' END, "
        f"{p['path']}, "
        f"CASE WHEN len({params}) > 0 "
        f"THEN concat('?', array_to_string({params}, '&')) "
        f"ELSE '' END) END"
    )


def canonical_host_sql(expr: str) -> str:
    # NULL guard: DuckDB split_part(NULL, ...) returns '' (Spark: NULL)
    return (
        f"CASE WHEN ({expr}) IS NULL THEN NULL "
        f"ELSE {_parts_sql(expr)['host']} END"
    )


def registrable_domain_sql(host_expr: str) -> str:
    labels = f"string_split({host_expr}, '.')"
    last2 = f"concat({labels}[-2], '.', {labels}[-1])"
    suffixes = ", ".join(f"'{s}'" for s in MULTIPART_SUFFIXES)
    return (
        f"CASE WHEN ({host_expr}) IS NULL THEN NULL "
        f"WHEN len({labels}) <= 2 THEN {host_expr} "
        f"WHEN ({last2}) IN ({suffixes}) "
        f"THEN concat({labels}[-3], '.', {last2}) "
        f"ELSE {last2} END"
    )
