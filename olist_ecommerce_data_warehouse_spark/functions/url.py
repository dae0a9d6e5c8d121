"""URL canonicalization — the key function behind URL-level dedup,
the FIRST dedup stage of every web-scale corpus pipeline (C4, CCNet,
RefinedWeb all collapse crawl records by normalized URL before any
content hashing; the reference warehouse has no web tier, so this is
extension-tier capability like the rest of the LLM-corpus family).

Rules applied (the standard, result-safe subset of RFC 3986 §6 plus
the conventions the corpus pipelines add):

- scheme and host lowercased (case-insensitive by spec);
- default port stripped (``:80`` for http, ``:443`` for https) — a
  NON-default port is kept, it names a different origin;
- leading ``www.`` stripped from the host (corpus-pipeline convention:
  www and apex serve the same documents);
- fragment dropped (never sent to the server);
- trailing slashes stripped from the path;
- tracking query parameters removed (``utm_*``, ``gclid``, ``fbclid``)
  and the survivors SORTED bytewise — parameter order is not semantic,
  and crawlers see the same page under every permutation.  Bare
  ``ref`` is deliberately NOT in the default set: on many sites it is
  a functional parameter (git refs, forum post references), so
  stripping it silently collapses distinct pages into one dedup key —
  a false-positive class worse than the tracking noise it removes.
  Both twins build from the same ``_TRACKING_RE`` literal, so the
  oracle stays in lockstep.

Everything is pure codegen string/array expressions (regexp_extract /
filter / array_sort) — no Python UDFs, so canonicalization runs
JVM-side at scan speed and the downstream URL-dedup is one hash
aggregate.  ``canonical_url_sql`` is the DuckDB twin built from the
SAME regex literals (shared Java-regex ∩ RE2 syntax only, like
functions.text.TOKEN_RE); parity is hypothesis-fuzzed in
tests/test_properties.py over adversarial component combinations.

Scope (documented, asserted in tests): absolute http(s) URLs.  Inputs
that don't parse as ``scheme://host...`` fall back to the lowercased
raw string, so the function is total and the dedup key never nulls
out.  Percent-encoding and IDN normalization are out of scope — both
engines would need a real URL library (not in this container), and
the crawl pipelines this models treat those as upstream concerns.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Shared regex literals (Java regex ∩ RE2 — no lookarounds, no named
# script classes, no backrefs).
_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOSTPORT_RE = r"://([^/]*)"
_PORT_RE = r":([0-9]+)$"
_PATH_RE = r"://[^/]*(/[^?#]*)"
_TRACKING_RE = r"^(utm_[^=]*|gclid|fbclid)(=|$)"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def canonicalize_url(col: Column | str) -> Column:
    """Canonical form of an absolute http(s) URL (see module doc for
    the rule set).  Pure codegen expressions; non-URL inputs fall back
    to ``lower(input)``."""
    u = _c(col)
    # fragment stripped FIRST: a '?' inside the fragment (#a?b=1) must
    # not be parsed as the query separator
    nofrag = F.regexp_extract(u, r"^[^#]*", 0)
    base = F.regexp_extract(nofrag, r"^[^?]*", 0)
    qstring = F.regexp_extract(nofrag, r"\?(.*)", 1)

    scheme = F.lower(F.regexp_extract(base, _SCHEME_RE, 1))
    hostport = F.lower(F.regexp_extract(base, _HOSTPORT_RE, 1))
    port = F.regexp_extract(hostport, _PORT_RE, 1)
    host = F.regexp_replace(
        F.regexp_replace(hostport, _PORT_RE, ""), r"^www\.", ""
    )
    port_norm = (
        F.when(port == "", F.lit(""))
        .when((scheme == "http") & (port == "80"), F.lit(""))
        .when((scheme == "https") & (port == "443"), F.lit(""))
        .otherwise(F.concat(F.lit(":"), port))
    )
    path = F.regexp_replace(F.regexp_extract(base, _PATH_RE, 1), r"/+$", "")

    params = F.filter(
        F.split(qstring, "&"),
        lambda x: (x != "") & ~x.rlike(_TRACKING_RE),
    )
    qnorm = F.array_join(F.array_sort(params), "&")

    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        port_norm,
        path,
        F.when(qnorm == "", F.lit("")).otherwise(F.concat(F.lit("?"), qnorm)),
    )
    return F.when(scheme == "", F.lower(u)).otherwise(canon)


def canonical_url_sql(expr: str) -> str:
    """DuckDB twin of :func:`canonicalize_url` — same regex literals,
    same rule order, so every URL-dedup oracle shares one definition
    with the engine (the toks_sql() discipline applied to URLs)."""
    # DuckDB regexp_extract returns NULL on no-match where Spark
    # returns '' — every extract is coalesced so the twins agree (and
    # so '||' never NULLs the whole URL out).
    nofrag = f"coalesce(regexp_extract({expr}, '^[^#]*', 0), '')"
    base = f"coalesce(regexp_extract({nofrag}, '^[^?]*', 0), '')"
    qstring = f"coalesce(regexp_extract({nofrag}, '\\?(.*)', 1), '')"
    scheme = f"coalesce(lower(regexp_extract({base}, '{_SCHEME_RE}', 1)), '')"
    hostport = f"coalesce(lower(regexp_extract({base}, '{_HOSTPORT_RE}', 1)), '')"
    port = f"coalesce(regexp_extract({hostport}, '{_PORT_RE}', 1), '')"
    host = (
        f"regexp_replace(regexp_replace({hostport}, '{_PORT_RE}', ''),"
        f" '^www\\.', '')"
    )
    port_norm = (
        f"CASE WHEN {port} = '' THEN ''"
        f" WHEN {scheme} = 'http' AND {port} = '80' THEN ''"
        f" WHEN {scheme} = 'https' AND {port} = '443' THEN ''"
        f" ELSE ':' || {port} END"
    )
    path = (
        f"regexp_replace(coalesce(regexp_extract({base}, '{_PATH_RE}', 1), ''),"
        f" '/+$', '')"
    )
    params = (
        f"list_filter(string_split({qstring}, '&'),"
        f" x -> x <> '' AND NOT regexp_matches(x, '{_TRACKING_RE}'))"
    )
    # array_to_string over an EMPTY list is NULL in DuckDB ('' in
    # Spark's array_join) — coalesce keeps the twins aligned
    qnorm = f"coalesce(array_to_string(list_sort({params}), '&'), '')"
    canon = (
        f"{scheme} || '://' || {host} || {port_norm} || {path} ||"
        f" CASE WHEN {qnorm} = '' THEN '' ELSE '?' || {qnorm} END"
    )
    return f"CASE WHEN {scheme} = '' THEN lower({expr}) ELSE {canon} END"
