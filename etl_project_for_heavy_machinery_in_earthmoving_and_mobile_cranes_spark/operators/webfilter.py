"""Web-corpus URL filtering: suffix-matching domain blocklists.

Crawl curation (C4, RefinedWeb, FineWeb) drops documents whose host
falls under a blocklisted registrable domain — matching by DNS suffix,
not string equality: a rule ``example.com`` must block
``cdn.ads.example.com`` while leaving ``notexample.com`` alone.  The
reference pipeline's keyword anti-filter (prog.py:236-240, F2) is the
same drop-by-dictionary shape over free text; this is its URL-shaped
twin for a web-scale corpus.

Scale notes
-----------
- Host extraction is one codegen'd regexp over the URL column; the
  suffix chain (every dot-suffix with ≥2 labels) is a JVM-side array
  ``transform`` — hostnames have ≤127 labels in theory, ~4 in practice,
  so the explode fans out by the label depth, a small constant.
- The blocklist is a dimension table (thousands to millions of rows,
  never corpus-sized) joined with a broadcast hash join: the corpus
  never shuffles to discover matches.  The per-doc winner (the most
  specific = longest matched rule) is a ``max_by`` hash aggregate over
  the HIT rows only, which are answer-sized; the final tag join-back is
  doc-keyed and AQE picks its strategy from the hit count.
- No per-row Python anywhere; everything stays in whole-stage codegen.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# scheme://host, host ends at the first '/', ':', '?' or '#'
HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)"


def host_of(url) -> "F.Column":
    """Lowercased hostname of a URL column (empty string if the URL
    has no scheme://host prefix)."""
    return F.lower(F.regexp_extract(url, HOST_RE, 1))


def domain_suffixes(host) -> "F.Column":
    """Array of every DNS suffix of ``host`` with at least two labels,
    longest first: ``a.b.example.com`` → [``a.b.example.com``,
    ``b.example.com``, ``example.com``].  The bare TLD is deliberately
    excluded — a blocklist never bans ``com``."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.array_join(F.slice(labels, i + 1, n - i), "."),
        ),
    ).otherwise(F.array().cast("array<string>"))


TRACKING_PARAMS = ("utm_", "gclid", "fbclid", "ref")


def canonical_url(url) -> "F.Column":
    """Canonical form of a URL for crawl-frontier / corpus dedup: two
    fetches of the same page must collapse to one key even when the
    crawler saw different tracking params, param order, fragment, case,
    ``www.`` prefix, default port, or trailing slash.

    Rules (all pure Column expressions, one codegen pass):
    scheme+host lowercased; leading ``www.`` and default ports
    (``:80`` http / ``:443`` https) stripped; fragment dropped; query
    params starting with any ``TRACKING_PARAMS`` prefix dropped, the
    survivors sorted bytewise; empty path rendered ``/`` and a trailing
    slash trimmed.  URLs with no scheme://host pass through unchanged
    (nothing to canonicalize)."""
    scheme = F.lower(F.regexp_extract(url, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1))
    hostport = F.regexp_replace(hostport, r"^www\.", "")
    hostport = F.when(
        scheme == "http", F.regexp_replace(hostport, ":80$", "")
    ).when(
        scheme == "https", F.regexp_replace(hostport, ":443$", "")
    ).otherwise(hostport)
    path = F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    path = F.regexp_replace(path, "/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    rawq = F.regexp_extract(url, r"\?([^#]*)", 1)
    keep = F.array_sort(
        F.filter(
            F.split(rawq, "&"),
            lambda p: (p != "")
            & ~reduce(
                lambda a, b: a | b,
                [p.startswith(t) for t in TRACKING_PARAMS],
            ),
        )
    )
    q = F.array_join(keep, "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        hostport,
        path,
        F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
    )
    return F.when(scheme == "", url).otherwise(canon)


def canonical_dedup(df: DataFrame, id_col: str, url_col: str) -> DataFrame:
    """Collapse URL variants onto their canonical form: one row per
    canonical URL with the kept (lowest-id) row, the variant count, and
    the distinct raw spellings seen.  ONE hash aggregate on the
    canonical key — the standard exact-dedup shape, so skew is bounded
    by the hottest page's fetch count."""
    canon = df.select(
        F.col(id_col).alias("__id"),
        F.col(url_col).alias("__url"),
        canonical_url(F.col(url_col)).alias("canonical"),
    )
    return canon.groupBy("canonical").agg(
        F.min("__id").alias("keep_id"),
        F.count("*").cast("bigint").alias("n_fetches"),
        F.count_distinct("__url").cast("bigint").alias("n_spellings"),
    )


def blocklist_audit(
    df: DataFrame,
    url_col: str,
    blocklist: DataFrame,
) -> DataFrame:
    """Tag every row with the blocklist rule its host falls under.

    ``blocklist`` is a one-column (``rule``) dimension of lowercase
    domains; a row is blocked when ANY suffix of its host equals a rule,
    and ``matched_rule`` reports the most specific (longest) such rule.
    Returns the input columns plus ``host``, ``matched_rule``
    (NULL = kept) and ``blocked``.

    The corpus-side plan: one narrow suffix explode (fan-out = label
    depth ≤ ~4), a broadcast semi-ish inner join against the rule dim,
    an answer-sized ``max_by`` aggregate, and one doc-keyed join back.
    """
    host = host_of(F.col(url_col))
    tagged = df.withColumn("host", host)
    cand = tagged.select(
        F.col(url_col).alias("__url"),
        F.explode(domain_suffixes(F.col("host"))).alias("__sfx"),
    )
    rules = blocklist.select(F.col("rule").alias("__rule")).distinct()
    hits = (
        cand.join(F.broadcast(rules), cand["__sfx"] == rules["__rule"], "inner")
        .groupBy("__url")
        .agg(F.max_by("__rule", F.length("__rule")).alias("matched_rule"))
    )
    out = tagged.join(hits, tagged[url_col] == hits["__url"], "left").drop("__url")
    return out.withColumn("blocked", F.col("matched_rule").isNotNull())
