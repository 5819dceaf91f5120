"""Sitemap parsing (sitemaps.org XML) — crawl frontier discovery.

The discovery half of the crawl boundary: robots.txt says what MAY be
fetched (`operators/robots.py`), sitemaps say what EXISTS. A sitemap is
either a ``<urlset>`` of ``<url>`` entries (loc, lastmod, changefreq,
priority) or a ``<sitemapindex>`` pointing at further sitemap files —
Common Crawl-scale sites shard their URL lists exactly this way
(50k-URL / 50 MB limit per file forces the index layout).

Parsing is native regexp over the XML (the format is a fixed, flat
schema — element extraction, not general XML; entities in loc decode
via the same table `functions/web.py` uses), so extraction fuses into
the scan of however many million sitemap files arrived. Index
recursion is driver-side breadth-first over DISTINCT child URLs with a
depth bound (an index-of-indexes cycle must terminate loudly, not
loop).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipelines_spark.session import persisted

SITEMAP_SCHEMA = (
    "sitemap string, loc string, lastmod string, changefreq string, "
    "priority double"
)

# &amp; last — same double-escape rationale as functions/web.py
_XML_ENTITIES = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&apos;", "'"),
    ("&#39;", "'"), ("&amp;", "&"),
)


def _decode_entities(c: Column) -> Column:
    for ent, repl in _XML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(repl))
    return c


def _extract_tag(entry: Column, tag: str) -> Column:
    raw = F.regexp_extract(
        entry, rf"(?s)<{tag}[^>]*>\s*(.*?)\s*</{tag}>", 1
    )
    return F.when(raw != "", _decode_entities(raw))


def parse_sitemap_entries(
    docs: DataFrame, content_col: str = "content", src_col: str = "sitemap"
) -> DataFrame:
    """(sitemap, content) XML bodies → one row per ``<url>`` entry:
    ``(sitemap, loc, lastmod, changefreq, priority)``. Entries without
    a ``<loc>`` are dropped (they identify nothing); CDATA-wrapped locs
    unwrap; priority parses to double (NULL when absent/invalid under
    try_cast semantics)."""
    entries = docs.select(
        F.col(src_col).alias("sitemap"),
        F.explode(
            F.expr(
                f"regexp_extract_all({content_col}, "
                "'(?s)<url\\\\s*>(.*?)</url>', 1)"
            )
        ).alias("entry"),
    )
    loc = F.regexp_replace(
        _extract_tag(F.col("entry"), "loc"), r"^<!\[CDATA\[", ""
    )
    loc = F.regexp_replace(loc, r"\]\]>$", "")
    return entries.select(
        "sitemap",
        F.trim(loc).alias("loc"),
        _extract_tag(F.col("entry"), "lastmod").alias("lastmod"),
        _extract_tag(F.col("entry"), "changefreq").alias("changefreq"),
        F.expr(
            "try_cast(regexp_extract(entry, "
            "'(?s)<priority[^>]*>\\\\s*(.*?)\\\\s*</priority>', 1) "
            "AS DOUBLE)"
        ).alias("priority"),
    ).where(F.col("loc").isNotNull() & (F.col("loc") != ""))


def parse_sitemap_index(
    docs: DataFrame, content_col: str = "content", src_col: str = "sitemap"
) -> DataFrame:
    """(sitemap, content) of ``<sitemapindex>`` bodies → one row per
    child ``(sitemap, child)``."""
    return docs.select(
        F.col(src_col).alias("sitemap"),
        F.explode(
            F.expr(
                f"regexp_extract_all({content_col}, "
                "'(?s)<sitemap\\\\s*>(.*?)</sitemap>', 1)"
            )
        ).alias("entry"),
    ).select(
        "sitemap",
        F.trim(_extract_tag(F.col("entry"), "loc")).alias("child"),
    ).where(F.col("child").isNotNull() & (F.col("child") != ""))


def is_sitemap_index(content_col: Column) -> Column:
    """True when the body is a ``<sitemapindex>`` (vs a ``<urlset>``)."""
    return content_col.rlike(r"(?s)<\s*sitemapindex[\s>]")


def read_sitemaps(
    spark: SparkSession,
    urls: list[str],
    fetch=None,
    max_depth: int = 3,
    num_slots: int | None = None,
) -> DataFrame:
    """Fetch + parse sitemaps, following ``<sitemapindex>`` redirection
    breadth-first up to ``max_depth`` levels → the union of all url
    entries (SITEMAP_SCHEMA).

    ``fetch`` defaults to `sources.fetch.fetch_binary` (distributed
    urllib fan-out with bounded retry); inject a stub for hermetic
    tests. Each level is one distributed fetch over that level's
    DISTINCT unseen URLs (seen-set dedup on the driver — the frontier
    of sitemap FILES is list-of-files-sized, not corpus-sized), so an
    index cycle cannot refetch and a depth overrun raises loudly.
    """
    if fetch is None:
        from data_pipelines_spark.sources.fetch import fetch_binary

        def fetch(s, us):
            return fetch_binary(s, us, num_slots=num_slots)

    seen: set[str] = set()
    frontier = list(dict.fromkeys(urls))
    levels: list[DataFrame] = []
    for _ in range(max_depth + 1):
        frontier = [u for u in frontier if u not in seen]
        if not frontier:
            break
        seen.update(frontier)
        fetched = fetch(spark, frontier).where("ok").select(
            F.col("url").alias("sitemap"),
            F.decode("content", "UTF-8").alias("content"),
        )
        # one pass over the bodies serves both shapes; persist so the
        # index split does not refetch
        with persisted(fetched):
            idx = fetched.where(is_sitemap_index(F.col("content")))
            urlsets = fetched.where(~is_sitemap_index(F.col("content")))
            # materialize the parsed entries WHILE the bodies are still
            # persisted (ADVICE r9: a lazy entries frame re-executes the
            # fetch after unpersist — every sitemap hit the network twice,
            # and a body change between fetches could flip the
            # urlset/index classification); localCheckpoint also cuts the
            # lineage so the final union never reaches back to the fetch
            levels.append(
                parse_sitemap_entries(urlsets).localCheckpoint(eager=True)
            )
            children = [
                r["child"]
                for r in parse_sitemap_index(idx).select("child")
                .distinct().collect()  # file-list-sized, not corpus-sized
            ]
        frontier = children
    else:
        frontier = [u for u in frontier if u not in seen]
        if frontier:
            raise ValueError(
                f"read_sitemaps: sitemap index nesting exceeds "
                f"max_depth={max_depth} ({len(frontier)} unvisited); "
                "raise max_depth or break the cycle"
            )
    if not levels:
        return spark.createDataFrame([], SITEMAP_SCHEMA)
    out = levels[0]
    for more in levels[1:]:
        out = out.unionByName(more)
    return out
