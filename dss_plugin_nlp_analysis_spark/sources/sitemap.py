"""Sitemap XML parsing — the crawl-frontier source.

A crawl pipeline seeds and refreshes its url frontier from
``sitemap.xml`` documents (sitemaps.org protocol): ``<urlset>`` files
list page urls with optional ``<lastmod>`` freshness stamps, and
``<sitemapindex>`` files list child sitemaps. Parsing them is the step
before robots filtering (operators/robots.py) and canonical resolution
(operators/url.py) in the ingest chain.

Extraction contract (frozen; Java-regex ∩ RE2 like sources/warc.py):

- entries are the ``(?s)<url>(.*?)</url>`` islands, IN DOCUMENT ORDER —
  extracted whole first, then fields per entry, so an entry with a
  missing optional field cannot positionally desynchronize from its
  siblings (the reason this is NOT two zipped extract_all passes).
- per entry: ``loc`` = first ``<loc>…</loc>`` body (entry dropped when
  absent — a loc-less entry is spec-invalid), ``lastmod`` = first
  ``<lastmod>…</lastmod>`` body or NULL (kept as the raw string; date
  typing is downstream — kg.normalize_literals).
- ``<sitemap>`` index entries are intentionally NOT matched by the
  ``<url>`` island regex.

Pure per-row map + explode: zero shuffle at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["parse_sitemap"]

_URL_ENTRY = r"(?s)<url>(.*?)</url>"
_LOC = r"(?s)<loc>(.*?)</loc>"
_LASTMOD = r"(?s)<lastmod>(.*?)</lastmod>"


def parse_sitemap(df: DataFrame, id_col: str, xml_col: str) -> DataFrame:
    """(id, loc, lastmod) per ``<url>`` entry; see module contract."""
    ent = F.regexp_extract_all(
        F.coalesce(F.col(xml_col), F.lit("")), F.lit(_URL_ENTRY), 1
    )
    loc = F.regexp_extract(F.col("entry"), _LOC, 1)
    lastmod = F.regexp_extract(F.col("entry"), _LASTMOD, 1)
    return (
        df.select(F.col(id_col).alias("id"), F.explode(ent).alias("entry"))
        .select(
            "id",
            loc.alias("loc"),
            F.when(lastmod != "", lastmod).alias("lastmod"),
        )
        .where(F.col("loc") != "")
    )
