"""HTML out-link extraction and the host-level web link graph — the
other KG a crawl yields besides its embedded triples. The hyperlink
graph is what pagerank/harmonic/hits/kcore (graph.py) consume at web
scale, and tortank has no analogue (single-document model); this is
the Common-Crawl-style "web graph product" stage of the north rule.

* ``extract_links``: one ``extract.row_stage`` (a single
  ``mapInArrow`` stage) over (url, text) that runs the shared tag
  scanner (htmlscan.py) per page and emits (url, href, rel, anchor)
  per ``<a href>`` (a page without one emits no row): anchor text
  whitespace-normalized like the RDFa text-content rule, nofollow
  surfaced via ``rel`` so the ranking layer can weight it. Relative
  hrefs are resolved against the page url's scheme://host (path-level
  base/../ resolution is out of scope, documented); fragment-only and
  javascript:/mailto:/data: links are dropped.
* ``host_link_graph``: (src_host, dst_host, n_links, n_pages) edge
  rollup — ONE shuffle (groupBy on the host pair, map-side combine);
  self-host edges excluded by default since intra-site nav dominates
  raw counts and the inter-host graph is what ranking wants.

Scale shape: extraction is shuffle-free (parallelism = input splits,
pruned to url+text); the rollup's key space is host-pair-sized, and a
celebrity host pair collapses map-side before the exchange.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
import pyspark.sql.functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .extract import row_stage
from .htmlscan import WS_RE, scan_html
from .textops import tokens

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")
_HOST_RE = re.compile(r"^([a-z][a-z0-9+.-]*)://([^/?#]*)", re.IGNORECASE)
_SKIP_SCHEMES = ("javascript:", "mailto:", "data:", "tel:")

LINKS_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("href", StringType(), False),
    StructField("rel", StringType(), True),
    StructField("anchor", StringType(), True),
])


def resolve_href(page_url: str, href: str) -> str | None:
    """Absolute href, or scheme/host-relative resolution against the
    page url; None for fragments, skip-schemes, and unresolvable
    relatives."""
    href = (href or "").strip()
    if not href or href.startswith("#"):
        return None
    low = href.lower()
    if low.startswith(_SKIP_SCHEMES):
        return None
    if _SCHEME_RE.match(href):
        return href
    m = _HOST_RE.match(page_url or "")
    if m is None:
        return None
    scheme, host = m.group(1), m.group(2)
    if href.startswith("//"):
        return f"{scheme}:{href}"
    if href.startswith("/"):
        return f"{scheme}://{host}{href}"
    # bare relative: resolved against the host root (path-level base
    # resolution out of scope)
    return f"{scheme}://{host}/{href}"


def extract_page_links(page_url: str, html: str) -> list[tuple]:
    """(url, href, rel, anchor) rows for one page; never raises."""
    out: list[tuple] = []
    # stack of open <a> collectors: [href, rel, buf]
    open_a: list[list] = []
    for ev in scan_html(html or ""):
        kind = ev[0]
        if kind == "text":
            for fr in open_a:
                fr[2].append(ev[1])
        elif kind == "start":
            _, tag, attrs, self_closing = ev
            if tag != "a":
                continue
            href = resolve_href(page_url, attrs.get("href", ""))
            if href is None:
                continue
            fr = [href, attrs.get("rel") or None, []]
            if self_closing:
                out.append((page_url, href, fr[1], ""))
            else:
                open_a.append(fr)
        elif kind == "end" and ev[1] == "a" and open_a:
            href, rel, buf = open_a.pop()
            anchor = WS_RE.sub(" ", "".join(buf)).strip()
            out.append((page_url, href, rel, anchor))
    return out


def extract_links(pages: DataFrame) -> DataFrame:
    """pages(url, text, ...) -> (url, href, rel, anchor)."""
    return row_stage(pages, ["url", "text"], extract_page_links,
                     LINKS_SCHEMA)


def _host(col):
    return F.lower(F.regexp_extract(col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1))


def host_link_graph(
    links: DataFrame, include_self: bool = False,
) -> DataFrame:
    """(src_host, dst_host, n_links, n_pages): the inter-host edge
    list with total link count and distinct linking pages — ONE
    shuffle on the host pair; n_pages rides the same grouping."""
    e = links.select(
        _host(F.col("url")).alias("src_host"),
        _host(F.col("href")).alias("dst_host"),
        F.col("url"),
    ).filter((F.col("src_host") != "") & (F.col("dst_host") != ""))
    if not include_self:
        e = e.filter(F.col("src_host") != F.col("dst_host"))
    return e.groupBy("src_host", "dst_host").agg(
        F.count("*").alias("n_links"),
        F.countDistinct("url").alias("n_pages"),
    )


def anchor_alias_candidates(
    links: DataFrame, min_count: int = 2, drop_nofollow: bool = True,
) -> DataFrame:
    """(alias, dst, n_links, n_hosts): anchor-text alias candidates —
    the classic web-KG signal that names entities (the anchor text of
    links INTO a page is how the web refers to that page's entity),
    and the natural feed for linking.py's broadcast alias dictionary:
    filter by n_hosts (distinct linking hosts, the anti-spam weight —
    one host repeating an anchor a million times is one vote) and
    union into the alias table.

    Normalization: the lowercase ``textops.tokens`` of the anchor
    joined by one space (``extract_page_links`` has already collapsed
    every Unicode whitespace run with htmlscan.WS_RE, Python's
    ``\\s``); empty anchors and — by default — rel=nofollow links are
    dropped. ``min_count`` prunes the singleton tail BEFORE the result
    materializes.

    Scale shape: ONE shuffle on (alias, dst) with map-side combine;
    n_hosts rides the same grouping as a count-distinct expand. The
    (alias, dst) key space is bounded by the distinct-link space, and
    a celebrity target (everyone links "click here" -> homepage)
    collapses map-side.
    """
    a = links.select(
        F.array_join(tokens(F.lower(F.col("anchor"))), " ").alias("alias"),
        F.col("href").alias("dst"),
        _host(F.col("url")).alias("src_host"),
        F.col("rel"),
    ).filter(F.length("alias") > 0)
    if drop_nofollow:
        a = a.filter(
            F.col("rel").isNull() | ~F.col("rel").contains("nofollow"))
    return (
        a.groupBy("alias", "dst")
        .agg(
            F.count("*").alias("n_links"),
            F.countDistinct("src_host").alias("n_hosts"),
        )
        .filter(F.col("n_links") >= min_count)
    )
