"""Distributed per-URL content extraction (SURVEY S8/S9).

The reference fetches each URL twice (newspaper3k + BeautifulSoup)
on driver threads; here the URL table stays a DataFrame and the fetch
(``links.default_fetcher``, the link sources' HTTP client) + parse
runs once per URL as an Arrow-batched ``mapInPandas`` over partitions —
Spark's task scheduler is the thread pool, retries/timeouts are task-
level, and the URL list never collects to the driver.

Two extraction strategies per page (mirroring the reference's pair):
  - "meta" (n3k_*): <title>/<h1> title; body = all <p> text;
  - "dominant block" (bs_*, S9): group <p> blocks by their parent-tag
    hierarchy, sum text length per group, keep the argmax group's
    paragraphs in document order (content_extractor.py:38-109
    re-implemented on stdlib html.parser — no bs4 dependency).

Failed fetches yield null rows and are filtered (the reference drops
failures at the thread barrier, content_extractor.py:196-199).
"""

from __future__ import annotations

from collections.abc import Iterator
from html.parser import HTMLParser
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from miba_2023_capstone_rb_nlp_spark.sources.links import default_fetcher
from miba_2023_capstone_rb_nlp_spark.sources.schemas import RAW_CONTENT_SCHEMA

if TYPE_CHECKING:
    import pandas as pd


class _PageParser(HTMLParser):
    """Collect <title>, <h1>, and <p> blocks with parent-hierarchy keys."""

    _SKIP = {"br", "img", "hr", "meta", "link", "input", "source", "wbr"}

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.stack: list[str] = []
        self.title = ""
        self.h1 = ""
        self.p_blocks: list[tuple[str, str]] = []  # (parent_key, text)
        self._collect: list[str] | None = None
        self._mode: str | None = None

    def handle_starttag(self, tag, attrs):
        if tag in self._SKIP:
            return
        if tag == "p":
            self._collect, self._mode = [], "p"
            self._parent_key = "/".join(self.stack)
        elif tag == "title" and not self.title:
            self._collect, self._mode = [], "title"
        elif tag == "h1" and not self.h1:
            self._collect, self._mode = [], "h1"
        # hierarchy key includes id/class so sibling containers with
        # the same tag (nav vs content div) form distinct groups
        a = dict(attrs)
        qual = tag + "#" + a.get("id", "") + "." + (a.get("class") or "")
        self.stack.append(qual)

    def handle_endtag(self, tag):
        while self.stack and not self.stack[-1].startswith(tag + "#"):
            self.stack.pop()
        if self.stack:
            self.stack.pop()
        if self._mode == "p" and tag == "p":
            self.p_blocks.append((self._parent_key, " ".join(self._collect).strip()))
            self._collect = self._mode = None
        elif self._mode == "title" and tag == "title":
            self.title = " ".join(self._collect).strip()
            self._collect = self._mode = None
        elif self._mode == "h1" and tag == "h1":
            self.h1 = " ".join(self._collect).strip()
            self._collect = self._mode = None

    def handle_data(self, data):
        if self._collect is not None and data.strip():
            self._collect.append(data.strip())


def extract_page(url: str, html: str) -> dict:
    """Both extraction strategies over one fetched page."""
    p = _PageParser()
    p.feed(html)
    all_paras = [t for _, t in p.p_blocks if t]
    # S9 dominant block: argmax over groupBy(parent_key).sum(len)
    totals: dict[str, int] = {}
    for key, t in p.p_blocks:
        totals[key] = totals.get(key, 0) + len(t)
    if totals:
        best = max(totals.items(), key=lambda kv: (kv[1], kv[0]))[0]
        dominant = [t for k, t in p.p_blocks if k == best and t]
    else:
        dominant = []
    title = p.title or p.h1
    return {
        "n3k_link": url,
        "n3k_title": title,
        "n3k_body": " ".join(all_paras),
        "n3k_author": [],
        "n3k_published": None,
        "bs_link": url,
        "bs_title": p.h1 or p.title,
        "bs_body": " ".join(dominant),
        "bs_paragraph": dominant,
    }


def fetch_content(links: DataFrame, url_col: str = "se_link") -> DataFrame:
    """URL DataFrame → RAW_CONTENT_SCHEMA DataFrame, distributed.

    Fetch parallelism = the input's partition count (the knob
    replacing the reference's thread-pool sizing,
    content_extractor.py:182-186); repartition the links to change it.
    """
    urls = links.select(F.col(url_col).alias("url")).filter(
        F.col("url").isNotNull()
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            rows = []
            for url in pdf["url"]:
                try:
                    rows.append(extract_page(url, default_fetcher(url)))
                except Exception:  # noqa: BLE001 — failures dropped (S8)
                    continue
            yield pd.DataFrame(
                rows, columns=[f.name for f in RAW_CONTENT_SCHEMA.fields]
            )

    return urls.mapInPandas(run, schema=RAW_CONTENT_SCHEMA)
