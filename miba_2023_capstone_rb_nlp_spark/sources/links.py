"""Search-engine link sources (SURVEY S4-S7).

Architecture: each engine is a driver-side paginated fetcher (network
I/O is not a distributed concern at this fan-out — 3 engines × tens
of pages; the reference agrees, link_extractor.py:548-555). Results
land in a DataFrame under LINKS_SCHEMA and every downstream step is
distributed. Predicate pushdown = query/date-range/market params
encoded into the request URL (the only pushdown a search engine
offers).

The HTTP layer is injected (``fetcher(url) -> html``): production
uses ``default_fetcher`` (stdlib urllib, the same client the content
fetch uses) with a politeness delay; tests inject canned HTML.
``LinkSource.get_links`` is the one paging loop; an engine supplies
its first and next page URL. Reference behaviors kept: Google
``tbs=cdr`` date-range params and pnnext pagination
(link_extractor.py:145-155,214-220), Bing's offset hard cap (:299),
Yahoo's ``RU=(.+)/RK`` link de-obfuscation (:450), per-engine
max_articles truncation (L1), last-wins dedup by se_link (S7, :558 —
we keep dropDuplicates' arbitrary-row semantics, documented
deviation). Bing's page-hash stall stop (:317-324) ends every
engine's paging, so a self-linking page cannot loop.
"""

from __future__ import annotations

import hashlib
import random
import re
import time
import urllib.parse
import urllib.request
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor, as_completed
from datetime import date, timedelta

from pyspark.sql import DataFrame, SparkSession

from miba_2023_capstone_rb_nlp_spark.sources.schemas import LINKS_SCHEMA

Fetcher = Callable[[str], str]

POLITE_DELAY_RANGE = (1.0, 2.5)  # link_extractor.py:22
USER_AGENT = "Mozilla/5.0 (X11; Linux x86_64)"


def default_fetcher(url: str, timeout: float = 10.0) -> str:  # content_extractor.py:29
    req = urllib.request.Request(url, headers={"User-Agent": USER_AGENT})
    with urllib.request.urlopen(req, timeout=timeout) as resp:  # noqa: S310
        return resp.read().decode("utf-8", errors="replace")


def _polite_sleep(delay_range=POLITE_DELAY_RANGE) -> None:
    time.sleep(random.uniform(*delay_range))


def _date_params(
    start_date: str | None, end_date: str | None, duration_months: int | None
) -> str:
    """Google cdr date-range pushdown (link_extractor.py:145-155):
    explicit range XOR duration-months-back; conflict raises."""
    if duration_months and (start_date or end_date):
        raise ValueError("pass either start/end dates or duration, not both")
    if duration_months:
        start = date.today() - timedelta(days=30 * duration_months)
        return f"&tbs=cdr:1,cd_min:{start:%m/%d/%Y}"
    if start_date or end_date:
        parts = ["cdr:1"]
        if start_date:
            parts.append(f"cd_min:{start_date}")
        if end_date:
            parts.append(f"cd_max:{end_date}")
        return "&tbs=" + ",".join(parts)
    return ""


class LinkSource:
    """One paging loop shared by every engine. Subclasses supply
    ``_RESULT_RE`` (groups link/title/desc/source), ``first_url`` and,
    unless the page carries a ``_NEXT_RE`` link, ``next_url``."""

    engine = "base"
    _NEXT_RE: re.Pattern | None = None

    def __init__(self, fetcher: Fetcher | None = None, polite: bool = True):
        self.fetcher = fetcher or default_fetcher
        self.polite = polite

    def next_url(self, url: str, html: str) -> str | None:
        nxt = self._NEXT_RE.search(html) if self._NEXT_RE else None
        return urllib.parse.urljoin(url, nxt.group(1)) if nxt else None

    def clean_link(self, link: str) -> str:
        return link

    def get_links(self, query: str, max_articles: int = 100, **kw) -> list[dict]:
        url = self.first_url(query, **kw)
        out: list[dict] = []
        seen: set[str] = set()
        while url and len(out) < max_articles:
            html = self.fetcher(url)
            # stall stop: a page already seen in this call ends paging
            # (link_extractor.py:317-324), whatever its next link says
            h = hashlib.md5(html.encode()).hexdigest()
            if h in seen:
                break
            seen.add(h)
            for m in self._RESULT_RE.finditer(html):
                out.append(
                    {
                        "engine": self.engine,
                        "se_link": self.clean_link(m["link"]),
                        "se_title": _strip_tags(m["title"]),
                        "se_description": _strip_tags(m["desc"]) if m["desc"] else None,
                        "se_source": _strip_tags(m["source"]) if m["source"] else None,
                    }
                )
            url = self.next_url(url, html)
            if self.polite:
                _polite_sleep()
        return out[:max_articles]  # L1 per-engine truncation


class GoogleNewsSource(LinkSource):
    engine = "Google"
    _RESULT_RE = re.compile(
        r'<a href="(?P<link>https?://[^"]+)"[^>]*>.*?'
        r"<h3[^>]*>(?P<title>.*?)</h3>.*?"
        r'<div class="source">(?P<source>.*?)</div>'
        r'(?:.*?<div class="desc">(?P<desc>.*?)</div>)?',
        re.S,
    )
    _NEXT_RE = re.compile(r'id="pnnext"\s+href="([^"]+)"')

    def first_url(
        self,
        query: str,
        start_date: str | None = None,
        end_date: str | None = None,
        duration_months: int | None = None,
    ) -> str:
        return (
            "https://www.google.com/search?q="
            + urllib.parse.quote_plus(query)
            + "&tbm=nws"
            + _date_params(start_date, end_date, duration_months)
        )


class BingNewsSource(LinkSource):
    engine = "Bing"
    PAGE_SIZE = 10
    OFFSET_HARD_CAP = 211  # link_extractor.py:299
    _RESULT_RE = re.compile(
        r'<a class="title" href="(?P<link>[^"]+)"[^>]*>(?P<title>.*?)</a>'
        r'(?:.*?<div class="snippet">(?P<desc>.*?)</div>)?'
        r'(?:.*?<div class="source">(?P<source>.*?)</div>)?',
        re.S,
    )
    def first_url(self, query: str, **kw) -> str:
        return (
            "https://www.bing.com/news/infinitescrollajax?q="
            + urllib.parse.quote_plus(query)
            + "&first=1"
        )

    def next_url(self, url: str, html: str) -> str | None:
        base, first = url.rsplit("=", 1)  # first= is the last param
        first = int(first) + self.PAGE_SIZE
        return f"{base}={first}" if first < self.OFFSET_HARD_CAP else None


class YahooNewsSource(LinkSource):
    engine = "Yahoo"
    _RESULT_RE = re.compile(
        r'<a href="(?P<link>[^"]+)"[^>]*class="thmb"[^>]*>.*?'
        r"<h4[^>]*>(?P<title>.*?)</h4>"
        r'(?:.*?<p class="s-desc">(?P<desc>.*?)</p>)?'
        r'(?:.*?<span class="s-source">(?P<source>.*?)</span>)?',
        re.S,
    )
    _NEXT_RE = re.compile(r'<a class="next" href="([^"]+)"')
    _RU_RE = re.compile(r"RU=(.+?)/RK")  # link de-obfuscation, :450

    def first_url(self, query: str, **kw) -> str:
        return "https://news.search.yahoo.com/search?p=" + urllib.parse.quote_plus(query)

    def clean_link(self, link: str) -> str:
        m = self._RU_RE.search(link)
        return urllib.parse.unquote(m.group(1)) if m else link


_TAG_RE = re.compile(r"<[^>]+>")


def _strip_tags(s: str) -> str:
    return _TAG_RE.sub("", s).strip()


def get_all_links(
    spark: SparkSession,
    sources: list[LinkSource],
    query: str,
    max_articles: int = 100,
    **kw,
) -> DataFrame:
    """S7: thread-pool fan-out over engines, flatten, DataFrame-ize,
    dedup by se_link (dropDuplicates keeps an arbitrary row; the
    reference kept the last — documented deviation, SURVEY S7)."""
    rows: list[dict] = []
    with ThreadPoolExecutor(max_workers=max(1, len(sources))) as pool:
        futs = [
            pool.submit(s.get_links, query, max_articles, **kw) for s in sources
        ]
        for f in as_completed(futs):
            rows.extend(f.result())
    df = spark.createDataFrame(rows, schema=LINKS_SCHEMA) if rows else (
        spark.createDataFrame([], schema=LINKS_SCHEMA)
    )
    return df.dropDuplicates(["se_link"])
