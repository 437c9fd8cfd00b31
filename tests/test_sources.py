"""Source-layer tests: scraper parsing on canned HTML, distributed
content extraction over file:// URLs, and the end-to-end
PipelineExecutor with cache short-circuit."""

from __future__ import annotations

import contextlib
import pathlib

import pytest

from miba_2023_capstone_rb_nlp_spark.executor import PipelineExecutor, sanitize_query
from miba_2023_capstone_rb_nlp_spark.sources.content import extract_page, fetch_content
from miba_2023_capstone_rb_nlp_spark.sources.links import (
    BingNewsSource,
    GoogleNewsSource,
    LinkSource,
    YahooNewsSource,
    get_all_links,
)
@contextlib.contextmanager
def _conf(spark, key, value):
    """Set a session conf for the block, restoring the prior value
    (or unsetting) on exit — tests must not leak session state into
    later tests sharing the spark fixture (ADVICE r8 #1)."""
    try:
        prior = spark.conf.get(key)
    except Exception:
        prior = None
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


GOOGLE_PAGE = """
<html><body>
<a href="https://ex.com/a1"><div><h3>Alpha headline one</h3></div>
 <div class="source">Alpha Press</div><div class="desc">First description</div></a>
<a href="https://ex.com/a2"><h3>Beta headline two</h3>
 <div class="source">Beta Wire</div></a>
</body></html>
"""

BING_PAGE = """
<div class="news-card"><a class="title" href="https://ex.com/b1">Bing headline</a>
<div class="snippet">Bing snippet text</div><div class="source">Bing Source</div></div>
"""

YAHOO_PAGE = """
<a href="https://r.search.yahoo.com/_ylt=x/RU=https%3A%2F%2Fex.com%2Fy1/RK=2/RS=z"
 class="thmb"><h4>Yahoo headline</h4></a>
<p class="s-desc">Yahoo description</p><span class="s-source">Yahoo Source</span>
"""

ARTICLE_HTML = """
<html><head><title>Article Title Here</title></head><body>
<h1>Main Headline Of The Page</h1>
<div id="nav"><p>menu item one</p></div>
<div id="content">
  <p>{p1}</p>
  <p>{p2}</p>
  <p>{p3}</p>
</div>
<div id="footer"><p>tiny</p></div>
</body></html>
"""


def _mk_article(i: int) -> str:
    base = (
        f"paragraph {i} sentence with many meaningful words repeated enough to pass "
        "the one hundred fifty character cleaning threshold for paragraphs in the "
        "pipeline and then some extra tail words to be safe indeed truly"
    )
    return ARTICLE_HTML.format(p1=base + " alpha", p2=base + " beta", p3=base + " gamma")


def test_google_parse_no_network():
    src = GoogleNewsSource(fetcher=lambda url: GOOGLE_PAGE, polite=False)
    links = src.get_links("test query", max_articles=10)
    assert [l["se_link"] for l in links] == ["https://ex.com/a1", "https://ex.com/a2"]
    assert links[0]["se_description"] == "First description"
    assert links[1]["se_description"] is None
    assert links[0]["engine"] == "Google"


def test_google_max_articles_truncation():
    src = GoogleNewsSource(fetcher=lambda url: GOOGLE_PAGE, polite=False)
    assert len(src.get_links("q", max_articles=1)) == 1


def test_bing_parse_and_stall_detection():
    calls = []

    def fetcher(url):
        calls.append(url)
        return BING_PAGE  # identical page → md5 stall stop after 2 fetches

    src = BingNewsSource(fetcher=fetcher, polite=False)
    links = src.get_links("q", max_articles=100)
    assert len(calls) == 2  # second page hash equals first → stop
    assert links[0]["se_link"] == "https://ex.com/b1"


def test_yahoo_link_deobfuscation():
    src = YahooNewsSource(fetcher=lambda url: YAHOO_PAGE, polite=False)
    links = src.get_links("q", max_articles=5)
    assert links[0]["se_link"] == "https://ex.com/y1"


@pytest.mark.parametrize(
    "cls,page",
    [
        (
            GoogleNewsSource,
            '<a id="pnnext" href="https://www.google.com/search?q=q&tbm=nws">Next</a>',
        ),
        (
            YahooNewsSource,
            '<a class="next" href="https://news.search.yahoo.com/search?p=q">Next</a>',
        ),
    ],
    ids=["Google", "Yahoo"],
)
def test_self_linking_empty_page_stops_paging(cls, page):
    """An empty results page whose next link leads back to itself ends
    paging on the repeated page instead of fetching it forever."""
    calls = []

    def fetcher(url):
        calls.append(url)
        if len(calls) > 10:
            raise RuntimeError("paging did not stop")
        return f"<html><body>{page}</body></html>"

    assert cls(fetcher=fetcher, polite=False).get_links("q", max_articles=10) == []
    assert len(calls) == 2


def test_date_param_conflict_raises():
    src = GoogleNewsSource(fetcher=lambda url: GOOGLE_PAGE, polite=False)
    with pytest.raises(ValueError, match="duration"):
        src.get_links("q", 5, start_date="01/01/2024", duration_months=3)


def test_get_all_links_union_dedup(spark):
    g = GoogleNewsSource(fetcher=lambda url: GOOGLE_PAGE, polite=False)
    b = BingNewsSource(fetcher=lambda url: BING_PAGE, polite=False)
    df = get_all_links(spark, [g, b], "q", max_articles=10)
    rows = df.collect()
    assert {r["se_link"] for r in rows} == {
        "https://ex.com/a1", "https://ex.com/a2", "https://ex.com/b1",
    }


def test_dominant_block_extraction():
    html = _mk_article(1)
    out = extract_page("https://ex.com/a", html)
    assert out["n3k_title"] == "Article Title Here"
    assert out["bs_title"] == "Main Headline Of The Page"
    # dominant block picks #content (3 long paras), not nav/footer
    assert len(out["bs_paragraph"]) == 3
    assert "menu item" not in out["bs_body"]
    assert "tiny" not in out["bs_body"]
    # meta strategy keeps everything
    assert "menu item" in out["n3k_body"]


class FileSource(LinkSource):
    """Test source yielding file:// article URLs."""

    engine = "Google"

    def __init__(self, urls):
        super().__init__(fetcher=lambda u: "", polite=False)
        self.urls = urls

    def get_links(self, query, max_articles=100, **kw):
        return [
            {
                "engine": self.engine,
                "se_link": u,
                "se_title": f"Search title number {i} long enough to pass cleaning",
                "se_description": (
                    f"Search description number {i} padded out with sufficient "
                    "words to clear the one hundred character description threshold."
                ),
                "se_source": "Example Press",
            }
            for i, u in enumerate(self.urls[:max_articles])
        ]


@pytest.fixture()
def article_files(tmp_path: pathlib.Path):
    urls = []
    for i in range(4):
        f = tmp_path / f"article{i}.html"
        f.write_text(_mk_article(i))
        urls.append(f.as_uri())
    return urls


def test_fetch_content_distributed(spark, article_files):
    src = FileSource(article_files)
    links = get_all_links(spark, [src], "q", max_articles=10)
    content = fetch_content(links.repartition(2), url_col="se_link")
    rows = content.collect()
    assert len(rows) == 4
    assert all(len(r["bs_paragraph"]) == 3 for r in rows)


def test_fetch_content_drops_failures(spark, article_files):
    src = FileSource(article_files + ["file:///nonexistent/nope.html"])
    links = get_all_links(spark, [src], "q", max_articles=10)
    rows = fetch_content(links, url_col="se_link").collect()
    assert len(rows) == 4  # failed URL dropped at the task barrier


def test_pipeline_executor_end_to_end(spark, article_files, tmp_path):
    ex = PipelineExecutor(
        spark, data_dir=str(tmp_path / "data"), sources=[FileSource(article_files)]
    )
    clean = ex.execute("integration test", max_articles=10)
    rows = clean.collect()
    assert len(rows) > 0
    assert set(clean.columns) == {
        "article_index", "engine", "link", "source",
        "title", "description", "body", "paragraph",
    }
    # cache probe short-circuits (S1): second call reads parquet
    again = ex.execute("integration test", max_articles=10)
    assert again.count() == len(rows)


def test_pipeline_executor_cleans_the_written_raw_file(
    spark, article_files, tmp_path, monkeypatch
):
    """The clean table is built from the raw parquet just written, not
    from the raw plan's lineage: the content fetch runs once per URL."""
    from miba_2023_capstone_rb_nlp_spark import executor as executor_mod

    seen, clean_articles = [], executor_mod.clean_articles

    def spy(df):
        seen.append(df)
        return clean_articles(df)

    monkeypatch.setattr(executor_mod, "clean_articles", spy)
    ex = PipelineExecutor(
        spark, data_dir=str(tmp_path / "data"), sources=[FileSource(article_files)]
    )
    assert ex.execute("raw reuse", max_articles=10).count() > 0
    (cleaned_input,) = seen
    raw_path = pathlib.Path(ex._paths("raw reuse", 10)[0]).resolve()
    plan = cleaned_input._jdf.queryExecution().optimizedPlan().toString()
    assert "MapInPandas" not in plan
    files = cleaned_input.inputFiles()
    assert files and all(raw_path.as_uri() in f for f in files)


def test_sanitize_query():
    assert sanitize_query(' "Roland Berger" ') == "RolandBerger"


# --- Python Data Source connector (sources/pysource.py) -------------


class TestPythonDataSource:
    """The Spark-4 DataSource V2 Python contracts: split planning,
    per-split generation, and the 4.1 pushFilters protocol."""

    def _reader(self, n=100, parts=8):
        from miba_2023_capstone_rb_nlp_spark.sources.pysource import (
            SeededLinksReader,
        )

        return SeededLinksReader({"n": str(n), "parts": str(parts)})

    def test_partitions_cover_range_disjointly(self):
        r = self._reader(n=103, parts=8)
        parts = r.partitions()
        assert len(parts) == 8
        seen = []
        for p in parts:
            seen.extend(range(p.start, p.end))
        assert seen == list(range(103))

    def test_read_is_deterministic_and_md5_derived(self):
        import hashlib

        r = self._reader(n=10, parts=1)
        (p,) = r.partitions()
        rows = list(r.read(p))
        assert len(rows) == 10
        for link_id, engine, se_link, h in rows:
            expect = int(
                hashlib.md5(f"link:{link_id}".encode()).hexdigest()[:15], 16
            )
            assert h == expect
            assert engine == ("Google", "Bing", "Yahoo")[h % 3]

    def test_pushdown_accepts_engine_equality_rejects_rest(self):
        from pyspark.sql.datasource import EqualTo, GreaterThan

        r = self._reader(n=50, parts=2)
        eq = EqualTo(("engine",), "Bing")
        gt = GreaterThan(("h",), 5)  # unsupported → must come back
        remaining = list(r.pushFilters([eq, gt]))
        assert remaining == [gt]
        assert r.engine_allow == {"Bing"}
        rows = [row for p in r.partitions() for row in r.read(p)]
        assert rows and all(row[1] == "Bing" for row in rows)

    def test_pushdown_in_filter_intersects(self):
        from pyspark.sql.datasource import EqualTo, In

        r = self._reader(n=50, parts=2)
        assert list(r.pushFilters([In(("engine",), ("Bing", "Yahoo"))])) == []
        assert list(r.pushFilters([EqualTo(("engine",), "Yahoo")])) == []
        assert r.engine_allow == {"Yahoo"}

    def test_e2e_filtered_scan_matches_unfiltered_subset(self, spark):
        from miba_2023_capstone_rb_nlp_spark.sources.pysource import (
            SeededLinksDataSource,
        )

        with _conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
            spark.dataSource.register(SeededLinksDataSource)
            df = (
                spark.read.format("seeded_links")
                .option("n", 300).option("parts", 4)
                .option("pushdown", "true").load()
            )
            full = {r.link_id for r in df.collect() if r.engine == "Google"}
            pushed = {
                r.link_id
                for r in df.filter(df.engine == "Google").collect()
            }
        assert pushed == full and pushed

    def test_arrow_path_row_identical(self, spark):
        """arrow=true (one RecordBatch per split — columnar hand-off)
        must produce exactly the rows of the tuple path, filters
        included."""
        from miba_2023_capstone_rb_nlp_spark.sources.pysource import (
            SeededLinksDataSource,
        )

        spark.dataSource.register(SeededLinksDataSource)

        def rows(arrow):
            df = (
                spark.read.format("seeded_links")
                .option("n", 257).option("parts", 3)
                .option("arrow", arrow)
                .option("pushdown", "true").load()
            )
            return sorted(map(tuple, df.filter(df.engine != "Bing").collect()))

        with _conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
            assert rows("true") == rows("false") and rows("true")


def test_pysource_entry_plan_survives_deferred_execution(spark):
    """Review r9 finding #1: building the connector entry's plan,
    invoking another entry (which releases tracked state), and only
    THEN materializing must work — the entry's reader is conf-free,
    so the deferred plan depends on no session state."""
    from tests.conftest import SF_TEST_DIR

    from miba_2023_capstone_rb_nlp_spark.suite import load_suite

    suite = load_suite()
    df = suite["custom_pysource_links"].fn(spark, SF_TEST_DIR)
    suite["exact_dedup"].fn(spark, SF_TEST_DIR).count()
    assert df.count() > 0  # plan-all-then-run stays executable
