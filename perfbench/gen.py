"""Seeded input generators for the three workloads.

Everything here is a pure function of the seed: the same seed writes
byte-identical files, a different seed writes different ones. The
program under test only ever sees the files (and, for the news web,
the SERP pages served through an injected fetcher).

Input rules (why the generated data looks the way it does):

- Article pages clear the cleaning thresholds: SERP title >= 20,
  SERP description >= 100, body >= 400 and paragraph >= 150 chars.
  With none clearing them the clean table is empty and
  ``cluster_embeddings`` fails with MLlib's "Nothing has been added to
  this summarizer".
- Every page carries navigation paragraphs outside its main block, so
  the all-paragraph body is strictly longer than the main-block body
  (a tie cleans the body to '' and drops the article).
- ``GoogleNewsSource`` only parses ``http(s)`` links, so the
  ``file://`` article pages are listed through Bing and Yahoo SERPs.
- No document repeats one token 128 times or more (the packed
  embedding kernel overflows under ANSI on such input).
- Streamed events arrive at most ``LATE_MAX_MIN`` minutes behind their
  file's event time, inside every query's watermark, so no operator
  drops them and results are exact against a batch recount.
"""

from __future__ import annotations

import json
import os
import urllib.parse
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding one stream
    leaves the others' bytes unchanged."""
    return np.random.default_rng([seed, *stream.encode()])


def _words(rng: np.random.Generator, n: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def _write_parquet(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


# -- star schema, events, documents, embeddings ------------------------


def star_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """The ten catalog tables at scale factor ``sf`` (sf 0.1 = 600k
    lineitem rows), in the schemas of ``catalog.TABLES``."""
    r = _rng(seed, "star")
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    day0 = np.datetime64("1995-01-01", "us")
    days = lambda n, span: day0 + (r.integers(0, span, n) * 86_400_000_000)  # noqa: E731
    money = lambda lo, hi, n: np.round(r.uniform(lo, hi, n), 2)  # noqa: E731

    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": r.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adj = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
    out["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in r.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": r.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": days(n_ord, 2404),
        "o_orderpriority": r.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": r.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105_000.0, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n_li),
        "l_linestatus": r.choice(["F", "O"], n_li),
        "l_shipdate": days(n_li, 2500) + 86_400_000_000,
    })
    gaps = r.exponential(30 * 86_400e6 / n_ev, n_ev).astype(np.int64)
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps),
        "user_id": r.integers(0, max(150, int(15_000 * sf)), n_ev).astype(np.int64),
        "event_type": r.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(r.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and r.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(_words(r, int(r.integers(8, 90))))
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": r.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    n_emb = min(n_doc, 2000)
    labels = r.integers(0, 10, n_emb)
    centers = r.normal(0, 1, (10, 64))
    vec = centers[labels] + r.normal(0, 1.5, (n_emb, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vec.astype(np.float32)),
        "label": labels.astype(np.int32),
    })
    return out


def write_star(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write the catalog tables as ``<out_dir>/<table>.parquet``;
    returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, df in star_tables(seed, sf).items():
        _write_parquet(df, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = len(df)
    return rows


# -- news web ------------------------------------------------------------


@dataclass
class NewsWeb:
    """A synthetic web: SERP pages (served by ``fetch``) listing
    ``file://`` article pages written under ``root``."""

    query: str
    per_engine: int
    serp: dict[str, str] = field(default_factory=dict)
    paragraphs: set[str] = field(default_factory=set)  # every main-block <p>
    clean_rows: int = 0  # ground truth: rows the cleaning chain keeps
    links_listed: int = 0  # SERP results over both engines
    links_distinct: int = 0
    pages_ok: int = 0  # distinct links whose page exists

    def fetch(self, url: str) -> str:
        """SERP fetcher for the link sources; unknown pages are empty,
        which ends Bing's pagination through its stall check."""
        p = urllib.parse.urlsplit(url)
        q = urllib.parse.parse_qs(p.query)
        if "bing" in p.netloc:
            return self.serp.get(f"bing:{q.get('first', ['1'])[0]}", "<html></html>")
        return self.serp.get(f"yahoo:{q.get('b', ['1'])[0]}", "<html></html>")


def _paragraph(r: np.random.Generator, lo: int, hi: int, min_len: int = 0) -> str:
    s = _words(r, int(r.integers(lo, hi)))
    while len(s) < min_len:
        s += " " + _words(r, 1)
    return s[0].upper() + s[1:] + "."


def news_web(seed: int, n_articles: int, root: str, query: str = "spark news") -> NewsWeb:
    """Write ``n_articles`` article pages under ``root`` and build the
    Bing and Yahoo SERPs that list them.

    Per article: 3-7 main-block paragraphs, about 1 in 6 too short or
    carrying a blocked phrase (the cleaning chain drops those); 1 in 20
    SERP descriptions is too short (drops the article); 1 in 20 links
    points at a missing page (the fetch fails); 1 in 8 articles is
    listed by both engines (dropped by the link dedup); Yahoo wraps 1
    in 4 links in its ``RU=.../RK`` redirect.
    """
    r = _rng(seed, "news")
    os.makedirs(root, exist_ok=True)
    web = NewsWeb(query=query, per_engine=0)
    bing: list[tuple[str, str, str, str]] = []
    yahoo: list[tuple[str, str, str, str]] = []
    for i in range(n_articles):
        url = "file://" + os.path.abspath(os.path.join(root, f"a{i}.html"))
        title = _paragraph(r, 5, 9).rstrip(".")
        if len(title) < 20:
            title = (title + " spark stream report")[:60]
        desc_ok = r.random() >= 0.05
        desc = _paragraph(r, 22, 40, 110) if desc_ok else _paragraph(r, 3, 8)
        source = f"src{int(r.integers(0, 20))}"
        exists = r.random() >= 0.05
        good: list[str] = []
        paras: list[str] = []
        for _ in range(int(r.integers(3, 8))):
            u = r.random()
            if u < 0.10:
                paras.append(_paragraph(r, 4, 14))  # < 150 chars
            elif u < 0.17:
                paras.append(_paragraph(r, 30, 45, 160) + " Subscribe for more.")
            else:
                p = _paragraph(r, 30, 60, 160)
                paras.append(p)
                good.append(p)
        if len(good) < 3:  # main block must clear body >= 400 on its own
            extra = [_paragraph(r, 30, 60, 160) for _ in range(3 - len(good))]
            paras += extra
            good += extra
        if exists:
            body = "".join(f"<p>{p}</p>" for p in paras)
            html = (
                f"<html><head><title>{title}</title></head><body>"
                f'<div id="nav" class="menu"><p>Home</p><p>World news and more</p></div>'
                f'<div id="main" class="story"><h1>{title}</h1>{body}</div>'
                f'<div id="foot"><p>Local desk</p></div></body></html>'
            )
            with open(os.path.join(root, f"a{i}.html"), "w") as f:
                f.write(html)
            web.paragraphs.update(good)
            web.pages_ok += 1
            if desc_ok:
                web.clean_rows += len(good)
        entry = (url, title, desc, source)
        u = r.random()
        if u < 0.125:
            bing.append(entry)
            yahoo.append(entry)
        elif u < 0.5625:
            bing.append(entry)
        else:
            yahoo.append(entry)
    web.links_listed = len(bing) + len(yahoo)
    web.links_distinct = n_articles
    web.per_engine = max(len(bing), len(yahoo))
    for k in range(0, len(bing), 10):
        web.serp[f"bing:{k + 1}"] = "<html><body>" + "".join(
            f'<div class="item"><a class="title" href="{u}">{t}</a>'
            f'<div class="snippet">{d}</div><div class="source">{s}</div></div>'
            for u, t, d, s in bing[k:k + 10]
        ) + "</body></html>"
    for k in range(0, len(yahoo), 10):
        items = []
        for j, (u, t, d, s) in enumerate(yahoo[k:k + 10]):
            if (k + j) % 4 == 0:
                u = ("https://r.search.yahoo.com/_ylt=x/RU="
                     + urllib.parse.quote(u, safe="") + "/RK=2/RS=x")
            items.append(
                f'<li><a href="{u}" class="thmb">img</a><h4>{t}</h4>'
                f'<p class="s-desc">{d}</p><span class="s-source">{s}</span></li>'
            )
        nxt = (f'<a class="next" href="/search?p=x&b={k + 11}">Next</a>'
               if k + 10 < len(yahoo) else "")
        web.serp[f"yahoo:{k + 1}"] = "<html><body><ol>" + "".join(items) + "</ol>" + nxt + "</body></html>"
    return web


# -- event stream ----------------------------------------------------------

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)
EVENT_STEP_S = 60  # event time advanced per dropped file
LATE_MAX_MIN = 50  # lateness cap, below the 1 h link / 2 h window watermarks


@dataclass
class Drop:
    events: pd.DataFrame
    links: pd.DataFrame


def event_drops(seed: int, n_files: int, events_per_file: int,
                links_per_file: int, users: int = 500,
                late_share: float = 0.1) -> list[Drop]:
    """The file drops of one stream run. Users are Zipf-skewed (s=1.1);
    ``late_share`` of events carry an event time up to LATE_MAX_MIN
    minutes behind their file and rows are shuffled within each file;
    a quarter of the links re-send a link seen in the last files."""
    r = _rng(seed, "stream")
    w = 1.0 / np.arange(1, users + 1) ** 1.1
    w /= w.sum()
    t0 = np.datetime64("2024-03-01T00:00:00", "us")
    drops: list[Drop] = []
    seen: list[str] = []
    for i in range(n_files):
        n = events_per_file
        base = t0 + np.int64(i * EVENT_STEP_S * 1_000_000)
        offs = r.integers(0, EVENT_STEP_S * 1_000_000, n)
        late = r.random(n) < late_share
        offs[late] -= r.integers(60_000_000, LATE_MAX_MIN * 60_000_000, late.sum())
        ev = pd.DataFrame({
            "event_id": np.arange(i * n, (i + 1) * n, dtype=np.int64),
            "ts": base + offs,
            "user_id": r.choice(users, n, p=w).astype(np.int64),
            "event_type": r.choice(EVENT_TYPES, n),
            "value": np.maximum(np.round(r.exponential(50.0, n), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
        }).sample(frac=1.0, random_state=int(r.integers(0, 2**31)))
        links = []
        for j in range(links_per_file):
            if seen and r.random() < 0.25:
                link = seen[-1 - int(r.integers(0, min(len(seen), 3 * links_per_file)))]
            else:
                link = f"https://news.example/{i}/{j}"
                seen.append(link)
            links.append(link)
        lk = pd.DataFrame({
            "engine": r.choice(["Bing", "Yahoo"], links_per_file),
            "se_link": links,
            "se_title": [_words(r, 6) for _ in links],
            "se_description": [_words(r, 20) for _ in links],
            "se_source": [f"src{k}" for k in r.integers(0, 20, links_per_file)],
            "discovered_at": base + r.integers(0, EVENT_STEP_S * 1_000_000, links_per_file),
        })
        drops.append(Drop(ev, lk))
    return drops


def to_json_lines(df: pd.DataFrame) -> str:
    """JSON lines with ISO microsecond timestamps (Spark's JSON reader
    parses them under the declared schema)."""
    recs = df.to_dict("records")
    lines = []
    for rec in recs:
        for k, v in rec.items():
            if isinstance(v, pd.Timestamp):
                rec[k] = v.strftime("%Y-%m-%dT%H:%M:%S.%f")
            elif isinstance(v, np.generic):
                rec[k] = v.item()
        lines.append(json.dumps(rec, separators=(",", ":")))
    return "\n".join(lines) + "\n"
