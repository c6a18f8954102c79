"""Seeded input generators for the workload benchmark.

Everything here is a pure function of ``seed`` (and a scale factor):
the same seed always gives the same tables, deltas and pages. Shapes
follow the engine's fixture catalog (``catalog.SCHEMAS``) so the
pipeline, curation and OData layers see the tables they were built for.

- ``dim_tables`` / ``DeltaStream.tables``: customer / nation and
  orders / lineitem at a TPC-H-like scale factor (sf 0.1 = 150k orders,
  ~600k lineitems, 15k customers).
- ``DeltaStream``: the EP1 source history. Refresh ``k`` updates ~1% of
  the standing orders (new status, price, priority and lineitem values)
  and inserts ~1% new orders with their lineitems; every delta order's
  ``o_orderdate`` falls inside refresh ``k``'s one-day window, which
  starts after every earlier date, so a ``lastRun`` at the window start
  selects exactly that refresh's delta.
- ``documents`` / ``html_pages``: the curation corpus and its seeded
  page template (every boilerplate block trips one of the extractor's
  drop rules; the article body is split into two ``<p>`` blocks at a
  seeded word boundary).
"""

from __future__ import annotations

import os
import zlib
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_BASE = np.datetime64("1995-01-01", "us")
BASE_DAYS = 2403  # 1995-01-01 .. 2001-08-01, the fixture's date range
WINDOW0 = datetime(2002, 1, 1)  # refresh k's window is day k after this
UPDATE_FRAC = INSERT_FRAC = 0.01  # share of standing orders per refresh

STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SEGMENTS = np.array(
    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
RETURNFLAGS = np.array(["A", "N", "R"])
LINESTATUS = np.array(["F", "O"])

_DAY_US = 86_400 * 1_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose)."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def _days(n) -> np.ndarray:
    return np.asarray(n, dtype="int64") * _DAY_US


def window_start(k: int) -> datetime:
    return WINDOW0 + timedelta(days=k)


# ---------------------------------------------------------------------------
# ERP tables
# ---------------------------------------------------------------------------

def _lines_for(rng, keys: np.ndarray, odate_us: np.ndarray) -> dict:
    """1..7 lineitems per order (mean 4, the TPC-H shape)."""
    counts = rng.integers(1, 8, size=len(keys))
    n = int(counts.sum())
    okey = np.repeat(keys, counts)
    starts = np.repeat(np.cumsum(counts) - counts, counts)
    lineno = (np.arange(n) - starts + 1).astype("int32")
    qty = rng.integers(1, 51, size=n).astype("float64")
    price = np.round(qty * rng.uniform(900.0, 2100.0, size=n), 2)
    ship = np.repeat(odate_us, counts) + _days(rng.integers(1, 122, size=n))
    return {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, 20_000, size=n),
        "l_suppkey": rng.integers(0, 1_000, size=n),
        "l_linenumber": lineno,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, size=n) / 100.0,
        "l_tax": rng.integers(0, 9, size=n) / 100.0,
        "l_returnflag": RETURNFLAGS[rng.integers(0, 3, size=n)],
        "l_linestatus": LINESTATUS[rng.integers(0, 2, size=n)],
        "l_shipdate": ship,
    }, counts


def _orders_for(rng, keys: np.ndarray, odate_us: np.ndarray,
                n_cust: int) -> dict:
    n = len(keys)
    return {
        "o_orderkey": keys,
        "o_custkey": rng.integers(0, n_cust, size=n),
        "o_orderstatus": STATUSES[rng.integers(0, 3, size=n)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, size=n), 2),
        "o_orderdate": odate_us,
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, size=n)],
    }


_ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string()),
])
_LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", pa.timestamp("us")),
])


def _table(cols: dict, schema: pa.Schema) -> pa.Table:
    arrays = []
    for f in schema:
        v = cols[f.name]
        if pa.types.is_timestamp(f.type):
            v = np.asarray(v, dtype="int64").view("datetime64[us]")
        arrays.append(pa.array(v, type=f.type))
    return pa.Table.from_arrays(arrays, schema=schema)


def dim_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = _rng(seed, "dims")
    n_cust = max(1, int(150_000 * sf))
    ck = np.arange(n_cust, dtype="int64")
    customer = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, size=n_cust), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, size=n_cust)],
    })
    nk = np.arange(25, dtype="int32")
    nation = pa.table({
        "n_nationkey": nk,
        "n_name": [f"NATION_{k}" for k in nk],
        "n_regionkey": pa.array(nk % 5, pa.int32()),
    })
    return {"customer": customer, "nation": nation}


class DeltaStream:
    """The ERP source as it evolves: snapshot 0 is the EP2 full-load
    source; ``advance()`` applies refresh k's delta and returns the
    window start. Orders are kept in key order (keys are dense, so a
    key is its row index) and lineitems in (key, line) order with
    per-order offsets, so an update rewrites slices in place."""

    def __init__(self, seed: int, sf: float):
        self.seed = seed
        self.n_cust = max(1, int(150_000 * sf))
        n = max(1, int(1_500_000 * sf))
        rng = _rng(seed, "orders")
        keys = np.arange(n, dtype="int64")
        odate = EPOCH_BASE.astype("int64") + _days(
            rng.integers(0, BASE_DAYS, size=n))
        self.orders = _orders_for(rng, keys, odate, self.n_cust)
        self.lines, counts = _lines_for(rng, keys, odate)
        self.line_start = np.cumsum(counts) - counts
        self.line_count = counts
        self.k = 0
        self.last_delta = {"updated": 0, "inserted": 0}

    def n_orders(self) -> int:
        return len(self.orders["o_orderkey"])

    def advance(self) -> datetime:
        self.k += 1
        rng = _rng(self.seed, f"delta-{self.k}")
        start = window_start(self.k)
        w0 = np.datetime64(start, "us").astype("int64")
        n = self.n_orders()
        n_upd = max(1, int(round(n * UPDATE_FRAC)))
        n_ins = max(1, int(round(n * INSERT_FRAC)))

        # updates: new header values and new lineitem values, same lines
        upd = np.sort(rng.choice(n, size=n_upd, replace=False))
        when = w0 + rng.integers(0, _DAY_US, size=n_upd)
        fresh = _orders_for(rng, upd, when, self.n_cust)
        for c in ("o_orderstatus", "o_totalprice", "o_orderdate",
                  "o_orderpriority"):
            self.orders[c][upd] = fresh[c]
        cnt = self.line_count[upd]
        rows = np.repeat(self.line_start[upd], cnt) + (
            np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt, cnt))
        m = len(rows)
        qty = rng.integers(1, 51, size=m).astype("float64")
        self.lines["l_quantity"][rows] = qty
        self.lines["l_extendedprice"][rows] = np.round(
            qty * rng.uniform(900.0, 2100.0, size=m), 2)
        self.lines["l_discount"][rows] = rng.integers(0, 11, size=m) / 100.0
        self.lines["l_returnflag"][rows] = RETURNFLAGS[
            rng.integers(0, 3, size=m)]
        self.lines["l_linestatus"][rows] = LINESTATUS[
            rng.integers(0, 2, size=m)]
        self.lines["l_shipdate"][rows] = np.repeat(when, cnt) + _days(
            rng.integers(1, 122, size=m))

        # inserts: new keys above every standing key, with their lines
        keys = np.arange(n, n + n_ins, dtype="int64")
        when = w0 + rng.integers(0, _DAY_US, size=n_ins)
        new_o = _orders_for(rng, keys, when, self.n_cust)
        new_l, counts = _lines_for(rng, keys, when)
        base = len(self.lines["l_orderkey"])
        for c in self.orders:
            self.orders[c] = np.concatenate([self.orders[c], new_o[c]])
        for c in self.lines:
            self.lines[c] = np.concatenate([self.lines[c], new_l[c]])
        self.line_start = np.concatenate(
            [self.line_start, base + np.cumsum(counts) - counts])
        self.line_count = np.concatenate([self.line_count, counts])
        self.last_delta = {"updated": n_upd, "inserted": n_ins,
                           "delta_lines": int(m + counts.sum())}
        return start

    def tables(self) -> dict[str, pa.Table]:
        return {
            "orders": _table(self.orders, _ORDERS_SCHEMA),
            "lineitem": _table(self.lines, _LINEITEM_SCHEMA),
        }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def link_tables(src_dir: str, names, out_dir: str) -> None:
    """Hard-link unchanged tables into a snapshot dir (no copy)."""
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        dst = os.path.join(out_dir, f"{name}.parquet")
        if not os.path.exists(dst):
            os.link(os.path.join(src_dir, f"{name}.parquet"), dst)


# ---------------------------------------------------------------------------
# Curation corpus
# ---------------------------------------------------------------------------

_VOCAB = (
    "the data spark table query join group order line value key row "
    "scan filter sort hash merge stream window batch part column agg "
    "fast slow big small vector customer index cache plan stage task "
    "shuffle disk memory node cluster executor worker tree graph model"
).split()
_HEADERS = [
    "subscribe to our weekly newsletter for more data stories",
    "this article was first published on the company blog",
    "all rights reserved do not copy without written consent",
    "sponsored content from our partners in the cloud space",
    "skip to the main content of this page right now",
]


def documents(seed: int, n_docs: int) -> dict:
    """(doc_id, text, lang, source) columns. English docs draw from the
    first half of the vocabulary more often, so the DSIR stage has a
    real target distribution to select toward; ~30% of docs open with
    one of five shared 8-token lines, which boilerplate removal drops."""
    rng = _rng(seed, "docs")
    langs = np.array(["en", "de", "es", "fr", "zh"])
    lang = langs[rng.choice(5, size=n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    vocab = np.array(_VOCAB)
    half = len(_VOCAB) // 2
    p_en = np.r_[np.full(half, 3.0), np.full(len(_VOCAB) - half, 1.0)]
    p_en /= p_en.sum()
    n_words = rng.integers(8, 90, size=n_docs)
    texts = []
    for i in range(n_docs):
        p = p_en if lang[i] == "en" else None
        words = vocab[rng.choice(len(_VOCAB), size=n_words[i], p=p)]
        t = " ".join(words)
        if rng.random() < 0.3:
            t = _HEADERS[rng.integers(0, len(_HEADERS))] + " " + t
        texts.append(t)
    return {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": lang.tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
    }


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


# Boilerplate blocks, each dropped by one extractor rule: a drop-tag
# subtree (nav/footer/aside/script/style), the link-density gate, or the
# 25-character minimum block length.
_PRE = [
    '<nav><a href="/">Home</a> <a href="/about">About</a> '
    '<a href="/contact">Contact us today</a></nav>',
    '<header><h1>Example Corp engineering notes</h1></header>',
    '<div class="related"><a href="/r1">First related article teaser '
    'link</a> <a href="/r2">Second related article teaser link</a></div>',
    '<script>var tracking = "a very long analytics payload string";'
    '</script>',
    '<div>Share this page</div>',
]
_POST = [
    '<footer><a href="/tos">Terms of service</a> (c) 2026 example corp'
    '</footer>',
    '<aside>Popular posts this week from across the whole site</aside>',
    '<p><a href="/more">Read more stories like this one</a> here</p>',
    '<div>Comments (0)</div>',
]


def html_pages(seed: int, docs: dict) -> dict:
    """Render each document into a page. Returns the page columns plus
    ``cut``: the 0-based character offset where the article body splits
    into its two ``<p>`` blocks (a word boundary), which the oracle
    replays."""
    rng = _rng(seed, "pages")
    html, cuts = [], []
    for t in docs["text"]:
        spaces = [i for i, ch in enumerate(t) if ch == " "]
        cut = spaces[rng.integers(0, len(spaces))] if spaces else len(t) // 2
        pre = [b for b in _PRE if rng.random() < 0.6]
        post = [b for b in _POST if rng.random() < 0.6]
        html.append(
            "<html><head><title>doc</title><style>p {margin:0}</style>"
            "</head><body>" + "".join(pre)
            + "<article><p>" + _esc(t[:cut]) + "</p><p>" + _esc(t[cut:])
            + "</p></article>" + "".join(post) + "</body></html>"
        )
        cuts.append(cut)
    return {**docs, "html": html, "cut": np.asarray(cuts, dtype="int64")}
