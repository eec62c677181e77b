"""Seeded inputs for the benchmark workloads.

Everything the engine reads during a run is generated here from the
``--seed`` argument, so the same seed gives byte-identical inputs and the
benchmark needs no data outside its checkout.

- :func:`write_tables` writes the synthetic star-schema tables the
  dashboard workload reads (``events``, ``lineitem``, ``orders``,
  ``documents``), with the shapes and value ranges of the engine's
  sf0.1 test tables: single-row-group parquet files with
  ``timestamp[us]`` columns that are not UTC-adjusted.
- :func:`write_bronze` writes the daily workload's bronze sources
  (``stocks``, ``company_info``, ``news`` JSON Lines) in the record shapes
  of ``tools/make_fixtures.py``, at a chosen symbols x business-days
  scale, keeping that tool's planted edge cases.
"""

from __future__ import annotations

import json
import random
from datetime import date, timedelta
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENTS_ROWS = 100_000
EVENT_USERS = 1_500
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LINEITEM_ROWS = 600_000
ORDERS_ROWS = 150_000
DOCUMENTS = 5_000
DOC_SOURCES = 20
DOC_LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])
DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_MICROS_PER_DAY = 86_400_000_000


def _days_since_epoch(d: date) -> int:
    return (d - date(1970, 1, 1)).days


def _midnights(rng: np.random.Generator, lo: date, hi: date, n: int) -> pa.Array:
    days = rng.integers(_days_since_epoch(lo), _days_since_epoch(hi) + 1, n)
    return pa.array(days * _MICROS_PER_DAY, pa.timestamp("us"))


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def events(rng: np.random.Generator) -> pa.Table:
    n = EVENTS_ROWS
    start = _days_since_epoch(date(2024, 1, 1)) * _MICROS_PER_DAY
    ts = np.sort(rng.integers(start, start + 30 * _MICROS_PER_DAY, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(_cents(rng.exponential(50.0, n))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def lineitem(rng: np.random.Generator) -> pa.Table:
    n = LINEITEM_ROWS
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, ORDERS_ROWS, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, 20_000, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng.uniform(900.0, 105_000.0, n))),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": _midnights(rng, date(1995, 1, 2), date(2001, 11, 4), n),
    })


def orders(rng: np.random.Generator) -> pa.Table:
    n = ORDERS_ROWS
    priorities = np.array(
        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    )
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, 15_000, n, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(_cents(rng.uniform(1_000.0, 500_000.0, n))),
        "o_orderdate": _midnights(rng, date(1995, 1, 1), date(2001, 8, 1), n),
        "o_orderpriority": pa.array(priorities[rng.integers(0, 5, n)]),
    })


def documents(rng: np.random.Generator) -> pa.Table:
    n = DOCUMENTS
    vocab = np.array(DOC_VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        for _ in range(n)
    ]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(np.array(DOC_LANGS[0])[rng.choice(5, n, p=DOC_LANGS[1])]),
        "source": pa.array([f"src{i % DOC_SOURCES}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def write_tables(out_dir: Path, seed: int) -> None:
    """Write ``<out_dir>/<name>.parquet`` for each table; each table
    draws from its own random stream of ``seed``."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for i, make in enumerate((events, lineitem, orders, documents)):
        table = make(np.random.default_rng([seed, i]))
        pq.write_table(table, out_dir / f"{make.__name__}.parquet",
                       row_group_size=len(table))


# -- daily bronze sources ----------------------------------------------
# The shapes follow tools/make_fixtures.py, but the constants are kept
# here so that an edit to the program's fixture tool cannot change the
# benchmark's inputs between the two commits of a comparison.

FETCHED = "2024-08-01 06:00:00"
FIRST_DAY = date(2024, 1, 2)
PROVIDERS = ["Reuters", "Bloomberg", "WSJ", "CNBC", "MarketWatch", "Barrons"]
TITLE_WORDS = (
    "shares surge on strong quarterly profit growth beat analyst "
    "estimates stock falls after weak guidance decline outlook revenue "
    "record high market rally upgrade downgrade risk lawsuit"
).split()
SECTORS = [
    ("Technology", "Software"),
    ("Consumer Cyclical", "Internet Retail"),
    ("Financial Services", "Banks"),
    ("Consumer Defensive", "Discount Stores"),
    ("Technology", "Semiconductors"),
]


def business_days(start: date, n: int) -> list[date]:
    out, d = [], start
    while len(out) < n:
        if d.isoweekday() <= 5:
            out.append(d)
        d += timedelta(days=1)
    return out


def write_bronze(
    out_dir: Path, seed: int, n_symbols: int, n_days: int
) -> tuple[list[str], dict[str, int], date]:
    """Write ``stocks``/``company_info``/``news`` JSONL under ``out_dir``.

    Planted edge cases (as in ``tools/make_fixtures.py``): the last
    symbol has no company row, the second-to-last has no news, the news
    holds one epoch-zero and one pre-2020 row, and three articles are
    served twice under the same id.

    Returns the symbols, the row counts a pipeline run over these
    sources must report (``stocks``, ``company_info``, ``news`` after the
    ingest's id dedup, ``enriched_stocks``), and the first ingest date
    after the price history.
    """
    rng = random.Random(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    symbols = [f"S{i:03d}" for i in range(n_symbols)]
    no_company, no_news = symbols[-1], symbols[-2]
    days = business_days(FIRST_DAY, n_days)

    with (out_dir / "stocks.jsonl").open("w") as f:
        for sym in symbols:
            px = rng.uniform(50, 600)
            for d in days:
                o = px
                c = o * rng.uniform(0.95, 1.05)
                f.write(json.dumps({
                    "symbol": sym,
                    "date": d.isoformat(),
                    "open": round(o, 2),
                    "high": round(max(o, c) * rng.uniform(1.0, 1.03), 2),
                    "low": round(min(o, c) * rng.uniform(0.97, 1.0), 2),
                    "close": round(c, 2),
                    "volume": rng.randrange(1_000_000, 200_000_000),
                    "fetched_at": FETCHED,
                }) + "\n")
                px = c

    with (out_dir / "company_info.jsonl").open("w") as f:
        for i, sym in enumerate(symbols):
            if sym == no_company:
                continue
            sector, industry = SECTORS[i % len(SECTORS)]
            f.write(json.dumps({
                "symbol": sym,
                "name": f"Company {sym} Inc.",
                "sector": sector,
                "industry": industry,
                "country": "United States",
                "market_cap": rng.randrange(10**9, 4 * 10**12),
                "currency": "USD",
                "fetched_at": FETCHED,
            }) + "\n")

    def news_row(i: int, sym: str, pub: str) -> dict:
        score = round(rng.uniform(-1, 1), 4)
        label = ("positive" if score >= 0.05
                 else "negative" if score <= -0.05 else "neutral")
        nid = str(100000 + i)
        return {
            "id": nid,
            "symbol": sym,
            "title": " ".join(rng.choice(TITLE_WORDS) for _ in range(8)),
            "summary": " ".join(rng.choice(TITLE_WORDS) for _ in range(20)),
            "pub_date": pub,
            "provider": rng.choice(PROVIDERS),
            "category": rng.choice(["company", "business", "top news"]),
            "url": f"https://news.example.com/{sym.lower()}/{nid}",
            "image": f"https://img.example.com/{nid}.jpg",
            "sentiment_score": score,
            "sentiment_label": label,
            "fetched_at": FETCHED,
        }

    rows = []
    for sym in symbols:
        if sym == no_news:
            continue
        for _ in range(rng.randrange(12, 25)):
            d = rng.choice(days)
            pub = f"{d.isoformat()} {rng.randrange(0, 24):02d}:{rng.randrange(0, 60):02d}:00"
            rows.append(news_row(len(rows), sym, pub))
    rows.append(news_row(len(rows), symbols[0], "1970-01-01 00:00:00"))
    rows.append(news_row(len(rows), symbols[1], "2019-06-01 12:00:00"))
    unique_news = len(rows)
    for dup in (rows[0], rows[5], rows[9]):
        clone = dict(dup)
        clone["url"] = clone["url"] + "?repost=1"
        rows.append(clone)
    with (out_dir / "news.jsonl").open("w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    counts = {
        "stocks": n_symbols * n_days,
        "company_info": n_symbols - 1,
        "news": unique_news,
        "enriched_stocks": n_symbols * n_days,
    }
    return symbols, counts, days[-1] + timedelta(days=1)
