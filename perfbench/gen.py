"""Seeded input generators for the benchmark workloads.

Every table is drawn from its own ``numpy`` stream spawned from the
workload seed, then written with pyarrow, so the same seed gives
byte-identical parquet and a different seed gives different files. The
program under test only ever sees these files.

Shapes follow the repository's fixture notes: the TPC-H-like star
schema plus ``events``/``documents``/``embeddings`` (FIXTURES.md §B) and
the EP1/EP2 inputs (FIXTURES.md A1-A5).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20

_TABLE_STREAMS = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings bars_5m fx_rates time_blocks listings bars_daily"
).split()


@dataclass(frozen=True)
class Sizes:
    """Row counts of the relational tables (TPC-H sf0.01 shape by default)."""

    customer: int = 1500
    supplier: int = 100
    part: int = 2000
    orders: int = 15000
    lineitem: int = 60000
    events: int = 10000
    users: int = 150
    documents: int = 1000
    embeddings: int = 500
    near_dup_share: float = 0.05  # docs that copy another doc with an edit
    contaminated_share: float = 0.02  # train docs carrying a src0 8-gram


def _streams(seed: int) -> dict[str, np.random.Generator]:
    kids = np.random.SeedSequence(seed).spawn(len(_TABLE_STREAMS))
    return {n: np.random.default_rng(k) for n, k in zip(_TABLE_STREAMS, kids)}


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _ts_us(base: str, offsets_s: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    us = start + np.round(offsets_s * 1e6).astype(np.int64)
    return pa.array(us, type=pa.timestamp("us"))


def _day_ts(base: str, days: np.ndarray) -> pa.Array:
    return _ts_us(base, days.astype(np.float64) * 86400.0)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write_relational(out_dir: str, seed: int, sizes: Sizes = Sizes()) -> None:
    """The eight tables the relational and extension catalog entries read."""
    os.makedirs(out_dir, exist_ok=True)
    r = _streams(seed)
    p = lambda name: os.path.join(out_dir, f"{name}.parquet")  # noqa: E731

    _write(
        pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        p("region"),
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        p("nation"),
    )

    g, n = r["customer"], sizes.customer
    _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n)],
                "c_nationkey": pa.array(g.integers(0, 25, n), pa.int32()),
                "c_acctbal": _money(g, -999.99, 9999.99, n),
                "c_mktsegment": g.choice(
                    ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n
                ),
            }
        ),
        p("customer"),
    )

    g, n = r["supplier"], sizes.supplier
    _write(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(n), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n)],
                "s_nationkey": pa.array(g.integers(0, 25, n), pa.int32()),
                "s_acctbal": _money(g, -999.99, 9999.99, n),
            }
        ),
        p("supplier"),
    )

    g, n = r["part"], sizes.part
    adj = ["large", "hot", "blue", "old", "cold", "red", "new", "small"]
    noun = ["ring", "bolt", "plate", "gear", "rod", "anvil", "nut", "pin"]
    _write(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(n), pa.int64()),
                "p_name": [
                    f"{a} {b}" for a, b in zip(g.choice(adj, n), g.choice(noun, n))
                ],
                "p_brand": [f"Brand#{i}" for i in g.integers(1, 26, n)],
                "p_type": g.choice(
                    ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], n
                ),
                "p_size": pa.array(g.integers(1, 51, n), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1),
            }
        ),
        p("part"),
    )

    g, n = r["orders"], sizes.orders
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n), pa.int64()),
                "o_custkey": pa.array(g.integers(0, sizes.customer, n), pa.int64()),
                "o_orderstatus": g.choice(["O", "F", "P"], n),
                "o_totalprice": _money(g, 1000.0, 500000.0, n),
                "o_orderdate": _day_ts("1995-01-01", g.integers(0, 2405, n)),
                "o_orderpriority": g.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
                ),
            }
        ),
        p("orders"),
    )

    g, n = r["lineitem"], sizes.lineitem
    qty = g.integers(1, 51, n).astype(np.float64)
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(g.integers(0, sizes.orders, n), pa.int64()),
                "l_partkey": pa.array(g.integers(0, sizes.part, n), pa.int64()),
                "l_suppkey": pa.array(g.integers(0, sizes.supplier, n), pa.int64()),
                "l_linenumber": pa.array(g.integers(1, 8, n), pa.int32()),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * g.uniform(18.0, 2100.0, n), 2),
                "l_discount": np.round(g.integers(0, 11, n) * 0.01, 2),
                "l_tax": np.round(g.integers(0, 9, n) * 0.01, 2),
                "l_returnflag": g.choice(["N", "R", "A"], n),
                "l_linestatus": g.choice(["F", "O"], n),
                "l_shipdate": _day_ts("1995-01-02", g.integers(0, 2499, n)),
            }
        ),
        p("lineitem"),
    )

    g, n = r["events"], sizes.events
    # a month of events, seconds apart, strictly increasing
    gaps = g.exponential(2_592_000.0 / (n + 1), n)
    _write(
        pa.table(
            {
                "event_id": pa.array(np.arange(n), pa.int64()),
                "ts": _ts_us("2024-01-01", np.cumsum(gaps) + 1.0),
                "user_id": pa.array(g.integers(0, sizes.users, n), pa.int64()),
                "event_type": g.choice(["signup", "purchase", "view", "click", "error"], n),
                "value": np.round(g.exponential(50.0, n), 2),
                "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n)],
            }
        ),
        p("events"),
    )

    _write(_documents(r["documents"], sizes), p("documents"))

    g, n = r["embeddings"], sizes.embeddings
    labels = g.integers(0, 10, n)
    centers = g.normal(0.0, 1.0, (10, 64))
    vec = centers[labels] * 0.5 + g.normal(0.0, 1.0, (n, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n), pa.int64()),
                "embedding": pa.array(list(vec), pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        p("embeddings"),
    )


def _documents(g: np.random.Generator, sizes: Sizes) -> pa.Table:
    """Word-salad docs over a 30-word vocabulary in 5 languages and 20
    sources (``src0`` is the held-out eval stand-in). A fixed share are
    near-duplicates of an original doc (one word swapped, ``dup``
    appended); another share of training originals carry an 8-word span
    copied from a ``src0`` doc, which decontamination must catch."""
    n = sizes.documents
    texts = [
        " ".join(g.choice(VOCAB, int(k))) for k in g.integers(10, 101, n)
    ]
    sources = [f"src{i % N_SOURCES}" for i in g.permutation(n)]
    # exact shares, and every near-duplicate copies an original, so the
    # clusters (and the dedup work) have the same shape for every seed
    n_dup = round(sizes.near_dup_share * n)
    n_contam = round(sizes.contaminated_share * n)
    picked = g.permutation(n)
    dups, originals = picked[:n_dup], picked[n_dup:]
    for i in dups:
        words = texts[int(g.choice(originals))].split()
        words[int(g.integers(0, len(words)))] = str(g.choice(VOCAB))
        texts[i] = " ".join(words + ["dup"])
    eval_ids = [i for i, s in enumerate(sources) if s == "src0"]
    train_originals = [int(i) for i in originals if sources[i] != "src0"]
    for i in g.choice(train_originals, n_contam, replace=False):
        src = texts[eval_ids[int(g.integers(0, len(eval_ids)))]].split()
        at = int(g.integers(0, len(src) - 7))
        texts[i] = texts[i] + " " + " ".join(src[at : at + 8])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": g.choice(LANGS, n, p=LANG_P),
            "source": sources,
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


@dataclass(frozen=True)
class BacktestShape:
    """EP2: companies x listings x weekly blocks of 5-minute bars; EP1: one
    long daily pair."""

    companies: int = 8  # 2 x nproc on a 4-core host
    blocks: int = 2
    ep1_days: int = 2500


def write_backtest(out_dir: str, seed: int, shape: BacktestShape = BacktestShape()) -> dict:
    """Write the EP2 inputs (bars_5m, fx_rates, time_blocks, listings) and
    the EP1 daily pair (bars_daily). Returns the shape facts the run
    records: companies and ticks per company."""
    os.makedirs(out_dir, exist_ok=True)
    r = _streams(seed)
    p = lambda name: os.path.join(out_dir, f"{name}.parquet")  # noqa: E731
    day_us = 86_400_000_000

    # weekly blocks from a Monday; 5-min grid 13:30-17:30 UTC spans the
    # 14:30-16:30 session plus out-of-session rows
    monday = np.datetime64("2023-01-02", "us").astype(np.int64)
    starts = monday + np.arange(shape.blocks) * 7 * day_us
    slot = np.arange(13 * 60 + 30, 17 * 60 + 31, 5) * 60_000_000
    grid = np.concatenate(
        [s + d * day_us + slot for s in starts for d in range(5)]
    )
    ts_type = pa.timestamp("us")
    _write(
        pa.table(
            {
                "block_id": pa.array(np.arange(shape.blocks), pa.int32()),
                "start_ts": pa.array(starts, ts_type),
                "end_ts": pa.array(starts + 7 * day_us, ts_type),
            }
        ),
        p("time_blocks"),
    )

    g = r["fx_rates"]
    fx_mask = g.random(len(grid)) < 0.6  # sparser than the bars: as-of ffill
    fx_rate = 1.05 + np.cumsum(g.normal(0, 0.0005, len(grid)))
    _write(
        pa.table({"ts": pa.array(grid[fx_mask], ts_type), "rate": fx_rate[fx_mask]}),
        p("fx_rates"),
    )

    g = r["bars_5m"]
    eu = (".DE", ".F", ".PA", ".MI")
    cols = {"company": [], "ticker": [], "ts": [], "close": []}
    listing_rows = []
    for c in range(shape.companies):
        company = f"Co{c:03d}"
        n_eu = 1 + c % 2  # 2 or 3 listings, the same for every seed
        tickers = [f"C{c:03d}"] + [f"C{c:03d}{eu[k]}" for k in range(n_eu)]
        base = 100.0 * np.exp(np.cumsum(g.normal(0, 0.002, len(grid))))
        for k, tkr in enumerate(tickers):
            listing_rows.append((company, tkr, k))
            dev = np.zeros(len(grid))
            shocks = g.normal(0, 0.012, len(grid))
            for i in range(1, len(grid)):
                dev[i] = 0.97 * dev[i - 1] + shocks[i]
            px = base * (1.0 + (0.0 if k == 0 else dev))
            if k:
                px = px / 1.05  # quoted in EUR
            keep = g.random(len(grid)) > 0.06  # missing rows exercise ffill
            m = int(keep.sum())
            cols["company"] += [company] * m
            cols["ticker"] += [tkr] * m
            cols["ts"].append(grid[keep])
            cols["close"].append(px[keep])
    _write(
        pa.table(
            {
                "company": cols["company"],
                "ticker": cols["ticker"],
                "ts": pa.array(np.concatenate(cols["ts"]), ts_type),
                "close": np.concatenate(cols["close"]),
            }
        ),
        p("bars_5m"),
    )
    _write(
        pa.table(
            {
                "company": [c for c, _, _ in listing_rows],
                "ticker": [t for _, t, _ in listing_rows],
                "ticker_idx": pa.array([k for _, _, k in listing_rows], pa.int64()),
            }
        ),
        p("listings"),
    )

    g, n = r["bars_daily"], shape.ep1_days
    days = np.busday_offset("2006-01-02", np.arange(n), roll="forward")
    a = 100000.0 * np.exp(np.cumsum(g.normal(0.0003, 0.012, n)))
    shocks = g.normal(0, 0.004, n)
    spread = np.zeros(n)
    for i in range(1, n):
        spread[i] = 0.92 * spread[i - 1] + shocks[i]
    b = a / 1500.0 * (1.0 + spread)
    a = np.where(g.random(n) < 0.01, np.nan, a)
    b = np.where(g.random(n) < 0.01, np.nan, b)
    day_ts = days.astype("datetime64[us]").astype(np.int64)
    _write(
        pa.table(
            {
                "ticker": ["AAA"] * n + ["BBB"] * n,
                "ts": pa.array(np.concatenate([day_ts, day_ts]), ts_type),
                # NaN closes become nulls, as pandas' to_parquet writes them
                "close": pa.array(np.concatenate([a, b]), from_pandas=True),
            }
        ),
        p("bars_daily"),
    )
    return {"companies": shape.companies, "ticks_per_company": int(len(grid))}
