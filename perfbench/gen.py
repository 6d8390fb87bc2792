"""Seeded input generators for the three workloads.

Every generator takes an integer seed and returns plain Python/Arrow
data; nothing here touches Spark.  The same seed gives byte-identical
files (``write_parquet`` pins the writer options), and each table draws
from its own child stream of the seed, so changing one table's shape
does not reshuffle the others.

Shapes follow the fixture schemas the engine is written against
(FIXTURES.md): a TPC-H-ish star schema plus ``events``, ``documents``
and ``embeddings``; FXBlue CSV exports with a title row; RSS feed
entries with snapshot rows interleaved between position rows.
"""

from __future__ import annotations

import csv
import io
import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def child_rng(seed: int, *stream: int) -> np.random.Generator:
    """Independent stream ``stream`` of ``seed``."""
    return np.random.default_rng(np.random.SeedSequence([seed, *stream]))


def write_parquet(tbl: pa.Table, path: str) -> None:
    """Deterministic single-file parquet (no wall-clock metadata)."""
    pq.write_table(tbl, path, compression="snappy", store_schema=False)


# ── TPC-H-ish star schema + events ───────────────────────────────────────

def tpch_tables(rng_seed: int, sf: float) -> dict[str, pa.Table]:
    """The relational fixture set at scale factor ``sf`` (sf0.1 ≈ 600k
    lineitem, 150k orders).  Foreign keys always resolve: every
    ``o_custkey``, ``l_orderkey``, ``l_partkey`` and ``l_suppkey`` names
    an existing row."""
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(50, int(1_500_000 * sf))
    n_line = max(200, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = child_rng(rng_seed, 1)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(_SEGMENTS)[r.integers(0, 5, n_cust)],
    })

    r = child_rng(rng_seed, 2)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    })

    r = child_rng(rng_seed, 3)
    keys = np.arange(n_part)
    names = np.char.add(
        np.char.add(np.array(_ADJ)[r.integers(0, 8, n_part)], " "),
        np.array(_NOUN)[r.integers(0, 8, n_part)],
    )
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": names,
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_PTYPES)[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })

    r = child_rng(rng_seed, 4)
    days = r.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(
            _EPOCH_1995 + days.astype("timedelta64[D]"), pa.timestamp("us")
        ),
        "o_orderpriority": np.array(_PRIORITIES)[r.integers(0, 5, n_ord)],
    })

    r = child_rng(rng_seed, 5)
    ship = r.integers(1, 2499, n_line)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": pa.array(
            _EPOCH_1995 + ship.astype("timedelta64[D]"), pa.timestamp("us")
        ),
    })

    r = child_rng(rng_seed, 6)
    span_us = 30 * 86400 * 1_000_000
    gaps = r.exponential(span_us / n_ev, n_ev).astype(np.int64) + 1
    ts = _EPOCH_2024 + np.cumsum(gaps).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })
    out.update(corpus_tables(rng_seed, 500))
    return out


def corpus_tables(rng_seed: int, n_docs: int) -> dict[str, pa.Table]:
    """``documents`` (word-bag texts, ~5% near-duplicates of an earlier
    document with one injected token) and ``embeddings`` (64-d unit
    vectors clustered by ``label``)."""
    r = child_rng(rng_seed, 7)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and r.random() < 0.05:
            words = texts[int(r.integers(0, i))].split()
            words.insert(int(r.integers(0, len(words) + 1)), "dup")
        else:
            words = list(np.array(_VOCAB)[r.integers(0, len(_VOCAB), r.integers(10, 100))])
        texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[r.choice(5, n_docs, p=_LANG_P)],
        "source": np.char.add("src", r.integers(0, 20, n_docs).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    r = child_rng(rng_seed, 8)
    centers = r.normal(0.0, 1.0, (10, 64))
    labels = r.integers(0, 10, n_docs)
    vecs = centers[labels] + r.normal(0.0, 1.0, (n_docs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_docs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {"documents": docs, "embeddings": emb}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        write_parquet(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# ── FXBlue CSV + RSS ingest batches ──────────────────────────────────────

_SYMBOLS = ["EURUSD", "GBPUSD", "USDJPY", "AUDUSD", "USDCAD", "EURGBP", "XAUUSD", "NZDUSD"]
_BAD_NUM = ["--", "#VALUE!", "err", "1.2.3"]
_BAD_TIME = ["not-a-time", "2023-13-45 99:99:99", "yesterday"]
_STRATS = ["scalper", "swing", "trend", "grid", "news"]

#: CSV header order of an FXBlue export (extra columns are ignored by
#: the parser; they make the files export-shaped)
CSV_HEADER = [
    "Ticket", "Symbol", "Buy/sell", "Open price", "Close price", "Open time",
    "Lots", "Profit", "Net profit", "Pips", "Trade duration (hours)",
]
#: historical_trades columns in ``normalize_trades`` order
HT_COLS = [
    "ticket", "account_id", "symbol", "trade_type", "entry_price", "exit_price",
    "timestamp", "lot_size", "pnl", "net_profit", "gpt_inferred_strategy",
    "gpt_strategy_confidence", "gpt_trade_evaluation", "gpt_alternative_action",
    "was_gpt_recommendation_followed", "gpt_impact_alignment",
]
ENTRY_FIELDS = [
    "account_id", "entry_idx", "account_balance", "account_equity",
    "account_floatingprofit", "account_closedprofit", "account_freemargin",
    "position_ticket", "position_action", "position_lots", "position_symbol",
    "position_openprice", "position_closeprice", "position_opentime",
    "position_closetime", "position_profit", "position_swap",
    "position_commission", "position_totalprofit", "position_tp", "position_sl",
    "position_magicnumber",
]
REGISTRY_FIELDS = ["account_id", "account_url", "rss_url", "trade_win", "total_return", "trades_per_day"]
META_COLS = REGISTRY_FIELDS + ["strategy_inferred", "gpt_comments"]
EPOCH_SENTINEL = "Thu 1 Jan 1970 00:00:00"


@dataclass
class Batch:
    """One ingest run: FXBlue CSV files, their raw rows, RSS entries
    and the account registry."""

    csv_files: dict[str, str]  # file name -> text
    csv_rows: list[dict]  # one dict per data line, plus its account_id
    skipped_files: list[str]  # files missing a required column
    entries: list[dict]
    registry: list[dict]
    n_trade_rows: int = 0
    n_feed_entries: int = 0


@dataclass
class IngestInputs:
    base_trades: pa.Table
    #: the account registry as first pulled (raw metric strings) plus
    #: the enrichment columns a later job filled in
    base_meta: pa.Table
    #: the first feed pull; the reference pipeline turns it into the
    #: starting ``rss_trades`` table
    initial_feed: Batch
    batches: list[Batch] = field(default_factory=list)


def _money(r: np.random.Generator, lo: float, hi: float) -> str:
    return f"{r.uniform(lo, hi):.2f}"


def _price(r: np.random.Generator, sym: str) -> str:
    base = {"USDJPY": 150.0, "XAUUSD": 2000.0}.get(sym, 1.2)
    return repr(round(base * r.uniform(0.9, 1.1), 5))


def _open_time(r: np.random.Generator) -> datetime:
    return datetime(2023, 1, 1) + timedelta(seconds=int(r.integers(0, 365 * 86400)))


def _rss_time(t: datetime) -> str:
    return f"{t.strftime('%a')} {t.day} {t.strftime('%b %Y %H:%M:%S')}"


def _trade_row(r: np.random.Generator, ticket: int, bad_frac: float) -> dict:
    sym = _SYMBOLS[int(r.integers(0, len(_SYMBOLS)))]
    row = {
        "Ticket": str(ticket),
        "Symbol": sym,
        "Buy/sell": "Buy" if r.random() < 0.5 else "Sell",
        "Open price": _price(r, sym),
        "Close price": _price(r, sym),
        "Open time": _open_time(r).strftime("%Y-%m-%d %H:%M:%S"),
        "Lots": f"{int(r.integers(1, 50)) / 10:.1f}",
        "Profit": _money(r, -500, 500),
        "Net profit": _money(r, -520, 480),
        "Pips": f"{r.uniform(-80, 80):.1f}",
        "Trade duration (hours)": f"{r.uniform(0, 72):.2f}",
    }
    if r.random() < bad_frac:
        row[["Open price", "Close price", "Profit"][int(r.integers(0, 3))]] = _BAD_NUM[
            int(r.integers(0, len(_BAD_NUM)))
        ]
    if r.random() < bad_frac:
        row["Open time"] = _BAD_TIME[int(r.integers(0, len(_BAD_TIME)))]
    return row


def _csv_text(account: str, header: list[str], rows: list[dict]) -> str:
    buf = io.StringIO()
    buf.write(f"FXBlue trade history export: {account}\n")
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    for row in rows:
        w.writerow([row[h] for h in header])
    return buf.getvalue()


def _position(r: np.random.Generator, ticket: int) -> dict:
    opened = _open_time(r)
    is_open = r.random() < 0.3
    num = lambda lo, hi: "" if r.random() < 0.05 else _money(r, lo, hi)  # noqa: E731
    return {
        "position_ticket": str(ticket),
        "position_action": "buy" if r.random() < 0.5 else "sell",
        "position_lots": num(0.01, 5),
        "position_symbol": _SYMBOLS[int(r.integers(0, len(_SYMBOLS)))],
        "position_openprice": num(1, 2),
        "position_closeprice": num(1, 2),
        "position_opentime": _rss_time(opened),
        "position_closetime": EPOCH_SENTINEL if is_open
        else _rss_time(opened + timedelta(minutes=int(r.integers(1, 5000)))),
        "position_profit": num(-300, 300),
        "position_swap": num(-5, 5),
        "position_commission": num(-3, 0),
        "position_totalprofit": num(-310, 300),
        "position_tp": "0" if r.random() < 0.4 else _money(r, 1, 2),
        "position_sl": "0" if r.random() < 0.4 else _money(r, 1, 2),
        "position_magicnumber": "" if r.random() < 0.2 else str(int(r.integers(0, 10**6))),
    }


def _snapshot(r: np.random.Generator) -> dict:
    return {
        "account_balance": _money(r, 1000, 50000),
        "account_equity": _money(r, 1000, 50000),
        "account_floatingprofit": _money(r, -500, 500),
        "account_closedprofit": _money(r, -5000, 5000),
        "account_freemargin": _money(r, 0, 40000),
    }


def _registry_row(r: np.random.Generator, account: str) -> dict:
    win = r.random()
    return {
        "account_id": account,
        "account_url": f"https://fxblue.example/users/{account}",
        "rss_url": f"https://fxblue.example/users/{account}/rss",
        "trade_win": "-" if win < 0.15 else (f"{int(win * 100)}%" if win < 0.6 else f"{win:.2f}"),
        "total_return": f"{r.uniform(-50, 200):.1f}%",
        "trades_per_day": "-" if r.random() < 0.1 else f"{r.uniform(0, 30):.1f}",
    }


def ingest_inputs(
    seed: int,
    n_accounts: int = 40,
    base_trades: int = 142_500,
    n_batches: int = 1,
    new_per_batch: int = 7_500,
    redeliver_frac: float = 0.2,
    bad_frac: float = 0.02,
    rss_per_account: int = 60,
) -> IngestInputs:
    """Base tables plus ``n_batches`` ingest runs.

    Each batch: one CSV per account (title row first) holding fresh
    tickets, re-delivered tickets from the base or earlier batches with a
    changed payload, and byte-identical within-file duplicate lines;
    a ``bad_frac`` share of rows carries a non-numeric price token or an
    unparseable open time; one file lacks the required ``Lots`` column
    (the whole file is skipped) and one lacks ``Net profit``.  RSS feeds
    interleave snapshot rows with position rows (the first account's
    feed opens with positions, before any snapshot), re-deliver earlier
    tickets, and use the 1970 close-time and ``"0"`` tp/sl sentinels."""
    accounts = [f"{700000 + i}" for i in range(n_accounts)]
    r = child_rng(seed, 20)

    # base historical_trades: an enriched table from earlier runs
    tickets = r.permutation(base_trades) + 10_000_000
    owner = r.integers(0, n_accounts, base_trades)
    enriched = r.random(base_trades) < 0.3
    strat = np.array(_STRATS)[r.integers(0, len(_STRATS), base_trades)]
    conf = np.round(r.uniform(0, 1, base_trades), 3)
    sym_i = r.integers(0, len(_SYMBOLS), base_trades)
    scale = np.array([{"USDJPY": 150.0, "XAUUSD": 2000.0}.get(x, 1.2) for x in _SYMBOLS])[sym_i]
    secs = r.integers(0, 365 * 86400, base_trades).astype("timedelta64[s]")
    opened = np.datetime_as_string(np.datetime64("2023-01-01T00:00:00") + secs, unit="s")
    base = pa.table({
        "ticket": pa.array(tickets, pa.int64()),
        "account_id": np.array(accounts)[owner],
        "symbol": np.array(_SYMBOLS)[sym_i],
        "trade_type": np.where(r.random(base_trades) < 0.5, "Buy", "Sell"),
        "entry_price": np.round(scale * r.uniform(0.9, 1.1, base_trades), 5),
        "exit_price": np.round(scale * r.uniform(0.9, 1.1, base_trades), 5),
        "timestamp": opened,
        "lot_size": r.integers(1, 50, base_trades) / 10,
        "pnl": np.round(r.uniform(-500, 500, base_trades), 2),
        "net_profit": np.round(r.uniform(-520, 480, base_trades), 2),
        "gpt_inferred_strategy": pa.array(np.where(enriched, strat, None).tolist(), pa.string()),
        "gpt_strategy_confidence": pa.array(np.where(enriched, conf, np.nan), pa.float64(),
                                            from_pandas=True),
        "gpt_trade_evaluation": pa.array([("ok" if e else None) for e in enriched], pa.string()),
        "gpt_alternative_action": pa.array([("hold" if e else None) for e in enriched], pa.string()),
        "was_gpt_recommendation_followed": pa.array(
            [("yes" if e else None) for e in enriched], pa.string()),
        "gpt_impact_alignment": pa.array([("aligned" if e else None) for e in enriched], pa.string()),
    })
    owner_of = dict(zip(tickets.tolist(), (accounts[o] for o in owner)))

    # base rss_trades / account_metadata come from a first feed pull
    base_meta_rows = [
        {**_registry_row(r, a),
         "strategy_inferred": _STRATS[i % 5] if i % 3 else None,
         "gpt_comments": "reviewed" if i % 4 == 0 else None}
        for i, a in enumerate(accounts[: n_accounts - 4])  # 4 accounts join later
    ]
    base_meta = pa.table({c: pa.array([m[c] for m in base_meta_rows], pa.string())
                          for c in META_COLS})

    batches: list[Batch] = []
    next_ticket = 20_000_000
    next_pos = 50_000_000
    pool = tickets.tolist()  # tickets that may be re-delivered
    pos_pool: list[tuple[str, int]] = []

    for b in range(n_batches + 1):  # batch 0 seeds rss_trades
        rb = child_rng(seed, 21, b)
        csv_files: dict[str, str] = {}
        csv_rows: list[dict] = []
        skipped: list[str] = []
        by_acct: dict[str, list[dict]] = {a: [] for a in accounts}
        if b > 0:
            for _ in range(new_per_batch):
                a = accounts[int(rb.integers(0, n_accounts))]
                by_acct[a].append(_trade_row(rb, next_ticket, bad_frac))
                owner_of[next_ticket] = a
                next_ticket += 1
            n_re = int(new_per_batch * redeliver_frac)
            for t in rb.choice(len(pool), n_re, replace=False):
                tk = pool[int(t)]
                by_acct[owner_of[tk]].append(_trade_row(rb, tk, bad_frac))
            pool.extend(range(next_ticket - new_per_batch, next_ticket))
            bad_file, no_net = (int(x) for x in rb.choice(n_accounts, 2, replace=False))
            for i, a in enumerate(accounts):
                rows_a = by_acct[a]
                for _ in range(max(1, len(rows_a) // 50)):  # duplicate lines
                    if rows_a:
                        rows_a.append(dict(rows_a[int(rb.integers(0, len(rows_a)))]))
                order = rb.permutation(len(rows_a))
                rows_a = [rows_a[j] for j in order]
                header = list(CSV_HEADER)
                if i == bad_file:
                    header.remove("Lots")
                    skipped.append(a)
                elif i == no_net:
                    header.remove("Net profit")
                name = f"{a}.csv"
                csv_files[name] = _csv_text(a, header, rows_a)
                for row in rows_a:
                    rec = {h: row[h] if h in header else None for h in CSV_HEADER}
                    rec["account_id"] = a
                    csv_rows.append(rec)

        entries: list[dict] = []
        live = accounts if b > 0 else accounts[: n_accounts - 4]
        for i, a in enumerate(live):
            recs: list[dict] = []
            n_pos = rss_per_account if b == 0 else rss_per_account // 3
            reused = [t for (acc, t) in pos_pool if acc == a]
            picks = [] if b == 0 else [reused[int(j)] for j in
                                       rb.choice(len(reused), min(len(reused), 4), replace=False)]
            ticks = picks + list(range(next_pos, next_pos + n_pos))
            pos_pool.extend((a, t) for t in range(next_pos, next_pos + n_pos))
            next_pos += n_pos
            lead_positions = i == 0  # trades before any snapshot
            for k, t in enumerate(ticks):
                if (k % 7 == 0) and not (lead_positions and k < 7):
                    recs.append(_snapshot(rb))
                recs.append(_position(rb, t))
            for idx, rec in enumerate(recs):
                full = {f: None for f in ENTRY_FIELDS}
                full.update(rec)
                full["account_id"] = a
                full["entry_idx"] = idx
                entries.append(full)
        registry = [_registry_row(rb, a) for a in live]
        batches.append(Batch(csv_files, csv_rows, skipped, entries, registry,
                             n_trade_rows=len(csv_rows), n_feed_entries=len(entries)))
    return IngestInputs(base, base_meta, batches[0], batches[1:])
