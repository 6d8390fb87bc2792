"""The DuckDB ingest reference on a hand-sized batch: K1 keeps stored
enrichment, K2 clobbers, K3 keeps strategy/comments, skipped files and
duplicate lines do not land, bad tokens become NULL, snapshots carry
forward."""

from __future__ import annotations

import os
import sys

import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gen import CSV_HEADER, ENTRY_FIELDS, EPOCH_SENTINEL, HT_COLS, META_COLS, Batch  # noqa: E402
from reference import IngestReference  # noqa: E402


def _trade(ticket, pnl, **over):
    row = {h: None for h in CSV_HEADER}
    row.update({"Ticket": str(ticket), "Symbol": "EURUSD", "Buy/sell": "Buy",
                "Open price": "1.1", "Close price": "1.2",
                "Open time": "2023-05-01 10:00:00", "Lots": "0.5",
                "Profit": pnl, "Net profit": pnl})
    row.update(over)
    return row


def _entry(idx, **fields):
    e = {f: None for f in ENTRY_FIELDS}
    e.update(account_id="A", entry_idx=idx, **fields)
    return e


def _position(ticket, profit, **over):
    p = dict(position_ticket=str(ticket), position_action="buy", position_lots="1",
             position_symbol="EURUSD", position_openprice="1.1", position_closeprice="1.2",
             position_opentime="Mon 1 May 2023 10:00:00",
             position_closetime="Mon 1 May 2023 11:00:00", position_profit=profit,
             position_swap="0.1", position_commission="-1", position_totalprofit=profit,
             position_tp="1.3", position_sl="1.0", position_magicnumber="7")
    p.update(over)
    return p


def _registry(win):
    return [{"account_id": "A", "account_url": "u", "rss_url": "r", "trade_win": win,
             "total_return": "10%", "trades_per_day": "-"}]


def _reference():
    base = {c: [None, None] for c in HT_COLS}
    base.update(ticket=[1, 2], account_id=["A", "A"], symbol=["EURUSD"] * 2,
                pnl=[1.0, 2.0], gpt_inferred_strategy=["swing", None])
    types = {"ticket": pa.int64(), "pnl": pa.float64(), "entry_price": pa.float64(),
             "exit_price": pa.float64(), "lot_size": pa.float64(),
             "net_profit": pa.float64(), "gpt_strategy_confidence": pa.float64()}
    base_trades = pa.table({c: pa.array(v, types.get(c, pa.string())) for c, v in base.items()})
    meta = {c: [None] for c in META_COLS}
    meta.update(_registry("20%")[0], strategy_inferred="scalper", gpt_comments=None)
    base_meta = pa.table({c: pa.array([v] if not isinstance(v, list) else v, pa.string())
                          for c, v in meta.items()})
    feed = Batch({}, [], [], [_entry(0, **_position(100, "1.00"))], _registry("20%"))
    return IngestReference(base_trades, base_meta, feed)


def test_k1_k2_k3_and_parse_rules():
    ref = _reference()
    rows = [
        {**_trade(1, "9.50"), "account_id": "A"},            # re-delivered, enriched
        {**_trade(3, "3.00"), "account_id": "A"},
        {**_trade(3, "3.00"), "account_id": "A"},            # duplicate line
        {**_trade(5, "5.00", **{"Open price": "--", "Open time": "yesterday"}),
         "account_id": "A"},
        {**_trade(4, "4.00"), "account_id": "B"},            # file B is skipped
    ]
    entries = [
        _entry(0, **_position(101, "", position_closetime=EPOCH_SENTINEL,
                              position_tp="0")),             # before any snapshot
        _entry(1, account_balance="500.5"),
        _entry(2, **_position(100, "2.00")),                 # re-delivered
    ]
    ref.apply(Batch({}, rows, ["B"], entries, _registry("50%")))
    ht = {r[0]: r for r in ref.con.execute(
        'SELECT ticket, pnl, gpt_inferred_strategy, entry_price, "timestamp" '
        "FROM ht").fetchall()}
    assert sorted(ht) == [1, 2, 3, 5]
    assert ht[1][1:3] == (9.5, "swing")        # payload new, enrichment kept
    assert ht[2][1:3] == (2.0, None)           # untouched
    assert ht[3][1:3] == (3.0, None)           # inserted once
    assert ht[5][3:] == (None, None)           # bad price and time -> NULL
    rt = {r[0]: r[1:] for r in ref.con.execute(
        "SELECT ticket, profit, account_balance, close_time, take_profit FROM rt").fetchall()}
    assert rt[100] == (2.0, 500.5, "2023-05-01T11:00:00", 1.3)   # clobbered, LOCF
    assert rt[101] == (None, None, None, None)  # '' profit, no snapshot yet, sentinels
    am = ref.con.execute("SELECT trade_win, strategy_inferred FROM am").fetchall()
    assert am == [(0.5, "scalper")]
    ledger = ref.ledger()
    assert ledger.loc[0, "n_trades"] == 4 and ledger.loc[0, "pnl_cents"] == 950 + 200 + 300 + 500
