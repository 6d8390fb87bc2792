"""DuckDB reference for the ingest workload.

Computes, from the same generated batches the program ingests, what
``historical_trades``, ``rss_trades`` and ``account_metadata`` must hold
after each batch, with the reference ETL's conflict policies:

* K1 (historical_trades): payload from the newest delivery, the six
  ``gpt_*`` enrichment columns kept from the stored row on conflict;
* K2 (rss_trades): every column from the newest delivery;
* K3 (account_metadata): urls/metrics from the newest registry,
  ``strategy_inferred``/``gpt_comments`` kept on conflict.

Parsing follows the reference's rules independently of the program:
invalid numbers and open times become NULL, files missing a required
column are skipped whole, exact duplicate lines collapse to one.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pyarrow as pa

from gen import CSV_HEADER, ENTRY_FIELDS, EPOCH_SENTINEL, HT_COLS, META_COLS, REGISTRY_FIELDS, Batch

_RAW = {h: f"c{i}" for i, h in enumerate(CSV_HEADER)}

_RATIO = """CASE WHEN {c} IS NULL OR {c} = '-' THEN NULL
     WHEN contains({c}, '%') THEN TRY_CAST(replace({c}, '%', '') AS DOUBLE) / 100.0
     ELSE TRY_CAST({c} AS DOUBLE) END"""

_NUM = "TRY_CAST(nullif({c}, '') AS DOUBLE)"
_RSS_TS = "strftime(try_strptime({c}, '%a %d %b %Y %H:%M:%S'), '%Y-%m-%dT%H:%M:%S')"

_TRADES_SQL = f"""
SELECT DISTINCT
  TRY_CAST({_RAW['Ticket']} AS BIGINT) AS ticket,
  account_id,
  {_RAW['Symbol']} AS symbol,
  {_RAW['Buy/sell']} AS trade_type,
  TRY_CAST({_RAW['Open price']} AS DOUBLE) AS entry_price,
  TRY_CAST({_RAW['Close price']} AS DOUBLE) AS exit_price,
  strftime(TRY_CAST({_RAW['Open time']} AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S') AS "timestamp",
  TRY_CAST({_RAW['Lots']} AS DOUBLE) AS lot_size,
  TRY_CAST({_RAW['Profit']} AS DOUBLE) AS pnl,
  TRY_CAST({_RAW['Net profit']} AS DOUBLE) AS net_profit
FROM raw_csv WHERE NOT skipped
"""

_RSS_SQL = f"""
WITH filled AS (
  SELECT *,
    {', '.join(
        f"last_value(TRY_CAST({c} AS DOUBLE) IGNORE NULLS) OVER w AS f_{c}"
        for c in ('account_balance', 'account_equity', 'account_floatingprofit',
                  'account_closedprofit', 'account_freemargin'))}
  FROM entries
  WINDOW w AS (PARTITION BY account_id ORDER BY entry_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
reg AS (
  SELECT account_id, account_url, rss_url,
         {_RATIO.format(c='trade_win')} AS trade_win,
         {_RATIO.format(c='total_return')} AS total_return,
         {_RATIO.format(c='trades_per_day')} AS trades_per_day
  FROM registry)
SELECT f.account_id, r.account_url, r.rss_url, r.trade_win, r.total_return,
  r.trades_per_day,
  f.f_account_balance AS account_balance, f.f_account_equity AS account_equity,
  f.f_account_floatingprofit AS account_floating_profit,
  f.f_account_closedprofit AS account_closed_profit,
  f.f_account_freemargin AS account_free_margin,
  TRY_CAST(f.position_ticket AS BIGINT) AS ticket,
  f.position_action AS action,
  {_NUM.format(c='f.position_lots')} AS lots,
  f.position_symbol AS symbol,
  {_NUM.format(c='f.position_openprice')} AS open_price,
  {_NUM.format(c='f.position_closeprice')} AS close_price,
  {_RSS_TS.format(c="nullif(f.position_opentime, '')")} AS open_time,
  {_RSS_TS.format(c=f"nullif(nullif(f.position_closetime, ''), '{EPOCH_SENTINEL}')")} AS close_time,
  {_NUM.format(c='f.position_profit')} AS profit,
  {_NUM.format(c='f.position_swap')} AS swap,
  {_NUM.format(c='f.position_commission')} AS commission,
  {_NUM.format(c='f.position_totalprofit')} AS total_profit,
  TRY_CAST(nullif(nullif(f.position_tp, '0'), '') AS DOUBLE) AS take_profit,
  TRY_CAST(nullif(nullif(f.position_sl, '0'), '') AS DOUBLE) AS stop_loss,
  TRY_CAST(nullif(f.position_magicnumber, '') AS BIGINT) AS magic_number,
  CAST(NULL AS VARCHAR) AS gpt_recommendation_issued,
  CAST(NULL AS VARCHAR) AS gpt_recommendation_content,
  CAST(NULL AS VARCHAR) AS gpt_recommendation_accuracy,
  CAST(NULL AS VARCHAR) AS gpt_suggestion_score,
  CAST(NULL AS VARCHAR) AS trade_deviation_reasoning
FROM filled f LEFT JOIN reg r USING (account_id)
WHERE f.position_ticket IS NOT NULL
"""

_META_SQL = f"""
SELECT account_id, account_url, rss_url,
       {_RATIO.format(c='trade_win')} AS trade_win,
       {_RATIO.format(c='total_return')} AS total_return,
       {_RATIO.format(c='trades_per_day')} AS trades_per_day,
       CAST(NULL AS VARCHAR) AS strategy_inferred,
       CAST(NULL AS VARCHAR) AS gpt_comments
FROM registry
"""

#: per-account reconciliation; the program's ledger_read computes the
#: same figures (integer cents, so sums are exact in both engines)
LEDGER_SQL = """
WITH h AS (
  SELECT account_id, count(*) AS n_trades,
         CAST(sum(CAST(round(pnl * 100) AS BIGINT)) AS BIGINT) AS pnl_cents,
         count(gpt_inferred_strategy) AS n_enriched,
         count(*) - count("timestamp") AS n_bad_time
  FROM ht GROUP BY account_id),
r AS (
  SELECT account_id, count(*) AS n_positions,
         count(*) - count(close_time) AS n_open,
         CAST(sum(CAST(round(profit * 100) AS BIGINT)) AS BIGINT) AS profit_cents
  FROM rt GROUP BY account_id)
SELECT coalesce(h.account_id, r.account_id, m.account_id) AS account_id,
       coalesce(h.n_trades, 0) AS n_trades, coalesce(h.pnl_cents, 0) AS pnl_cents,
       coalesce(h.n_enriched, 0) AS n_enriched, coalesce(h.n_bad_time, 0) AS n_bad_time,
       coalesce(r.n_positions, 0) AS n_positions, coalesce(r.n_open, 0) AS n_open,
       coalesce(r.profit_cents, 0) AS profit_cents,
       m.trade_win, m.strategy_inferred
FROM h FULL OUTER JOIN r ON h.account_id = r.account_id
FULL OUTER JOIN am m ON coalesce(h.account_id, r.account_id) = m.account_id
"""


def _merge_sql(old: str, new: str, key: str, cols: list[str], preserve: tuple = ()) -> str:
    def pick(c: str) -> str:
        if c == key:
            return f"coalesce(n.{c}, o.{c}) AS {c}"
        if c in preserve:
            return f"CASE WHEN o.{key} IS NOT NULL THEN o.{c} ELSE n.{c} END AS {c}"
        return f"CASE WHEN n.{key} IS NOT NULL THEN n.{c} ELSE o.{c} END AS {c}"
    body = ", ".join(pick(c) for c in cols)
    return f"SELECT {body} FROM {old} o FULL OUTER JOIN {new} n ON o.{key} = n.{key}"


def _quoted(cols: list[str]) -> list[str]:
    return [f'"{c}"' if c == "timestamp" else c for c in cols]


class IngestReference:
    """Reference tables ``ht``/``rt``/``am`` in one DuckDB connection,
    advanced one batch at a time."""

    def __init__(self, base_trades: pa.Table, base_meta: pa.Table, initial_feed: Batch):
        self.con = duckdb.connect()
        self.con.register("base_trades", base_trades)
        self.con.register("base_meta", base_meta)
        self.con.execute("CREATE TABLE ht AS SELECT * FROM base_trades")
        self.con.execute(
            "CREATE TABLE am AS SELECT s.* EXCLUDE (strategy_inferred, gpt_comments), "
            "m.strategy_inferred, m.gpt_comments "
            f"FROM ({_META_SQL.replace('FROM registry', 'FROM base_meta')}) s "
            "JOIN base_meta m USING (account_id)"
        )
        self._load_feed(initial_feed)
        self.con.execute(f"CREATE TABLE rt AS {_RSS_SQL}")

    def _load_feed(self, batch: Batch) -> None:
        ent = pd.DataFrame(batch.entries, columns=ENTRY_FIELDS)
        reg = pd.DataFrame(batch.registry, columns=REGISTRY_FIELDS)
        self.con.register("entries", ent)
        self.con.register("registry", reg)

    def apply(self, batch: Batch) -> None:
        raw = pd.DataFrame(
            [[r[h] if r[h] != "" else None for h in CSV_HEADER] + [r["account_id"]]
             for r in batch.csv_rows],
            columns=list(_RAW.values()) + ["account_id"],
        )
        raw["skipped"] = raw["account_id"].isin(batch.skipped_files)
        self.con.register("raw_csv", raw)
        gpt = [c for c in HT_COLS if c.startswith(("gpt_", "was_gpt"))]
        self.con.execute(
            f"CREATE OR REPLACE TEMP TABLE new_ht AS SELECT *, "
            + ", ".join(f"CAST(NULL AS {'DOUBLE' if c == 'gpt_strategy_confidence' else 'VARCHAR'}) AS {c}"
                        for c in gpt)
            + f" FROM ({_TRADES_SQL})"
        )
        cols = _quoted(HT_COLS)
        self.con.execute(
            "CREATE OR REPLACE TABLE ht AS "
            + _merge_sql("ht", "new_ht", "ticket", cols, tuple(gpt))
        )
        self._load_feed(batch)
        self.con.execute(f"CREATE OR REPLACE TEMP TABLE new_rt AS {_RSS_SQL}")
        rt_cols = [d[0] for d in self.con.execute("SELECT * FROM new_rt LIMIT 0").description]
        self.con.execute("CREATE OR REPLACE TABLE rt AS " + _merge_sql("rt", "new_rt", "ticket", rt_cols))
        self.con.execute(f"CREATE OR REPLACE TEMP TABLE new_am AS {_META_SQL}")
        self.con.execute(
            "CREATE OR REPLACE TABLE am AS "
            + _merge_sql("am", "new_am", "account_id", META_COLS,
                         ("strategy_inferred", "gpt_comments"))
        )

    def ledger(self) -> pd.DataFrame:
        return self.con.sql(LEDGER_SQL).df()

    def table_diff(self, name: str, parquet_glob: str) -> int:
        """Rows in the symmetric difference between reference table
        ``name`` and the parquet files the program wrote."""
        cols = ", ".join(_quoted([d[0] for d in self.con.execute(
            f"SELECT * FROM {name} LIMIT 0").description]))
        got = f"(SELECT {cols} FROM read_parquet('{parquet_glob}', hive_partitioning = true))"
        q = (f"SELECT count(*) FROM ((SELECT {cols} FROM {name} EXCEPT ALL {got}) "
             f"UNION ALL ({got} EXCEPT ALL SELECT {cols} FROM {name}))")
        return int(self.con.execute(q).fetchone()[0])

    def export(self, name: str, path: str) -> None:
        """Write reference table ``name`` as one parquet file."""
        self.con.execute(f"COPY (SELECT * FROM {name}) TO '{path}' (FORMAT PARQUET)")
