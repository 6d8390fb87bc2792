"""The workloads: inputs, op sequence and correctness checks.

A workload is driven in three phases by ``run.py``:

* ``prepare()`` generates every input from the seed (not timed);
* ``warmup()`` is the last step of the set-up: one unchecked round on
  the run's inputs, written to its own directories, paying first-touch
  staging, Python worker start, class loading, code generation and
  the first JIT passes, so the timed rounds start warm;
* ``round(i)`` returns the ops of round ``i`` as ``(name, build,
  action, check)``; ``build`` returns the lazy frame (its eager
  jobs run here), ``action`` executes it, ``check`` compares the
  action's result with the reference after the round, outside the
  timed span, and returns a mismatch message or ``None``.

``rows_per_round`` is the input rows a round merges (0 where the
workload merges none).
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pandas as pd

import gen
from reference import IngestReference

#: the LLM-pipeline batch tier.  Three ops of the tier are left out to
#: fit the run budget (README.md, "Run budget and bounds"):
#: ``llm_corpus_prep`` and ``corpus_release_end_to_end`` (DuckDB oracles
#: of 10 s and 16 s per corpus) and ``dedup_threshold_sensitivity``
#: (6.5 s warm, 19 s cold; ``ivf_pq_adc_topk`` stays as the multi-job
#: representative)
CORPUS_OPS = (
    "minhash_lsh_pairs", "simhash_hamming_neardup", "ivf_pq_adc_topk",
    "streaming_lsh_dedup",
)
INGEST_OPS = ("csv_upsert", "rss_upsert", "ledger_read")

#: scale of the corpus snapshots' relational tables
SMALL_SF = 0.001
CORPUS_DOCS = 300


def canon(pdf: pd.DataFrame) -> tuple:
    """Order-insensitive canonical form, as the repo's oracle gate
    computes it (``tools/verify_local.py``)."""
    from tools.verify_local import canon_rows, pandas_rows

    return canon_rows([c.lower() for c in pdf.columns], pandas_rows(pdf))


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    g_cols, g_rows = canon(got)
    w_cols, w_rows = canon(want)
    if g_cols != w_cols:
        return f"columns {g_cols} != {w_cols}"
    if len(g_rows) != len(w_rows):
        return f"rows {len(g_rows)} != {len(w_rows)}"
    if g_rows != w_rows:
        bad = next(i for i, (a, b) in enumerate(zip(g_rows, w_rows)) if a != b)
        return f"values differ at row {bad}: {g_rows[bad]} != {w_rows[bad]}"
    return None


def fixture_views(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    for t in gen.TPCH_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )


class _QueryWorkload:
    """Registered queries over fixture directories, checked against
    their DuckDB ``oracle_sql()`` on the same files."""

    ops: tuple[str, ...] = ()
    rows_per_round = 0

    def __init__(self, tag: str, work: str, seed: int):
        self.tag, self.work, self.seed = tag, work, seed
        self.con = duckdb.connect()
        self._oracle_cache: dict[tuple[str, str], pd.DataFrame] = {}
        self._views_for: str | None = None

    def bind(self, spark, queries: dict, oracles: dict) -> None:
        self.spark, self.queries, self.oracles = spark, queries, oracles

    def _write(self, tables: dict, name: str) -> str:
        d = os.path.join(self.work, "inputs", f"{self.tag}_{name}")
        gen.write_tables(tables, d)
        return d

    def _oracle(self, q: str, sf_dir: str) -> pd.DataFrame:
        key = (q, sf_dir)
        if key not in self._oracle_cache:
            if self._views_for != sf_dir:
                fixture_views(self.con, sf_dir)
                self._views_for = sf_dir
            self._oracle_cache[key] = self.con.sql(self.oracles[q]).df()
        return self._oracle_cache[key]

    def op(self, q: str, sf_dir: str, oracle_dir: str | None = None):
        """Query ``q`` over ``sf_dir``, checked against its oracle over
        ``oracle_dir`` (a directory with the same content; default
        ``sf_dir``)."""
        def build():
            return self.queries[q](self.spark, sf_dir)

        def check(pdf):
            return compare(pdf, self._oracle(q, oracle_dir or sf_dir))

        return q, build, (lambda df: df.toPandas()), check


class CorpusDedup(_QueryWorkload):
    """Each round runs over a fresh snapshot directory, so no op is
    served an index memoized in an earlier round (the program's memos
    key on the directory).  Every snapshot holds the seed's one corpus,
    so each oracle runs once per run, over the reference copy."""

    ops = CORPUS_OPS

    def prepare(self) -> None:
        self.tables = (gen.tpch_tables(self.seed, SMALL_SF)
                       | gen.corpus_tables(self.seed, CORPUS_DOCS))
        self.ref_dir = self._write(self.tables, "cdref")

    def warmup(self) -> None:
        d = self._write(self.tables, "cdw")
        for q in self.ops:
            self.queries[q](self.spark, d).toPandas()

    def round(self, i: int):
        d = self._write(self.tables, f"cd{i}")
        return [self.op(q, d, self.ref_dir) for q in self.ops]

    def end_round(self, i: int) -> None:
        shutil.rmtree(os.path.join(self.work, "inputs", f"{self.tag}_cd{i}"), ignore_errors=True)


class IngestUpsert:
    """The reference's write path, batch by batch: CSV exports upserted
    into historical_trades (K1), feed positions into rss_trades (K2),
    the registry into account_metadata (K3), then a ledger read."""

    ops = INGEST_OPS

    def __init__(self, tag: str, work: str, seed: int):
        self.tag, self.work, self.seed = tag, work, seed
        self.root = os.path.join(work, "inputs", f"{tag}_iu")

    def bind(self, spark, queries: dict, oracles: dict) -> None:
        self.spark = spark

    def _stage(self, inp: gen.IngestInputs, root: str,
               ref: IngestReference) -> tuple[dict, list[dict]]:
        """Write the base versions and the batches' CSV files under
        ``root``, advancing the reference and keeping each batch's
        expected ledger.  Returns ``(v0 paths, batches)``."""
        os.makedirs(root, exist_ok=True)
        v0 = {}
        for t in ("ht", "rt", "am"):
            v0[t] = os.path.join(root, f"{t}_v0")
            os.makedirs(v0[t], exist_ok=True)
            ref.export(t, os.path.join(v0[t], "part-0.parquet"))
        batches = []
        for k, b in enumerate(inp.batches, start=1):
            csv_dir = os.path.join(root, f"csv_b{k}")
            os.makedirs(csv_dir)
            for name, text in b.csv_files.items():
                with open(os.path.join(csv_dir, name), "w") as f:
                    f.write(text)
            url_of = {r["account_id"]: r["rss_url"] for r in b.registry}
            feeds: dict[str, list[dict]] = {}
            for e in b.entries:
                feeds.setdefault(url_of[e["account_id"]], []).append(
                    {c: v for c, v in e.items() if c not in ("account_id", "entry_idx")})
            ref.apply(b)
            batches.append({
                "csv_glob": os.path.join(csv_dir, "*.csv"),
                "registry": b.registry,
                "feeds": feeds,
                "ledger": ref.ledger(),
            })
        return v0, batches

    def prepare(self) -> None:
        inp = gen.ingest_inputs(self.seed)
        self.ref = IngestReference(inp.base_trades, inp.base_meta, inp.initial_feed)
        self.v0, self.batches = self._stage(inp, self.root, self.ref)
        self.rows_per_round = sum(b.n_trade_rows + b.n_feed_entries for b in inp.batches)

    # ── program calls ──────────────────────────────────────────────────

    def _read(self, path: str, cols: list[str]):
        return self.spark.read.parquet(path).select(*cols)

    def _ledger(self, ht: str, rt: str, am: str):
        from pyspark.sql import functions as F

        h = self.spark.read.parquet(ht).groupBy("account_id").agg(
            F.count("*").alias("n_trades"),
            F.sum(F.round(F.col("pnl") * 100).cast("long")).alias("pnl_cents"),
            F.count("gpt_inferred_strategy").alias("n_enriched"),
            (F.count("*") - F.count("timestamp")).alias("n_bad_time"),
        )
        r = self.spark.read.parquet(rt).groupBy("account_id").agg(
            F.count("*").alias("n_positions"),
            (F.count("*") - F.count("close_time")).alias("n_open"),
            F.sum(F.round(F.col("profit") * 100).cast("long")).alias("profit_cents"),
        )
        m = self.spark.read.parquet(am).select("account_id", "trade_win", "strategy_inferred")
        j = h.join(r, "account_id", "full_outer").join(m, "account_id", "full_outer")
        zero = lambda c: F.coalesce(F.col(c), F.lit(0)).alias(c)  # noqa: E731
        return j.select(
            "account_id", zero("n_trades"), zero("pnl_cents"), zero("n_enriched"),
            zero("n_bad_time"), zero("n_positions"), zero("n_open"),
            zero("profit_cents"), "trade_win", "strategy_inferred",
        )

    def _ops(self, v0: dict, batches: list[dict], out: str, checked: bool):
        from fxblue_etl_spark.io import write_partitioned
        from fxblue_etl_spark.operators.cleaning import GPT_PLACEHOLDER_COLS
        from fxblue_etl_spark.operators.merge import merge_upsert
        from fxblue_etl_spark.sources.fxblue_csv import normalize_trades, read_fxblue_csv
        from fxblue_etl_spark.sources.rss_feed import (
            account_metadata, fetch_feed_entries, rss_trades)

        cur = dict(v0)
        ops = []
        for k, b in enumerate(batches, start=1):
            nxt = {t: os.path.join(out, f"{t}_b{k}") for t in ("ht", "rt", "am")}

            def csv_build(b=b, cur=cur):
                new = normalize_trades(read_fxblue_csv(self.spark, b["csv_glob"]))
                old = self._read(cur["ht"], new.columns)
                return merge_upsert(old, new, ["ticket"],
                                    preserve_cols=list(GPT_PLACEHOLDER_COLS))

            def rss_build(b=b, cur=cur):
                feeds = b["feeds"]
                accounts = self.spark.createDataFrame(
                    [tuple(r[c] for c in gen.REGISTRY_FIELDS) for r in b["registry"]],
                    ", ".join(f"{c} string" for c in gen.REGISTRY_FIELDS))
                new_rt = rss_trades(fetch_feed_entries(accounts, lambda url: feeds[url]),
                                    accounts)
                new_am = account_metadata(accounts)
                return (
                    merge_upsert(self._read(cur["rt"], new_rt.columns), new_rt, ["ticket"]),
                    merge_upsert(self._read(cur["am"], new_am.columns), new_am, ["account_id"],
                                 preserve_cols=["strategy_inferred", "gpt_comments"]),
                )

            def rss_write(dfs, nxt=nxt):
                write_partitioned(dfs[0], nxt["rt"], ["symbol"])
                write_partitioned(dfs[1], nxt["am"], [])

            last = checked and k == len(batches)
            ops += [
                ("csv_upsert", csv_build,
                 lambda df, nxt=nxt: write_partitioned(df, nxt["ht"], ["symbol"]),
                 self._table_check(("ht",), nxt) if last else None),
                ("rss_upsert", rss_build, rss_write,
                 self._table_check(("rt", "am"), nxt) if last else None),
                ("ledger_read", lambda nxt=nxt: self._ledger(nxt["ht"], nxt["rt"], nxt["am"]),
                 lambda df: df.toPandas(),
                 (lambda pdf, want=b["ledger"]: compare(pdf, want)) if checked else None),
            ]
            cur = nxt
        return ops

    def warmup(self) -> None:
        out = os.path.join(self.root, "warm")
        for _, build, action, _ in self._ops(self.v0, self.batches, out, False):
            action(build())
        shutil.rmtree(out, ignore_errors=True)

    def round(self, i: int):
        return self._ops(self.v0, self.batches, os.path.join(self.root, f"pass{i}"), True)

    def _table_check(self, tables: tuple[str, ...], paths: dict):
        """The written final versions against the reference tables."""
        def check(_):
            bad = []
            for t in tables:
                n = self.ref.table_diff(t, os.path.join(paths[t], "**", "*.parquet"))
                if n:
                    bad.append(f"{t}: {n} rows differ from the reference")
            return "; ".join(bad) or None
        return check

    def end_round(self, i: int) -> None:
        """Drop a finished pass's table versions (disk stays bounded)."""
        shutil.rmtree(os.path.join(self.root, f"pass{i}"), ignore_errors=True)


WORKLOADS = {
    "ingest_upsert": IngestUpsert,
    "corpus_dedup": CorpusDedup,
}
