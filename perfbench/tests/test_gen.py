"""Seeded generators: the same seed gives byte-identical inputs, other
seeds give different inputs, and the program's results on those inputs
pass the oracles (DuckDB ``oracle_sql()`` for queries, the DuckDB
last-write-wins reference for the ingest path)."""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import gen  # noqa: E402
import workloads  # noqa: E402

SMALL_INGEST = dict(n_accounts=6, base_trades=2_000, n_batches=2,
                    new_per_batch=300, rss_per_account=12)


def _digest(path: str) -> dict[str, str]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            with open(os.path.join(root, f), "rb") as fh:
                out[os.path.relpath(os.path.join(root, f), path)] = hashlib.sha256(
                    fh.read()).hexdigest()
    return out


def test_same_seed_same_bytes(tmp_path):
    a = gen.write_tables(gen.tpch_tables(7, 0.001), str(tmp_path / "a"))
    b = gen.write_tables(gen.tpch_tables(7, 0.001), str(tmp_path / "b"))
    assert _digest(a) == _digest(b)
    i1, i2 = gen.ingest_inputs(7, **SMALL_INGEST), gen.ingest_inputs(7, **SMALL_INGEST)
    assert [b.csv_files for b in i1.batches] == [b.csv_files for b in i2.batches]
    assert [b.entries for b in i1.batches] == [b.entries for b in i2.batches]
    assert i1.base_trades.equals(i2.base_trades)


def test_different_seeds_differ(tmp_path):
    a = gen.write_tables(gen.tpch_tables(7, 0.001), str(tmp_path / "a"))
    b = gen.write_tables(gen.tpch_tables(8, 0.001), str(tmp_path / "b"))
    da, db = _digest(a), _digest(b)
    assert set(da) == set(db)
    assert all(da[k] != db[k] for k in da if k not in ("region.parquet", "nation.parquet"))
    i1, i2 = gen.ingest_inputs(7, **SMALL_INGEST), gen.ingest_inputs(8, **SMALL_INGEST)
    assert i1.batches[0].csv_files != i2.batches[0].csv_files


def test_ingest_batches_carry_the_edge_cases():
    inp = gen.ingest_inputs(3, **SMALL_INGEST)
    for b in inp.batches:
        assert len(b.skipped_files) == 1
        texts = list(b.csv_files.values())
        assert all(t.startswith("FXBlue trade history export") for t in texts)
        assert sum("Net profit" not in t.splitlines()[1] for t in texts) == 1
        assert any(e["position_closetime"] == gen.EPOCH_SENTINEL for e in b.entries)
        assert any(e["position_tp"] == "0" for e in b.entries if e["position_ticket"])
        tickets = [r["Ticket"] for r in b.csv_rows]
        assert len(tickets) > len(set(tickets))  # within-file duplicates
    # the first feed opens with positions, before any snapshot
    first = [e for e in inp.batches[0].entries if e["entry_idx"] == 0]
    assert any(e["position_ticket"] for e in first)


@pytest.fixture(scope="module")
def spark():
    from fxblue_etl_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    return get_spark("perfbench-tests")


@pytest.mark.parametrize("seed", [3, 4])
def test_queries_pass_oracles_on_generated_tables(spark, tmp_path, seed):
    import __spark_entry__ as entry

    w = workloads._QueryWorkload(f"t{seed}s", str(tmp_path), seed)
    sf_dir = w._write(gen.tpch_tables(seed, 0.001), "q")
    w.bind(spark, entry.queries(), entry.oracle_sql())
    picks = ("q1_pricing_summary", "flagship_account_pnl", "asof_purchase_view",
             "minhash_lsh_pairs")
    for name, build, action, check in (w.op(q, sf_dir) for q in picks):
        assert check(action(build())) is None, name


@pytest.mark.parametrize("seed", [3, 4])
def test_ingest_passes_reference_on_generated_batches(spark, tmp_path, seed, monkeypatch):
    real = gen.ingest_inputs
    monkeypatch.setattr(gen, "ingest_inputs", lambda s, **kw: real(s, **(kw or SMALL_INGEST)))
    w = workloads.IngestUpsert(f"t{seed}s", str(tmp_path), seed)
    w.prepare()
    w.bind(spark, {}, {})
    ops = w.round(0)
    assert [o[0] for o in ops] == list(workloads.INGEST_OPS) * 2
    for name, build, action, check in ops:
        result = action(build())
        if check is not None:
            assert check(result) is None, name
