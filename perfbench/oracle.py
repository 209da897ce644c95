"""Untimed DuckDB re-computation of every distinct dashboard result.

Each (request, params) the serving loop cached is recomputed in SQL over
the same mart parquet the engine wrote and compared order-insensitively
(``testing.compare_frames``). Fund traces are recomputed with
``WITH RECURSIVE``, as tests/test_blockchain_dag.py does. ``LIMIT 1000``
results are compared tie-aware: rows strictly ahead of the 1000th row's
sort key must match exactly; rows that tie with it may be any subset of
the tied rows. A multi-hop trace must be answered at the requested depth
unless the oracle's own frontier counts show the engine's row budget was
exceeded; only then is the 1-hop answer (the degradation contract) right.
"""

from __future__ import annotations

import inspect
from collections import Counter

import duckdb
import pandas as pd

from blockchair_etl_spark.query.trace import trace_funds_with_fallback
from blockchair_etl_spark.testing import compare_frames

from ingest import TABLE_MODELS
from serve import TRACE

FLOAT_TOL = 1e-9  # AVG over doubles: summation order differs between engines
LIMIT = 1000

_W = "{col} BETWEEN TIMESTAMP '{s}' AND TIMESTAMP '{e}'"
# the per-hop frontier row budget the dashboard's traces run under
FRONTIER_BUDGET = inspect.signature(trace_funds_with_fallback).parameters["max_frontier_rows"].default

_TRACE_CTE = """
WITH RECURSIVE tp AS (
  SELECT 1 AS hop, source_address AS src, destination_address AS dst,
         transaction_hash AS tx_hash, tx_time
  FROM fct_transaction_traces
  WHERE source_address = $addr AND {w}
  UNION ALL
  SELECT p.hop + 1, t.source_address, t.destination_address,
         t.transaction_hash, t.tx_time
  FROM fct_transaction_traces t
  JOIN tp p ON p.dst = t.source_address
  WHERE p.hop < {hops} AND {wt}
)"""

_TRACE_SQL = _TRACE_CTE + """,
tx_blocks AS (
  SELECT transaction_hash, MIN(block_id) AS block_id,
         MIN(transferred_value_btc) AS value_btc
  FROM fct_transaction_traces
  WHERE {w}
  GROUP BY transaction_hash
)
SELECT tp.hop, tp.src AS source_address, tp.dst AS destination_address,
       tp.tx_hash AS transaction_hash, tp.tx_time, tb.value_btc,
       b.block_time, b.guessed_miner
FROM tp
JOIN tx_blocks tb ON tp.tx_hash = tb.transaction_hash
JOIN dim_blocks b ON tb.block_id = b.block_id
"""


def connect(base_path: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for m in TABLE_MODELS:
        con.execute(
            f"CREATE VIEW {m} AS SELECT * FROM read_parquet('{base_path}/{m}/**/*.parquet')"
        )
    return con


def _sql(name: str, params: tuple) -> tuple[str, dict, list[str] | None]:
    """→ (SQL without LIMIT, bind params, ORDER BY keys if top-k else None)."""
    if name == "richest_address":
        return (
            "SELECT address, current_balance_sats, current_balance_btc FROM dim_addresses "
            "ORDER BY current_balance_btc DESC, address ASC LIMIT 1", {}, None,
        )
    if name == TRACE:
        addr, s, e, hops = params
        return (
            _TRACE_SQL.format(**_trace_fmt(s, e, hops)),
            {"addr": addr},
            ["hop", "tx_time", "transaction_hash", "destination_address"],
        )
    if name == "balance_trend":
        addr, s, e = params
        return (
            "SELECT time, running_balance_btc, value_change_btc, transaction_hash "
            "FROM int_address_balances_with_history WHERE address = $addr AND "
            + _W.format(col="time", s=s, e=e),
            {"addr": addr},
            ["time", "transaction_hash"],
        )
    s, e = params
    w = "WHERE " + _W.format(col="tx_time", s=s, e=e)
    if name == "distinct_transaction_count":
        return f"SELECT COUNT(DISTINCT transaction_hash) AS total_transactions FROM fct_transaction_traces {w}", {}, None
    if name == "avg_nonzero_fee":
        return f"SELECT COALESCE(AVG(NULLIF(fee_btc, 0)), 0) AS avg_fee_btc FROM fct_transaction_traces {w}", {}, None
    if name == "most_active_address":
        return (
            f"SELECT source_address, COUNT(*) AS flow_count FROM fct_transaction_traces {w} "
            "GROUP BY source_address ORDER BY flow_count DESC, source_address ASC NULLS FIRST LIMIT 1",
            {}, None,
        )
    if name == "block_metrics":
        return (
            "SELECT block_id, block_time, transaction_count, fee_total_btc, reward_btc, "
            "cdd_total_days FROM dim_blocks WHERE " + _W.format(col="block_time", s=s, e=e),
            {},
            ["block_time", "block_id"],
        )
    raise ValueError(f"no oracle for {name}")


def _trace_fmt(s: str, e: str, hops: int) -> dict:
    return {"w": _W.format(col="tx_time", s=s, e=e), "wt": _W.format(col="t.tx_time", s=s, e=e), "hops": int(hops)}


def trace_depth(con, params: tuple) -> int:
    """The depth a trace must be answered at. Before each hop past the
    first the engine counts the previous hop's frontier; when one of
    those frontiers (hops 1 … max_hops-1) exceeds FRONTIER_BUDGET rows it
    answers at 1 hop."""
    addr, s, e, hops = params
    if hops == 1:
        return 1
    sql = _TRACE_CTE.format(**_trace_fmt(s, e, hops - 1))
    (largest,) = con.execute(
        sql + " SELECT COALESCE(MAX(n), 0) FROM (SELECT COUNT(*) AS n FROM tp GROUP BY hop)",
        {"addr": addr},
    ).fetchone()
    return 1 if largest > FRONTIER_BUDGET else hops


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Cells as strings, timestamps at µs, so rows from Spark and DuckDB
    compare as tuples."""
    out = df.copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].astype("datetime64[us]")
    return out.astype(str)


def _tuples(df: pd.DataFrame) -> pd.Series:
    return _canon(df).apply(tuple, axis=1) if len(df) else pd.Series([], dtype=object)


def compare(con, name: str, params: tuple, rows: list) -> list[str]:
    """Mismatch descriptions (empty when the engine's rows are right)."""
    sql, binds, keys = _sql(name, params)
    want = con.execute(sql, binds).fetchdf()
    got = pd.DataFrame([r.asDict() for r in rows], columns=list(want.columns)) if rows else want.iloc[:0]
    if keys is None or len(want) <= LIMIT:
        r = compare_frames(name, got, want, float_tol=FLOAT_TOL)
        return [] if r.ok else [f"{name}{params}: {r.mismatches[:2]}"]
    # top-k with possible ties at the cut
    order = ", ".join(f"{k} ASC NULLS FIRST" for k in keys)
    want = con.execute(f"SELECT * FROM ({sql}) ORDER BY {order}", binds).fetchdf()
    want_k, got_k = _tuples(want[keys]), _tuples(got[keys])
    cut = want_k.iloc[LIMIT - 1]
    ahead = int((want_k.iloc[:LIMIT] != cut).sum())
    r = compare_frames(name, got[(got_k != cut).to_numpy()], want.iloc[:ahead], float_tol=FLOAT_TOL)
    errs = [] if r.ok else [f"{name}{params}: {r.mismatches[:2]}"]
    tied = Counter(_tuples(got[(got_k == cut).to_numpy()]))
    pool = Counter(_tuples(want[(want_k == cut).to_numpy()]))
    if len(got) != LIMIT or tied - pool:
        errs.append(f"{name}{params}: {len(got)} rows; tied rows not in the result set")
    return errs


def check_serve(base_path: str, cache_store: dict) -> tuple[int, list[str]]:
    """Compare every cached result. → (results compared, errors)."""
    con = connect(base_path)
    errors: list[str] = []
    try:
        for (name, params), (_, rows) in cache_store.items():
            if name == TRACE:
                # the reference's degradation contract: a trace whose
                # frontier blows the row budget is answered at 1 hop
                params = (*params[:3], trace_depth(con, params))
            errors.extend(compare(con, name, params, rows))
    finally:
        con.close()
    return len(cache_store), errors
