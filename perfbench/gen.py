"""Seeded, vectorized generators for the benchmark inputs.

``make_days`` builds the five raw Blockchair tables (``RAW_SCHEMAS``) for
a run of consecutive days with the cross-table invariants of FIXTURES.md:
referential counts, fee conservation, the CDD identity (3% of inputs
deliberately off), a 4-hop chain that closes into a cycle, (recipient,
time) ties, fee = 0 rows and ~1% null recipients. ``write_dump_files``
lays them out in the feed's naming scheme
(``blockchair_bitcoin_<type>_<YYYYMMDD>.tsv.gz``) plus one malformed file.

``write_corpus`` writes a Zipfian document corpus shaped like
``testing.zipfian_corpus`` with planted near-duplicate pairs whose ids are
returned, so dedup recall can be checked exactly.

Columns are generated with numpy, whole at a time; the same seed gives
byte-identical inputs.
"""

from __future__ import annotations

import gzip
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BTC_PRICE = 60_000.0
SUBSIDY = 312_500_000
DAY0 = pd.Timestamp("2025-08-10")
MINERS = np.array([f"miner{i}" for i in range(10)])
SCRIPT_TYPES = np.array(
    ["pubkeyhash", "scripthash", "witness_v0_keyhash", "witness_v0_scripthash",
     "witness_v1_taproot", "nulldata"]
)


# One feed day: 144 blocks (one per ten minutes). The benchmark runs 6
# transactions per block, ~1/80 of a real day, so a run fits its time
# budget; see perfbench/README.md.
BLOCKS_PER_DAY = 144
TX_PER_BLOCK = 6
MEAN_FANOUT = 2.5  # inputs and outputs per non-coinbase tx
ADDRESSES_PER_TX = 0.7
# HUB_SHARE is the probability that an input or output recipient is the
# single hub address (an exchange hot wallet); every other recipient is
# drawn from the address pool with density skewed by POOL_SKEW (a pool
# index is floor(n * u ** POOL_SKEW) for uniform u, so low indices are
# busy and the tail is long). Neither value is measured from chain data:
# both are unverified choices, documented in perfbench/README.md.
HUB_SHARE = 0.02
POOL_SKEW = 2.0


def _hex_ids(prefix: int, idx: np.ndarray) -> np.ndarray:
    """64-char lowercase hex strings that look random and are unique per
    (prefix, idx): the leading 16 digits are a bijective odd-multiplier
    mix of idx, so any prefix of ≥16 digits stays unique."""
    h = idx.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15) + np.uint64(prefix)
    out = np.char.mod("%016x", h)
    for k in (0xBF58476D1CE4E5B9, 0x94D049BB133111EB, 0xD6E8FEB86659FD93):
        h = (h ^ (h >> np.uint64(29))) * np.uint64(k)
        out = np.char.add(out, np.char.mod("%016x", h))
    return out


def make_days(seed: int, n_days: int) -> dict:
    """→ {"tables": {name: DataFrame}, "days": [YYYYMMDD...],
    "flow_rows": Σ max(n_in,1)·max(n_out,1),
    "active": spending addresses, busiest first, ...}."""
    rng = np.random.default_rng(seed)
    n_blocks = BLOCKS_PER_DAY * n_days
    n_tx = n_blocks * TX_PER_BLOCK
    n_addr = max(int(n_tx * ADDRESSES_PER_TX), 16)
    addresses = np.char.add("bc1q", np.char.zfill(np.arange(n_addr).astype(str), 12))

    block_id = 800_000 + np.arange(n_blocks, dtype=np.int64)
    block_time = (
        DAY0
        + pd.to_timedelta(np.arange(n_blocks) * 600 + rng.integers(0, 60, n_blocks), "s")
    ).values.astype("datetime64[s]")

    tx_block = np.repeat(np.arange(n_blocks), TX_PER_BLOCK)
    is_cb = (np.arange(n_tx) % TX_PER_BLOCK == 0).astype(np.int64)
    n_in = np.where(is_cb == 1, 1, 1 + rng.poisson(MEAN_FANOUT - 1, n_tx))
    n_out = 1 + rng.poisson(MEAN_FANOUT - 1, n_tx)

    # chain + cycle: addresses 1→2→3→4→1 (0 is the hub) in four blocks, one
    # 1-in/1-out tx per hop, appended after the random transactions
    chain = [1, 2, 3, 4, 1]
    chain_block = np.arange(1, 5)
    tx_block = np.concatenate([tx_block, chain_block])
    is_cb = np.concatenate([is_cb, np.zeros(4, np.int64)])
    n_in = np.concatenate([n_in, np.ones(4, np.int64)])
    n_out = np.concatenate([n_out, np.ones(4, np.int64)])
    n_tx_all = len(tx_block)
    tx_hash = _hex_ids(seed & 0xFFFFFFFF, np.arange(n_tx_all))
    tx_time = block_time[tx_block]

    def recipients(n: int) -> np.ndarray:
        # hub, else a skewed pool draw (a few busy addresses, long tail)
        hub = rng.random(n) < HUB_SHARE
        pool = np.minimum((n_addr - 1) * rng.random(n) ** POOL_SKEW, n_addr - 1).astype(np.int64)
        idx = np.where(hub, 0, 5 + pool % (n_addr - 5))
        out = addresses[idx].astype(object)
        out[rng.random(n) < 0.01] = None
        return out

    # outputs
    out_tx = np.repeat(np.arange(n_tx_all), n_out)
    out_index = np.arange(len(out_tx)) - np.repeat(np.cumsum(n_out) - n_out, n_out)
    out_value = rng.integers(10_000, 2_000_000_000, len(out_tx))
    out_recipient = recipients(len(out_tx))
    out_total = np.bincount(out_tx, weights=out_value, minlength=n_tx_all).astype(np.int64)
    fee = np.where(
        (is_cb == 1) | (rng.random(n_tx_all) < 0.1), 0, rng.integers(1_000, 50_000, n_tx_all)
    )
    in_total = np.where(is_cb == 1, 0, out_total + fee)

    # inputs: split in_total evenly, remainder on index 0
    in_tx = np.repeat(np.arange(n_tx_all), n_in)
    in_first = np.repeat(np.cumsum(n_in) - n_in, n_in)
    in_index = np.arange(len(in_tx)) - in_first
    share = in_total[in_tx] // n_in[in_tx]
    in_value = share + np.where(in_index == 0, in_total[in_tx] - share * n_in[in_tx], 0)
    lifespan = rng.integers(0, 86_400 * 200, len(in_tx))
    cdd = (lifespan / 86_400.0) * (in_value / 1e8)
    cdd = np.where(rng.random(len(in_tx)) < 0.03, cdd + 1.5, cdd)
    in_recipient = recipients(len(in_tx))

    # pin the chain edges (the last four tx)
    for hop in range(4):
        t = n_tx_all - 4 + hop
        in_recipient[np.flatnonzero(in_tx == t)] = addresses[chain[hop]]
        out_recipient[np.flatnonzero(out_tx == t)] = addresses[chain[hop + 1]]

    in_from_cb = is_cb[in_tx]
    in_time = tx_time[in_tx]
    inputs = pd.DataFrame(
        {
            "block_id": block_id[tx_block[in_tx]],
            "transaction_hash": tx_hash[in_tx],
            "index": in_index,
            "time": in_time,
            "value": in_value,
            "value_usd": in_value / 1e8 * BTC_PRICE,
            "recipient": in_recipient,
            "type": SCRIPT_TYPES[rng.integers(0, 5, len(in_tx))],
            "script_hex": np.char.add("0014", tx_hash[in_tx].astype("U40")),
            "is_from_coinbase": in_from_cb,
            "is_spendable": 1,
            "spending_block_id": block_id[tx_block[in_tx]],
            "spending_transaction_hash": tx_hash[in_tx],
            "spending_index": in_index,
            "spending_time": in_time + lifespan.astype("timedelta64[s]"),
            "spending_value_usd": in_value / 1e8 * BTC_PRICE,
            "spending_sequence": 4_294_967_295,
            "spending_signature_hex": np.char.add("3044", tx_hash[in_tx]),
            "spending_witness": np.char.add("02", tx_hash[in_tx].astype("U32")),
            "lifespan": lifespan,
            "cdd": cdd,
        }
    )
    outputs = pd.DataFrame(
        {
            "block_id": block_id[tx_block[out_tx]],
            "transaction_hash": tx_hash[out_tx],
            "index": out_index,
            "time": tx_time[out_tx],
            "value": out_value,
            "value_usd": out_value / 1e8 * BTC_PRICE,
            "recipient": out_recipient,
            "type": SCRIPT_TYPES[rng.integers(0, 6, len(out_tx))],
            "script_hex": np.char.add("76a914", tx_hash[out_tx].astype("U40")),
            "is_from_coinbase": is_cb[out_tx],
            "is_spendable": 1,
        }
    )
    tx_cdd = np.bincount(in_tx, weights=cdd, minlength=n_tx_all)
    size = rng.integers(200, 100_000, n_tx_all)
    transactions = pd.DataFrame(
        {
            "block_id": block_id[tx_block],
            "hash": tx_hash,
            "time": tx_time,
            "size": size,
            "weight": 4 * size,
            "version": 2,
            "lock_time": 0,
            "is_coinbase": is_cb,
            "has_witness": rng.integers(0, 2, n_tx_all),
            "input_count": n_in,
            "output_count": n_out,
            "input_total": in_total,
            "input_total_usd": in_total / 1e8 * BTC_PRICE,
            "output_total": out_total,
            "output_total_usd": out_total / 1e8 * BTC_PRICE,
            "fee": fee,
            "fee_usd": fee / 1e8 * BTC_PRICE,
            "fee_per_kb": fee / size * 1000.0,
            "fee_per_kb_usd": fee / size * 1000.0 / 1e8 * BTC_PRICE,
            "fee_per_kwu": fee / (4 * size) * 1000.0,
            "fee_per_kwu_usd": fee / (4 * size) * 1000.0 / 1e8 * BTC_PRICE,
            "cdd_total": tx_cdd,
        }
    )

    def per_block(values, owner) -> np.ndarray:
        return np.bincount(owner, weights=values, minlength=n_blocks)

    in_blk, out_blk = tx_block[in_tx], tx_block[out_tx]
    fee_total = per_block(fee, tx_block).astype(np.int64)
    bsize = rng.integers(100_000, 2_000_000, n_blocks)
    blocks = pd.DataFrame(
        {
            "id": block_id,
            "hash": _hex_ids(0xB10C0000 ^ (seed & 0xFFFF), np.arange(n_blocks)),
            "time": block_time,
            "median_time": block_time - np.timedelta64(3600, "s"),
            "size": bsize,
            "stripped_size": bsize * 9 // 10,
            "weight": 4 * bsize,
            "version": 536_870_912,
            "version_hex": "20000000",
            "version_bits": "0" * 32,
            "merkle_root": _hex_ids(0x3E000000 ^ (seed & 0xFFFF), np.arange(n_blocks)),
            "nonce": rng.integers(0, 2**32, n_blocks),
            "bits": 386_089_497,
            "difficulty": 88_104_191_118_793,
            "chainwork": _hex_ids(0xC0000000 ^ (seed & 0xFFFF), np.arange(n_blocks)),
            "coinbase_data_hex": _hex_ids(0xCB000000, np.arange(n_blocks)).astype("U32"),
            "transaction_count": np.bincount(tx_block, minlength=n_blocks),
            "witness_count": per_block(transactions["has_witness"].to_numpy(), tx_block).astype(np.int64),
            "input_count": np.bincount(in_blk, minlength=n_blocks),
            "output_count": np.bincount(out_blk, minlength=n_blocks),
            "input_total": per_block(in_value, in_blk).astype(np.int64),
            "input_total_usd": per_block(in_value / 1e8 * BTC_PRICE, in_blk),
            "output_total": per_block(out_value, out_blk).astype(np.int64),
            "output_total_usd": per_block(out_value / 1e8 * BTC_PRICE, out_blk),
            "fee_total": fee_total,
            "fee_total_usd": fee_total / 1e8 * BTC_PRICE,
            "fee_per_kb": fee_total / bsize * 1000.0,
            "fee_per_kb_usd": fee_total / bsize * 1000.0 / 1e8 * BTC_PRICE,
            "fee_per_kwu": fee_total / (4 * bsize) * 1000.0,
            "fee_per_kwu_usd": fee_total / (4 * bsize) * 1000.0 / 1e8 * BTC_PRICE,
            "cdd_total": per_block(tx_cdd, tx_block),
            "generation": SUBSIDY,
            "generation_usd": SUBSIDY / 1e8 * BTC_PRICE,
            "reward": SUBSIDY + fee_total,
            "reward_usd": (SUBSIDY + fee_total) / 1e8 * BTC_PRICE,
            "guessed_miner": MINERS[rng.integers(0, len(MINERS), n_blocks)],
        }
    )
    # address dim: every pool address (a superset of recipients, so some
    # have zero activity) with skewed balances and one clear top-1
    balance = (rng.pareto(1.2, n_addr) * 1e7).astype(np.int64)
    balance[rng.integers(0, n_addr)] = 10**13
    address = pd.DataFrame({"address": addresses, "balance": balance})

    # trace sources: every address that spends in the window, busiest first
    spent = in_recipient[pd.notna(in_recipient)].astype(str)
    active, counts = np.unique(spent, return_counts=True)
    active = active[np.argsort(-counts, kind="stable")]

    day_of_block = (block_time - DAY0.to_datetime64()).astype("timedelta64[D]").astype(int)
    days = [(DAY0 + pd.Timedelta(days=d)).strftime("%Y%m%d") for d in range(n_days)]
    return {
        "tables": {
            "blocks": blocks,
            "transactions": transactions,
            "inputs": inputs,
            "outputs": outputs,
            "addresses": address,
        },
        "days": days,
        "day_of_block": day_of_block,
        "tx_block": tx_block,
        "in_tx": in_tx,
        "out_tx": out_tx,
        "flow_rows": int((np.maximum(n_in, 1) * np.maximum(n_out, 1)).sum()),
        "active": [str(a) for a in active],
    }


def write_dump_files(gen: dict, landing: str) -> tuple[list[str], str]:
    """Write one gzip TSV per (table, day) in the feed's file naming,
    plus one malformed file. → (all file paths, malformed path).

    The address table is a snapshot, written once under the last day."""
    os.makedirs(landing, exist_ok=True)
    t = gen["tables"]
    day_idx = gen["day_of_block"]
    owner = {
        "blocks": day_idx,
        "transactions": day_idx[gen["tx_block"]],
        "inputs": day_idx[gen["tx_block"][gen["in_tx"]]],
        "outputs": day_idx[gen["tx_block"][gen["out_tx"]]],
    }
    files = []
    for name, df in t.items():
        parts = (
            [(len(gen["days"]) - 1, df)]
            if name == "addresses"
            else [(d, df[owner[name] == d]) for d in range(len(gen["days"]))]
        )
        for d, part in parts:
            path = os.path.join(landing, f"blockchair_bitcoin_{name}_{gen['days'][d]}.tsv.gz")
            part.to_csv(
                path,
                sep="\t",
                index=False,
                na_rep="",
                date_format="%Y-%m-%d %H:%M:%S",
                compression={"method": "gzip", "compresslevel": 1, "mtime": 0},
            )
            files.append(path)
    # a transactions dump whose rows do not parse (text in integer
    # columns): the loader must skip exactly this file
    nxt = (DAY0 + pd.Timedelta(days=len(gen["days"]))).strftime("%Y%m%d")
    bad = os.path.join(landing, f"blockchair_bitcoin_transactions_{nxt}.tsv.gz")
    header = "\t".join(t["transactions"].columns)
    with gzip.GzipFile(bad, "wb", mtime=0) as f:
        f.write(f"{header}\nnot_a_block\tdeadbeef\tyesterday\n".encode())
    files.append(bad)
    return sorted(files), bad


N_DOCS = 1_000
VOCAB = 50_000
DUP_FRAC = 0.1  # share of docs that are planted near-duplicates
MIN_WORDS, MAX_WORDS = 40, 80


# Gopher-gate stopwords (text.STOPWORDS["en"]) mixed into every doc at
# natural-language rates so the quality gate keeps most documents.
_STOP = np.array(["the", "of", "and", "to", "a", "in", "is", "that", "for", "it"])


def write_corpus(seed: int, path: str) -> dict:
    """Write the corpus as parquet (doc_id BIGINT, text STRING).

    The last ``DUP_FRAC`` of docs copy a base doc's token stream with one
    token appended, as ``testing.zipfian_corpus`` does: 3-shingle Jaccard
    ≥ 38/39 with the base. → {"planted": set of (id_a, id_b) pairs}."""
    rng = np.random.default_rng(seed + 1)
    n_dup = int(N_DOCS * DUP_FRAC)
    n_base = N_DOCS - n_dup
    lengths = rng.integers(MIN_WORDS, MAX_WORDS + 1, n_base)
    total = int(lengths.sum())
    # Zipf(s=1) ranks through the inverse CDF: rank = floor(V ** u)
    ranks = np.floor(VOCAB ** rng.random(total)).astype(np.int64)
    words = np.char.add("t", ranks.astype(str)).astype(object)
    stop = rng.random(total) < 0.25
    words[stop] = _STOP[rng.integers(0, len(_STOP), int(stop.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    base_docs = [words[bounds[i]: bounds[i + 1]] for i in range(n_base)]

    src = rng.choice(n_base, n_dup, replace=False)
    texts = [" ".join(d) for d in base_docs]
    planted = set()
    for j, s in enumerate(src):
        texts.append(f"{texts[s]} edit{j}")
        planted.add((int(s), n_base + j))
    table = pa.table(
        {"doc_id": pa.array(np.arange(N_DOCS), pa.int64()), "text": pa.array(texts)}
    )
    pq.write_table(table, path, row_group_size=max(N_DOCS // 8, 1))
    return {"planted": planted}
