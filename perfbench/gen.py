"""Seeded input generator for the `deal_stream` workload.

Runs as its own component: it reads nothing but the corpus `events` table and
writes parquet slices plus a manifest. The program under test only ever sees
the written files.

Shape of the stream it writes (the reference's chain-fetch shape):

- Rows are sampled from the corpus `events` table and re-keyed: every slice
  covers its own contiguous epoch range, and `event_id % 2000` (the deal
  derivation's epoch offset, `plans/deals.py`) falls inside that range. The
  partitioned sink's O(batch) design depends on this.
- `ts` is the epoch's wall-clock time plus jitter, so slices are time-ordered.
- At-least-once fetch: a share of each slice's events is delivered again in
  the next slice.
- Out of order: a share of each slice's events is held back and delivered in
  the next slice only, well within the 470-minute finality lag.

The manifest records the expected number of distinct deal keys, computed here
from the generated events (not from the program's output).

    python3 perfbench/gen.py [--seed N]

is the generator's self-test: it checks that one seed yields byte-identical
slices and that the recorded distinct-key count matches an independent DuckDB
count over the slices.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_BASE = 4_622_000  # plans/deals.py: activated_at_epoch = 4622000 + event_id % 2000
EPOCH_SPAN = 2_000
GENESIS_UNIX = 1_598_306_400
EPOCH_SECONDS = 30

N_SLICES = 5
EVENTS_PER_SLICE = 4_000
EPOCHS_PER_SLICE = 150  # 1.5 sink partitions (epoch buckets of 100) per slice
REDELIVER_FRAC = 0.05
LATE_FRAC = 0.05


def _epoch_offsets(rng: np.random.Generator, n_slices: int, per_slice: int) -> np.ndarray:
    """Epoch offset of each row; slice k owns epochs
    [k*EPOCHS_PER_SLICE, (k+1)*EPOCHS_PER_SLICE)."""
    slice_of = np.repeat(np.arange(n_slices), per_slice)
    return slice_of * EPOCHS_PER_SLICE + rng.integers(0, EPOCHS_PER_SLICE, size=slice_of.size)


def _event_ids(offsets: np.ndarray) -> np.ndarray:
    """event_id = 2000*j + offset, with j the row's rank among rows of the
    same epoch: ids are unique and `event_id % 2000` is the offset."""
    order = np.argsort(offsets, kind="stable")
    sorted_off = offsets[order]
    starts = np.searchsorted(sorted_off, sorted_off, side="left")
    rank = np.empty_like(offsets)
    rank[order] = np.arange(offsets.size) - starts
    return EPOCH_SPAN * rank + offsets


def expected_keys(event_id: np.ndarray, user_id: np.ndarray, value: np.ndarray) -> int:
    """Distinct deal keys (operators/merge.DEAL_KEY) over the unique events,
    evaluated with the deal derivation's arithmetic (plans/deals.py)."""
    keys = np.stack(
        [
            event_id % EPOCH_SPAN,          # activated_at_epoch (and term_start_epoch)
            user_id.astype(np.int32),       # miner_id
            event_id % 97,                  # client_id
            event_id % 701,                 # piece_cid
            np.floor(value * 1_000_000).astype(np.int64),  # piece_size
            event_id % 13,                  # term_min / term_max
            event_id % 1024,                # sector_id
        ],
        axis=1,
    )
    return int(np.unique(keys, axis=0).shape[0])


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path, compression="snappy")
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def generate(seed: int, events_path: str, out_dir: str) -> dict:
    """Write `slice_NNNN.parquet`, `miner_peers.parquet`,
    `payload_cids.parquet` and `manifest.json` into `out_dir`."""
    n_slices, per_slice = N_SLICES, EVENTS_PER_SLICE
    rng = np.random.default_rng(seed)
    src = pq.read_table(events_path, columns=["user_id", "event_type", "value", "props"])
    n = n_slices * per_slice
    picked = np.sort(rng.choice(src.num_rows, size=n, replace=False))
    src = src.take(pa.array(picked))
    user_id = src.column("user_id").to_numpy()
    value = src.column("value").to_numpy()

    offsets = _epoch_offsets(rng, n_slices, per_slice)
    event_id = _event_ids(offsets)
    ts_us = (
        (GENESIS_UNIX + (EPOCH_BASE + offsets) * EPOCH_SECONDS) * 1_000_000
        + rng.integers(0, EPOCH_SECONDS * 1_000_000, size=n)
    )
    events = pa.table(
        {
            "event_id": pa.array(event_id, pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": src.column("user_id"),
            "event_type": src.column("event_type"),
            "value": src.column("value"),
            "props": src.column("props"),
        }
    )

    # delivery plan: home slice, minus held-back rows, plus the previous
    # slice's held-back and redelivered rows
    home = np.repeat(np.arange(n_slices), per_slice)
    u = rng.random(n)
    late = (u < LATE_FRAC) & (home < n_slices - 1)
    redeliver = (u >= LATE_FRAC) & (u < LATE_FRAC + REDELIVER_FRAC) & (home < n_slices - 1)

    os.makedirs(out_dir, exist_ok=True)
    files = {}
    delivered = 0
    for k in range(n_slices):
        rows = np.flatnonzero(
            ((home == k) & ~late) | ((home == k - 1) & (late | redeliver))
        )
        rows = rows[rng.permutation(rows.size)]  # arrival order within a slice
        delivered += rows.size
        name = f"slice_{k:04d}.parquet"
        files[name] = _write(events.take(pa.array(rows)), os.path.join(out_dir, name))

    # enrichment dimensions (stand-ins for the peer lookup and the piece
    # indexer): even miners have a peer; pieces of their clients divisible
    # by 3 have a payload
    miners = np.unique(user_id[user_id % 2 == 0]).astype(np.int32)
    peers = pa.table({
        "miner_id": pa.array(miners, pa.int32()),
        "peer_id": pa.array([f"peer{m}" for m in miners], pa.string()),
    })
    hit = (user_id % 2 == 0) & (event_id % 97 % 3 == 0)
    pairs = np.unique(np.stack([user_id[hit], event_id[hit] % 701], axis=1), axis=0)
    pays = pa.table({
        "peer_id": pa.array([f"peer{m}" for m in pairs[:, 0]], pa.string()),
        "piece_cid": pa.array([f"baga{p}" for p in pairs[:, 1]], pa.string()),
        "payload_cid": pa.array([f"bafyP{p}" for p in pairs[:, 1]], pa.string()),
    })
    files["miner_peers.parquet"] = _write(peers, os.path.join(out_dir, "miner_peers.parquet"))
    files["payload_cids.parquet"] = _write(pays, os.path.join(out_dir, "payload_cids.parquet"))

    manifest = {
        "seed": seed,
        "n_slices": n_slices,
        "events_per_slice": per_slice,
        "unique_events": n,
        "delivered_events": int(delivered),
        "expected_keys": expected_keys(event_id, user_id, value),
        "files": files,
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def duckdb_key_count(out_dir: str, n_slices: int) -> int:
    """Distinct deal keys over the slices, derived by DuckDB from the deal
    view text the oracle uses (plans/deals.DEALS_VIEW_SQL)."""
    import duckdb

    from spark_deal_observer_spark.operators.merge import DEAL_KEY
    from spark_deal_observer_spark.plans.deals import DEALS_VIEW_SQL

    slices = [os.path.join(out_dir, f"slice_{k:04d}.parquet") for k in range(n_slices)]
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW events AS SELECT DISTINCT * FROM read_parquet({slices!r})")
        return con.execute(
            f"SELECT COUNT(*) FROM (SELECT DISTINCT {', '.join(DEAL_KEY)} "
            f"FROM ({DEALS_VIEW_SQL}))"
        ).fetchone()[0]


def selftest(seed: int, events_path: str, work_dir: str) -> None:
    a, b = os.path.join(work_dir, "gen_a"), os.path.join(work_dir, "gen_b")
    try:
        ma = generate(seed, events_path, a)
        mb = generate(seed, events_path, b)
        if ma["files"] != mb["files"]:
            raise SystemExit(f"seed {seed}: slices differ between two generations")
        got = duckdb_key_count(a, ma["n_slices"])
        if got != ma["expected_keys"]:
            raise SystemExit(
                f"seed {seed}: manifest says {ma['expected_keys']} keys, DuckDB counts {got}"
            )
        print(f"gen selftest ok: seed {seed}, {len(ma['files'])} files identical, "
              f"{got} distinct keys, {ma['delivered_events']} delivered events")
    finally:
        shutil.rmtree(a, ignore_errors=True)
        shutil.rmtree(b, ignore_errors=True)


def main() -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.dirname(here))
    from spark_deal_observer_spark.sources.tables import DEFAULT_SF_DIR

    ap = argparse.ArgumentParser(description="self-test of the deal_stream generator")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    events_path = os.path.join(DEFAULT_SF_DIR, "events.parquet")
    selftest(args.seed, events_path, os.path.join(here, ".work"))


if __name__ == "__main__":
    main()
