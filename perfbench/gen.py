"""Seeded input generators. The same seed gives the same inputs; the
package only ever sees what these functions produce.

Run as a script (``python gen.py ticks ...``) this module is the
open-loop tick generator of the ``tick_stream`` workload: one
single-threaded process that publishes one JSON-lines file of ticks per
interval on a fixed schedule, whatever the consumer does, and records
how late each file landed.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import time

import numpy as np

UTC = dt.timezone.utc

# ----------------------------------------------------------------- ticks

N_SYMBOLS = 100
FILE_INTERVAL_S = 0.1  # one file per 100 ms: 100 symbols x 10 ticks/s each


def symbols(n: int = N_SYMBOLS) -> list[str]:
    return [f"S{i:03d}" for i in range(n)]


def price_walk(seed: int, n_steps: int, n_symbols: int = N_SYMBOLS) -> np.ndarray:
    """(n_steps, n_symbols) prices: the producer's bounded random walk
    around 180 (steps of up to 0.25 %), rounded to cents."""
    rng = np.random.default_rng(seed)
    steps = (rng.random((n_steps, n_symbols)) - 0.5) * 0.5 * 180.0 / 100.0
    return np.round(180.0 + np.cumsum(steps, axis=0), 2)


def volumes(seed: int, n_steps: int, n_symbols: int = N_SYMBOLS) -> np.ndarray:
    return np.random.default_rng(seed + 1).integers(100_000, 500_001, (n_steps, n_symbols))


def iso(ts_us: int) -> str:
    return dt.datetime.fromtimestamp(ts_us / 1e6, UTC).isoformat()


def wire_lines(syms, ts_us: int, prices_row, volumes_row) -> str:
    """One file's worth of producer wire messages, all stamped ``ts_us``."""
    return "".join(
        json.dumps({"symbol": s, "timestamp": iso(ts_us), "price": float(p), "volume": int(v)}) + "\n"
        for s, p, v in zip(syms, prices_row, volumes_row)
    )


def file_times_us(start_us: int, n_files: int) -> list[int]:
    step = int(FILE_INTERVAL_S * 1e6)
    return [start_us + k * step for k in range(n_files)]


def write_tick_files(out_dir: str, seed: int, start_us: int, n_files: int) -> None:
    """A pre-written backlog: ``n_files`` files laid out exactly as the
    live generator would publish them."""
    os.makedirs(out_dir, exist_ok=True)
    syms = symbols()
    prices, vols = price_walk(seed, n_files), volumes(seed, n_files)
    for k, ts in enumerate(file_times_us(start_us, n_files)):
        with open(os.path.join(out_dir, f"{k:06d}.json"), "w") as f:
            f.write(wire_lines(syms, ts, prices[k], vols[k]))


def expected_ticks(seed: int, start_us: int, n_files: int):
    """(symbol, ts_us, price) arrays of every tick ``n_files`` files hold."""
    syms = np.array(symbols())
    prices = price_walk(seed, n_files)
    ts = np.array(file_times_us(start_us, n_files), dtype=np.int64)
    return (
        np.tile(syms, n_files),
        np.repeat(ts, len(syms)),
        prices.reshape(-1),
    )


def run_live_generator(out_dir: str, log_path: str, seed: int, start_us: int, n_files: int) -> None:
    """Open loop: file k is due at ``start + k * interval``. The file is
    written under a hidden name and renamed into place, so the stream
    source never sees a partial file. Lateness = rename time - due."""
    syms = symbols()
    prices, vols = price_walk(seed, n_files), volumes(seed, n_files)
    late = []
    for k, due_us in enumerate(file_times_us(start_us, n_files)):
        body = wire_lines(syms, due_us, prices[k], vols[k])
        wait = due_us / 1e6 - time.time()
        if wait > 0:
            time.sleep(wait)
        tmp = os.path.join(out_dir, f".{k:06d}.tmp")
        with open(tmp, "w") as f:
            f.write(body)
        os.rename(tmp, os.path.join(out_dir, f"{k:06d}.json"))
        late.append(time.time() - due_us / 1e6)
    with open(log_path, "w") as f:
        json.dump({"files": n_files, "late_s": late}, f)


# ------------------------------------------------------------ lakehouse


def lakehouse_ticks(seed: int, first_id: int, n: int, start_us: int):
    """``n`` ticks from ``first_id`` on: unique ``tick_id``, timestamps
    strictly increasing with it (1 ms apart), symbols round-robin."""
    import pandas as pd

    rng = np.random.default_rng([seed, first_id])
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pd.DataFrame(
        {
            "tick_id": ids,
            "symbol": np.array(symbols())[ids % N_SYMBOLS],
            "timestamp": pd.to_datetime(start_us + ids * 1000, unit="us", utc=True),
            "price": np.round(170.0 + 20.0 * rng.random(n), 2),
            "volume": rng.integers(100_000, 500_001, n),
        }
    )


def lakehouse_corrections(seed: int, cycle: int, prev_ids: np.ndarray, n_updates: int,
                          first_new_id: int, n_inserts: int, start_us: int):
    """One MERGE batch: corrected prices for ``n_updates`` ticks of the
    previous append, plus ``n_inserts`` new ticks."""
    import pandas as pd

    rng = np.random.default_rng([seed, 7, cycle])
    upd_ids = np.sort(rng.choice(prev_ids, n_updates, replace=False)).astype(np.int64)
    upd = pd.DataFrame(
        {
            "tick_id": upd_ids,
            "symbol": np.array(symbols())[upd_ids % N_SYMBOLS],
            "timestamp": pd.to_datetime(start_us + upd_ids * 1000, unit="us", utc=True),
            "price": np.round(170.0 + 20.0 * rng.random(n_updates), 2),
            "volume": rng.integers(100_000, 500_001, n_updates),
        }
    )
    ins = lakehouse_ticks(seed + 1, first_new_id, n_inserts, start_us)
    return pd.concat([upd, ins], ignore_index=True)


# ------------------------------------------------------------- curation

EMB_DIM = 64
COS_THRESHOLD = 0.4
# no generated pair may sit this close to a threshold, so float32 vs
# float64 arithmetic cannot flip a verdict between engine and check
MARGIN = 1e-3


def embeddings(seed: int, n: int, dup_share: float):
    """``n`` unit vectors in 64 dimensions. A ``dup_share`` of them are
    noisy copies of an earlier vector (cosine well above the 0.4
    threshold); the rest are random (cosine near 0). Vectors are
    redrawn until no pair sits within :data:`MARGIN` of the threshold."""
    import pandas as pd

    rng = np.random.default_rng([seed, 11])
    vecs = np.zeros((n, EMB_DIM), dtype=np.float32)
    label = np.zeros(n, dtype=np.int32)
    for i in range(n):
        while True:
            if i and rng.random() < dup_share:
                src = int(rng.integers(0, i))
                v = vecs[src] + rng.normal(0.0, 0.35 / np.sqrt(EMB_DIM), EMB_DIM)
                lab = label[src]
            else:
                v = rng.normal(0.0, 1.0, EMB_DIM)
                lab = i
            v = (v / np.linalg.norm(v)).astype(np.float32)
            if i == 0:
                break
            prev = vecs[:i].astype(np.float64)
            cos = prev @ v.astype(np.float64) / np.linalg.norm(prev, axis=1) / np.linalg.norm(v.astype(np.float64))
            if not np.any(np.abs(cos - COS_THRESHOLD) < MARGIN):
                break
        vecs[i], label[i] = v, lab
    return pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(vecs), "label": label}
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)
    t = sub.add_parser("ticks", help="run the open-loop live tick generator")
    t.add_argument("--out", required=True)
    t.add_argument("--log", required=True)
    t.add_argument("--seed", type=int, required=True)
    t.add_argument("--start-us", type=int, required=True)
    t.add_argument("--files", type=int, required=True)
    a = ap.parse_args()
    run_live_generator(a.out, a.log, a.seed, a.start_us, a.files)


if __name__ == "__main__":
    main()
