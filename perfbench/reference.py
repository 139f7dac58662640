"""Independent NumPy / pandas recomputations the output checks compare
the package's results against. Only the scaler constants (model data,
not logic) are taken from the package."""

from __future__ import annotations

import numpy as np


def to_us(ts) -> np.ndarray:
    """Epoch microseconds of a pandas timestamp series, naive (taken as
    UTC) or zone-aware."""
    if getattr(ts.dt, "tz", None) is not None:
        ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
    return ts.astype("datetime64[us]").astype("int64").to_numpy()


def linear_window_predict(windows: np.ndarray, mn: float, mx: float) -> np.ndarray:
    """Recency-weighted linear prediction over rows of ``windows``:
    weights 2i / (n(n+1)) for i = 1..n on min-max scaled prices, then
    unscaled."""
    n = windows.shape[1]
    w = 2.0 * np.arange(1, n + 1, dtype=np.float64) / (n * (n + 1))
    return ((windows - mn) / (mx - mn)) @ w * (mx - mn) + mn


def trailing_predictions(prices: np.ndarray, n: int, mn: float, mx: float) -> np.ndarray:
    """Prediction per position of one ordered series; NaN where fewer
    than ``n`` prices end there."""
    out = np.full(len(prices), np.nan)
    if len(prices) >= n:
        wins = np.lib.stride_tricks.sliding_window_view(prices.astype(np.float64), n)
        out[n - 1:] = linear_window_predict(wins, mn, mx)
    return out


def grouped_trailing_predictions(df, group_cols, order_col: str, n: int, mn: float, mx: float):
    """``df`` sorted by ``group_cols`` + ``order_col`` with an ``expected``
    column of per-group trailing-``n`` predictions."""
    df = df.sort_values([*group_cols, order_col], kind="mergesort").reset_index(drop=True)
    exp = np.full(len(df), np.nan)
    for _, idx in df.groupby(list(group_cols), sort=False).indices.items():
        exp[idx] = trailing_predictions(df["price"].to_numpy()[idx], n, mn, mx)
    df["expected"] = exp
    return df


def predictions_match(got: np.ndarray, expected: np.ndarray, tol: float = 1e-9) -> bool:
    """Equal up to float summation order; NULL exactly where expected."""
    got = np.asarray(got, dtype=np.float64)
    expected = np.asarray(expected, dtype=np.float64)
    if got.shape != expected.shape:
        return False
    nan_g, nan_e = np.isnan(got), np.isnan(expected)
    if not np.array_equal(nan_g, nan_e):
        return False
    return bool(np.all(np.abs(got[~nan_g] - expected[~nan_e]) <= tol))


# ------------------------------------------------------------ components


def components(n_ids: int, pairs) -> np.ndarray:
    """Union-find over ids 0..n_ids-1; returns the min id of each id's
    component."""
    parent = np.arange(n_ids)

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return np.array([find(i) for i in range(n_ids)])


def cosine_pairs(ids: np.ndarray, vecs: np.ndarray, threshold: float) -> list[tuple[int, int]]:
    v = vecs.astype(np.float64)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    sim = v @ v.T
    a, b = np.nonzero(np.triu(sim >= threshold, k=1))
    return [(int(ids[i]), int(ids[j])) for i, j in zip(a, b)]
