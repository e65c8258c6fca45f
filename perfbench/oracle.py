"""Independent tier computation: NumPy/pandas over synth's pandas twin.

The engine is never consulted. Rows come from
`synth.generate_tokens_raw_pandas` (the row-for-row NumPy twin of the
Spark generator); event time, buckets and the tier aggregates are
recomputed here from the generator's documented formulas
(synth.py module docstring): event_ts = T0 + seq * step(source).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

TIERS = {"1m": 60, "1h": 3600, "1d": 86400}
AGG_COLS = ["n_docs", "sum_n_tok", "min_n_tok", "max_n_tok", "sum_tok_sq"]


def doc_frame(raw: pd.DataFrame, t0_epoch: int,
              doc_cap: int | None = None) -> pd.DataFrame:
    """Per-doc (source, epoch, n_tok, tok_sq) from the pandas raw rows."""
    src_idx = raw["source"].str.slice(4, 7).astype(np.int64)
    step = 3 + (src_idx * 7) % 43
    epoch = t0_epoch + raw["seq"].astype(np.int64) * step
    tok_sq = np.fromiter(
        (int(np.sum(t[:doc_cap].astype(np.int64) ** 2)) for t in raw["tokens"]),
        dtype=np.int64, count=len(raw))
    return pd.DataFrame({"source": raw["source"], "epoch": epoch,
                         "n_tok": raw["n_tok"].astype(np.int64),
                         "tok_sq": tok_sq})


def tiers(docs: pd.DataFrame) -> dict[str, pd.DataFrame]:
    """1m/1h/1d tiers keyed (source, bucket) with bucket in epoch s."""
    out = {}
    d = docs.assign(bucket=docs["epoch"] - docs["epoch"] % 60)
    t1m = (d.groupby(["source", "bucket"])
           .agg(n_docs=("n_tok", "size"), sum_n_tok=("n_tok", "sum"),
                min_n_tok=("n_tok", "min"), max_n_tok=("n_tok", "max"),
                sum_tok_sq=("tok_sq", "sum"))
           .reset_index())
    out["1m"] = t1m
    prev = t1m
    for tier in ("1h", "1d"):
        secs = TIERS[tier]
        g = prev.assign(bucket=prev["bucket"] - prev["bucket"] % secs)
        prev = (g.groupby(["source", "bucket"])
                .agg(n_docs=("n_docs", "sum"), sum_n_tok=("sum_n_tok", "sum"),
                     min_n_tok=("min_n_tok", "min"),
                     max_n_tok=("max_n_tok", "max"),
                     sum_tok_sq=("sum_tok_sq", "sum"))
                .reset_index())
        out[tier] = prev
    return {t: normalize(df) for t, df in out.items()}


def normalize(df: pd.DataFrame, cols=AGG_COLS) -> pd.DataFrame:
    """Sorted by key, int64 measures, fresh index — for exact compare."""
    df = df[["source", "bucket", *cols]].copy()
    df["bucket"] = df["bucket"].astype(np.int64)
    for c in cols:
        df[c] = df[c].astype(np.int64)
    return df.sort_values(["source", "bucket"]).reset_index(drop=True)


def frame_diff(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a one-line description of the first gap."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for c in want.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        bad = np.flatnonzero(a != b)
        if bad.size:
            i = int(bad[0])
            return (f"{bad.size} rows differ in {c}; first at "
                    f"{want['source'].iloc[i]}@{want['bucket'].iloc[i]}: "
                    f"{a[i]!r} != {b[i]!r}")
    return None
