"""Seeded input generation. Runs before the workload process is
launched, so it is outside every timed region; the engine only ever
sees the parquet files written here.

Timestamps are written as UTC-adjusted microseconds, which Spark reads
as TimestampType and the session (UTC) renders unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from engine.generate import generate_context_events, generate_transcripts

QUARANTINE_CODES = ("MISSING_KEY", "INVALID_ENUM", "ROW_TOO_LARGE", "BAD_TURN_INDEX")

# Epochs are spaced further apart than any generated conversation can
# span (30-day start spread + at most ~12 days of turns), so each epoch is
# both conversation-aligned and a disjoint event-time slice.
EPOCH_SPACING = pd.Timedelta(days=64)


def _to_arrow(df: pd.DataFrame, ts_cols: tuple[str, ...]) -> pa.Table:
    df = df.copy()
    for c in ts_cols:
        df[c] = df[c].dt.tz_localize("UTC").astype("datetime64[us, UTC]")
    return pa.Table.from_pandas(df, preserve_index=False)


def write_parquet(df: pd.DataFrame, path: str, n_files: int, ts_cols) -> list[str]:
    os.makedirs(path, exist_ok=True)
    table = _to_arrow(df, ts_cols)
    bounds = np.linspace(0, len(df), n_files + 1).astype(int)
    files = []
    for i in range(n_files):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), f)
        files.append(f)
    return files


def inject_quarantine(tp: pd.DataFrame, per_code: int, seed: int) -> pd.DataFrame:
    """Append `per_code` corrupted copies of good rows per quarantine
    code. Each copy breaks exactly one gate, and an earlier gate never
    fires on it, so the engine must route exactly `per_code` rows to
    each code."""
    rng = np.random.default_rng(seed)
    base = tp.iloc[rng.choice(len(tp), size=4 * per_code, replace=False)].copy()
    base["role"] = base["role"].fillna("user")
    parts = [base.iloc[i * per_code : (i + 1) * per_code].copy() for i in range(4)]
    parts[0]["conv_id"] = None                 # MISSING_KEY
    parts[1]["role"] = "moderator"             # INVALID_ENUM
    parts[2]["text"] = "x" * 100_001           # ROW_TOO_LARGE
    parts[3]["turn_idx"] = np.int32(-1)        # BAD_TURN_INDEX
    out = pd.concat([tp, *parts], ignore_index=True)
    return out.iloc[rng.permutation(len(out))].reset_index(drop=True)


def transcripts_of_size(n_turns: int, seed: int, prefix: str = "conv-",
                        start: str = "2024-01-01") -> pd.DataFrame:
    """Exactly `n_turns` turns: zipf-sized conversations (clipped at 400
    turns) taken in order until the total is reached, the last one cut
    to a prefix of its turns. A fixed row count keeps every seed's op the
    same size while the seed still varies the conversation mix."""
    n_convs = max(4, n_turns // 10)
    tp = generate_transcripts(n_convs=n_convs, seed=seed, start=start, shuffled=False)
    if len(tp) < n_turns:
        raise RuntimeError(f"seed {seed}: {len(tp)} turns < {n_turns}")
    tp = tp.iloc[:n_turns].copy()
    tp["conv_id"] = tp["conv_id"].str.replace("conv-", prefix, regex=False)
    rng = np.random.default_rng(seed)
    return tp.iloc[rng.permutation(n_turns)].reset_index(drop=True)


def make_flagship(root: str, seed: int, n_turns: int, per_code: int) -> dict:
    tp = transcripts_of_size(n_turns, seed)
    cp = generate_context_events(tp, seed=seed + 1)
    tp = inject_quarantine(tp, per_code, seed + 2)
    t_files = write_parquet(tp, os.path.join(root, "transcripts"), 4, ("ts",))
    c_files = write_parquet(cp, os.path.join(root, "context"), 2, ("event_ts",))
    return {
        "transcripts": {"rows": len(tp), "files": len(t_files)},
        "context": {"rows": len(cp), "files": len(c_files)},
        "conversations": int(tp["conv_id"].nunique()),
        "max_turns": 400,
        "injected_per_code": {c: per_code for c in QUARANTINE_CODES},
    }


def make_ingest(root: str, seed: int, n_epochs: int, turns_per_epoch: int) -> dict:
    """`n_epochs` conversation-aligned, event-time-disjoint slices of
    `turns_per_epoch` turns, each one transcripts file and one context
    file."""
    rows = ctx_rows = 0
    prev_hi = None
    for e in range(n_epochs):
        start = pd.Timestamp("2024-01-01") + e * EPOCH_SPACING
        tp = transcripts_of_size(turns_per_epoch, seed * 1000 + e, f"e{e:04d}-", str(start))
        cp = generate_context_events(tp, seed=seed * 1000 + 500 + e)
        lo = min(tp["ts"].min(), cp["event_ts"].min())
        if prev_hi is not None and lo <= prev_hi + pd.Timedelta(hours=2):
            raise RuntimeError(f"epoch {e} overlaps epoch {e - 1} in event time")
        prev_hi = max(tp["ts"].max(), cp["event_ts"].max())
        d = os.path.join(root, f"epoch-{e:04d}")
        write_parquet(tp, os.path.join(d, "turns"), 1, ("ts",))
        write_parquet(cp, os.path.join(d, "context"), 1, ("event_ts",))
        rows += len(tp)
        ctx_rows += len(cp)
    return {
        "epochs": n_epochs,
        "turns_per_epoch": turns_per_epoch,
        "turns": {"rows": rows, "files": n_epochs},
        "context": {"rows": ctx_rows, "files": n_epochs},
    }


def read_pandas(path: str, ts_cols: tuple[str, ...], filters=None) -> pd.DataFrame:
    """Read parquet back with naive UTC timestamps (the shape the pandas
    oracle and Spark's toPandas both use)."""
    df = pq.read_table(path, filters=filters).to_pandas()
    for c in ts_cols:
        if df[c].dt.tz is not None:
            df[c] = df[c].dt.tz_convert(None)
        df[c] = df[c].astype("datetime64[ns]")
    return df


_WORDS = np.array(
    "key agg row scan slow fast table value part hash a merge batch spark the "
    "line sort window order data column join small customer query big stream "
    "group filter vector dup".split()
)


def make_corpus(root: str, seed: int, n_docs: int, near_dup_share: float,
                boilerplate: int, n_vecs: int) -> dict:
    """Documents and embeddings with the columns of the engine's test
    corpora. A `near_dup_share` of the documents are copies of an
    earlier document with two words replaced (planted near-duplicates),
    and `boilerplate` documents share one identical text (one hot
    dedup bucket)."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 100, size=n_docs)
    texts = [" ".join(rng.choice(_WORDS, n)) for n in lens]
    n_dup = int(near_dup_share * n_docs)
    dups = rng.choice(np.arange(n_docs // 2, n_docs), n_dup + boilerplate, replace=False)
    for i in dups[:n_dup]:
        toks = texts[int(rng.integers(0, n_docs // 2))].split()
        for j in rng.integers(0, len(toks), 2):
            toks[j] = str(rng.choice(_WORDS))
        texts[i] = " ".join(toks)
    plate = " ".join(rng.choice(_WORDS, 40))
    for i in dups[n_dup:]:
        texts[i] = plate
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], n_docs),
        "source": [f"src{i % 5}" for i in range(n_docs)],
    })
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    centers = rng.normal(size=(10, 64))
    vecs = (centers[labels] + 0.5 * rng.normal(size=(n_vecs, 64))).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    os.makedirs(root, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   os.path.join(root, "documents.parquet"))
    pq.write_table(emb, os.path.join(root, "embeddings.parquet"))
    return {
        "documents": {"rows": n_docs, "files": 1},
        "embeddings": {"rows": n_vecs, "files": 1},
        "near_dup_share": near_dup_share,
        "boilerplate_bucket": boilerplate,
    }
