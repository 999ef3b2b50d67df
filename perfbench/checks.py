"""Output checks. Each returns a list of problems; an empty list is a
pass. They run outside every timed region."""

from __future__ import annotations

import pandas as pd

from engine.oracle.features import oracle_features
from tests.compare import assert_frames_match

# Feature columns that depend only on rows at or before the turn's own
# (ts, turn_idx); lead_text_len / gap_next_s look forward by definition.
PAST_ONLY = [
    "conv_id", "turn_idx", "ts", "clean_text", "txt_len", "txt_words",
    "len_class", "ctx_last_tool", "ctx_last_user_text", "lag_text_len",
    "gap_prev_s", "session_id", "sess_turn_no", "sess_len_so_far",
    "roll_cnt_5m", "roll_avg_len_5m", "roll_tools_distinct_5m",
    "asof_ctx_value", "asof_ctx_label", "top_tools",
]


def frames_match(got: pd.DataFrame, exp: pd.DataFrame, keys: list[str],
                 label: str) -> list[str]:
    """The engine tests' parity comparison (`tests/compare.py`: rows
    sorted on `keys`, floats allclose at rtol 1e-9, everything else
    exact) as a check that returns its findings instead of raising."""
    if sorted(got.columns) != sorted(exp.columns):
        return [f"{label}: columns {sorted(got.columns)} != {sorted(exp.columns)}"]
    try:
        assert_frames_match(got, exp, keys)
    except AssertionError as exc:
        return [f"{label}: {exc}"]
    return []


def flagship_sample(features: pd.DataFrame, tp: pd.DataFrame, cp: pd.DataFrame,
                    sample: list[str]) -> list[str]:
    """Parity of the sampled conversations with the pandas oracle, and
    zero temporal leakage: the engine's past-only columns at or before a
    cut equal the oracle computed with every row and event after the cut
    deleted."""
    tp_s = tp[tp["conv_id"].isin(sample)]
    cp_s = cp[cp["conv_id"].isin(sample)]
    keys = ["conv_id", "ts", "turn_idx"]
    exp = oracle_features(tp_s.reset_index(drop=True), cp_s.reset_index(drop=True))
    problems = frames_match(features[list(exp.columns)], exp, keys, "oracle")
    cut = tp_s["ts"].quantile(0.5)
    past = oracle_features(tp_s[tp_s["ts"] <= cut].reset_index(drop=True),
                           cp_s[cp_s["event_ts"] <= cut].reset_index(drop=True))
    got = features[features["ts"] <= cut][PAST_ONLY]
    problems += frames_match(got, past[PAST_ONLY], keys, "leakage")
    return problems
