"""Per-conversation grouped-map operator (SURVEY §2.11 applyInPandas tier).

Most rules are per-turn and never need conversation grouping (that is the
scale win: no shuffle). When a consumer DOES need whole-conversation context
— rollup stats, cross-turn hash chains, per-conversation ordering checks —
the shape is groupBy(conv_id).applyInPandas: one shuffle on conv_id, then
arbitrary pandas logic per group with turn order restored INSIDE the group.

The rollup below is deliberately SQL-expressible so the DuckDB oracle can
verify the grouped-map machinery end-to-end (catalog: conv_rollup); the hash
chain shows the genuinely order-sensitive part (each turn's hash folds in the
previous one — a window/agg can't express the fold, pandas can).

Scale notes: conversation groups are power-law sized; the shuffle is salted
upstream only if a single conversation exceeds executor memory (rare: even a
10^5-turn conversation of 1KB turns is ~100MB — one task, fine). Output is
one row per conversation: tiny.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

ROLLUP_SCHEMA = (
    "conv_id string, n_turns long, n_roles long, first_ts timestamp, "
    "last_ts timestamp, total_chars long, turn_gap_max_s long, chain_hash string"
)


def _rollup_one(pdf: pd.DataFrame) -> pd.DataFrame:
    g = pdf.sort_values("turn_idx")  # restore stable turn order inside group
    ts = g["ts"]
    gaps = ts.diff().dt.total_seconds().dropna()
    h = hashlib.sha256()
    for t in g["text"]:
        h.update(h.digest())  # fold previous state: order-sensitive by design
        h.update((t or "").encode())
    return pd.DataFrame(
        {
            "conv_id": [g["conv_id"].iloc[0]],
            "n_turns": [len(g)],
            "n_roles": [g["role"].nunique()],
            "first_ts": [ts.iloc[0]],
            "last_ts": [ts.iloc[-1]],
            "total_chars": [int(g["text"].str.len().fillna(0).sum())],
            "turn_gap_max_s": [int(gaps.max()) if len(gaps) else 0],
            "chain_hash": [h.hexdigest()],
        }
    )


def conversation_rollup(transcripts: DataFrame) -> DataFrame:
    """groupBy(conv_id).applyInPandas rollup; see module docstring."""
    return transcripts.groupBy("conv_id").applyInPandas(_rollup_one, schema=ROLLUP_SCHEMA)


def _rollup_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """Vectorized multi-conversation rollup of a conv-sorted frame."""
    out = []
    for _, g in pdf.groupby("conv_id", sort=False):
        out.append(_rollup_one(g))
    return pd.concat(out, ignore_index=True)


def conversation_rollup_fast(transcripts: DataFrame, partitions: int = 32) -> DataFrame:
    """The scale path for per-conversation processing: ONE Python call per
    partition instead of one per group.

    ``groupBy().applyInPandas`` invokes the UDF once per conversation — at
    ~10ms of pandas fixed cost per call, 10^9 conversations is pure overhead.
    Instead: hash-repartition by conv_id (all turns of a conv co-located),
    sortWithinPartitions(conv_id, turn_idx) (groups contiguous and ordered),
    then mapInPandas with an in-batch pandas groupby. Arrow may split a
    conversation across record batches, so the tail conversation of every
    batch is carried into the next (only complete groups are emitted).

    Equality with conversation_rollup is pinned in tests/test_conversation.py.
    """
    df = transcripts.repartition(partitions, "conv_id").sortWithinPartitions(
        "conv_id", "turn_idx"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None and len(pending):
                pdf = pd.concat([pending, pdf], ignore_index=True)
            if not len(pdf):
                continue
            last_conv = pdf["conv_id"].iloc[-1]
            tail = pdf["conv_id"] == last_conv
            pending = pdf[tail]
            complete = pdf[~tail]
            if len(complete):
                yield _rollup_frame(complete)
        if pending is not None and len(pending):
            yield _rollup_frame(pending)

    return df.mapInPandas(run, schema=ROLLUP_SCHEMA)


def chain_hash_oracle(texts: Iterator[str | None]) -> str:
    """Plain-Python mirror of the fold for tests."""
    h = hashlib.sha256()
    for t in texts:
        h.update(h.digest())
        h.update((t or "").encode())
    return h.hexdigest()
