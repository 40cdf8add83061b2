"""Per-conversation grouped-map operator (operators/conversation.py)."""

from __future__ import annotations

import pytest

from pdf_extractor_spark.operators.conversation import (
    chain_hash_oracle,
    conversation_rollup,
)
from pdf_extractor_spark.schema import TRANSCRIPTS
from pdf_extractor_spark.sources.synth import generate_transcripts


@pytest.fixture(scope="module")
def rollup(spark):
    pdf = generate_transcripts(n_convs=25, seed=42)
    # generator emits SHUFFLED rows: the operator must restore turn order
    sdf = spark.createDataFrame(pdf, schema=TRANSCRIPTS)
    return pdf, {r.conv_id: r for r in conversation_rollup(sdf).collect()}


def test_rollup_counts_and_spans(rollup):
    pdf, got = rollup
    for conv_id, g in pdf.groupby("conv_id"):
        r = got[conv_id]
        assert r.n_turns == len(g)
        assert r.n_roles == g["role"].nunique()
        assert r.total_chars == int(g["text"].str.len().sum())
        ordered = g.sort_values("turn_idx")
        assert r.first_ts == ordered["ts"].iloc[0].to_pydatetime()
        assert r.last_ts == ordered["ts"].iloc[-1].to_pydatetime()
        assert r.turn_gap_max_s == (37 if len(g) > 1 else 0)


def test_fast_rollup_equals_grouped_map(spark, rollup):
    from pdf_extractor_spark.operators.conversation import conversation_rollup_fast

    pdf, got = rollup
    sdf = spark.createDataFrame(pdf, schema=TRANSCRIPTS)
    fast = {r.conv_id: r for r in conversation_rollup_fast(sdf, partitions=4).collect()}
    assert set(fast) == set(got)
    for cid in got:
        assert tuple(fast[cid]) == tuple(got[cid]), cid


def test_chain_hash_is_order_sensitive(rollup):
    pdf, got = rollup
    for conv_id, g in pdf.groupby("conv_id"):
        ordered = g.sort_values("turn_idx")["text"]
        assert got[conv_id].chain_hash == chain_hash_oracle(ordered)
        if len(g) > 1 and len(set(ordered)) > 1:
            reversed_hash = chain_hash_oracle(reversed(list(ordered)))
            assert got[conv_id].chain_hash != reversed_hash


def test_rollup_udf_has_an_inferable_eval_type(spark):
    """applyInPandas infers the UDF's eval type from its type hints; an
    unhinted argument makes it warn on every call."""
    import warnings

    sdf = spark.createDataFrame(generate_transcripts(n_convs=2, seed=1), schema=TRANSCRIPTS)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        conversation_rollup(sdf)
    assert not [w for w in caught if "Cannot infer the eval type" in str(w.message)]
