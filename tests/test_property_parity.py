"""Property-based parity tests (hypothesis) for the dual-tier rules —
SURVEY §7.8 ranks Java-vs-Python regex parity as the #1 risk; these pin it.

Strategy: generate adversarial in-domain strings (reference-number patterns,
NBSP, masked cards, digit runs, whitespace runs), run the NATIVE Spark
expression tier and the Python (pandas-UDF) tier on identical inputs, assert
byte equality. Plus totality/idempotence properties of the Python oracle.

Spark round-trips are batched once per test (one job for all examples), so
the suite stays fast despite hypothesis' example counts.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pdf_extractor_spark.functions.text import normalize_description_expr
from pdf_extractor_spark.rules.oracle import extract_turn
from pdf_extractor_spark.rules.textnorm import normalize_description

# in-domain alphabet: printable ASCII + ASCII whitespace + NBSP
_CHARS = st.sampled_from(
    [chr(c) for c in range(0x20, 0x7F)] + list("\t\n\r\x0b\x0c\xa0")
)
_FRAGMENTS = st.sampled_from(
    [
        "POS DEBIT 1234",
        "pos debit 99",
        "ACH CREDIT 7",
        "REF 4521",
        "ref\t88",
        "TRANS 777",
        "PURCHASE AUTH 55",
        "5678*",
        "XXXXXXXXXXXX5678",
        "  42 ",
        "\xa0",
        "AMAZON MKTPL*12ZB3",
        "$1,234.56",
        "12/31",
    ]
)
_TEXT = st.lists(st.one_of(st.text(_CHARS, max_size=12), _FRAGMENTS), max_size=8).map(
    " ".join
)


@settings(max_examples=300, deadline=None)
@given(_TEXT)
def test_python_tier_properties(s):
    out = normalize_description(s)
    # NOT idempotent by design: R15's trailing-ref strip peels one trailing
    # digit run per application, exactly like the reference (applied once).
    assert out == out.strip()
    assert "  " not in out
    assert "\xa0" not in out and "\n" not in out
    from pdf_extractor_spark.rules.textnorm import collapse_whitespace

    assert collapse_whitespace(out) == out  # collapse itself IS idempotent


@settings(max_examples=200, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.one_of(st.none(), st.text(_CHARS, max_size=200), _TEXT))
def test_extract_turn_total_and_consistent(s):
    r = extract_turn(s)
    assert isinstance(r.extracted_text, str)
    assert r.valid == (r.problem_reason is None)
    if r.n_records:  # record-family turns: one rendered line per record
        assert len(r.extracted_text.split("\n")) == r.n_records
    assert all(0 <= a <= b for a, b, _ in r.spans)


def test_native_expr_matches_python_tier(spark):
    """Cross-tier byte parity on a deterministic adversarial corpus drawn
    from the same strategy space (one Spark job, exact compare)."""
    examples = []
    base = [
        "POS DEBIT 1234 STARBUCKS #4821",
        "pos debit 4 ACH CREDIT 99 store",
        "MEMO REF 4521 TRANS 777 end",
        "REF\xa04521 coffee",
        "card 5678* and XXXXXXXXXXXX5678",
        "trailing run 4712  ",
        "multi   space\tand\nnewline",
        "\xa0\xa0leading nbsp 77",
        "PURCHASE AUTH 55",
        "",
        "   ",
        "a 1",
        "REF4521",
        "REFX 123",
        "1234* 5678* 9012*",
        "desc ends with REF 12",
        "ACH DEBIT 1 POS CREDIT 2 mixed",
        "tab\tsep\tvals 99",
    ]
    examples.extend(base)
    for i in range(260):
        # deterministic pseudo-random compositions of the fragment space
        frags = [
            base[(i * 7 + j) % len(base)].strip() for j in range((i % 4) + 1)
        ]
        examples.append((" " if i % 3 else "\xa0").join(frags))

    import pandas as pd

    sdf = spark.createDataFrame(
        pd.DataFrame({"id": range(len(examples)), "s": examples})
    )
    got = {
        r.id: r.out
        for r in sdf.select(
            "id", normalize_description_expr(sdf.s).alias("out")
        ).collect()
    }
    for i, s in enumerate(examples):
        assert got[i] == normalize_description(s), (
            f"tier mismatch on {s!r}: native={got[i]!r} "
            f"python={normalize_description(s)!r}"
        )


def _family_interleaved_corpus() -> list:
    """Deterministic corpus hitting every generator family plus Nones and
    free-text edge shapes, interleaved so the batch executor's family
    grouping has to scatter results back across group boundaries."""
    import random

    from pdf_extractor_spark.sources.synth import FAMILY_GENERATORS

    texts: list = []
    for i in range(3):
        for name, gen in FAMILY_GENERATORS:
            texts.append(gen(random.Random(f"{name}:{i}")))
        texts.extend([None, "", "   ", f"free text turn {i} REF 99"])
    random.Random(7).shuffle(texts)
    return texts


def test_extract_turn_batch_matches_scalar():
    """The family-grouped batch executor (rules.oracle.extract_turn_batch,
    used by operators/extract.py's mapInArrow kernel) must be
    byte-identical to the scalar spec on every row — including None rows,
    empty strings, and family-interleaved ordering — and must hand each
    consumer FRESH result containers (no aliasing between null rows)."""
    from pdf_extractor_spark.rules.oracle import extract_turn_batch

    texts = _family_interleaved_corpus()
    batch = extract_turn_batch(texts)
    assert len(batch) == len(texts)
    for t, got in zip(texts, batch):
        assert got == extract_turn(t), f"batch/scalar mismatch on {t!r}"
    # fresh containers: mutating one null row's spans must not leak
    nulls = [r for t, r in zip(texts, batch) if t is None]
    assert len(nulls) >= 2
    nulls[0].spans.append((0, 0, "poison"))
    assert nulls[1].spans == []
    assert extract_turn_batch([]) == []
