"""Single-turn end-to-end extraction: detect -> extract -> validate -> render.

This function IS the semantics of the pipeline. The golden oracle calls it in
plain Python; the Spark kernel (operators/extract.py, mapInArrow) calls
extract_turn_batch, which returns exactly extract_turn's result per row.
Byte parity between the two is therefore structural.

Validity follows P5 (transaction_normalizer.py:41-65 `_is_valid_row` +
normalize_api.py:36-56 `is_valid_transaction`): required fields
transaction_date (parseable), amount (float), description (non-empty).
Invalid records are quarantined — excluded from extracted_text, with the turn
flagged invalid and reasons recorded (transaction_normalizer.py:273-284).
"""

from __future__ import annotations

from typing import NamedTuple

from .amounts import format_amount
from .doctype import detect_family
from .extractors import EXTRACTORS, Record


class TurnResult(NamedTuple):
    family: str
    extracted_text: str
    spans: list[tuple[int, int, str]]  # (start, end, kind)
    rule_hits: dict[str, int]
    valid: bool
    problem_reason: str | None
    n_records: int


# per-turn f-string avoided in the hot loop: keys precomputed per family
_FAMILY_HIT_KEY = {f: f"family_{f}" for f in (*EXTRACTORS, "freeform", "null")}


def _record_problem(r: Record) -> str | None:
    """P5 reasons in reference check order (transaction_normalizer.py:41-65)."""
    if not r.date:
        return "missing_or_unparseable_date"
    if r.amount is None:
        return "missing_or_unparseable_amount"
    if not r.description:
        return "empty_description"
    return None


def render_record(r: Record) -> str:
    """Canonical record line: ISO-date|amount-repr|description|type.

    Amount uses the reference's Decimal-hop float repr (amounts.format_amount,
    data_transformation.py:51-83) — the byte-parity formatting path.
    """
    return "|".join((r.date or "", format_amount(r.amount), r.description, r.ttype or ""))


def extract_turn(text: str | None) -> TurnResult:
    """The per-turn contract: family dispatch (S5 first-match), family
    extraction, P5 quarantine, canonical rendering under document order."""
    if text is None:
        return TurnResult("null", "", [], {}, False, "null_text", 0)
    return _extract_known_family(text, detect_family(text))


def extract_turn_batch(texts: list[str | None]) -> list[TurnResult]:
    """Batch variant: detect every family first, then run the extractors
    GROUPED BY FAMILY (stable within each group), scattering results back to
    input positions. Per-row results are byte-identical to ``extract_turn``
    — rows are independent, so evaluation order is unobservable — but
    running one family's extractor over its whole group keeps that
    extractor's compiled regexes, branch paths, and string constants hot
    instead of thrashing between 22 rule sets per row (measured ~25% wall
    on a uniformly interleaved corpus). This is the batch executor used by
    operators/extract.py; the scalar function remains the semantic spec."""
    n = len(texts)
    groups: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        f = "null" if t is None else detect_family(t)
        groups.setdefault(f, []).append(i)
    out: list[TurnResult | None] = [None] * n
    for f, idxs in groups.items():
        if f == "null":
            for i in idxs:
                # fresh containers per row: consumers may mutate spans/hits
                out[i] = TurnResult("null", "", [], {}, False, "null_text", 0)
        else:
            for i in idxs:
                out[i] = _extract_known_family(texts[i], f)
    return out  # type: ignore[return-value]


def _extract_known_family(text: str, family: str) -> TurnResult:
    result = EXTRACTORS[family](text)
    hits = dict(result.hits)
    hits[_FAMILY_HIT_KEY[family]] = 1

    if result.content is not None:
        extracted = "\n".join(result.content)
        spans = [(0, len(text), "content")] if extracted else []
        return TurnResult(family, extracted, spans, hits, True, None, 0)

    lines: list[str] = []
    spans: list[tuple[int, int, str]] = []
    reasons: list[str] = []
    for r in result.records:
        problem = _record_problem(r)
        if problem is None:
            lines.append(render_record(r))
            spans.append((r.start, r.end, family))
        else:
            if problem not in reasons:
                reasons.append(problem)
            hits["p5_quarantined"] = hits.get("p5_quarantined", 0) + 1
    valid = not reasons
    if not result.records and not reasons:
        # a record-family turn that produced NOTHING: legal (a cover page
        # detected by its header) but worth surfacing — silent zero-record
        # extraction is how data loss hides (e.g. case-mismatched section
        # headers, which the reference parsers share: can_parse lowercases,
        # parse matches exactly)
        hits["zero_records"] = 1
    return TurnResult(
        family,
        "\n".join(lines),
        spans,
        hits,
        valid,
        ";".join(reasons) if reasons else None,
        len(lines),
    )
