"""Date rules R7-R11 and R24 — SURVEY.md §2.4.

Reference semantics:
  R7  multi-format coalescing parse -> normalize_api.py:188-215,
      transaction_normalizer.py:67-113, wellsfargo_visa_parser.py:401-412
  R8  Dec/Jan year-boundary repair  -> chase_visa_parser.py:101-110,
      bofa_visa_parser.py:27-53
  R9  statement-period extraction   -> utils/utils.py:142-262,
      first_republic_bank_parser.py:51-170
  R10 date-from-filename            -> utils/utils.py:129-139
  R24 INTEREST CREDIT date rule     -> transaction_normalizer.py:67-93,
      config.py:367-381
All output dates are ISO-8601 strings ``YYYY-MM-DD`` (models.py:11-13 keeps
dates as strings, never date objects).
"""

from __future__ import annotations

import datetime as _dt
import re
from functools import lru_cache as _lru_cache

_MMDD = re.compile(r"^(\d{1,2})/(\d{1,2})$")
_MMDDYY = re.compile(r"^(\d{1,2})/(\d{1,2})/(\d{2})$")
_MMDDYYYY = re.compile(r"^(\d{1,2})/(\d{1,2})/(\d{4})$")
_ISO = re.compile(r"^(\d{4})-(\d{2})-(\d{2})$")
_MONTH_NAME = re.compile(r"^([A-Z][a-z]+) (\d{1,2}), (\d{4})$")
_FILENAME_8 = re.compile(r"(\d{8})")

MONTH_NAMES: tuple[str, ...] = (
    "January", "February", "March", "April", "May", "June",
    "July", "August", "September", "October", "November", "December",
)
_MONTHS = {m: i + 1 for i, m in enumerate(MONTH_NAMES)}

# Statement-period regex ladder (ordered; utils/utils.py:142-262 fallbacks)
STATEMENT_PERIOD_PATTERNS: list[re.Pattern[str]] = [
    re.compile(
        r"Statement Period:?\s+(\d{2}/\d{2}/\d{4})\s+to\s+(\d{2}/\d{2}/\d{4})"
    ),
    re.compile(
        r"Statement Period:?\s*([A-Z][a-z]+ \d{1,2}, \d{4})\s*-\s*"
        r"([A-Z][a-z]+ \d{1,2}, \d{4})"
    ),
    re.compile(
        r"([A-Z][a-z]+ \d{1,2}, \d{4})\s*through\s*([A-Z][a-z]+ \d{1,2}, \d{4})"
    ),
]
_CLOSING_DATE = re.compile(r"Statement Closing Date[:\s]+(\d{2}/\d{2}/\d{4})")

# R9 deep fallbacks (utils/utils.py:163-262): whitespace-squashed 'through'
# scan over text with ALL whitespace removed, tried after NFKD normalization
_SQUASHED_THROUGH = re.compile(
    r"([A-Z][a-z]+)(\d{1,2}),(\d{4})through([A-Z][a-z]+)(\d{1,2}),(\d{4})"
)


@_lru_cache(maxsize=16384)
def _safe_date(y: int, m: int, d: int) -> str | None:
    # pure function; statements repeat the same few dates thousands of
    # times per corpus, so the cache converts date construction+isoformat
    # into a dict hit (bounded memory, per executor process)
    try:
        return _dt.date(y, m, d).isoformat()
    except ValueError:
        return None


def widen_two_digit_year(y: int) -> int:
    """R9 tail: 2-digit-year widening ``y<100 -> +2000`` (utils/utils.py:255-258)."""
    return y + 2000 if y < 100 else y


@_lru_cache(maxsize=65536)
def parse_date(raw: str | None, statement_year: int | None = None) -> str | None:
    """R7: coalescing format ladder -> ISO string, or None. Pure function,
    LRU-cached: date strings repeat heavily within a statement (dual-date
    rows, period spans), and rule extraction calls this per record.

    Order (normalize_api.py:188-215 + transaction_normalizer.py:67-113):
      1. %Y-%m-%d   2. MM/DD/YYYY   3. MM/DD/YY (widened)
      4. MM/DD + statement_year     5. '%B %d, %Y' month-name
    Invalid calendar dates (02/30) -> None.
    """
    if raw is None:
        return None
    s = raw.strip()
    if not s:
        return None
    m = _ISO.match(s)
    if m:
        return _safe_date(int(m.group(1)), int(m.group(2)), int(m.group(3)))
    m = _MMDDYYYY.match(s)
    if m:
        return _safe_date(int(m.group(3)), int(m.group(1)), int(m.group(2)))
    m = _MMDDYY.match(s)
    if m:
        return _safe_date(
            widen_two_digit_year(int(m.group(3))), int(m.group(1)), int(m.group(2))
        )
    m = _MMDD.match(s)
    if m and statement_year is not None:
        return _safe_date(statement_year, int(m.group(1)), int(m.group(2)))
    m = _MONTH_NAME.match(s)
    if m and m.group(1) in _MONTHS:
        return _safe_date(int(m.group(3)), _MONTHS[m.group(1)], int(m.group(2)))
    return None


def repair_year_boundary(
    txn_month: int, txn_day: int, stmt_year: int, stmt_month: int
) -> str | None:
    """R8: statement month Jan + txn month Dec -> previous year
    (chase_visa_parser.py:101-110)."""
    year = stmt_year - 1 if (stmt_month == 1 and txn_month == 12) else stmt_year
    return _safe_date(year, txn_month, txn_day)


def parse_mmdd_with_statement(
    raw: str, stmt_year: int, stmt_month: int
) -> str | None:
    """R7+R8 combined: ``MM/DD`` fragment dated by the statement with
    year-boundary repair."""
    m = _MMDD.match(raw.strip())
    if not m:
        return parse_date(raw, statement_year=stmt_year)
    return repair_year_boundary(int(m.group(1)), int(m.group(2)), stmt_year, stmt_month)


def extract_statement_period(text: str) -> tuple[str | None, str | None, str]:
    """R9: ordered regex ladder over statement text.

    Returns ``(period_start_iso, period_end_iso, source)`` where source is the
    provenance enum 'content'|'none' (models.py:47-50 uses
    'content'|'filename'|'last_row').

    Fallback ladder order mirrors utils/utils.py:142-262: direct patterns,
    then NFKD-normalized text (folds NBSP/ligatures so the spaced patterns
    match degraded extractions), then the whitespace-squashed 'through' scan
    (line breaks inside the period string)."""
    import unicodedata

    nfkd_cache: list[str] = []

    def candidates():
        # NFKD of the WHOLE text is the single most expensive step of this
        # ladder; yield it lazily so the (overwhelmingly common) raw-text
        # first-rung match never pays for it — and memoized, so the
        # full-miss path (which iterates candidates() twice) pays at most once
        yield text
        if not nfkd_cache:
            nfkd_cache.append(unicodedata.normalize("NFKD", text))
        yield nfkd_cache[0]

    for t in candidates():
        for pat in STATEMENT_PERIOD_PATTERNS:
            m = pat.search(t)
            if m:
                start = parse_date(m.group(1))
                end = parse_date(m.group(2))
                if start or end:
                    return start, end, "content"
    for t in candidates():
        squashed = re.sub(r"\s+", "", t)
        m = _SQUASHED_THROUGH.search(squashed)
        if m and m.group(1) in _MONTHS and m.group(4) in _MONTHS:
            start = _safe_date(int(m.group(3)), _MONTHS[m.group(1)], int(m.group(2)))
            end = _safe_date(int(m.group(6)), _MONTHS[m.group(4)], int(m.group(5)))
            if start or end:
                return start, end, "content"
    m = _CLOSING_DATE.search(text)
    if m:
        end = parse_date(m.group(1))
        if end:
            return None, end, "content"
    # TRULY last rung (utils/utils.py:157-166): the 40 chars after 'through'
    # fed to dateutil fuzzy parse -> end date only. DELIBERATE DEVIATIONS
    # from the reference: (a) it runs after every precise rung including the
    # closing-date one, so boilerplate like 'offer valid through January'
    # cannot shadow a real Statement Closing Date; (b) the reference's bare
    # parse(fuzzy=True) defaults missing fields to TODAY, which is
    # non-reproducible — we parse against two different pinned defaults and
    # accept only when year, month AND day were all actually present in the
    # snippet (both parses agree).
    end = _fuzzy_after_through(text)
    if end:
        return None, end, "content_fuzzy"
    return None, None, "none"


# two distinct pinned defaults: a field that differs between the two parse
# results was defaulted (absent from the snippet), not parsed
_FUZZY_DEFAULT_A = _dt.datetime(1900, 1, 1)
_FUZZY_DEFAULT_B = _dt.datetime(1904, 2, 2)


def _fuzzy_after_through(text: str) -> str | None:
    """R9 fuzzy rung (utils/utils.py:157-166): dateutil fuzzy parse of the 40
    chars after the first 'through'. Accepts only FULLY specified dates
    (year+month+day present): parsing twice with different defaults and
    requiring agreement rejects snippets where dateutil silently filled any
    field. Pure Python — exactly the rule the pandas-UDF tier exists for
    (no SQL mirror, SURVEY §7.8 #1)."""
    idx = text.find("through")
    if idx == -1:
        return None
    after = text[idx + len("through"): idx + len("through") + 40]
    try:
        from dateutil import parser as _du

        da = _du.parse(after, fuzzy=True, default=_FUZZY_DEFAULT_A)
        db = _du.parse(after, fuzzy=True, default=_FUZZY_DEFAULT_B)
    except (ValueError, OverflowError):
        return None
    if (da.year, da.month, da.day) != (db.year, db.month, db.day):
        return None
    return da.date().isoformat()


def parse_date_mdy_strict(raw: str | None) -> str | None:
    """Strict ``%m/%d/%Y`` only (wellsfargo_bank_csv_parser.py:47-52): the
    bank-CSV family does NOT fall through the multi-format R7 ladder — any
    other shape is None (and quarantines downstream). Implemented as
    anchored regex + calendar-validated date — property-checked equivalent
    to the reference's strptime("%m/%d/%Y")+strftime round-trip (1-2 digit
    month/day, exactly 4-digit year: the round-trip raises on short years,
    empirically verified; impossible dates -> None). strptime is ~3x slower
    per call and this runs once per CSV row."""
    if not raw:
        return None
    m = _MMDDYYYY.match(raw.strip())
    if not m:
        return None
    return _safe_date(int(m.group(3)), int(m.group(1)), int(m.group(2)))


def date_from_filename(name: str) -> str | None:
    """R10: first ``\\d{8}`` run parsed as YYYYMMDD (utils/utils.py:129-139)."""
    m = _FILENAME_8.search(name)
    if not m:
        return None
    s = m.group(1)
    return _safe_date(int(s[0:4]), int(s[4:6]), int(s[6:8]))


def interest_credit_date(
    description: str, normalized_date: str | None, statement_end: str | None
) -> str | None:
    """R24: 'INTEREST CREDIT' rows take statement_end_date
    (transaction_normalizer.py:67-93, config.py:367-381)."""
    if "INTEREST CREDIT" in (description or "") and statement_end:
        return statement_end
    return normalized_date
