"""All-field parity of the extraction kernel: every output column —
rule_hits and n_records included, which the goldens do not all compare —
must equal rules.oracle.extract_turn on guard-boundary texts and on a
seeded fuzz corpus, through each way users reach the kernel: extract_turns
unsalted, extract_turns salted, and the incremental job's written output
(operators/lineage.run_incremental, read back from output_dir)."""

from __future__ import annotations

import random

import pytest

from pdf_extractor_spark.operators.extract import extract_turns
from pdf_extractor_spark.schema import TRANSCRIPTS

# boundary shapes of the rule ladders: whitespace/control soup, MEMO and
# boilerplate lines, ledger rows with every date/amount branch, exotic
# amounts the Decimal path parses, non-ASCII text and marker precedence
_EDGE_TEXTS = [
    None,
    "",
    "   ",
    "\x00\x1c\x1d\x1e\x1f\xa0",  # control/NBSP soup (all-ws strip)
    "plain freeform line\nPage 3 of 9\nMember FDIC\n*start* marker",
    "freeform with\xa0nbsp and \x00 nul and trailing run 99",
    "freeform\rcarriage\x0bvtab\x0cformfeed inside a line",
    "line with summary of something\nTRANSACTION DETAIL\nkept line",
    "MEMO POS DEBIT 12345 coffee  shop\nMEMO plain   memo line 99",
    "MEMO XXXXXXXXXXXX1234 card suffix\nmemo lowercase body line",
    "MEMO \xa0\x00 REF\x1c123 exotic ws between ref and digits",
    "MEMO MEMO double prefix\nMEMO\xa0nbsp not a prefix",
    "MEMO ref 77 then TRANS 88 then 1234* mask",
    "ledger rows\n99/99/9999|12.00|BAD DATE ROW",
    "ledger rows\n01/15/2024|NOTANUM|BAD AMOUNT ROW",
    "ledger rows\n01/15/2024|12.00|",
    "ledger rows\n01/15/2024|1,234.56|  coffee shop  alpha\n03/01/2024|(45.00)|refund beta",
    "LEDGER ROWS\n2024-01-05|0012.500|leading+trailing zeros\n2024-02-30|5.00|bad calendar",
    "ledger rows\n0000-01-01|5.00|year zero is invalid",
    "ledger rows\n12/31/99|7|two digit year widens\nMarch 5, 2024|-0|neg zero",
    "ledger rows\nJanx 5, 2024|3|bad month name\n01/05/2024|($1,2,3.4)|paren dollar commas",
    "ledger rows\n2024-01-05|(0.00)|paren zero keeps sign",
    "ledger rows\nno pipes here\na|b\na|b|c|d",  # zero qualifying rows
    "ledger rows\n2024-01-05|5.00|desc with REF 77 and 1234* inside",
    "ledger rows\n2024-01-05|1e5|exponent",
    "ledger rows\n2024-01-05|inf|infinity",
    "ledger rows\n2024-01-05|.5|bare fraction",
    "ledger rows\n2024-01-05|+5|plus sign",
    "ledger rows\n2024-01-05|0.00004|tiny magnitude",
    "ledger rows\n2024-01-05|9999999999999999|sixteen digits",
    "unicode snowman ☃ stays freeform",
    "date audit\n01/02|5.00|date edges family",
    "checking summary\nledger rows\n01/05/2024|5.00|earlier marker wins",
    "Post Date mention",
    "<html><body>html family</body></html>",
]


def _fuzz_texts(n: int = 400) -> list[str]:
    """Deterministic fuzz: random compositions of family fragments,
    markers, pipe rows with random amount shapes, and whitespace soup."""
    rng = random.Random(20250817)
    frag_pool = [
        "ledger rows", "MEMO ", "memo ", "Page 3 of 9", "member fdic",
        "REF 4521", "TRANS\t77", "XXXXXXXXXXXX5678", "1234*", "\xa0", "\x00",
        "|", "|5.00|", "01/15/2024", "2024-02-29", "(1,2.3)", "$", "-0.0",
        "0.0001", "0.00001", "123456789012345", "1234567890123456",
        "date audit", "checking summary", "coffee shop", "   ", "\x1c\x1d",
        "a|b|c", "5.|x", ".5", "1e3", "nan", "Infinity", "March 5, 2024",
        "www.", "questions?", "p.o. box", "*start*", "SUMMARY OF", "\r", "\x0b",
    ]
    texts = []
    for _ in range(n):
        lines = [
            "".join(rng.choice(frag_pool) for _ in range(rng.randint(1, 6)))
            for _ in range(rng.randint(1, 6))
        ]
        texts.append("\n".join(lines))
    return texts


_PATHS = ["extract_turns", "extract_turns_salted", "run_incremental"]


def _check(spark, run_job, assert_matches_oracle, texts, path):
    rows = [(f"c{i:04d}", 0, "a", t, None, None) for i, t in enumerate(texts)]
    sdf = spark.createDataFrame(rows, schema=TRANSCRIPTS)
    if path == "run_incremental":
        out = run_job(sdf)
    else:
        out = extract_turns(sdf, salt_partitions=4 if path == "extract_turns_salted" else None)
    text_of = {(f"c{i:04d}", 0): t for i, t in enumerate(texts)}
    assert_matches_oracle(out.collect(), text_of)


@pytest.mark.parametrize("path", _PATHS)
def test_kernel_matches_oracle_on_guard_boundaries(spark, run_job, assert_matches_oracle, path):
    _check(spark, run_job, assert_matches_oracle, _EDGE_TEXTS, path)


@pytest.mark.parametrize("path", _PATHS)
def test_kernel_matches_oracle_on_fuzzed_corpus(spark, run_job, assert_matches_oracle, path):
    _check(spark, run_job, assert_matches_oracle, _fuzz_texts(), path)
