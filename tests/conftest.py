from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: long-running end-to-end tests")


@pytest.fixture(scope="session")
def spark():
    from pdf_extractor_spark.session import get_spark

    s = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture
def run_job(spark, tmp_path):
    """Extract a transcript DataFrame the way jobs/extract_job.py does:
    write it as a parquet table of ``n_files`` files, run run_incremental
    over it and read the written output back from output_dir."""
    from pdf_extractor_spark.operators.lineage import run_incremental

    def run(transcripts, n_files: int = 2):
        base = tmp_path / "job"
        transcripts.repartition(n_files).write.parquet(str(base / "input"))
        summary = run_incremental(
            spark, str(base / "input"), str(base / "output"), str(base / "lineage"), "t"
        )
        assert summary["files"] == n_files
        return spark.read.parquet(str(base / "output"))

    return run


@pytest.fixture(scope="session")
def assert_matches_oracle():
    return _assert_rows_match_oracle


def _assert_rows_match_oracle(rows, text_of: dict) -> None:
    """Every output field of every row equals rules.oracle.extract_turn of
    that row's input text; ``text_of`` maps (conv_id, turn_idx) -> text and
    every key must appear exactly once."""
    from pdf_extractor_spark.rules.oracle import extract_turn

    got = {(r["conv_id"], r["turn_idx"]): r for r in rows}
    assert len(got) == len(rows) == len(text_of)
    for key, t in text_of.items():
        o, g = extract_turn(t), got[key]
        assert g["family"] == o.family, (t, g["family"], o.family)
        assert g["extracted_text"] == o.extracted_text, t
        assert [(s["start"], s["end"], s["kind"]) for s in g["spans"]] == list(o.spans), t
        assert dict(g["rule_hits"]) == o.rule_hits, (t, dict(g["rule_hits"]), o.rule_hits)
        assert g["n_records"] == o.n_records, t
        assert g["valid"] == o.valid, t
        assert g["problem_reason"] == o.problem_reason, t
