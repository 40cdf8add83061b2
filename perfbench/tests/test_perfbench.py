"""Self-tests for the benchmark's own code.

    python3 -m pytest perfbench/tests -q

Most tests need no JVM. The last two take about half a minute together: a
held-out seed runs clean end to end, and the command fails without the
program next to it.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT)]

from common import (  # noqa: E402
    multiset_digest,
    oracle_row,
    output_row,
    restore_tree,
    snapshot_tree,
    timing_summary,
)
from tracing import Span, engine_metrics, heaviest_stage_tasks, parse_event_log  # noqa: E402

FIXTURE_LOG = HERE / "fixtures" / "eventlog.json"


# ---------------------------------------------------------------- digest


def test_digest_is_order_independent_and_counts_duplicates():
    rows = [("a", 1), ("b", 2), ("c", 3)]
    assert multiset_digest(rows) == multiset_digest(list(reversed(rows)))
    assert multiset_digest(rows)[0] == 3
    assert multiset_digest(rows + [("a", 1)]) != multiset_digest(rows)
    assert multiset_digest(rows[:2] + [("c", 4)]) != multiset_digest(rows)


def test_oracle_and_output_rows_agree():
    from pdf_extractor_spark.rules.oracle import extract_turn

    text = "01/15 AMAZON MKTPLACE 23.45\n01/16 PAYMENT THANK YOU -100.00"
    res = extract_turn(text)
    # the shape pyarrow's to_pylist gives one committed output record
    committed = {
        "conv_id": "c1",
        "turn_idx": 3,
        "family": res.family,
        "extracted_text": res.extracted_text,
        "spans": [{"start": s, "end": e, "kind": k} for s, e, k in res.spans],
        "rule_hits": list(reversed(list(res.rule_hits.items()))),
        "n_records": res.n_records,
        "valid": res.valid,
        "problem_reason": res.problem_reason,
    }
    assert output_row(committed) == oracle_row("c1", 3, res)
    committed["extracted_text"] += " "
    assert output_row(committed) != oracle_row("c1", 3, res)


def test_restore_tree_removes_only_new_files(tmp_path):
    (tmp_path / "part-0.parquet").write_text("x")
    (tmp_path / "_SUCCESS").write_text("")
    base = snapshot_tree(tmp_path)
    (tmp_path / "part-1.parquet").write_text("y")
    (tmp_path / "src_key=new").mkdir()
    (tmp_path / "src_key=new" / "part-2.parquet").write_text("z")
    (tmp_path / "_SUCCESS").write_text("rewritten")
    restore_tree(tmp_path, base)
    assert snapshot_tree(tmp_path) == base


# ---------------------------------------------------------------- stats


def test_timing_summary_reports_median_and_sample_count():
    assert timing_summary([3.0, 1.0, 2.0, 10.0]) == {"n": 4, "p50": 2.5}
    assert timing_summary([]) == {"n": 0, "p50": None}


# ---------------------------------------------------------------- event log


def test_event_log_parser_and_span_attribution():
    log = parse_event_log(FIXTURE_LOG)
    assert sorted(log.jobs) == [0, 1]
    assert log.jobs[1].stage_ids == [1, 2]
    assert len(log.tasks) == 4

    a, b = Span("a", 1000.5, 1001.5), Span("b", 1001.9, 1003.0)
    assert [j.job_id for j in log.jobs_in(a)] == [0]
    assert [j.job_id for j in log.jobs_in(b)] == [1]
    assert sum(t.input_records for t in log.tasks_in(b)) == 500

    m = engine_metrics(log, [b])
    assert m["spark.executor_cpu_s"] == pytest.approx(0.51)
    assert m["spark.gc_s"] == pytest.approx(0.03)
    assert m["spark.input_bytes"] == 16384
    assert m["spark.shuffle_bytes"] == 2000
    assert m["spark.spill_bytes"] == 96
    assert m["spark.peak_exec_mem_bytes"] == 9000
    assert engine_metrics(log, [a, b])["spark.executor_cpu_s"] == pytest.approx(0.28)

    heavy = heaviest_stage_tasks(log, b)
    assert {t.stage_id for t in heavy} == {1}
    assert sorted(t.seconds for t in heavy) == [0.3, 0.5]


def test_benchmark_json_matches_the_code():
    import run

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    from workloads import WORKLOADS

    # curate_ladder is runnable but not listed: the traced extract_fresh run
    # measures its layers
    assert [w["name"] for w in spec["workloads"]] == ["extract_fresh", "append_incremental"]
    assert set(WORKLOADS) == {"extract_fresh", "append_incremental", "curate_ladder"}
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


# ---------------------------------------------------------------- end to end


def test_same_seed_regenerates_identical_corpus(tmp_path):
    from common import read_parquet_rows
    from workloads import corpus_digest, pick_convs, write_corpus

    digests = []
    for i, seed in enumerate((5, 5, 6)):
        path = tmp_path / f"c{i}"
        write_corpus(path, seed, pick_convs(seed, 400), 4)
        digests.append(corpus_digest(read_parquet_rows([path])))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_json_line_round_trips():
    from workloads import json_line, transcript_rows

    rows = transcript_rows(3, [0, 1], "d1_")
    for r in rows:
        d = json.loads(json_line(r))
        assert d["conv_id"] == r["conv_id"] and d["text"] == r["text"]
        assert ("tool" in d) == (r["tool"] is not None)
        assert d["ts"].endswith("Z")


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True, timeout=180
    )


def test_held_out_seed_runs_clean():
    p = _run(ROOT, "--workload", "extract_fresh", "--seed", "991", "--seconds", "1", "--trace", "0")
    assert p.returncode == 0, p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 4
    assert set(res["metrics"]) == {"rows_per_s", "op_s_p50", "setup_s"}


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = _run(tmp_path, "--workload", "extract_fresh", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert not any(ln.startswith("{") for ln in p.stdout.splitlines())
