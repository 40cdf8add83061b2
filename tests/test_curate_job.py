"""End-to-end curation-job contract (round 4, jobs/curate_job.py): the
composed training-data ladder (PII redact -> quality filter -> exact dedup ->
MinHash near-dedup -> decontamination -> sequence packing) over the sf0.001
documents table, run as the spark-submit entry point in a subprocess.

Pins: kept + dropped reconciles exactly to the input (the P5 completeness
discipline applied to curation), each drop stage's counts are consistent
with the manifest parquet, the near-dedup stage actually fires on the
corpus's planted near-duplicates, packing output respects the budget, and
PII redaction leaves no raw email-shaped strings in the curated text."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
from collections import Counter
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def result(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("curate")
    out, man = tmp / "curated", tmp / "drops"
    proc = subprocess.run(
        [
            sys.executable,
            str(REPO / "jobs" / "curate_job.py"),
            "--input", f"{SF}/documents.parquet",
            "--output", str(out),
            "--manifest", str(man),
            "--pack-budget", "256",
        ],
        capture_output=True,
        text=True,
        cwd=str(REPO),
        timeout=600,
        # plain-python invocation stands in for spark-submit --py-files:
        # the package comes from PYTHONPATH (same stance as test_ingest_job)
        env={**os.environ, "PYTHONPATH": str(REPO)},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    return summary, out, man


def test_summary_reconciles(result):
    summary, _, _ = result
    assert summary["complete"] is True
    assert summary["rows_in"] == summary["rows_out"] + summary["rows_dropped"]
    assert summary["rows_out"] > 0


def test_manifest_matches_summary(result):
    summary, _, man = result
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT stage || ':' || reason, count(*) FROM read_parquet('{man}/*.parquet') GROUP BY 1"
    ).fetchall()
    assert dict(rows) == summary["drops"]
    # every dropped doc appears exactly once (stages are sequential)
    n_ids, n_distinct = con.execute(
        f"SELECT count(doc_id), count(DISTINCT doc_id) FROM read_parquet('{man}/*.parquet')"
    ).fetchone()
    assert n_ids == n_distinct


def test_near_dedup_fires_on_planted_twins(result):
    summary, _, _ = result
    # the synthetic corpus plants near-duplicate docs for the dedup ladder;
    # a curation run that drops none of them is broken
    assert summary["drops"].get("near_dedup:near_duplicate", 0) > 0


def test_packing_and_redaction_invariants(result):
    _, out, _ = result
    con = duckdb.connect()
    # contiguous-layout contract: within a lang stratum ordered by doc_id,
    # each doc's (bin_id, bin_offset) encodes the running token sum of its
    # predecessors — recompute it in SQL and demand exact equality
    bad = con.execute(
        f"""
        WITH c AS (
          SELECT *, COALESCE(SUM(n_tokens) OVER
                   (PARTITION BY lang ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos
          FROM read_parquet('{out}/*.parquet'))
        SELECT count(*) FROM c
        WHERE bin_id <> pos // 256 OR bin_offset <> pos % 256
        """
    ).fetchone()[0]
    assert bad == 0
    texts = [r[0] for r in con.execute(
        f"SELECT text FROM read_parquet('{out}/*.parquet')"
    ).fetchall()]
    email = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
    assert not any(email.search(t) for t in texts)


def test_null_text_docs_are_manifested_not_lost(spark):
    """Round-5 ADVICE fix: a NULL-text doc used to vanish at the quality
    stage (the word-metric inner join sees no exploded rows for NULL text)
    with no manifest entry, breaking kept+dropped==input. It must now land
    in the manifest as quality:null_text and the ladder must still
    reconcile exactly."""
    import sys

    sys.path.insert(0, str(REPO / "jobs"))
    from curate_job import curate

    words = lambda tag: " ".join(f"{tag}{i}" for i in range(12))  # noqa: E731
    docs = spark.createDataFrame(
        [(1, None, "en"), (2, words("alpha"), "en"), (3, words("beta"), "de")],
        "doc_id long, text string, lang string",
    )
    curated, manifest = curate(spark, docs, eval_mod=50, pack_budget=64)
    dropped = {(r.doc_id, r.stage, r.reason) for r in manifest.collect()}
    assert (1, "quality", "null_text") in dropped
    assert curated.count() + len(dropped) == 3


def _planted_docs(spark, n_groups: int = 30):
    """Ten docs per group g, one drop class per doc_id % 10, plus one NULL
    text: 0 the group text (an eval doc when g % 5 == 0, eval_mod 50),
    1 its exact copy, 2 the group text plus three tokens (near-dup), 3 ten
    lines of which five repeat (duplicate_lines), 4 one token 40 times
    (dominant_token), 5 three words (too_short), 6 unique plus an email,
    7 the group text's first 12 words plus a unique tail (decontamination
    prey when the group text is an eval doc), 8-9 unique."""
    import random

    rng = random.Random(11)
    words = lambda n: " ".join(f"w{rng.randrange(3000):04d}" for _ in range(n))  # noqa: E731
    rows = []
    for g in range(n_groups):
        base = words(60)
        lines = [words(6) for _ in range(6)]
        texts = [
            base,
            base,
            base + f" x{g} y{g} z{g}",
            "\n".join(lines + [lines[0]] * 4),
            " ".join(["spam"] * 40),
            "tiny doc here",
            words(50) + f" contact user{g}@example.com now",
            " ".join(base.split()[:12]) + " " + words(40),
            words(50),
            words(50),
        ]
        rows += [(10 * g + r, t, "en" if r % 3 else "de") for r, t in enumerate(texts)]
    rows.append((10 * n_groups, None, "en"))
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_every_drop_class_fires_on_planted_corpus(spark):
    """Each stage's verdict on a corpus that plants every drop class: the
    exact (stage, reason) census, every doc kept or dropped exactly once,
    and quality deciding before exact dedup (the 30 identical spam docs and
    the 30 identical short docs are quality drops, not duplicates)."""
    sys.path.insert(0, str(REPO / "jobs"))
    from curate_job import curate

    docs = _planted_docs(spark)
    curated, manifest = curate(spark, docs, eval_mod=50, pack_budget=64)
    kept = [r.doc_id for r in curated.select("doc_id").collect()]
    dropped = manifest.collect()
    census = Counter(f"{r.stage}:{r.reason}" for r in dropped)
    assert census == {
        "quality:null_text": 1,
        "quality:too_short": 30,
        "quality:dominant_token": 30,
        "quality:duplicate_lines": 30,
        "exact_dedup:duplicate_content": 30,
        "near_dedup:near_duplicate": 30,
        "decontam:eval_overlap": 6,
    }
    ids = kept + [r.doc_id for r in dropped]
    assert len(ids) == len(set(ids)) == docs.count()


def test_curate_resume_is_idempotent(result, tmp_path):
    """Snapshot-atomic resume: with --lineage, a committed run is skipped
    outright on replay (run_id match), and the outputs from the first run
    survive untouched. The run writes no --manifest, so it also pins that
    the census without a manifest sink equals the census of the run that
    writes one."""
    out, lin = tmp_path / "c", tmp_path / "ledger"
    cmd = [
        sys.executable, str(REPO / "jobs" / "curate_job.py"),
        "--input", f"{SF}/documents.parquet",
        "--output", str(out),
        "--lineage", str(lin), "--pack-budget", "256",
    ]
    env = {**os.environ, "PYTHONPATH": str(REPO)}
    first = subprocess.run(cmd, capture_output=True, text=True, cwd=str(REPO), timeout=600, env=env)
    assert first.returncode == 0, first.stderr[-1500:]
    s1 = json.loads(first.stdout.strip().splitlines()[-1])
    assert s1["complete"] is True and "run_id" in s1
    assert s1["drops"] == result[0]["drops"]

    second = subprocess.run(cmd, capture_output=True, text=True, cwd=str(REPO), timeout=600, env=env)
    assert second.returncode == 0, second.stderr[-1500:]
    s2 = json.loads(second.stdout.strip().splitlines()[-1])
    assert s2 == {"run_id": s1["run_id"], "skipped": True, "reason": "already_committed"}

    con = duckdb.connect()
    n = con.execute(f"SELECT count(*) FROM read_parquet('{out}/*.parquet')").fetchone()[0]
    assert n == s1["rows_out"]
