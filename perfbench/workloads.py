"""The three job-level workloads. Each one builds its inputs from the seed,
computes its reference answers once in set-up, runs one real job's
``main()`` per op and checks every op's committed output.

Sizes are small enough that every run, set-up included, fits the time one
benchmark run may take on a 4-core host (see perfbench/README.md).
"""

from __future__ import annotations

import json
import random
import shutil
import statistics
import time
from pathlib import Path

from common import (
    OUTPUT_COLUMNS,
    call_job,
    multiset_digest,
    oracle_row,
    output_row,
    read_parquet_rows,
    reset_dir,
    restore_tree,
    snapshot_tree,
)
from tracing import EventLog, Span, Tracer, engine_metrics, heaviest_stage_tasks


class Mismatch(Exception):
    """An op's committed output differs from the reference."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise Mismatch(what)


def pick_convs(seed: int, target_turns: int, max_len: int = 400) -> list[int]:
    """Conversation ordinals, in order, whose generated lengths add up to at
    least ``target_turns``; conversations longer than ``max_len`` are
    skipped. Keeps the table size steady across seeds despite the
    power-law lengths."""
    from pdf_extractor_spark.sources.synth import _conv_len_hashed

    picked, total, k = [], 0, 0
    while total < target_turns:
        n = _conv_len_hashed(f"conv_{k:06d}", seed)
        if n <= max_len:
            picked.append(k)
            total += n
        k += 1
    return picked


def transcript_rows(seed: int, ordinals: list[int], conv_prefix: str = "") -> list[dict]:
    """The transcript rows of conversations ``ordinals``: the program's own
    per-conversation generator (the one ``generate_transcripts_distributed``
    maps over executors: the 22-family mix, power-law lengths), run in the
    driver so set-up starts no Spark job of its own."""
    from pdf_extractor_spark.sources.synth import _rows_for_conv

    rows = []
    for k in ordinals:
        for r in _rows_for_conv(f"conv_{k:06d}", seed):
            r["conv_id"] = conv_prefix + r["conv_id"]
            rows.append(r)
    return rows


def write_corpus(path: Path, seed: int, ordinals: list[int], files: int) -> None:
    """Write the corpus of ``ordinals`` as ``files`` parquet files in the
    program's TRANSCRIPTS schema, conversations dealt round-robin."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from pdf_extractor_spark.schema import TRANSCRIPTS

    # ts becomes timestamp[us, UTC]: the generator's naive times are UTC
    schema = to_arrow_schema(TRANSCRIPTS)
    path.mkdir(parents=True)
    for i in range(files):
        rows = transcript_rows(seed, ordinals[i::files])
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), path / f"part-{i:05d}.parquet")


def json_line(row: dict) -> str:
    """One transcript row as the JSON line Spark's JSON writer makes (null
    fields left out, ISO timestamp in UTC)."""
    d = {k: v for k, v in row.items() if v is not None}
    d["ts"] = row["ts"].strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"
    return json.dumps(d, ensure_ascii=False, separators=(",", ":"))


def corpus_digest(rows: list[dict]) -> str:
    n, h = multiset_digest(
        (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], str(r["ts"])) for r in rows
    )
    return f"{n}:{h}"


def reference_digest(rows: list[dict]) -> tuple[int, str]:
    """Digest of ``rules.oracle.extract_turn`` over the input rows."""
    from pdf_extractor_spark.rules.oracle import extract_turn

    return multiset_digest(oracle_row(r["conv_id"], r["turn_idx"], extract_turn(r["text"])) for r in rows)


def part_files(table: Path) -> set[str]:
    return {p.name for p in table.glob("*.parquet")}


def lineage_rows(lin: Path, exclude: set[str] = frozenset()) -> list[dict]:
    files = [p for p in lin.rglob("*.parquet") if str(p.relative_to(lin)) not in exclude]
    return read_parquet_rows(files, ["partition_range", "row_count", "status"])


def check_lineage(rows: list[dict], files: set[str], n_rows: int) -> None:
    expect({r["partition_range"] for r in rows} == files, "lineage files != pending files")
    expect(len(rows) == len(files), "lineage has duplicate file rows")
    expect(sum(r["row_count"] for r in rows) == n_rows, "lineage rows != pending rows")
    expect(all(r["status"] == "done" for r in rows), "lineage row not done")


def noop_seconds(df, reps: int = 2) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def rules_us_per_turn(texts: list[str], reps: int = 3) -> dict[str, float]:
    """Single-thread detect and extract cost over a fixed sample of turns."""
    from pdf_extractor_spark.rules.doctype import detect_family
    from pdf_extractor_spark.rules.oracle import extract_turn

    out = {}
    for name, fn in (("rules.detect_us_per_turn", detect_family), ("rules.extract_us_per_turn", extract_turn)):
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            for t in texts:
                fn(t)
            times.append(time.perf_counter() - t0)
        out[name] = statistics.median(times) / len(texts) * 1e6
    return out


def rules_sample(rows: list[dict], n: int = 2000) -> list[str]:
    rows = sorted(rows, key=lambda r: (r["conv_id"], r["turn_idx"]))
    return [r["text"] for r in rows[:n] if r["text"] is not None]


class Workload:
    """One workload: ``prepare`` (inputs + references), ``before_op``
    (untimed restore), ``op`` (the timed job calls), ``check`` (untimed
    output gate) and, on a traced run, ``trace_layers``."""

    name = ""
    # warm-up ops, a fixed number so setup_s always covers the same work:
    # after the first, cold op (Python workers, JIT) op time kept falling
    # for about three more ops on a 4-core host
    warmup = 4
    # timed ops run until --seconds of op time has passed, and at least this
    # many: two ops of one run differed by up to 20%, and a median of four
    # is not set by one slow op
    min_ops = 4
    rows_unit = "turns"

    def __init__(self, spark, work: Path, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.info: dict = {}
        self.results: list[dict] = []  # checked timed ops, for trace_layers

    def prepare(self) -> None:
        raise NotImplementedError

    def before_op(self) -> None:
        pass

    def op(self) -> dict:
        raise NotImplementedError

    def check(self, res: dict) -> int:
        """Raise Mismatch on a wrong output; return the rows the op did."""
        raise NotImplementedError

    def install_spans(self, tracer: Tracer) -> None:
        import jobs.curate_job
        from pdf_extractor_spark.operators import lineage

        tracer.wrap(lineage, "pending_files", "lineage.pending_files")
        tracer.wrap(lineage, "src_key_col", "lineage.src_key_col")
        tracer.wrap(jobs.curate_job, "curate", "curate_job.curate")

    def trace_extras(self) -> dict:
        """Layer measurements made after the timed ops, outside any op."""
        return {}

    def trace_layers(self, tracer: Tracer, log: EventLog, ops: list[Span]) -> dict:
        return engine_metrics(log, ops)


class _ExtractMixin:
    """Per-layer numbers shared by the two extract workloads."""

    def extract_layers(self, tracer: Tracer, log: EventLog, results: list[dict]) -> dict:
        pend_s, jobs, ratio, t50, tmax = [], [], [], [], []
        for res in results:
            main = res["extract_span"]
            pf = tracer.within("lineage.pending_files", main)
            after = [s for s in tracer.within("lineage.src_key_col", main) if pf and s.start >= pf[0].end]
            if pf and after:
                pend_s.append(after[0].start - pf[0].start)
            jobs.append(len(log.jobs_in(main)))
            rows = res["extract"]["rows"]
            ratio.append(sum(t.input_records for t in log.tasks_in(main)) / max(1, rows))
            ts = sorted(t.seconds for t in heaviest_stage_tasks(log, main))
            if ts:
                t50.append(statistics.median(ts))
                tmax.append(ts[-1])
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        return {
            "extract_job.main_s": med([r["extract_span"].seconds for r in results]),
            "lineage.pending_files_s": med(pend_s),
            "lineage.input_files": len(part_files(self.table)),
            "lineage.pending_files": med([r["extract"]["files"] for r in results]),
            "lineage.rows_read_per_row_extracted": med(ratio),
            "lineage.spark_jobs": med(jobs),
            "extract.task_s_p50": med(t50),
            "extract.task_s_max": med(tmax),
        }


class ExtractFresh(_ExtractMixin, Workload):
    """Backfill: extract_job over a fresh table into empty output/lineage."""

    name = "extract_fresh"
    TURNS = 12_000
    FILES = 12

    def prepare(self) -> None:
        base = reset_dir(self.work / "fresh")
        self.table = base / "in"
        write_corpus(self.table, self.seed, pick_convs(self.seed, self.TURNS), self.FILES)
        rows = read_parquet_rows([self.table])
        self.files = part_files(self.table)
        self.n_rows = len(rows)
        self.ref = reference_digest(rows)
        self.sample = rules_sample(rows)
        self.info.update(turns=self.n_rows, files=len(self.files), corpus_digest=corpus_digest(rows))
        self.k = 0

    def before_op(self) -> None:
        self.k += 1
        self.out = self.work / "fresh" / f"out{self.k}"
        self.lin = self.work / "fresh" / f"lin{self.k}"

    def op(self) -> dict:
        import jobs.extract_job

        t0 = time.time()
        summary = call_job(
            jobs.extract_job,
            ["--input", str(self.table), "--output", str(self.out), "--lineage", str(self.lin)],
            self.spark.sparkContext,
        )
        return {"extract": summary, "extract_span": Span("extract_job.main", t0, time.time())}

    def check(self, res: dict) -> int:
        try:
            s = res["extract"]
            expect(s["files"] == len(self.files), f"files {s['files']} != {len(self.files)}")
            expect(s["rows"] == self.n_rows, f"rows {s['rows']} != {self.n_rows}")
            got = multiset_digest(map(output_row, read_parquet_rows([self.out], OUTPUT_COLUMNS)))
            expect(got == self.ref, f"output digest {got} != oracle {self.ref}")
            check_lineage(lineage_rows(self.lin), self.files, self.n_rows)
            return s["rows"]
        finally:
            shutil.rmtree(self.out, ignore_errors=True)
            shutil.rmtree(self.lin, ignore_errors=True)

    def trace_extras(self) -> dict:
        from pdf_extractor_spark.operators.extract import extract_turns
        from pdf_extractor_spark.schema import TRANSCRIPTS

        scan = self.spark.read.schema(TRANSCRIPTS).parquet(str(self.table))
        extras = {
            "spark.scan_s": noop_seconds(scan),
            "extract.extract_turns_s": noop_seconds(extract_turns(scan), reps=1),
            **rules_us_per_turn(self.sample),
        }
        # curate_job's layers are measured here, on the traced run only: its
        # ops take too long to fit a listed workload of their own in the
        # time a measurement campaign has (see CurateLadder)
        self.curate = CurateLadder(self.spark, self.work, self.seed)
        self.curate.run_checked_ops()
        return extras

    def trace_layers(self, tracer, log, ops):
        return {
            **engine_metrics(log, ops),
            **self.extract_layers(tracer, log, self.results),
            **self.curate.curate_layers(tracer, log),
        }


class AppendIncremental(_ExtractMixin, Workload):
    """Daily append: ingest a small JSON dump with corrupt lines onto a
    committed table 50x its size, then extract_job incrementally."""

    name = "append_incremental"
    # the set-up extraction takes the extract path's cold op; after it, op
    # time kept falling for about six more ops (4.2 s, then 2.7 s, then
    # ~2.4 s down to a steady ~2.1 s from the seventh op on a 4-core host),
    # so timed ops that started earlier measured the warm-up, not the code
    warmup = 7
    BASE_TURNS = 16_000
    BASE_FILES = 32
    APPEND_TURNS = 320
    APPEND_MAX_CONV = 64
    CORRUPT_FRAC = 0.01

    def prepare(self) -> None:
        import jobs.extract_job

        base = reset_dir(self.work / "append")
        self.table, self.out, self.lin = base / "table", base / "out", base / "lineage"
        self.quarantine, dump = base / "quarantine", base / "dump"
        write_corpus(self.table, self.seed, pick_convs(self.seed, self.BASE_TURNS), self.BASE_FILES)
        base_rows = read_parquet_rows([self.table])
        self.sample = rules_sample(base_rows)

        # the dump: JSON lines of a distinct conversation set, with ~1% of
        # lines truncated mid-record at seeded positions; exactly
        # APPEND_TURNS good lines, because ops are mostly fixed cost and an
        # append size that varied with the seed would move rows_per_s
        day_seed = self.seed + 7919
        day = transcript_rows(day_seed, pick_convs(day_seed, self.APPEND_TURNS, self.APPEND_MAX_CONV), "d1_")
        good = [json_line(r) for r in sorted(day, key=lambda r: (r["conv_id"], r["turn_idx"]))][: self.APPEND_TURNS]
        rng = random.Random(self.seed)
        n_bad = max(1, round(len(good) * self.CORRUPT_FRAC))
        lines = list(good)
        for _ in range(n_bad):
            src = rng.choice(good)
            lines.insert(rng.randrange(len(lines) + 1), src[: rng.randrange(8, len(src) // 2)])
        dump.mkdir()
        (dump / "day1.json").write_text("\n".join(lines) + "\n")
        self.dump = dump
        self.n_good, self.n_bad = len(good), n_bad
        good_rows = [json.loads(ln) for ln in good]
        self.ref = reference_digest(good_rows)

        # the committed state every op starts from
        call_job(
            jobs.extract_job,
            ["--input", str(self.table), "--output", str(self.out), "--lineage", str(self.lin)],
            self.spark.sparkContext,
        )
        self.baseline = {p: snapshot_tree(p) for p in (self.table, self.out, self.lin)}
        self.base_files = part_files(self.table)
        self.info.update(
            table_turns=len(base_rows),
            table_files=len(self.base_files),
            append_turns=self.n_good,
            corrupt_lines=n_bad,
            corpus_digest=corpus_digest(base_rows),
        )

    def before_op(self) -> None:
        for p, snap in self.baseline.items():
            restore_tree(p, snap)
            # files were removed behind Spark's back: drop any cached listing
            self.spark.catalog.refreshByPath(str(p))
        shutil.rmtree(self.quarantine, ignore_errors=True)

    def op(self) -> dict:
        import jobs.extract_job
        import jobs.ingest_job

        sc = self.spark.sparkContext
        t0 = time.time()
        ingest = call_job(
            jobs.ingest_job,
            ["--input", str(self.dump), "--format", "json", "--output", str(self.table),
             "--quarantine", str(self.quarantine)],
            sc,
        )
        t1 = time.time()
        extract = call_job(
            jobs.extract_job,
            ["--input", str(self.table), "--output", str(self.out), "--lineage", str(self.lin)],
            sc,
        )
        return {
            "ingest": ingest,
            "extract": extract,
            "ingest_span": Span("ingest_job.main", t0, t1),
            "extract_span": Span("extract_job.main", t1, time.time()),
        }

    def check(self, res: dict) -> int:
        ing, ext = res["ingest"], res["extract"]
        expect(ing["rows_ingested"] == self.n_good, f"ingested {ing['rows_ingested']} != {self.n_good}")
        expect(ing["corrupt_lines"] == self.n_bad, f"quarantined {ing['corrupt_lines']} != {self.n_bad}")
        expect(
            ing["rows_ingested"] + ing["corrupt_lines"] == self.n_good + self.n_bad,
            "ingested + quarantined != lines written",
        )
        expect(len(read_parquet_rows([self.quarantine], ["raw_line"])) == self.n_bad, "quarantine sink rows")
        new_files = part_files(self.table) - self.base_files
        expect(ext["files"] == len(new_files), f"pending files {ext['files']} != {len(new_files)}")
        expect(ext["rows"] == self.n_good, f"extracted rows {ext['rows']} != {self.n_good}")
        parts = [self.out / f"src_key={f}" for f in new_files]
        got = multiset_digest(map(output_row, read_parquet_rows(parts, OUTPUT_COLUMNS)))
        expect(got == self.ref, f"appended output digest {got} != oracle {self.ref}")
        check_lineage(lineage_rows(self.lin, self.baseline[self.lin]), new_files, self.n_good)
        return ext["rows"]

    def trace_extras(self) -> dict:
        from pdf_extractor_spark.operators.extract import extract_turns
        from pdf_extractor_spark.schema import TRANSCRIPTS

        read = self.spark.read.schema(TRANSCRIPTS).parquet
        pending = [str(self.table / f) for f in sorted(part_files(self.table) - self.base_files)]
        return {
            "spark.scan_s": noop_seconds(read(str(self.table))),
            "extract.extract_turns_s": noop_seconds(extract_turns(read(*pending)), reps=1),
            **rules_us_per_turn(self.sample),
        }

    def trace_layers(self, tracer, log, ops):
        return {
            **engine_metrics(log, ops),
            **self.extract_layers(tracer, log, self.results),
            "ingest_job.main_s": statistics.median(r["ingest_span"].seconds for r in self.results),
            "readers.rows_quarantined": self.results[-1]["ingest"]["corrupt_lines"],
        }


def curate_docs(n_docs: int, seed: int):
    """Documents with controlled duplication and quality classes (the shape
    of bench.py's curation corpus). doc_id % 10 picks the class inside each
    10-doc group g: 0/1 two exact copies of the group text, 2 the group text
    plus 3 tokens (near-dup), 4 one repeated token (dominant_token), 5 three
    words (too_short), 6 unique plus an email (PII), 7 the group's first 12
    words plus a unique tail (decontamination prey when the group text is
    an eval doc), else unique."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i:04d}" for i in range(3000)])
    words = lambda n: " ".join(vocab[rng.integers(0, 3000, size=n)])  # noqa: E731
    bases = [words(60) for _ in range(n_docs // 10)]
    texts = []
    for doc_id in range(n_docs):
        g, r = divmod(doc_id, 10)
        if r in (0, 1):
            t = bases[g]
        elif r == 2:
            t = bases[g] + f" x{g} y{g} z{g}"
        elif r == 4:
            t = " ".join(["spam"] * 40)
        elif r == 5:
            t = "tiny doc here"
        elif r == 7:
            t = " ".join(bases[g].split()[:12]) + " " + words(40)
        else:
            t = words(50) + (f" contact user{doc_id}@example.com now" if r == 6 else "")
        texts.append(t)
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": ["en" if i % 3 else "de" for i in range(n_docs)],
            "source": [f"src{i % 7}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


class CurateLadder(Workload):
    """curate_job over the controlled-duplication documents corpus."""

    name = "curate_ladder"
    DOCS = 1000
    FILES = 2
    # op time is mostly the fixed cost of ~118 Spark jobs: the cold first op
    # takes ~20 s whatever the corpus size and later ones 7-10 s, so one
    # warm-up op and one timed op are all a run can afford. A run of this
    # workload and the extract workloads' runs together did not fit a
    # measurement campaign, so BENCHMARK.json does not list it; the traced
    # extract_fresh run measures its layers with run_checked_ops
    warmup = 1
    min_ops = 1
    rows_unit = "docs"

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        base = reset_dir(self.work / "curate")
        self.docs = base / "docs"
        self.docs.mkdir()
        tbl = curate_docs(self.DOCS, self.seed)
        step = -(-self.DOCS // self.FILES)
        for i in range(self.FILES):
            pq.write_table(tbl.slice(i * step, step), self.docs / f"part-{i:05d}.parquet")
        self.out, self.manifest = base / "curated", base / "manifest"
        self.census = None
        self.info.update(docs=self.DOCS, files=self.FILES)

    def op(self) -> dict:
        import jobs.curate_job

        t0 = time.time()
        summary = call_job(
            jobs.curate_job,
            ["--input", str(self.docs), "--output", str(self.out), "--manifest", str(self.manifest)],
            self.spark.sparkContext,
        )
        return {"curate": summary, "main_span": Span("curate_job.main", t0, time.time())}

    def check(self, res: dict) -> int:
        s = res["curate"]
        expect(s["complete"] is True, "kept + dropped != input")
        expect(s["rows_in"] == self.DOCS, f"rows_in {s['rows_in']} != {self.DOCS}")
        if self.census is None:
            # the first (warm-up) op sets the census every later op must equal
            self.census = s["drops"]
            self.info["census"] = self.census
        expect(s["drops"] == self.census, f"drop census {s['drops']} != {self.census}")
        expect(len(read_parquet_rows([self.out], ["doc_id"])) == s["rows_out"], "curated sink rows")
        expect(len(read_parquet_rows([self.manifest], ["doc_id"])) == s["rows_dropped"], "manifest rows")
        return s["rows_in"]

    def run_checked_ops(self) -> None:
        """Set up, then run the warm-up and timed ops back to back, checking
        each; keep the timed ops' results for ``curate_layers``."""
        self.prepare()
        for _ in range(self.warmup):
            self.check(self.op())
        for _ in range(self.min_ops):
            res = self.op()
            res["rows"] = self.check(res)
            self.results.append(res)

    def trace_layers(self, tracer, log, ops):
        return {**engine_metrics(log, ops), **self.curate_layers(tracer, log)}

    def curate_layers(self, tracer: Tracer, log: EventLog) -> dict:
        cur, wr, jobs = [], [], []
        for res in self.results:
            main = res["main_span"]
            spans = tracer.within("curate_job.curate", main)
            if spans:
                cur.append(spans[0].seconds)
                wr.append(main.end - spans[0].end)
            jobs.append(len(log.jobs_in(main)))
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        return {
            "curate.curate_s": med(cur),
            "curate.write_s": med(wr),
            "curate.spark_jobs": med(jobs),
            "curate.docs_dropped": self.results[-1]["curate"]["rows_dropped"] if self.results else 0,
        }


WORKLOADS = {w.name: w for w in (ExtractFresh, AppendIncremental, CurateLadder)}
