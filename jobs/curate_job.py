#!/usr/bin/env python
"""Curation job: the full training-data ladder composed from the repo's
operators as ONE production pipeline over a documents-shaped table.

    spark-submit --py-files dist/pdf_extractor_spark.zip jobs/curate_job.py \
        --input /tables/documents --output /tables/curated \
        [--manifest /tables/curated_drops] [--eval-mod 50] [--pack-budget 2048]

Stages (each stage's drops land in the manifest with a reason; kept +
dropped reconciles to the input count — the completeness discipline of the
extraction pipeline's P5 gate):

  1. pii      — pii_columns: redact emails/phones/SSNs/IPs/URLs in place
                (training continues on the REDACTED text; nothing dropped)
  2. quality  — Gopher-style filters: word_repetition (top-word share,
                distinct ratio) + line_repetition_columns (duplicate-line
                fraction) + minimum length; breaching docs dropped
  3. exact    — sha2 over redacted text, keep min id per hash
  4. neardup  — MinHash+LSH pairs -> connected components, keep component
                canonical (min id)
  5. decontam — 8-gram shingle overlap vs the hash-held-out eval split;
                contaminated TRAIN docs dropped (eval docs pass through
                flagged, for downstream eval-set assembly)
  6. pack     — pack_sequences_distributed: token-budget bin id + offset
                per surviving doc (the training-batch layout)

Scale notes: stages 1-2 are narrow maps + the word-count shuffle; stage 3
shuffles the quality-tagged rows once by content hash; stages 4-5 shuffle
on band/shingle keys only (never full text); stage 6 is the two-pass
range-partitioned cumsum (no per-stratum reducer). Nothing collects rows
to the driver except the final per-reason summary counts.

Prints one JSON summary line.
"""

from __future__ import annotations

import argparse
import json


def curate(
    spark,
    docs,
    eval_mod: int = 50,
    pack_budget: int = 2048,
    min_words: int = 8,
    max_top_word_ppm: int = 200_000,
    max_dup_line_frac: float = 0.3,
):
    """Run the ladder over a documents-shaped DataFrame
    (doc_id, text, lang, ...). Returns (curated_df, manifest_df) where
    curated carries (doc_id, lang, text [redacted], n_tokens, bin_id,
    bin_offset, is_eval) and manifest carries (doc_id, stage, reason).

    Every stage decides once. The quality and exact-dedup verdicts land as
    a nullable (stage, reason) on one checkpointed relation over every
    non-null doc; near-dedup and decontamination run once over its untagged
    rows. The manifest comes back MATERIALIZED (localCheckpoint), so writing
    and counting it runs nothing again; curated is the survivors minus the
    manifest, packed, and its write re-runs no stage either."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pdf_extractor_spark.operators.dedup import minhash_lsh_pairs
    from pdf_extractor_spark.plans.catalog_ext import (
        line_repetition_columns,
        pii_columns,
        shingle_decontaminate,
        word_repetition,
    )
    from pdf_extractor_spark.plans.llm_extras import (
        near_dup_components,
        pack_sequences_distributed,
    )

    def drops(df, stage: str, reason: str):
        return df.select("doc_id", F.lit(stage).alias("stage"), F.lit(reason).alias("reason"))

    # 0. NULL text: the word-metric inner join below sees no exploded rows
    # for it, so route it to the manifest up front or kept+dropped != input
    null_text = drops(docs.where(F.col("text").isNull()), "quality", "null_text")

    # 1. PII scrub: redact in place (no drops)
    docs = docs.where(F.col("text").isNotNull()).select(
        "doc_id", "lang", pii_columns(F.col("text"))["redacted"].alias("text")
    )

    # 2. quality verdict (word metrics need a shuffle; line metrics ride it)
    lc = line_repetition_columns(F.col("text"))
    quality = (
        F.when(F.col("rep_n_words") < min_words, F.lit("too_short"))
        .when(F.col("top_word_share_ppm") > max_top_word_ppm, F.lit("dominant_token"))
        .when(
            lc["n_dup_lines"].cast("double") > lc["n_lines"].cast("double") * max_dup_line_frac,
            F.lit("duplicate_lines"),
        )
    )
    feat = docs.join(word_repetition(docs), "doc_id").select(
        "doc_id", "lang", "text", quality.alias("q")
    )

    # 3. exact-dedup verdict over the quality survivors: keep min doc_id per
    # content hash (a window, so the quality plan is read once)
    keep_id = F.min(F.when(F.col("q").isNull(), F.col("doc_id"))).over(
        Window.partitionBy(F.sha2(F.col("text"), 256))
    )
    survives = F.col("q").isNull() & (F.col("doc_id") == F.col("keep_id"))
    # the one cut: components iterate over it, and the manifest and curated
    # rows both read it. Tagged rows keep no text, so it stores no more text
    # than the survivors alone
    cut = (
        feat.withColumn("keep_id", keep_id)
        .select(
            "doc_id",
            F.when(F.col("q").isNotNull(), F.lit("quality"))
            .when(~survives, F.lit("exact_dedup"))
            .alias("stage"),
            F.coalesce(F.col("q"), F.when(~survives, F.lit("duplicate_content"))).alias("reason"),
            F.when(survives, F.col("lang")).alias("lang"),
            F.when(survives, F.col("text")).alias("text"),
        )
        .localCheckpoint(eager=True)
    )
    live = F.col("stage").isNull()
    alive = cut.where(live).select("doc_id", "lang", "text")

    # 4. near-dedup: LSH pairs -> components, keep canonical
    pairs = minhash_lsh_pairs(alive, threshold=0.9, max_bucket=256)
    comp = near_dup_components(alive.select("doc_id"), pairs)

    # 5. decontamination of the canonical docs vs the hash-held-out eval split
    is_eval = F.col("doc_id") % eval_mod == 0
    canonical = alive.join(comp.where("is_canonical"), "doc_id", "left_semi")
    dec = shingle_decontaminate(canonical, is_eval)

    manifest = (
        null_text.unionByName(cut.where(~live).select("doc_id", "stage", "reason"))
        .unionByName(drops(comp.where(~F.col("is_canonical")), "near_dedup", "near_duplicate"))
        .unionByName(drops(dec.where("contaminated"), "decontam", "eval_overlap"))
        .localCheckpoint(eager=True)
    )

    # 6. sequence packing over survivors
    kept = alive.join(manifest, "doc_id", "left_anti")
    curated = kept.join(pack_sequences_distributed(kept, budget=pack_budget).drop("lang"), "doc_id").select(
        "doc_id", "lang", "text", "n_tokens", "bin_id", "bin_offset", is_eval.alias("is_eval")
    )
    return curated, manifest


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--manifest", default=None)
    p.add_argument("--lineage", default=None, help="curation ledger dir: makes re-runs idempotent")
    p.add_argument("--snapshot-id", default="local")
    p.add_argument("--eval-mod", type=int, default=50)
    p.add_argument("--pack-budget", type=int, default=2048)
    args = p.parse_args()

    import time

    from pyspark.sql import functions as F

    from pdf_extractor_spark.operators.lineage import run_key
    from pdf_extractor_spark.session import get_spark

    spark = get_spark("curate_job")
    run_id = run_key(args.input, args.snapshot_id)

    # snapshot-atomic resume: curation is corpus-global (dedup and the eval
    # shingle set need the whole snapshot), so the resume unit is the RUN,
    # not the file. All writes below are mode=overwrite and the ledger
    # commit lands LAST — a crash at any point replays cleanly; a committed
    # run is skipped outright.
    if args.lineage:
        try:
            done = (
                spark.read.parquet(args.lineage)
                .where((F.col("run_id") == run_id) & (F.col("status") == "done"))
                .limit(1)
                .count()
            )
        except Exception:
            done = 0
        if done:
            print(json.dumps({"run_id": run_id, "skipped": True, "reason": "already_committed"}))
            spark.stop()
            return

    from pyspark.sql import Observation

    docs = spark.read.parquet(args.input)
    n_in = docs.count()
    curated, manifest = curate(spark, docs, eval_mod=args.eval_mod, pack_budget=args.pack_budget)
    # n_out rides the write via observe() — no re-read of the output
    obs_out = Observation()
    curated = curated.observe(obs_out, F.count(F.lit(1)).alias("n"))
    curated.write.mode("overwrite").parquet(args.output)
    n_out = obs_out.get["n"]
    # the manifest is materialized: its write and the census below read the
    # same rows and run no stage again
    if args.manifest:
        manifest.write.mode("overwrite").parquet(args.manifest)
    drops = {
        f"{r['stage']}:{r['reason']}": r["n"]
        for r in manifest.groupBy("stage", "reason").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    summary = {
        "run_id": run_id,
        "rows_in": n_in,
        "rows_out": n_out,
        "rows_dropped": sum(drops.values()),
        "drops": drops,
        "complete": n_out + sum(drops.values()) == n_in,
    }
    if args.lineage:
        spark.createDataFrame(
            [(run_id, args.snapshot_id, "done", n_in, n_out, float(time.time()))],
            "run_id string, snapshot_id string, status string, rows_in long, rows_out long, ts double",
        ).write.mode("append").parquet(args.lineage)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
