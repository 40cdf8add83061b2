"""Catalog extension: training-data pipeline operators (dedup ladder,
similarity search, text analysis, fuzzy matching) as (Spark impl, DuckDB
oracle) pairs. Merged into the driver registry by plans.catalog.

Cross-engine determinism: every hash is the md5-prefix h32
(functions/text.py), every float is fixed-point floored, every top-k has a
total-order tiebreak — so the oracle reproduces results exactly, not
statistically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    BPE_ISH_PATTERN,
    bpe_ish_token_count,
    h32_sql,
    levenshtein_ratio,
    rolling_fingerprint,
    rolling_fingerprint_sql,
    token_sort_key,
)
from ..operators.dedup import (
    N_BANDS,
    N_HASHES,
    ROWS_PER_BAND,
    SIMHASH_BITS,
    minhash_lsh_pairs,
    simhash_docs,
)
from ..operators.similarity import cosine_near_dup_pairs, ivf_topk


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# dedup ladder
# ---------------------------------------------------------------------------

def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4x4) near-dup pairs verified with exact Jaccard>=0.9
    (operators/dedup.py; scale notes there). Bounded to doc_id<500 at the
    gate; the full-corpus path is identical."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    return minhash_lsh_pairs(docs, threshold=0.9)


def q_dedup_minhash_full_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH over the FULL documents table with the bucket cap engaged
    (max_bucket=64): the production configuration. On the dup-dense synthetic
    corpus the cap removes the quadratic mega-bucket blowup (sf0.1: ~1M
    pairs/~30s uncapped -> a few hundred pairs in ~2s capped); surviving
    pairs are genuine near-dups outside boilerplate-identical clusters."""
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, threshold=0.9, max_bucket=64)


def _minhash_lsh_oracle(where: str = "doc_id < 500", cap: int | None = None) -> str:
    from ..operators.dedup import MINHASH_A, MINHASH_B, MINHASH_PRIME

    mh = ",\n    ".join(
        f"list_min([({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MINHASH_PRIME}"
        f" for h in hs]) AS mh{i}"
        for i in range(N_HASHES)
    )
    bands = ",\n    ".join(
        "md5(concat_ws(','"
        + "".join(f", mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        + f")) AS band{b}"
        for b in range(N_BANDS)
    )
    band_structs = ", ".join(
        f"{{'band_id': {b}, 'key': band{b}}}" for b in range(N_BANDS)
    )
    if cap is None:
        cand_src = "bands"
        cap_ctes = ""
    else:
        cand_src = "bkept"
        cap_ctes = f""",
        bsized AS (
          SELECT bid, band_id, key,
                 COUNT(*) OVER (PARTITION BY band_id, key) AS bn
          FROM bands),
        bkept AS (SELECT bid, band_id, key FROM bsized WHERE bn <= {cap})"""
    return f"""
        WITH toks AS (
          SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
          FROM documents WHERE {where}
            AND len(list_distinct(string_split(text, ' '))) > 0),
        toksh AS (
          SELECT doc_id, toks, [{h32_sql('t')} for t in toks] AS hs
          FROM toks),
        sig AS (
          SELECT doc_id, toks,
    {mh}
          FROM toksh),
        sigb AS (
          SELECT doc_id,
    {bands}
          FROM sig),
        bands AS (
          SELECT doc_id AS bid, u.s.band_id AS band_id, u.s.key AS key
          FROM (SELECT doc_id, unnest([{band_structs}]) AS s FROM sigb) u){cap_ctes},
        cand AS (
          SELECT DISTINCT a.bid AS d1, b.bid AS d2
          FROM {cand_src} a JOIN {cand_src} b
            ON a.band_id = b.band_id AND a.key = b.key AND a.bid < b.bid),
        j AS (
          SELECT d1, d2,
                 FLOOR(len(list_intersect(t1.toks, t2.toks))::DOUBLE
                       / (len(t1.toks) + len(t2.toks)
                          - len(list_intersect(t1.toks, t2.toks)))
                       * 10000 + 0.5) / 10000.0 AS jaccard
          FROM cand
          JOIN toks t1 ON t1.doc_id = d1
          JOIN toks t2 ON t2.doc_id = d2)
        SELECT d1, d2, jaccard FROM j WHERE jaccard >= 0.9
    """


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash sketch per document (operators/dedup.py)."""
    return simhash_docs(_t(spark, sf_dir, "documents"))


def _simhash_oracle() -> str:
    h = h32_sql("tok")
    sums = ",\n    ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    combine = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(SIMHASH_BITS)
    )
    return f"""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        hashed AS (
          SELECT doc_id, {h} AS h FROM tok WHERE length(tok) > 0),
        sums AS (
          SELECT doc_id,
    {sums}
          FROM hashed GROUP BY doc_id)
        SELECT doc_id, CAST({combine} AS BIGINT) AS simhash FROM sums
    """


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with pigeonhole 8-bit-band candidates and
    bit_count(xor) verification (operators/dedup.py simhash_pairs)."""
    from ..operators.dedup import simhash_pairs

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    return simhash_pairs(docs, max_hamming=3)


def _simhash_pairs_oracle() -> str:
    h = h32_sql("tok")
    sums = ",\n    ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    combine = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(SIMHASH_BITS)
    )
    band_structs = ", ".join(
        f"{{'band_id': {b}, 'val': (simhash >> {8 * b}) & 255}}" for b in range(4)
    )
    return f"""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents WHERE doc_id < 400),
        hashed AS (
          SELECT doc_id, {h} AS h FROM tok WHERE length(tok) > 0),
        sums AS (
          SELECT doc_id,
    {sums}
          FROM hashed GROUP BY doc_id),
        sh AS (SELECT doc_id, CAST({combine} AS BIGINT) AS simhash FROM sums),
        bands AS (
          SELECT doc_id AS bid, simhash, u.s.band_id AS band_id, u.s.val AS band_val
          FROM (SELECT doc_id, simhash, unnest([{band_structs}]) AS s FROM sh) u),
        cand AS (
          SELECT DISTINCT a.bid AS d1, b.bid AS d2,
                 CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.bid < b.bid)
        SELECT d1, d2, hamming FROM cand WHERE hamming <= 3
    """


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (operators/similarity.py)."""
    return cosine_near_dup_pairs(_t(spark, sf_dir, "embeddings"), max_id=200, threshold=0.4)


_EMB_COSINE_ORACLE = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
               FROM embeddings WHERE vec_id < 200),
    p AS (
      SELECT a.vec_id AS v1, b.vec_id AS v2,
             FLOOR(list_dot_product(a.emb, b.emb)
                   / (sqrt(list_dot_product(a.emb, a.emb))
                      * sqrt(list_dot_product(b.emb, b.emb)))
                   * 10000 + 0.5) / 10000.0 AS cosine
      FROM e a JOIN e b ON a.vec_id < b.vec_id)
    SELECT v1, v2, cosine FROM p WHERE cosine >= 0.4
"""


# ---------------------------------------------------------------------------
# similarity search (IVF)
# ---------------------------------------------------------------------------

def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: nearest-centroid assignment, probe own cluster
    only (operators/similarity.py; the 100TB path vs brute force)."""
    return ivf_topk(_t(spark, sf_dir, "embeddings"), query_ids=(20, 30), k=3, n_centroids=8)


_IVF_ORACLE = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    cents AS (SELECT vec_id AS cent_id, emb AS ce FROM e WHERE vec_id < 8),
    assigned AS (
      SELECT vec_id, emb, cent_id AS cluster
      FROM (SELECT e.vec_id, e.emb, c.cent_id,
                   list_dot_product(e.emb, c.ce)
                     / (sqrt(list_dot_product(e.emb, e.emb))
                        * sqrt(list_dot_product(c.ce, c.ce))) AS ccos
            FROM e CROSS JOIN cents c)
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY ccos DESC, cent_id) = 1),
    q AS (SELECT vec_id AS query_id, emb AS qe, cluster AS qc
          FROM assigned WHERE vec_id >= 20 AND vec_id < 30),
    scored AS (
      SELECT q.query_id, a.vec_id AS neighbor_id,
             list_dot_product(a.emb, q.qe)
               / (sqrt(list_dot_product(a.emb, a.emb))
                  * sqrt(list_dot_product(q.qe, q.qe))) AS cos
      FROM assigned a JOIN q ON a.cluster = q.qc AND a.vec_id <> q.query_id)
    SELECT query_id, neighbor_id,
           FLOOR(cos * 10000 + 0.5) / 10000.0 AS cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= 3
"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

_LANG_SETS = {
    "en": ("the", "a", "of", "and", "to"),
    "sql": ("table", "row", "scan", "join", "group"),
    "stream": ("stream", "batch", "window", "event"),
}


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wordset-overlap language/domain ID heuristic (the n-gram language-ID
    shape over the synthetic vocabulary): count hits per wordset, argmax with
    fixed precedence en > sql > stream."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")

    def _hits(kw: tuple[str, ...]):
        # single-arg lambda (a 2-arg lambda would receive (element, index))
        return F.size(F.filter(toks, lambda x: x.isin(*kw))).cast("long")

    n = {k: _hits(kw) for k, kw in _LANG_SETS.items()}
    guess = (
        F.when((n["en"] >= n["sql"]) & (n["en"] >= n["stream"]), F.lit("en"))
        .when(n["sql"] >= n["stream"], F.lit("sql"))
        .otherwise(F.lit("stream"))
    )
    return docs.select(
        "doc_id",
        guess.alias("lang_guess"),
        n["en"].alias("n_en"),
        n["sql"].alias("n_sql"),
        n["stream"].alias("n_stream"),
    )


def _langid_oracle() -> str:
    def inlist(kw):
        return "(" + ",".join(f"'{w}'" for w in kw) + ")"

    sets = {
        k: f"len(list_filter(string_split(text, ' '), x -> x IN {inlist(kw)}))"
        for k, kw in _LANG_SETS.items()
    }
    return f"""
        WITH t AS (
          SELECT doc_id, {sets['en']} AS n_en, {sets['sql']} AS n_sql,
                 {sets['stream']} AS n_stream
          FROM documents)
        SELECT doc_id,
               CASE WHEN n_en >= n_sql AND n_en >= n_stream THEN 'en'
                    WHEN n_sql >= n_stream THEN 'sql'
                    ELSE 'stream' END AS lang_guess,
               n_en, n_sql, n_stream
        FROM t
    """


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automated Readability Index (quality-filter feature): pure arithmetic
    over char/word/sentence counts — 4.71*(chars/words) + 0.5*(words/
    sentences) - 21.43, 6-dp fixed point."""
    docs = _t(spark, sf_dir, "documents")
    words = F.size(F.split(F.col("text"), " ")).cast("double")
    chars = F.length(F.regexp_replace(F.col("text"), r"\s", "")).cast("double")
    sents = F.greatest(F.size(F.split(F.col("text"), r"\. ")), F.lit(1)).cast("double")
    ari = 4.71 * (chars / words) + 0.5 * (words / sents) - 21.43
    return docs.select(
        "doc_id",
        (F.floor(ari * 1000000.0 + F.lit(0.5)) / 1000000.0).alias("ari"),
        words.cast("long").alias("n_words"),
        sents.cast("long").alias("n_sentences"),
    )


_READABILITY_ORACLE = r"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS words,
             CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) AS chars,
             CAST(greatest(len(string_split_regex(text, '\. ')), 1) AS DOUBLE) AS sents
      FROM documents)
    SELECT doc_id,
           FLOOR((4.71 * (chars / words) + 0.5 * (words / sents) - 21.43)
                 * 1000000.0 + 0.5) / 1000000.0 AS ari,
           CAST(words AS BIGINT) AS n_words,
           CAST(sents AS BIGINT) AS n_sentences
    FROM t
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint: min h32 over all 8-char shingles
    (functions/text.py rolling_fingerprint) — winnowing-style content id."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", rolling_fingerprint(F.col("text"), 8).alias("fingerprint"))


def q_text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token count under the BPE-ish pre-tokenizer regex."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"))


# ---------------------------------------------------------------------------
# PII scrub + repetition signals (round 4: the two standard pretraining-
# pipeline text gates the inventory lacked — Gopher/MassiveText-style
# repetition rules and regex PII redaction)
# ---------------------------------------------------------------------------

# PII patterns chosen for identical semantics under Java regex (Spark) and
# RE2 (DuckDB): ASCII classes, \b word boundaries, bounded quantifiers only.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"
_PII_SSN = r"\b\d{3}-\d{2}-\d{4}\b"  # 3-2-4 grouping: disjoint from phone's 3-3-4
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_URL = r"https?://[A-Za-z0-9./_-]+"


def _pii_augmented(docs: DataFrame) -> F.Column:
    """Deterministic PII exemplar injection (the _BAD_TURNS discipline,
    plans/catalog_ext2.py: synthetic corpora carry no PII, and a scrub gate
    that never fires is vacuous — the r2 quarantine lesson). Every doc_id
    residue class gets a different PII shape appended; the oracle builds the
    byte-identical augmented text in SQL."""
    did = F.col("doc_id")
    t = F.col("text")
    return (
        F.when(did % 5 == 0, F.concat(t, F.lit(" contact user"), did.cast("string"), F.lit("@example.com now")))
        .when(did % 5 == 1, F.concat(t, F.lit(" call 415-555-01"), (did % 10).cast("string"), (did % 7).cast("string"), F.lit(" or 303-555-0100")))
        .when(did % 5 == 2, F.concat(t, F.lit(" ssn 123-45-98"), (did % 10).cast("string"), (did % 3).cast("string"), F.lit(" on file")))
        .when(did % 5 == 3, F.concat(t, F.lit(" from 10.0."), (did % 256).cast("string"), F.lit(".7 see https://docs.example.org/guide page")))
        .otherwise(t)
    )


_PII_AUG_SQL = """
    CASE doc_id % 5
      WHEN 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
      WHEN 1 THEN text || ' call 415-555-01' || CAST(doc_id % 10 AS VARCHAR) || CAST(doc_id % 7 AS VARCHAR) || ' or 303-555-0100'
      WHEN 2 THEN text || ' ssn 123-45-98' || CAST(doc_id % 10 AS VARCHAR) || CAST(doc_id % 3 AS VARCHAR) || ' on file'
      WHEN 3 THEN text || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 see https://docs.example.org/guide page'
      ELSE text
    END
"""


def pii_columns(text: F.Column) -> dict[str, F.Column]:
    """The production PII op: native-regexp feature + redaction columns over
    ANY text column (stateless map, whole-stage-codegen'd, no shuffle).
    ``redacted`` is the full text with each PII class replaced by its
    placeholder token. The gate below applies these to the
    exemplar-augmented input; jobs/curate_job.py applies them to raw text.

    Semantics (intentional, mirrored by the oracle — r5 ADVICE note):
    the ``n_*`` columns are RAW-TEXT occurrence counts, independent of
    redaction order — an email or IP embedded inside a URL path is counted
    in its own class even though the <URL> replacement consumes those bytes
    first. And ``_PII_URL`` deliberately stops at the path (no ``?&%:``):
    query strings survive redaction by design, because the email/SSN/phone
    passes still scrub any PII that appears there; widening the URL class
    to eat query strings would instead HIDE those matches from the count
    columns. Counts are a detection census, not a redaction audit."""
    red = F.regexp_replace(text, _PII_EMAIL, "<EMAIL>")
    red = F.regexp_replace(red, _PII_URL, "<URL>")
    red = F.regexp_replace(red, _PII_SSN, "<SSN>")
    red = F.regexp_replace(red, _PII_PHONE, "<PHONE>")
    red = F.regexp_replace(red, _PII_IP, "<IP>")
    return {
        "n_emails": F.regexp_count(text, F.lit(_PII_EMAIL)).cast("long"),
        "n_phones": F.regexp_count(text, F.lit(_PII_PHONE)).cast("long"),
        "n_ssns": F.regexp_count(text, F.lit(_PII_SSN)).cast("long"),
        "n_ips": F.regexp_count(text, F.lit(_PII_IP)).cast("long"),
        "n_urls": F.regexp_count(text, F.lit(_PII_URL)).cast("long"),
        "url_domain": F.regexp_extract(text, r"https?://([A-Za-z0-9.-]+)", 1),
        "redacted": red,
    }


def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact gate: pii_columns over the exemplar-augmented
    corpus, redaction evidenced by the tail of the redacted text (where the
    injected PII lives)."""
    docs = _t(spark, sf_dir, "documents")
    c = pii_columns(_pii_augmented(docs))
    return docs.select(
        "doc_id",
        c["n_emails"].alias("n_emails"),
        c["n_phones"].alias("n_phones"),
        c["n_ssns"].alias("n_ssns"),
        c["n_ips"].alias("n_ips"),
        c["n_urls"].alias("n_urls"),
        c["url_domain"].alias("url_domain"),
        F.right(c["redacted"], F.lit(60)).alias("redacted_tail"),
    )


def _pii_oracle() -> str:
    def cnt(pat: str) -> str:
        return f"CAST(len(regexp_extract_all(atext, '{pat}')) AS BIGINT)"

    return f"""
        WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS atext FROM documents),
        red AS (SELECT doc_id, atext,
            regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
              atext, '{_PII_EMAIL}', '<EMAIL>', 'g'), '{_PII_URL}', '<URL>', 'g'),
              '{_PII_SSN}', '<SSN>', 'g'), '{_PII_PHONE}', '<PHONE>', 'g'),
              '{_PII_IP}', '<IP>', 'g') AS rtext
          FROM aug)
        SELECT doc_id,
               {cnt(_PII_EMAIL)} AS n_emails,
               {cnt(_PII_PHONE)} AS n_phones,
               {cnt(_PII_SSN)} AS n_ssns,
               {cnt(_PII_IP)} AS n_ips,
               {cnt(_PII_URL)} AS n_urls,
               regexp_extract(atext, 'https?://([A-Za-z0-9.-]+)', 1) AS url_domain,
               right(rtext, 60) AS redacted_tail
        FROM red
    """


_REP_AUG_SQL = """
    CASE doc_id % 4
      WHEN 1 THEN text || chr(10) || 'repeated filler line' || chr(10) || 'repeated filler line' || chr(10) || '- bullet item' || chr(10) || 'section trails off...'
      WHEN 3 THEN text || chr(10) || '- alpha' || chr(10) || '- beta' || chr(10) || 'unique closing line'
      ELSE text
    END
"""


def _rep_augmented() -> F.Column:
    did = F.col("doc_id")
    t = F.col("text")
    return (
        F.when(did % 4 == 1, F.concat(t, F.lit("\nrepeated filler line\nrepeated filler line\n- bullet item\nsection trails off...")))
        .when(did % 4 == 3, F.concat(t, F.lit("\n- alpha\n- beta\nunique closing line")))
        .otherwise(t)
    )


def word_repetition(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Word-level repetition metrics (the dominant-token rule) via the
    distributed word-count shape: explode -> two-level partial agg — the
    100 TB formulation. top_word_share_ppm uses integer div — no float
    round-trip to flap a value hash."""
    words = docs.select(id_col, F.explode(F.split(F.col(text_col), " ")).alias("word"))
    return (
        words.groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("rep_n_words"),
            F.count(F.lit(1)).alias("rep_n_distinct"),
            F.max("c").alias("maxc"),
        )
        .select(
            id_col,
            "rep_n_words",
            "rep_n_distinct",
            F.expr("(maxc * 1000000) div rep_n_words").alias("top_word_share_ppm"),
        )
    )


def line_repetition_columns(text: F.Column) -> dict[str, F.Column]:
    """Line-level repetition signals via native higher-order array functions
    (narrow map): duplicate / bullet / ellipsis line counts."""
    lines = F.split(text, "\n")
    return {
        "n_lines": F.size(lines).cast("long"),
        "n_dup_lines": (F.size(lines) - F.size(F.array_distinct(lines))).cast("long"),
        "n_bullet_lines": F.size(F.filter(lines, lambda x: x.startswith("- "))).cast("long"),
        "n_ellipsis_lines": F.size(F.filter(lines, lambda x: x.endswith("..."))).cast("long"),
    }


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style repetition gate: word_repetition over the raw
    corpus joined with line_repetition_columns over an injected multi-line
    exemplar (the corpus is single-line; the oracle injects
    byte-identically)."""
    docs = _t(spark, sf_dir, "documents")
    wm = word_repetition(docs)
    lc = line_repetition_columns(_rep_augmented())
    lm = docs.select(
        "doc_id",
        lc["n_lines"].alias("n_lines"),
        lc["n_dup_lines"].alias("n_dup_lines"),
        lc["n_bullet_lines"].alias("n_bullet_lines"),
        lc["n_ellipsis_lines"].alias("n_ellipsis_lines"),
    )
    return wm.join(lm, "doc_id")


_REPETITION_ORACLE = f"""
    WITH wc AS (
      SELECT doc_id, w AS word, count(*) AS c
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY doc_id, w),
    wm AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS rep_n_words,
             CAST(COUNT(*) AS BIGINT) AS rep_n_distinct,
             CAST(MAX(c) AS BIGINT) AS maxc
      FROM wc GROUP BY doc_id),
    aug AS (SELECT doc_id, {_REP_AUG_SQL} AS atext FROM documents),
    lm AS (
      SELECT doc_id,
             CAST(len(string_split(atext, chr(10))) AS BIGINT) AS n_lines,
             CAST(len(string_split(atext, chr(10))) - len(list_distinct(string_split(atext, chr(10)))) AS BIGINT) AS n_dup_lines,
             CAST(len(list_filter(string_split(atext, chr(10)), x -> x LIKE '- %')) AS BIGINT) AS n_bullet_lines,
             CAST(len(list_filter(string_split(atext, chr(10)), x -> x LIKE '%...')) AS BIGINT) AS n_ellipsis_lines
      FROM aug)
    SELECT wm.doc_id, rep_n_words, rep_n_distinct,
           (maxc * 1000000) // rep_n_words AS top_word_share_ppm,
           n_lines, n_dup_lines, n_bullet_lines, n_ellipsis_lines
    FROM wm JOIN lm ON wm.doc_id = lm.doc_id
"""


# benchmark decontamination (round 4): the standard pretraining hygiene op —
# flag training documents sharing long n-gram shingles with a held-out eval
# set. Planted-passage injection keeps the gate non-vacuous independent of
# the corpus; on top of that the synthetic corpus's deliberate near-duplicate
# docs (planted for the dedup operators) are caught whenever their twin lands
# in the eval split — the verbatim-leak class this op exists for (pinned in
# tests/test_rules_units.py).

_DECON_PASSAGE = (
    " the quick benchmark passage that must never leak into training data"
)  # 11 words; vocabulary disjoint from the synthetic soup


def shingle_array(text: F.Column, n: int = 8) -> F.Column:
    """Distinct n-gram word shingles of a text column as an array (narrow
    higher-order map). Guard: Spark sequence(1, k) with k < 1 infers a
    DESCENDING step — DuckDB's generate_series returns empty instead; the
    when() makes short-text behavior identical across engines."""
    w = F.split(text, " ")
    return F.when(
        F.size(w) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(w) - (n - 1)),
                lambda i: F.array_join(F.slice(w, i, n), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingle_decontaminate(
    docs: DataFrame,
    eval_pred: F.Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """The production decontamination op: per-doc distinct-shingle count,
    count of shingles shared with the ``eval_pred`` held-out split, and the
    contamination flag. Plan shape at 100 TB: shingling is a narrow map; the
    eval shingle set is DISTINCT-reduced then broadcast, so the
    contamination count is a map-side semi-join + partial agg — the fact
    table is never shuffled by shingle."""
    # explode_outer, and count(shingle) not count(*): a doc with fewer than
    # n words has ZERO shingles, and a plain explode would drop it from the
    # output entirely — silently losing the doc at any downstream 1:1 join
    # (round-4 review fix; jobs/curate_job.py relies on this op being total)
    sh = docs.select(
        F.col(id_col), eval_pred.alias("is_eval"), F.explode_outer(shingle_array(F.col(text_col), n)).alias("shingle")
    )
    ev = (
        sh.where(F.col("is_eval") & F.col("shingle").isNotNull())
        .select("shingle")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        sh.join(F.broadcast(ev), "shingle", "left")
        .groupBy(id_col, "is_eval")
        .agg(
            F.count(F.col("shingle")).alias("decon_n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("decon_n_contam"),
        )
        .select(
            id_col,
            "decon_n_shingles",
            "decon_n_contam",
            "is_eval",
            (~F.col("is_eval") & (F.col("decon_n_contam") > 0)).alias("contaminated"),
        )
    )


def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-gram shingle decontamination gate: shingle_decontaminate over the
    planted-passage-augmented corpus with eval split doc_id % 50 == 0,
    byte-identical in the oracle."""
    docs = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.when(
            (F.col("doc_id") % 50 == 0) | (F.col("doc_id") % 7 == 3), F.lit(_DECON_PASSAGE)
        ).otherwise(F.lit("")),
    )
    return shingle_decontaminate(
        docs.select("doc_id", aug.alias("text")), F.col("doc_id") % 50 == 0
    )


_DECON_ORACLE = f"""
    WITH aug AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 50 = 0 OR doc_id % 7 = 3
                          THEN '{_DECON_PASSAGE}' ELSE '' END AS atext
      FROM documents),
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(string_split(atext, ' ')) - 7),
               i -> array_to_string(string_split(atext, ' ')[i:i+7], ' ')))) AS shingle
      FROM aug),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
    cnt AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS decon_n_shingles,
             CAST(count(*) FILTER (WHERE shingle IN (SELECT shingle FROM ev)) AS BIGINT) AS decon_n_contam
      FROM sh GROUP BY doc_id)
    -- LEFT JOIN from the doc universe: a doc with < 8 words has zero
    -- shingles and no cnt row, but must still appear (mirrors the Spark
    -- side's explode_outer totality)
    SELECT a.doc_id, COALESCE(decon_n_shingles, 0) AS decon_n_shingles,
           COALESCE(decon_n_contam, 0) AS decon_n_contam,
           a.doc_id % 50 = 0 AS is_eval,
           (a.doc_id % 50 <> 0 AND COALESCE(decon_n_contam, 0) > 0) AS contaminated
    FROM aug a LEFT JOIN cnt ON a.doc_id = cnt.doc_id
"""


# ---------------------------------------------------------------------------
# fuzzy matching (J2)
# ---------------------------------------------------------------------------

def q_j2_fuzzy_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 fuzzy best-match join (organizer_extractor.py:603-658): token-sort
    Levenshtein ratio of each part name against a small broadcast dimension;
    top-1 per left row with deterministic tiebreak. Levenshtein (not InDel)
    — see functions/text.py levenshtein_ratio parity note."""
    part = _t(spark, sf_dir, "part")
    left = part.where((F.col("p_partkey") >= 50) & (F.col("p_partkey") < 250)).select(
        "p_partkey", "p_name", token_sort_key(F.col("p_name")).alias("lkey")
    )
    dim = F.broadcast(
        part.where(F.col("p_partkey") < 50)
        .select(F.col("p_name").alias("matched_name"))
        .distinct()
        .select("matched_name", token_sort_key(F.col("matched_name")).alias("rkey"))
    )
    scored = left.crossJoin(dim).select(
        "p_partkey",
        "p_name",
        "matched_name",
        levenshtein_ratio(F.col("lkey"), F.col("rkey")).alias("match_ratio"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("p_partkey").orderBy(
        F.col("match_ratio").desc(), F.col("matched_name")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("p_partkey", "p_name", "matched_name", "match_ratio")
    )


_J2_ORACLE = """
    WITH lft AS (
      SELECT p_partkey, p_name,
             array_to_string(list_sort(string_split(lower(p_name), ' ')), ' ') AS lkey
      FROM part WHERE p_partkey >= 50 AND p_partkey < 250),
    dim AS (
      SELECT matched_name,
             array_to_string(list_sort(string_split(lower(matched_name), ' ')), ' ') AS rkey
      FROM (SELECT DISTINCT p_name AS matched_name FROM part WHERE p_partkey < 50)),
    scored AS (
      SELECT p_partkey, p_name, matched_name,
             FLOOR((1.0 - levenshtein(lkey, rkey)::DOUBLE
                    / greatest(length(lkey) + length(rkey), 1))
                   * 10000 + 0.5) / 10000.0 AS match_ratio
      FROM lft CROSS JOIN dim)
    SELECT p_partkey, p_name, matched_name, match_ratio
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY p_partkey
                               ORDER BY match_ratio DESC, matched_name) = 1
"""


_FINGERPRINT_ORACLE = f"""
    SELECT doc_id, {rolling_fingerprint_sql('text', 8)} AS fingerprint
    FROM documents
"""

_BPE_ORACLE = f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS BIGINT)
             AS n_bpe_tokens
    FROM documents
"""


def q_set_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops beyond the reference's union-all: customers appearing in both
    order halves (INTERSECT) and only in the first (EXCEPT), tagged."""
    orders = _t(spark, sf_dir, "orders")
    first = orders.where(F.col("o_orderkey") % 2 == 0).select("o_custkey")
    second = orders.where(F.col("o_orderkey") % 2 == 1).select("o_custkey")
    both = first.intersect(second).withColumn("membership", F.lit("both"))
    # subtract == SQL set EXCEPT (distinct); exceptAll would leak rows whose
    # multiplicity in `first` exceeds that in `second`
    only_first = first.subtract(second).withColumn("membership", F.lit("only_even"))
    return both.unionByName(only_first)


_SETOPS_ORACLE = """
    WITH f AS (SELECT o_custkey FROM orders WHERE o_orderkey % 2 = 0),
    s AS (SELECT o_custkey FROM orders WHERE o_orderkey % 2 = 1)
    SELECT o_custkey, 'both' AS membership FROM (SELECT o_custkey FROM f INTERSECT SELECT o_custkey FROM s)
    UNION ALL
    SELECT o_custkey, 'only_even' AS membership FROM (SELECT DISTINCT o_custkey FROM f EXCEPT SELECT o_custkey FROM s)
"""


def q_dedup_trigram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram Jaccard near-dup pairs: shingle set = distinct
    3-char windows, pairwise Jaccard >= 0.8 on a bounded subset. The
    char-shingle variant catches near-dups that word-level tokens miss
    (reordered/merged words); MinHash over the same shingles is the scale
    path."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 150)
    idx = F.sequence(F.lit(1), F.greatest(F.length("text") - 2, F.lit(1)))
    sh = F.array_distinct(
        F.transform(idx, lambda i: F.col("text").substr(i, F.lit(3)))
    )
    g = docs.select("doc_id", sh.alias("sh")).where(F.size("sh") > 0)
    a = g.select(F.col("doc_id").alias("d1"), F.col("sh").alias("s1"))
    b = g.select(F.col("doc_id").alias("d2"), F.col("sh").alias("s2"))
    pairs = a.join(F.broadcast(b), F.col("d1") < F.col("d2"))
    inter = F.size(F.array_intersect("s1", "s2")).cast("double")
    union = F.size("s1") + F.size("s2") - F.size(F.array_intersect("s1", "s2"))
    jac = F.floor(inter / union * 10000 + F.lit(0.5)) / 10000.0
    return pairs.select("d1", "d2", jac.alias("jaccard")).where(
        F.col("jaccard") >= 0.8
    )


_TRIGRAM_ORACLE = """
    WITH g AS (
      SELECT doc_id,
             list_distinct([substr(text, CAST(i AS INT), 3)
                            for i in range(1, greatest(length(text) - 2, 1) + 1)]) AS sh
      FROM documents WHERE doc_id < 150),
    p AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2,
             len(list_intersect(a.sh, b.sh))::DOUBLE AS inter,
             len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS un
      FROM g a JOIN g b ON a.doc_id < b.doc_id
      WHERE len(a.sh) > 0 AND len(b.sh) > 0)
    SELECT d1, d2, FLOOR(inter / un * 10000 + 0.5) / 10000.0 AS jaccard
    FROM p WHERE FLOOR(inter / un * 10000 + 0.5) / 10000.0 >= 0.8
"""


ORACLES_EXT: dict[str, str] = {
    "set_intersect_except": _SETOPS_ORACLE,
    "dedup_trigram_jaccard": _TRIGRAM_ORACLE,
    "dedup_minhash_lsh": _minhash_lsh_oracle(),
    "dedup_minhash_full_capped": _minhash_lsh_oracle(where="TRUE", cap=64),
    "dedup_simhash": _simhash_oracle(),
    "dedup_simhash_pairs": _simhash_pairs_oracle(),
    "dedup_embedding_cosine": _EMB_COSINE_ORACLE,
    "sim_ivf_topk": _IVF_ORACLE,
    "text_langid": _langid_oracle(),
    "text_fingerprint": _FINGERPRINT_ORACLE,
    "text_readability": _READABILITY_ORACLE,
    "text_bpe_token_count": _BPE_ORACLE,
    "text_pii_scrub": _pii_oracle(),
    "text_repetition": _REPETITION_ORACLE,
    "text_decontaminate": _DECON_ORACLE,
    "j2_fuzzy_topk": _J2_ORACLE,
}
