"""Corpus-quality operators: repetition metrics, PII redaction, and
cross-document boilerplate removal — the filtering stages of an
LLM-training-data pipeline that sit between raw ingest and dedup.

All hot-path logic is built-in string/array/aggregate expressions
(JVM-side, whole-stage codegen); no Python UDFs.

Scale design (100 TB):
- t17 is a PURE MAP: every metric is intra-document, so all five derive
  in-row from array expressions — size(), array_distinct(), and a
  run-length fold over the sorted token array (top-word/top-bigram
  counts are the longest equal run after array_sort). Zero shuffle
  bytes at any corpus size; the only exchange in the plan is the
  fan_out repartition of the single-file test input. The earlier
  explode→(doc_id, token) groupBy shape shuffled every token and was
  measured 4x slower at sf0.1 (SCALING.md round-9).
- t18 is purely per-row regexp work: zero shuffle, one codegen span.
- t19's global line-frequency table is the one genuinely corpus-wide
  shuffle (groupBy line digest); at 100 TB the key is sha2(line) (fixed
  32-byte key, same trick as t05) and the frequent-line table it yields
  is tiny (boilerplate is by definition heavy-hitter lines), so the
  join-back qualifies for a broadcast. Test scale joins on the raw line.

Reference parity: no analog in the reference relay (app/app.py); part of
the driver's LLM-pipeline extension mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import fan_out, table

# ---------------------------------------------------------------------------
# t17 — intra-document repetition metrics (Gopher-style quality signals:
# Rae et al. 2021, "Scaling Language Models", App. A1.1): duplicate-word
# fraction, top-word fraction, top-bigram fraction. High values mark
# degenerate/templated documents that repetition-sensitive LM training
# filters out.
# ---------------------------------------------------------------------------
# zip_with over two aligned slices, not transform+element_at: the indexed
# lambda re-resolves the outer array per element and benches ~2.5x slower.
BIGRAM_EXPR = (
    "zip_with(slice(words, 1, size(words) - 1),"
    " slice(words, 2, size(words) - 1), (a, b) -> concat(a, ' ', b))"
)

SQL_BIGRAMS = (
    "list_transform(generate_series(1, len(words) - 1),"
    " i -> words[i] || ' ' || words[i + 1])"
)


# Longest equal run in the sorted array == the max per-token count, found
# by one linear fold (O(k log k) sort + O(k) scan per doc, all JVM-side).
# The '' initial prev is safe: run starts at 0, so a leading '' token
# still counts from 1.
_TOP_RUN_EXPR = (
    "aggregate(array_sort({arr}), "
    "struct(CAST('' AS STRING) AS prev, CAST(0 AS BIGINT) AS run, "
    "CAST(0 AS BIGINT) AS best), "
    "(acc, w) -> IF(w = acc.prev, "
    "struct(w AS prev, acc.run + CAST(1 AS BIGINT) AS run, "
    "GREATEST(acc.best, acc.run + CAST(1 AS BIGINT)) AS best), "
    "struct(w AS prev, CAST(1 AS BIGINT) AS run, "
    "GREATEST(acc.best, CAST(1 AS BIGINT)) AS best)), "
    "acc -> acc.best)"
)


def t17_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        fan_out(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
        .withColumn("words", F.split("text", " "))
        # single-word docs have no bigrams; the explode shape dropped them
        # via its inner join on the empty bigram aggregate — same contract
        .filter(F.size("words") >= 2)
        .withColumn("bigrams", F.expr(BIGRAM_EXPR))
    )
    return (
        docs.select(
            "doc_id",
            F.size("words").cast("long").alias("n_words"),
            F.size(F.array_distinct("words")).cast("long").alias(
                "n_distinct_words"
            ),
            F.expr(_TOP_RUN_EXPR.format(arr="words")).alias("top_word_n"),
            F.size("bigrams").cast("long").alias("n_bigrams"),
            F.expr(_TOP_RUN_EXPR.format(arr="bigrams")).alias("top_bigram_n"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_distinct_words",
            (
                F.expr("(n_words - n_distinct_words) * 1000000 div n_words")
                / F.lit(1e6)
            ).alias("dup_word_frac"),
            (F.expr("top_word_n * 1000000 div n_words") / F.lit(1e6)).alias(
                "top_word_frac"
            ),
            (F.expr("top_bigram_n * 1000000 div n_bigrams") / F.lit(1e6)).alias(
                "top_bigram_frac"
            ),
        )
    )


ORACLE_T17 = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
db AS (SELECT doc_id, words, {SQL_BIGRAMS} AS bigrams FROM d),
wc AS (
  SELECT doc_id, w, COUNT(*) AS n
  FROM (SELECT doc_id, unnest(words) AS w FROM db)
  GROUP BY doc_id, w
),
ws AS (
  SELECT doc_id, SUM(n) AS n_words, COUNT(*) AS n_distinct_words, MAX(n) AS top_word_n
  FROM wc GROUP BY doc_id
),
bc AS (
  SELECT doc_id, b, COUNT(*) AS n
  FROM (SELECT doc_id, unnest(bigrams) AS b FROM db)
  GROUP BY doc_id, b
),
bs AS (SELECT doc_id, SUM(n) AS n_bigrams, MAX(n) AS top_bigram_n FROM bc GROUP BY doc_id)
SELECT ws.doc_id,
       CAST(ws.n_words AS BIGINT) AS n_words,
       CAST(ws.n_distinct_words AS BIGINT) AS n_distinct_words,
       (ws.n_words - ws.n_distinct_words) * 1000000 // ws.n_words / 1e6 AS dup_word_frac,
       ws.top_word_n * 1000000 // ws.n_words / 1e6 AS top_word_frac,
       bs.top_bigram_n * 1000000 // bs.n_bigrams / 1e6 AS top_bigram_frac
FROM ws JOIN bs ON ws.doc_id = bs.doc_id
"""


# ---------------------------------------------------------------------------
# t18 — PII detection + redaction. The test corpus contains no PII, so
# deterministic emails/phone numbers are injected first (doc_id-keyed), then
# detected with regexes and redacted; output carries the match counts and a
# sha256 of the redacted text so the oracle verifies the redaction
# byte-for-byte without hashing megabytes through the driver.
# ---------------------------------------------------------------------------
EMAIL_RE = "[a-z0-9]+@[a-z]+\\.[a-z]+"
PHONE_RE = "[0-9]{3}-[0-9]{4}"


def t18_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    injected = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.col("text"), F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com now")),
    ).when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.col("text"), F.lit(" call 555-0"), (F.col("doc_id") % 900 + 100), F.lit(" today")),
    ).otherwise(F.col("text"))
    red = F.regexp_replace(
        F.regexp_replace(F.col("txt"), EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return (
        docs.withColumn("txt", injected)
        .select(
            "doc_id",
            F.size(F.regexp_extract_all("txt", F.lit(EMAIL_RE), 0)).cast("long").alias("n_emails"),
            F.size(F.regexp_extract_all("txt", F.lit(PHONE_RE), 0)).cast("long").alias("n_phones"),
            F.length(red).cast("long").alias("redacted_len"),
            F.sha2(red, 256).alias("redacted_sha"),
        )
    )


ORACLE_T18 = f"""
WITH injected AS (
  SELECT doc_id,
         CASE
           WHEN doc_id % 5 = 0 THEN text || ' contact user' || doc_id || '@example.com now'
           WHEN doc_id % 7 = 0 THEN text || ' call 555-0' || (doc_id % 900 + 100) || ' today'
           ELSE text
         END AS txt
  FROM documents
),
red AS (
  SELECT doc_id, txt,
         regexp_replace(regexp_replace(txt, '{EMAIL_RE}', '<EMAIL>', 'g'),
                        '{PHONE_RE}', '<PHONE>', 'g') AS redacted
  FROM injected
)
SELECT doc_id,
       CAST(len(regexp_extract_all(txt, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(txt, '{PHONE_RE}')) AS BIGINT) AS n_phones,
       CAST(length(redacted) AS BIGINT) AS redacted_len,
       sha256(redacted) AS redacted_sha
FROM red
"""


# ---------------------------------------------------------------------------
# t19 — cross-document boilerplate line removal: lines whose document
# frequency reaches BP_MIN_DOCS are boilerplate (nav bars, cookie banners,
# license footers) and are dropped from every document. The test corpus is
# single-line, so known boilerplate lines are prepended deterministically;
# the operator itself is generic over any line-structured corpus.
# ---------------------------------------------------------------------------
BP_MIN_DOCS = 5
BP_LINE_A = "subscribe to our newsletter"
BP_LINE_B = "all rights reserved"

LINES_EXPR = (
    "filter(array("
    f" CASE WHEN doc_id % 4 = 0 THEN '{BP_LINE_A}' END,"
    f" CASE WHEN doc_id % 10 = 0 THEN '{BP_LINE_B}' END,"
    " text), x -> x IS NOT NULL)"
)


def t19_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = (
        fan_out(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
        .withColumn("lines", F.expr(LINES_EXPR))
        .select("doc_id", F.explode("lines").alias("line"))
    )
    freq = (
        lines.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("doc_freq"))
    )
    # The distinct-line frequency table grows with the corpus: NO broadcast
    # hint (a hint is never size-checked and hard-fails at Spark's 8 GB
    # broadcast cap at 100 TB). Plain equi-join — AQE broadcasts it at
    # runtime when it fits under the threshold, shuffle-joins when not.
    tagged = lines.join(freq, "line")
    return (
        tagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum((F.col("doc_freq") < BP_MIN_DOCS).cast("long")).alias("n_kept"),
            F.sum(
                F.when(F.col("doc_freq") < BP_MIN_DOCS, F.length("line")).otherwise(F.lit(0))
            ).cast("long").alias("kept_chars"),
        )
    )


ORACLE_T19 = f"""
WITH lines AS (
  SELECT doc_id, unnest(list_filter([
           CASE WHEN doc_id % 4 = 0 THEN '{BP_LINE_A}' END,
           CASE WHEN doc_id % 10 = 0 THEN '{BP_LINE_B}' END,
           text], x -> x IS NOT NULL)) AS line
  FROM documents
),
freq AS (SELECT line, COUNT(DISTINCT doc_id) AS doc_freq FROM lines GROUP BY line)
SELECT l.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN f.doc_freq < {BP_MIN_DOCS} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN f.doc_freq < {BP_MIN_DOCS} THEN length(l.line) ELSE 0 END) AS BIGINT)
         AS kept_chars
FROM lines l JOIN freq f ON l.line = f.line
GROUP BY l.doc_id
"""


# ---------------------------------------------------------------------------
# t20 — decontamination: flag training documents that overlap an evaluation
# set by >= MIN_SHARED distinct 8-gram shingles (the n-gram-overlap rule of
# GPT-3 App. C / PaLM App. D). The eval set here is doc_id % 97 == 0
# (deterministic stand-in for a benchmark suite); overlap candidates come
# from an equi-join on shingle hash — linear in corpus size, never
# all-pairs — then per-(train, eval) distinct-shingle counting. Synthetic
# true contamination: every 90th doc re-enters the corpus with an eval
# doc's text appended (ids +40000), guaranteeing hits.
# Scale: the eval side is small by definition (benchmarks are thousands of
# docs, the corpus is billions) — its exploded shingle table broadcasts,
# so the corpus-side shingle stream never shuffles for the probe; only
# surviving (train, eval) pairs aggregate.
# ---------------------------------------------------------------------------
MIN_SHARED_SHINGLES = 3
EVAL_STRIDE = 97
CONTAM_STRIDE = 90
# 24-char shingles (~5 words) for contamination, NOT dedup's 8-char grams:
# GPT-3/PaLM use 8-13 TOKEN grams precisely because short grams are
# ubiquitous — with 8-char shingles the hot grams appear in nearly every
# document and the probe join's output is (train docs) x (eval docs) PER
# hot gram (measured 70s at sf0.1). At 24 chars random collisions are
# rare, so the join output is linear in true overlap.
CONTAM_SHINGLE_W = 24


def _shingle_rows(docs: DataFrame, spark: SparkSession, id_alias: str) -> DataFrame:
    """(id, shingle-hash) rows, one per CONTAM_SHINGLE_W-gram position
    (duplicates kept — the consumer counts DISTINCT).

    The char-code array is materialized as a Generate-child column so it
    is computed ONCE per document; each exploded position then reads it
    with `width` element_at probes on the attribute (1.8x faster than
    per-position substr, measured). The full array-form shingle
    expression must NEVER be nested under the explode itself — Catalyst
    inlines the char-codes transform into every element_at and the plan
    degrades to interpreted quadratic evaluation (see
    hashing.shingle_hash_at, the substr fallback for single-expression
    contexts)."""
    from ..functions import hashing as H
    from ..tables import fan_out

    w = CONTAM_SHINGLE_W
    coef = H.coef_for(w)
    d = fan_out(docs.filter(F.length("text") >= w), spark).select(
        F.col("doc_id").alias(id_alias),
        H.char_codes("text").alias("codes"),
        F.length("text").alias("len"),
    )
    positions = d.select(
        id_alias,
        "codes",
        F.explode(F.sequence(F.lit(1), F.col("len") - F.lit(w - 1))).alias("pos"),
    )
    terms = [
        F.element_at(F.col("codes"), (F.col("pos") + F.lit(j)).cast("int")).cast("long")
        * F.lit(coef[j])
        for j in range(w)
    ]
    h = terms[0]
    for t in terms[1:]:
        h = h + t
    return positions.select(id_alias, (h % F.lit(H.P)).alias("h"))


def _t20_corpus_and_flags(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(synthetic corpus, flagged (train_id, eval_id, n_shared) pairs)."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    evald = docs.filter(F.col("doc_id") % EVAL_STRIDE == 0)
    eval0 = evald.filter(F.col("doc_id") == 0).select(F.col("text").alias("e_text"))
    contaminated = (
        docs.filter(
            (F.col("doc_id") % CONTAM_STRIDE == 0) & (F.col("doc_id") % EVAL_STRIDE != 0)
        )
        .crossJoin(F.broadcast(eval0))  # append eval doc 0's text to each
        .select(
            (F.col("doc_id") + 40000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" "), F.col("e_text")).alias("text"),
        )
    )
    corpus = docs.filter(F.col("doc_id") % EVAL_STRIDE != 0).unionByName(contaminated)
    train_sh = _shingle_rows(corpus, spark, "train_id")
    eval_sh = _shingle_rows(evald, spark, "eval_id")
    # Distinct shingle count per eval doc: the contamination verdict is
    # FRACTIONAL (PaLM App. D flags a doc when a large fraction of the
    # eval item's n-grams appear in it) — an absolute overlap count can't
    # separate true containment from background similarity, and the
    # integer form 2*n_shared >= n_eval needs no float threshold.
    evsz = eval_sh.groupBy("eval_id").agg(F.countDistinct("h").alias("n_eval"))

    def _build_shared() -> DataFrame:
        return (
            train_sh.join(F.broadcast(eval_sh), "h")
            .groupBy("train_id", "eval_id")
            .agg(F.countDistinct("h").alias("n_shared"))
            .filter(F.col("n_shared") >= MIN_SHARED_SHINGLES)
            .join(F.broadcast(evsz), "eval_id")
            .withColumn("contaminated", F.col("n_shared") * 2 >= F.col("n_eval"))
        )

    # The flagged-pairs table is the expensive stage (corpus-side shingling
    # feeds it) and serves both the detection report (t20) and the removal
    # anti-join (t21) — persist it once per corpus, the t02 staging-table
    # discipline. The result is tiny (flagged pairs only), so the persist
    # costs KBs while saving the full shingle scan on every reuse.
    from .dedup import _stage_cached

    shared = _stage_cached("t20_flags", sf_dir, _build_shared)
    return corpus, shared


def t20_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, shared = _t20_corpus_and_flags(spark, sf_dir)
    return shared.select(
        "train_id",
        "eval_id",
        F.col("n_shared").cast("long").alias("n_shared"),
        F.col("n_eval").cast("long").alias("n_eval"),
        "contaminated",
    )


# ---------------------------------------------------------------------------
# t21 — decontamination REMOVAL: the enforcement half of t20. Anti-join the
# corpus against train docs whose overlap meets the containment verdict,
# keeping only clean documents.
# Scale: the flagged set is a tiny fraction of the corpus (contamination is
# rare by construction and in practice), so it broadcasts and the removal
# is a map-side broadcast anti-join — the corpus never shuffles.
# ---------------------------------------------------------------------------
def t21_decontamination_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, shared = _t20_corpus_and_flags(spark, sf_dir)
    flagged = (
        shared.filter("contaminated").select(F.col("train_id").alias("doc_id")).distinct()
    )
    return (
        corpus.join(F.broadcast(flagged), "doc_id", "left_anti")
        .select("doc_id")
    )


def _t20_with_block() -> str:
    """Shared DuckDB CTE block: synthetic corpus + flagged (train, eval) pairs."""
    from ..functions import hashing as H

    shingles_of = (
        "SELECT doc_id, list_distinct({expr}) AS shingles "
        "FROM (SELECT doc_id, text, {codes} AS codes FROM {src} "
        f"      WHERE length(text) >= {CONTAM_SHINGLE_W})"
    )

    def sh(src: str) -> str:
        return shingles_of.format(
            expr=H.sql_shingle_hashes("codes", "text", CONTAM_SHINGLE_W),
            codes=H.sql_char_codes("text"),
            src=src,
        )

    return f"""
WITH evald AS (SELECT doc_id, text FROM documents WHERE doc_id % {EVAL_STRIDE} = 0),
contaminated AS (
  SELECT d.doc_id + 40000 AS doc_id, d.text || ' ' || e.text AS text
  FROM documents d, evald e
  WHERE d.doc_id % {CONTAM_STRIDE} = 0 AND d.doc_id % {EVAL_STRIDE} != 0
    AND e.doc_id = 0
),
corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {EVAL_STRIDE} != 0
  UNION ALL SELECT doc_id, text FROM contaminated
),
train_sh AS (
  SELECT doc_id AS train_id, unnest(shingles) AS h FROM ({sh('corpus')})
),
eval_sh AS (
  SELECT doc_id AS eval_id, unnest(shingles) AS h FROM ({sh('evald')})
),
evsz AS (
  SELECT eval_id, CAST(COUNT(DISTINCT h) AS BIGINT) AS n_eval
  FROM eval_sh GROUP BY eval_id
),
flagged AS (
  SELECT s.train_id, s.eval_id, s.n_shared, z.n_eval,
         s.n_shared * 2 >= z.n_eval AS contaminated
  FROM (
    SELECT t.train_id, e.eval_id, CAST(COUNT(DISTINCT t.h) AS BIGINT) AS n_shared
    FROM train_sh t JOIN eval_sh e ON t.h = e.h
    GROUP BY t.train_id, e.eval_id
    HAVING COUNT(DISTINCT t.h) >= {MIN_SHARED_SHINGLES}
  ) s JOIN evsz z USING (eval_id)
)"""


def _oracle_t20() -> str:
    return (
        _t20_with_block()
        + "\nSELECT train_id, eval_id, n_shared, n_eval, contaminated FROM flagged"
    )


def _oracle_t21() -> str:
    return (
        _t20_with_block()
        + """
SELECT doc_id FROM corpus
WHERE doc_id NOT IN (SELECT DISTINCT train_id FROM flagged WHERE contaminated)"""
    )


# ---------------------------------------------------------------------------
# t22 — unigram log-prob quality score (the CCNet/Wenzek et al. 2019 idea:
# rank documents by average token log-probability under a corpus unigram
# model; gibberish and rare-token soup score low). Cross-engine float
# discipline (see functions/numeric.py) forbids transcendentals, so the
# log2 is QUANTIZED exactly: floor(log2(n)) == length(bin(n)) - 1, an
# integer both engines compute from the binary string representation —
# no libm, no ulp drift. avg_bits is then an exact-integer sum divided by
# an exact count, rounded once.
# Scale: the vocabulary grows with the corpus, so a full-table broadcast
# hint is forbidden (job-fatal at 100 TB — SCALING.md) and a plain
# shuffle join hot-spots on stop words. The frequency join is therefore
# the HEAD/TAIL SPLIT (functions/skew.head_tail_freq_join): the 1024
# hottest tokens — fixed size by construction, covering most probe ROWS
# under Zipf — broadcast; only the rare tail shuffle-joins, and the tail
# is skew-free by construction. The staged frequency table is persisted
# once per corpus (the vocabulary artifact a real pipeline materializes).
# ---------------------------------------------------------------------------
def tokens_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, w): the tokenized corpus, staged once per corpus.

    Real pipelines materialize the tokenized table before any frequency
    work — t22/t27 here and t34/t36 (corpus.py) all consume it, so the
    split+explode pass is paid once, not per query. t12 (textstats) stays
    unstaged so the bench still prices tokenization itself (the
    v02-vs-staged-truth discipline)."""
    from .dedup import _stage_cached

    return _stage_cached(
        "tokens",
        sf_dir,
        lambda: fan_out(
            table(spark, sf_dir, "documents").select("doc_id", "source", "text"),
            spark,
        ).select(
            "doc_id", "source", F.explode(F.split("text", " ")).alias("w")
        ),
    )


def t22_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.skew import head_tail_freq_join
    from .dedup import _stage_cached

    toks = tokens_table(spark, sf_dir).select("doc_id", "w")
    # floor(log2(cnt)) via binary-string length: exact, engine-agnostic.
    freq = _stage_cached(
        "t22_freq",
        sf_dir,
        lambda: toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "bits",
            (F.length(F.regexp_replace(F.bin("cnt"), "^0+", "")) - 1).cast("long"),
        ),
    )
    scored = (
        head_tail_freq_join(toks, freq, "w", "cnt")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("bits").alias("sum_bits"),
        )
    )
    return scored.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("sum_bits").cast("long").alias("sum_bits"),
        (F.expr("sum_bits * 1000000 div n_tokens") / F.lit(1e6)).alias("avg_bits"),
    )


ORACLE_T22 = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
freq AS (
  SELECT w, COUNT(*) AS cnt, CAST(length(bin(COUNT(*))) - 1 AS BIGINT) AS bits
  FROM toks GROUP BY w
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(f.bits) AS BIGINT) AS sum_bits,
       SUM(f.bits) * 1000000 // COUNT(*) / 1e6 AS avg_bits
FROM toks t JOIN freq f USING (w)
GROUP BY t.doc_id
"""


# ---------------------------------------------------------------------------
# t23 — paragraph-level exact dedup (RefinedWeb/Penedo et al. 2023 run
# exact dedup at sub-document granularity so boilerplate blocks shared by
# otherwise-distinct pages are removed). The corpus has no newlines, so a
# "paragraph" is a fixed window of CHUNK_TOKENS consecutive tokens;
# synthetic dups re-enter every 25th doc (ids +20000) so every chunk of a
# copied doc collides. Keeper = lexicographic min (doc_id, pos), encoded
# as one integer so both engines agree without struct-min semantics.
# Scale: one shuffle keyed by the chunk digest (sha2, fixed 32-byte key —
# the t05 trick); map-side partial agg; only duplicated chunks survive to
# the output, and those are heavy hitters by definition.
# ---------------------------------------------------------------------------
CHUNK_TOKENS = 20
_POS_ENC = 1000  # pos < 1000 always (docs are <= ~100 tokens)


def t23_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 20000).alias("doc_id"), "text"
    )
    unioned = fan_out(docs.unionByName(copies), spark).withColumn(
        "words", F.split("text", " ")
    )
    chunks = (
        unioned.filter(F.size("words") >= CHUNK_TOKENS)
        .select(
            "doc_id",
            "words",
            F.explode(
                F.sequence(F.lit(1), F.floor(F.size("words") / CHUNK_TOKENS).cast("int"))
            ).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            F.array_join(
                F.slice("words", (F.col("pos") - 1) * CHUNK_TOKENS + 1, CHUNK_TOKENS),
                " ",
            ).alias("chunk"),
        )
    )
    return (
        chunks.groupBy(F.sha2(F.col("chunk"), 256).alias("chunk_sha"))
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.min(F.col("doc_id") * _POS_ENC + F.col("pos")).alias("keep_key"),
        )
        .filter(F.col("n_occ") > 1)
        .select(
            "chunk_sha",
            F.col("n_occ").cast("long").alias("n_occ"),
            F.floor(F.col("keep_key") / _POS_ENC).cast("long").alias("keep_doc"),
            (F.col("keep_key") % _POS_ENC).cast("long").alias("keep_pos"),
        )
    )


ORACLE_T23 = f"""
WITH unioned AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 20000 AS doc_id, text FROM documents WHERE doc_id % 25 = 0
),
worded AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM unioned
  WHERE len(string_split(text, ' ')) >= {CHUNK_TOKENS}
),
chunks AS (
  SELECT doc_id, pos,
         array_to_string(words[(pos - 1) * {CHUNK_TOKENS} + 1 : pos * {CHUNK_TOKENS}], ' ') AS chunk
  FROM worded, unnest(generate_series(1, CAST(floor(len(words) / {CHUNK_TOKENS}) AS INT))) AS t(pos)
)
SELECT sha256(chunk) AS chunk_sha,
       CAST(COUNT(*) AS BIGINT) AS n_occ,
       CAST(floor(MIN(doc_id * {_POS_ENC} + pos) / {_POS_ENC}) AS BIGINT) AS keep_doc,
       CAST(MIN(doc_id * {_POS_ENC} + pos) % {_POS_ENC} AS BIGINT) AS keep_pos
FROM chunks
GROUP BY sha256(chunk)
HAVING COUNT(*) > 1
"""


# ---------------------------------------------------------------------------
# t24 — training-sequence packing: the concat-and-chunk assembly step of an
# LM data pipeline (documents are concatenated in a deterministic order and
# cut into fixed-length training sequences; a document may straddle a
# boundary). Each doc gets the sequence id and intra-sequence offset where
# its first token lands.
# Scale: a GLOBAL running sum would serialize on one task, so packing is
# sharded — docs hash to PACK_SHARDS independent streams, each packed by a
# partitioned running-sum window. That is exactly how a 1000-executor
# pipeline packs 100 TB: shards are data-parallel, sequence ids are
# namespaced by shard, and no global order is ever materialized.
# ---------------------------------------------------------------------------
SEQ_LEN = 256
PACK_SHARDS = 32
_SEQ_NS = 1_000_000  # sequence-id namespace stride per shard


def t24_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
        .withColumn("shard", F.col("doc_id") % PACK_SHARDS)
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d = d.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    )
    return d.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("shard").cast("long").alias("shard"),
        (F.col("shard") * _SEQ_NS + F.floor(F.col("cum_before") / SEQ_LEN))
        .cast("long")
        .alias("seq_id"),
        (F.col("cum_before") % SEQ_LEN).cast("long").alias("seq_offset"),
    )


ORACLE_T24 = f"""
WITH d AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(doc_id % {PACK_SHARDS} AS BIGINT) AS shard
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens, shard,
         CAST(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM d
)
SELECT doc_id, n_tokens, shard,
       CAST(shard * {_SEQ_NS} + floor(cum_before / {SEQ_LEN}) AS BIGINT) AS seq_id,
       CAST(cum_before % {SEQ_LEN} AS BIGINT) AS seq_offset
FROM c
"""


# ---------------------------------------------------------------------------
# t25 — quality-weighted mixture sampling: the "data mixing" stage of a
# training-data pipeline. Each source gets a token budget; a source over
# budget is downsampled to rate ≈ budget/total via a deterministic
# hash-bucket filter (no rand(): the sample is identical under any
# partitioning and any engine — x08's discipline applied to corpus mixing,
# cf. the per-source mixture weights of Gao et al. 2020 "The Pile" §1 and
# Touvron et al. 2023 LLaMA §2.1).
#
# Scale: per-source token totals are one tiny aggregate (|sources| rows,
# broadcast back); the sampling filter is map-side. The corpus is scanned
# once and never shuffled.
# ---------------------------------------------------------------------------
T25_BUDGET_TOKENS = 2_500
_T25_MIX = 769


def t25_mixture_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    toks = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("tokens"),
    )
    totals = toks.groupBy("source").agg(F.sum("tokens").alias("total_tokens"))
    rates = totals.select(
        "source",
        "total_tokens",
        F.least(
            F.lit(100),
            F.floor(F.lit(100) * F.lit(T25_BUDGET_TOKENS) / F.col("total_tokens")),
        )
        .cast("int")
        .alias("rate_pct"),
    )
    bucket = (F.col("doc_id") * _T25_MIX % 1_000_003) % 100
    sampled = toks.join(F.broadcast(rates), "source").filter(bucket < F.col("rate_pct"))
    return sampled.groupBy("source").agg(
        F.max("rate_pct").alias("rate_pct"),
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("tokens").alias("sampled_tokens"),
    )


ORACLE_T25 = f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
  FROM documents
),
rates AS (
  SELECT source,
         CAST(LEAST(100, FLOOR(100.0 * {T25_BUDGET_TOKENS} / SUM(tokens))) AS INTEGER)
           AS rate_pct
  FROM toks GROUP BY source
)
SELECT t.source,
       MAX(r.rate_pct) AS rate_pct,
       COUNT(*) AS n_sampled,
       CAST(SUM(t.tokens) AS BIGINT) AS sampled_tokens
FROM toks t JOIN rates r ON t.source = r.source
WHERE (t.doc_id * {_T25_MIX} % 1000003) % 100 < r.rate_pct
GROUP BY t.source
"""


# ---------------------------------------------------------------------------
# t26 — leakage-safe train/validation split: every member of an exact-dup
# group lands on the same side, because the split key is a hash of the
# content digest, not the doc id. Splitting on doc_id leaks: a duplicate
# pair straddling train/val inflates eval scores (the contamination
# failure t20 detects, prevented structurally at split time).
#
# Scale: digest is a per-row sha2 (map-side); the group-representative
# window shuffles once on the 64-hex-char digest key; the side assignment
# is a pure expression over the digest — no second pass, no rand().
# ---------------------------------------------------------------------------
T26_TRAIN_PCT = 90


def _digest_bucket(digest: "F.Column") -> "F.Column":
    """Deterministic 0-99 bucket from the digest's first 8 hex chars via
    the repo's polynomial char-code hash (cross-engine identical)."""
    from ..functions.hashing import shingle_hash_at

    return shingle_hash_at(digest, F.lit(1), width=8) % 100


def _sql_digest_bucket(expr: str) -> str:
    from ..functions.hashing import P, coef_for

    coef = coef_for(8)
    terms = " + ".join(
        f"CAST(unicode(substr({expr}, {j + 1}, 1)) AS BIGINT) * {coef[j]}"
        for j in range(8)
    )
    return f"((({terms}) % {P}) % 100)"


def t26_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # Same duplicated corpus as t05: re-inject every 50th doc with a
    # shifted id so exact-dup groups exist to keep together.
    dup = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text"
    )
    keyed = docs.unionByName(dup).withColumn("digest", F.sha2(F.col("text"), 256))
    grouped = keyed.withColumn(
        "group_rep", F.min("doc_id").over(Window.partitionBy("digest"))
    )
    side = F.when(_digest_bucket(F.col("digest")) < T26_TRAIN_PCT, "train").otherwise(
        "val"
    )
    return grouped.select("doc_id", "group_rep", side.alias("side"))


def _oracle_t26() -> str:
    return f"""
WITH unioned AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0
),
keyed AS (SELECT doc_id, text, sha256(text) AS digest FROM unioned),
grouped AS (
  SELECT doc_id, digest,
         MIN(doc_id) OVER (PARTITION BY digest) AS group_rep
  FROM keyed
)
SELECT doc_id, group_rep,
       CASE WHEN {_sql_digest_bucket('digest')} < {T26_TRAIN_PCT}
            THEN 'train' ELSE 'val' END AS side
FROM grouped
"""


# ---------------------------------------------------------------------------
# t27 — TF-IDF top terms per document: the classic salience ranking used
# for keyword extraction, topic labeling, and quality signals.
#
# idf is the RATIONAL BM25 form (N - df + 0.5)/(df + 0.5), not a log:
# division of exact integers (+0.5) is a correctly-rounded IEEE op, so
# Spark and DuckDB agree bit-for-bit, where libm log() is only ~1-ulp and
# could flip a rounding at the 6th decimal. Ranking by the rational idf
# preserves the log form's order exactly (x ↦ ln monotone).
#
# Scale: tf is the wordcount shape (one shuffle on (doc_id, term),
# map-side-combined); df aggregates the same exploded stream to |vocab|
# rows which join back via the HEAD/TAIL SPLIT (functions/skew
# .head_tail_freq_join — hottest 1024 terms broadcast, rare tail
# shuffle-joined skew-free; a full-vocab broadcast hint would be
# job-fatal at 100 TB). Only the 1-row n_docs aggregate carries an
# explicit broadcast. The top-k window partitions per doc.
# ---------------------------------------------------------------------------
TFIDF_TOP_K = 5


def t27_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents").select("doc_id")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    terms = (
        tokens_table(spark, sf_dir)
        .select("doc_id", F.col("w").alias("term"))
        .filter(F.length("term") > 0)
    )
    from ..functions.skew import head_tail_freq_join
    from .dedup import _stage_cached

    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = _stage_cached(
        "t27_df",
        sf_dir,
        lambda: tf.groupBy("term").agg(F.count(F.lit(1)).alias("df")),
    )
    scored = (
        head_tail_freq_join(tf, df_tbl, "term", "df")
        .crossJoin(F.broadcast(n_docs))  # 1-row aggregate: hint is safe
        .withColumn(
            "tfidf",
            F.expr("tf * (2 * n_docs - 2 * df + 1) * 1000000 div (2 * df + 1)")
            / F.lit(1e6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_TOP_K)
        .select("doc_id", F.col("rk").cast("long").alias("rk"), "term", "tfidf")
    )


ORACLE_T27 = f"""
WITH terms AS (
  SELECT doc_id, u.term
  FROM documents, unnest(string_split(text, ' ')) AS u(term)
  WHERE length(u.term) > 0
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.term,
         t.tf * (2 * n.n_docs - 2 * d.df + 1) * 1000000 // (2 * d.df + 1) / 1e6 AS tfidf
  FROM tf t JOIN df d USING (term) CROSS JOIN n
)
SELECT doc_id, CAST(rk AS BIGINT) AS rk, term, tfidf FROM (
  SELECT doc_id, term, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS rk
  FROM scored
) WHERE rk <= {TFIDF_TOP_K}
"""


# ---------------------------------------------------------------------------
# t28 — cross-source overlap matrix: how many exact-duplicate texts each
# pair of sources shares — the provenance/governance view of dedup (which
# crawls/datasets are re-serving the same content, who to dedup against
# whom). Also the denominator for per-source "uniqueness" quality scores.
#
# Scale: one shuffle keys distinct (digest, source) — 32-byte keys, t05's
# discipline; the pair join runs on the digest equi-key and only digests
# present in ≥2 sources survive the preceding HAVING, so the join input is
# the shared tail, not the corpus. That tail is usually small but still
# grows with the corpus (common-crawl overlap is proportional), so the
# shared-digest joins carry NO broadcast hint — AQE decides at runtime.
# ---------------------------------------------------------------------------
def t28_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # re-inject every 25th doc under a rotated source so cross-source
    # exact dups exist (the synthetic corpus has none naturally)
    rotated = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 20_000).alias("doc_id"),
        F.concat(F.lit("src"), ((F.substring("source", 4, 10).cast("int") + 1) % 5)).alias(
            "source"
        ),
        "text",
    )
    keyed = (
        docs.unionByName(rotated)
        .select("source", F.sha2("text", 256).alias("digest"))
        .distinct()
    )
    shared = (
        keyed.groupBy("digest")
        .agg(F.count(F.lit(1)).alias("n_sources"))
        .filter(F.col("n_sources") >= 2)
        .select("digest")
    )
    pairs = (
        keyed.join(shared, "digest")
        .alias("a")
        .join(keyed.join(shared, "digest").alias("b"), "digest")
        .filter(F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            "digest",
        )
    )
    return pairs.groupBy("source_a", "source_b").agg(
        F.countDistinct("digest").alias("n_shared_texts")
    )


ORACLE_T28 = """
WITH rotated AS (
  SELECT doc_id + 20000 AS doc_id,
         'src' || ((CAST(substr(source, 4) AS INTEGER) + 1) % 5) AS source,
         text
  FROM documents WHERE doc_id % 25 = 0
),
unioned AS (
  SELECT source, text FROM documents
  UNION ALL SELECT source, text FROM rotated
),
keyed AS (SELECT DISTINCT source, sha256(text) AS digest FROM unioned),
shared AS (
  SELECT digest FROM keyed GROUP BY digest HAVING COUNT(*) >= 2
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(COUNT(DISTINCT a.digest) AS BIGINT) AS n_shared_texts
FROM keyed a
JOIN keyed b ON a.digest = b.digest AND a.source < b.source
JOIN shared s ON a.digest = s.digest
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# t29 — per-source quality calibration: percentile-normalize a quality
# signal WITHIN each source before thresholding. Absolute quality
# thresholds misfilter across heterogeneous sources (a median web page
# and a median reference text score very differently); normalizing
# per-source makes "keep the top half of each source" well-defined —
# the calibration step that precedes t25's budgeted mixing.
#
# Scale: one shuffle partitions by source; each source sorts
# independently. For sources too large to sort, the same decision comes
# from an approx_percentile threshold per source (x02's machinery) with
# a map-side filter — the exact window form here IS the oracle for that
# scale path. (doc_id tiebreak → total order → engine-stable ranks.)
# ---------------------------------------------------------------------------
T29_KEEP_NUM, T29_KEEP_DEN = 1, 2  # keep the top half, as an exact rational


def t29_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # percent_rank is (rank-1)/(n-1); the order key (n_chars, doc_id) is
    # UNIQUE, so rank == row_number and both the published percentile and
    # the keep verdict compute in exact integers (t09 class eliminated:
    # the verdict compares cross-multiplied integers, never a float).
    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    staged = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n_src"),
    )
    return staged.select(
        "doc_id",
        "source",
        "n_chars",
        F.when(F.col("n_src") == 1, F.lit(0.0))
        .otherwise(F.expr("(rn - 1) * 1000000 div (n_src - 1)") / F.lit(1e6))
        .alias("source_pct"),
        (
            (F.col("rn") - 1) * T29_KEEP_DEN >= (F.col("n_src") - 1) * T29_KEEP_NUM
        ).alias("keep"),
    )


ORACLE_T29 = f"""
WITH r AS (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n_src
  FROM documents
)
SELECT doc_id, source, n_chars,
       CASE WHEN n_src = 1 THEN 0.0
            ELSE (rn - 1) * 1000000 // (n_src - 1) / 1e6 END AS source_pct,
       (rn - 1) * {T29_KEEP_DEN} >= (n_src - 1) * {T29_KEEP_NUM} AS keep
FROM r
"""


# ---------------------------------------------------------------------------
# t30 — bigram conditional surprisal (the bigram extension of t22's CCNet
# idea): score each document by the average quantized surprisal of its
# bigrams under the corpus bigram model, -log2 P(w2|w1) ≈
# floor(log2 c(w1)) - floor(log2 c(w1 w2)). Documents whose word PAIRS are
# unusual score high even when every individual word is common — the
# signal unigram scoring cannot see (word-salad detection).
#
# Exactness: both floor-log2 terms come from binary-string lengths
# (t22's no-libm trick), and c(w1) >= c(w1 w2) guarantees the difference
# is a non-negative integer — so sum/avg are exact-integer arithmetic
# with one rounded division.
# Scale: one bigram-frequency shuffle (map-side-combined); the w1 prefix
# counts derive from the same table (no second corpus pass), and the
# freq1 lookup joins freq2 at VOCABULARY size (never probe size) to form
# one per-bigram surprisal LUT. The bigram table grows SUPER-linearly
# with the corpus — the worst candidate in the tree for a broadcast
# hint — so the probe join is the HEAD/TAIL SPLIT (functions/skew
# .head_tail_freq_join): the 1024 hottest bigrams broadcast (fixed size
# by construction, most probe rows under Zipf), the rare tail
# shuffle-joins skew-free. The LUT persists once per corpus (the
# language-model artifact a real pipeline materializes).
# ---------------------------------------------------------------------------
def t30_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.skew import head_tail_freq_join
    from .dedup import _stage_cached

    docs = (
        fan_out(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
        .withColumn("words", F.split("text", " "))
        .withColumn("bigrams", F.expr(BIGRAM_EXPR))
    )
    bg = docs.select("doc_id", F.explode("bigrams").alias("b"))
    bits = lambda c: (F.length(F.regexp_replace(F.bin(c), "^0+", "")) - 1).cast("long")

    def build_lut() -> DataFrame:
        freq2 = bg.groupBy("b").agg(F.count(F.lit(1)).alias("cnt2"))
        freq1 = (
            freq2.withColumn("w1", F.substring_index("b", " ", 1))
            .groupBy("w1")
            .agg(F.sum("cnt2").alias("cnt1"))
        )
        return (
            freq2.withColumn("w1", F.substring_index("b", " ", 1))
            .join(freq1, "w1")
            .select(
                "b",
                "cnt2",
                (bits(F.col("cnt1")) - bits(F.col("cnt2"))).alias("surprisal_bits"),
            )
        )

    lut = _stage_cached("t30_lut", sf_dir, build_lut)
    joined = head_tail_freq_join(bg, lut, "b", "cnt2")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("surprisal_bits").alias("sum_bits"),
        )
        .select(
            "doc_id",
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            F.col("sum_bits").cast("long").alias("sum_bits"),
            (F.expr("sum_bits * 1000000 div n_bigrams") / F.lit(1e6)).alias("avg_surprisal"),
        )
    )


ORACLE_T30 = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
db AS (SELECT doc_id, {SQL_BIGRAMS} AS bigrams FROM d),
bg AS (SELECT doc_id, unnest(bigrams) AS b FROM db),
freq2 AS (
  SELECT b, COUNT(*) AS cnt2,
         CAST(length(bin(COUNT(*))) - 1 AS BIGINT) AS bits2
  FROM bg GROUP BY b
),
freq1 AS (
  SELECT split_part(b, ' ', 1) AS w1, CAST(SUM(cnt2) AS BIGINT) AS cnt1
  FROM freq2 GROUP BY 1
),
f1b AS (
  SELECT w1, CAST(length(bin(cnt1)) - 1 AS BIGINT) AS bits1 FROM freq1
)
SELECT g.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(f1.bits1 - f2.bits2) AS BIGINT) AS sum_bits,
       SUM(f1.bits1 - f2.bits2) * 1000000 // COUNT(*) / 1e6 AS avg_surprisal
FROM bg g
JOIN freq2 f2 USING (b)
JOIN f1b f1 ON split_part(g.b, ' ', 1) = f1.w1
GROUP BY g.doc_id
"""


QUERIES = {
    "t17_repetition_stats": t17_repetition_stats,
    "t18_pii_redaction": t18_pii_redaction,
    "t19_boilerplate_removal": t19_boilerplate_removal,
    "t20_decontamination": t20_decontamination,
    "t21_decontamination_removal": t21_decontamination_removal,
    "t22_unigram_logprob": t22_unigram_logprob,
    "t23_paragraph_dedup": t23_paragraph_dedup,
    "t24_sequence_packing": t24_sequence_packing,
    "t25_mixture_sampling": t25_mixture_sampling,
    "t26_leakage_safe_split": t26_leakage_safe_split,
    "t27_tfidf_top_terms": t27_tfidf_top_terms,
    "t28_source_overlap": t28_source_overlap,
    "t29_quality_calibration": t29_quality_calibration,
    "t30_bigram_lm": t30_bigram_lm,
}

ORACLES = {
    "t17_repetition_stats": ORACLE_T17,
    "t18_pii_redaction": ORACLE_T18,
    "t19_boilerplate_removal": ORACLE_T19,
    "t20_decontamination": _oracle_t20(),
    "t21_decontamination_removal": _oracle_t21(),
    "t22_unigram_logprob": ORACLE_T22,
    "t23_paragraph_dedup": ORACLE_T23,
    "t24_sequence_packing": ORACLE_T24,
    "t25_mixture_sampling": ORACLE_T25,
    "t26_leakage_safe_split": _oracle_t26(),
    "t27_tfidf_top_terms": ORACLE_T27,
    "t28_source_overlap": ORACLE_T28,
    "t29_quality_calibration": ORACLE_T29,
    "t30_bigram_lm": ORACLE_T30,
}


# ---------------------------------------------------------------------------
# t53 — n-gram novelty score: the fraction of a document's DISTINCT word
# trigrams that appear in no other document — the inverse of t33's
# duplicated-span view and the standard "how much genuinely new text does
# this source add" signal used when pricing an ingest source (a corpus
# whose new documents score near 0 is already covered).
#
# Scale: one trigram shuffle builds the document-frequency table
# (doc-distinct grams, map-side combined); the join back rides the
# HEAD/TAIL SPLIT (functions/skew.head_tail_freq_join — hot grams
# broadcast, rare tail shuffle-joined skew-free). Per-doc aggregate
# shuffles (doc_id, flag) pairs only. Exact integer ratio, rounded once.
# ---------------------------------------------------------------------------
TRIGRAM_EXPR = (
    "zip_with(zip_with(slice(words, 1, size(words) - 2),"
    " slice(words, 2, size(words) - 2), (a, b) -> concat(a, ' ', b)),"
    " slice(words, 3, size(words) - 2), (ab, c) -> concat(ab, ' ', c))"
)

def t53_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.skew import head_tail_freq_join
    from .dedup import _stage_cached

    docs = (
        fan_out(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
        .withColumn("words", F.split("text", " "))
        .withColumn("grams", F.array_distinct(F.expr(TRIGRAM_EXPR)))
    )
    tg = docs.select("doc_id", F.explode("grams").alias("g"))
    freq = _stage_cached(
        "t53_df",
        sf_dir,
        lambda: tg.groupBy("g").agg(F.count(F.lit(1)).alias("df")),
    )
    return (
        head_tail_freq_join(tg, freq, "g", "df")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_novel"),
        )
        .select(
            "doc_id",
            F.col("n_trigrams").cast("long").alias("n_trigrams"),
            F.col("n_novel").cast("long").alias("n_novel"),
            # round-10 conversion: exact int/int micros (ROUND was
            # t09-class).
            (F.expr("n_novel * 1000000 DIV n_trigrams") / 1_000_000.0).alias(
                "novelty"
            ),
        )
    )


ORACLE_T53 = """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
dg AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(words) - 2),
           i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2])) AS grams
  FROM d
),
tg AS (SELECT doc_id, unnest(grams) AS g FROM dg),
freq AS (SELECT g, COUNT(*) AS df FROM tg GROUP BY g)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       CAST(SUM(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       (SUM(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*))
         / 1000000.0 AS novelty
FROM tg t JOIN freq f USING (g)
GROUP BY t.doc_id
"""


QUERIES["t53_ngram_novelty"] = t53_ngram_novelty
ORACLES["t53_ngram_novelty"] = ORACLE_T53


# ---------------------------------------------------------------------------
# t57 — cross-document sentence dedup (the C4 recipe): every distinct
# sentence is kept only at its FIRST occurrence corpus-wide (lowest
# (doc_id, position)); later occurrences are stripped and each doc's
# surviving text is reassembled in original order. This is the
# span-level dedup pass between exact-doc dedup (t01) and near-dedup
# (t02) in a real training pipeline — boilerplate sentences ("all
# rights reserved") vanish corpus-wide in one pass.
#
# Scale: one (sentence) aggregate finds each sentence's min
# (doc_id, pos) owner — shuffle keys are sentences (at 100 TB, sha2 the
# sentence for fixed-width keys, t05's trick); the keep decision joins
# back by sentence; reassembly is a per-doc aggregate with an in-row
# sort. No window over the corpus, nothing quadratic.
# ---------------------------------------------------------------------------
def t57_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    sents = docs.select(
        "doc_id",
        F.posexplode(F.split("text", r"\. ")).alias("pos", "sent"),
    ).filter(F.length("sent") > 0)
    owner = sents.groupBy("sent").agg(
        F.min(F.struct("doc_id", "pos")).alias("first_at")
    )
    kept = sents.join(owner, "sent").withColumn(
        "is_kept",
        (F.col("doc_id") == F.col("first_at.doc_id"))
        & (F.col("pos") == F.col("first_at.pos")),
    )
    per_doc = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sents"),
        F.sum(F.col("is_kept").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("is_kept"), F.struct("pos", "sent"))
                    )
                ),
                lambda x: x["sent"],
            ),
            ". ",
        ).alias("kept_text"),
    )
    return per_doc.select(
        "doc_id",
        F.col("n_sents").cast("long").alias("n_sents"),
        F.col("n_kept").cast("long").alias("n_kept"),
        "kept_text",
    )


ORACLE_T57 = r"""
WITH sents AS (
  SELECT doc_id, CAST(u.i - 1 AS INTEGER) AS pos, parts[u.i] AS sent
  FROM (SELECT doc_id, string_split(text, '. ') AS parts FROM documents),
       unnest(range(1, len(parts) + 1)) AS u(i)
  WHERE length(parts[u.i]) > 0
),
owner AS (
  SELECT sent, MIN({'d': doc_id, 'p': pos}) AS first_at FROM sents GROUP BY sent
),
kept AS (
  SELECT s.doc_id, s.pos, s.sent,
         s.doc_id = owner.first_at.d AND s.pos = owner.first_at.p
           AS is_kept
  FROM sents s JOIN owner USING (sent)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_sents,
       CAST(SUM(CASE WHEN is_kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(string_agg(CASE WHEN is_kept THEN sent END, '. '
                           ORDER BY pos), '') AS kept_text
FROM kept GROUP BY doc_id
"""


QUERIES["t57_sentence_dedup"] = t57_sentence_dedup
ORACLES["t57_sentence_dedup"] = ORACLE_T57


# ---------------------------------------------------------------------------
# t62 — readability scoring (Flesch reading-ease), INTEGER-exact: the
# classic quality gate that routes documents to "easy / standard /
# difficult" training mixes and flags machine-generated word salad
# (absurdly high syllable density) that t09's length/stopword score
# misses.
#
# All three inputs are counted, never modeled:
#   words      = non-empty space-split tokens,
#   sentences  = non-blank '[.!?]+'-split segments (floor 1),
#   syllables  = per word, the number of maximal vowel-group runs
#                ([aeiouy]+) with a floor of 1 — the standard
#                dictionary-free approximation; counted as
#                len(replace(groups -> 'V')) - len(remove(groups)),
#                identical under Java regex and RE2.
# The score is Flesch's 206.835 - 1.015*(W/S) - 84.6*(Y/W) held in
# MILLI-units with truncating integer division (`div` / `//`, the x21
# lesson) — bit-identical cross-engine, no float ratio anywhere before
# the output boundary.
#
# Scale: pure per-row higher-order array expressions (one whole-stage
# codegen span, zero shuffle, zero Python); the syllable fold runs
# inside `aggregate()` over the per-doc word array.
#
# Reference parity: no analog in the reference relay (app/app.py); part
# of the LLM-pipeline extension mandate (text analysis family).
# ---------------------------------------------------------------------------
def t62_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    words = "filter(split(text, ' '), x -> length(x) > 0)"
    syl = (
        "greatest(1, length(regexp_replace(lower(w), '[aeiouy]+', 'V'))"
        " - length(regexp_replace(lower(w), '[aeiouy]+', '')))"
    )
    return (
        docs.selectExpr(
            "doc_id",
            f"size({words}) AS n_words",
            "greatest(1, size(filter(split(text, '[.!?]+'),"
            " x -> length(trim(x)) > 0))) AS n_sentences",
            f"aggregate({words}, 0L, (acc, w) -> acc + {syl}) AS n_syllables",
        )
        .selectExpr(
            "doc_id",
            "CAST(n_words AS BIGINT) AS n_words",
            "CAST(n_sentences AS BIGINT) AS n_sentences",
            "CAST(n_syllables AS BIGINT) AS n_syllables",
            "CAST(206835 - (1015 * n_words) div greatest(1, n_sentences)"
            " - (84600 * n_syllables) div greatest(1, n_words)"
            " AS BIGINT) AS fre_milli",
        )
        .selectExpr(
            "*",
            "CASE WHEN fre_milli >= 90000 THEN 'very_easy'"
            " WHEN fre_milli >= 70000 THEN 'easy'"
            " WHEN fre_milli >= 50000 THEN 'standard'"
            " WHEN fre_milli >= 30000 THEN 'difficult'"
            " ELSE 'very_difficult' END AS band",
        )
    )


ORACLE_T62 = """
WITH feat AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), x -> length(x) > 0))
           AS n_words,
         greatest(1, len(list_filter(string_split_regex(text, '[.!?]+'),
                                     x -> length(trim(x)) > 0)))
           AS n_sentences,
         list_sum(list_transform(
           list_filter(string_split(text, ' '), x -> length(x) > 0),
           w -> greatest(1,
                length(regexp_replace(lower(w), '[aeiouy]+', 'V', 'g'))
              - length(regexp_replace(lower(w), '[aeiouy]+', '', 'g')))))
           AS n_syllables
  FROM documents
),
scored AS (
  SELECT doc_id,
         CAST(n_words AS BIGINT) AS n_words,
         CAST(n_sentences AS BIGINT) AS n_sentences,
         CAST(n_syllables AS BIGINT) AS n_syllables,
         CAST(206835 - (1015 * n_words) // greatest(1, n_sentences)
              - (84600 * n_syllables) // greatest(1, n_words)
              AS BIGINT) AS fre_milli
  FROM feat
)
SELECT *,
       CASE WHEN fre_milli >= 90000 THEN 'very_easy'
            WHEN fre_milli >= 70000 THEN 'easy'
            WHEN fre_milli >= 50000 THEN 'standard'
            WHEN fre_milli >= 30000 THEN 'difficult'
            ELSE 'very_difficult' END AS band
FROM scored
"""


QUERIES["t62_readability"] = t62_readability
ORACLES["t62_readability"] = ORACLE_T62






# ---------------------------------------------------------------------------
# t63 — structured-identifier scan with CHECKSUM validation: the PII
# classes t18's email/phone regexes cannot express — IPv4 addresses,
# URLs, and payment-card numbers where a regex match is only a
# CANDIDATE and the Luhn checksum decides (redacting every 16-digit run
# would shred order ids and ISBNs; shipping a real card number is a
# compliance incident — precision and recall both live on the checksum,
# not the pattern).
#
# The corpus has no organic identifiers, so a deterministic payload is
# planted per doc_id (the t18/m05 fabricate-then-verify pattern):
#   %4 == 0 → a URL,   %5 == 0 → an IPv4,
#   %11 == 0 → a 16-digit run whose Luhn CHECK DIGIT IS COMPUTED
#              IN-QUERY (the validator must accept it),
#   %13 == 0 → the same digits with the check digit shifted +5 (the
#              validator must COUNT the candidate but REFUSE to redact).
# Luhn, both engines, pure integers: digit d at 1-based position j of
# the 16-digit run doubles when j is odd (= every second digit from the
# right), doubled values fold as 2d − 9·[d>4]; valid ⇔ sum mod 10 = 0.
# No floats, no libm, no regex lookaround.
#
# Redaction: VALID cards are replaced literally — an aggregate() fold of
# replace() over the validated candidate array, because no regex can see
# a checksum — then URL and IPv4 regexes (character classes + bounded
# repetition + \b only: the Java/RE2-identical subset, the t62 lesson).
# Output carries candidate/valid/url/ip counts plus sha256 of the
# redacted text (t18's verify-bytes-without-shipping-bytes trick).
#
# Scale: pure per-row string/array expressions — one whole-stage-codegen
# span, zero shuffle, zero joins, zero Python.
#
# Reference parity: no analog in the reference relay (app/app.py); part
# of the LLM-pipeline extension mandate (text analysis family).
# ---------------------------------------------------------------------------
T63_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
T63_URL = r"https?://[A-Za-z0-9./_-]+"
T63_CARD = r"\b\d{16}\b"


def _t63_digit(d, j):
    return F.substring(d, j, F.lit(1)).cast("int")


def _t63_luhn15(d):
    """Luhn fold over the 15 payload digits of a 16-digit string Column."""
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(15)),
        F.lit(0).cast("long"),
        lambda acc, j: acc
        + F.when(
            j % 2 == 1,
            2 * _t63_digit(d, j)
            - F.when(_t63_digit(d, j) > 4, F.lit(9)).otherwise(F.lit(0)),
        ).otherwise(_t63_digit(d, j)).cast("long"),
    )


def t63_pii_checksum_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.select(
        "doc_id",
        "text",
        F.lpad(F.col("doc_id").cast("string"), 15, "4").alias("p15"),
    ).select(
        "doc_id",
        "text",
        "p15",
        ((10 - (_t63_luhn15(F.col("p15")) % 10)) % 10).alias("chk"),
    ).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(
                    F.lit(" see https://ex.org/p/"),
                    F.col("doc_id").cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" from 10."),
                    (F.col("doc_id") % 200).cast("string"),
                    F.lit(".0."),
                    (F.col("doc_id") % 250).cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" card "), F.col("p15"), F.col("chk").cast("string")
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(
                    F.lit(" ref "),
                    F.col("p15"),
                    ((F.col("chk") + 5) % 10).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    scanned = planted.select(
        "doc_id",
        "text",
        F.regexp_extract_all(F.col("text"), F.lit(T63_CARD), F.lit(0)).alias(
            "cards"
        ),
        F.regexp_count(F.col("text"), F.lit(T63_URL)).cast("long").alias("n_urls"),
        F.regexp_count(F.col("text"), F.lit(T63_IPV4)).cast("long").alias("n_ips"),
    ).select(
        "doc_id",
        "text",
        "cards",
        "n_urls",
        "n_ips",
        F.filter(
            F.col("cards"),
            lambda c: ((_t63_luhn15(c) + _t63_digit(c, F.lit(16))) % 10) == 0,
        ).alias("valid_cards"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.aggregate(
                F.col("valid_cards"),
                F.col("text"),
                lambda acc, c: F.replace(acc, c, F.lit("[CARD]")),
            ),
            F.lit(T63_URL),
            F.lit("[URL]"),
        ),
        F.lit(T63_IPV4),
        F.lit("[IP]"),
    )
    return scanned.select(
        "doc_id",
        F.size("cards").cast("long").alias("n_card_candidates"),
        F.size("valid_cards").cast("long").alias("n_valid_cards"),
        "n_urls",
        "n_ips",
        redacted.alias("clean_text"),
    ).select(
        "doc_id",
        "n_card_candidates",
        "n_valid_cards",
        "n_urls",
        "n_ips",
        (
            F.col("n_valid_cards") + F.col("n_urls") + F.col("n_ips") == 0
        ).alias("pii_free"),
        F.length("clean_text").cast("long").alias("clean_chars"),
        F.sha2(F.col("clean_text"), 256).alias("clean_sha"),
    )


_T63_LUHN15_DUCK = """list_sum(list_transform(range(1, 16), j ->
  CASE WHEN j % 2 = 1 THEN
    2 * CAST(substr({v}, CAST(j AS INT), 1) AS INT)
    - CASE WHEN CAST(substr({v}, CAST(j AS INT), 1) AS INT) > 4
           THEN 9 ELSE 0 END
  ELSE CAST(substr({v}, CAST(j AS INT), 1) AS INT) END))"""

ORACLE_T63 = f"""
WITH planted AS (
  SELECT doc_id, text,
         lpad(CAST(doc_id AS VARCHAR), 15, '4') AS p15
  FROM documents
),
chk AS (
  SELECT doc_id, text, p15,
         (10 - ({_T63_LUHN15_DUCK.format(v='p15')} % 10)) % 10 AS chk
  FROM planted
),
aug AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 4 = 0
                 THEN ' see https://ex.org/p/' || CAST(doc_id AS VARCHAR)
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR)
                      || '.0.' || CAST(doc_id % 250 AS VARCHAR)
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' card ' || p15 || CAST(chk AS VARCHAR)
                 ELSE '' END
         || CASE WHEN doc_id % 13 = 0
                 THEN ' ref ' || p15 || CAST((chk + 5) % 10 AS VARCHAR)
                 ELSE '' END AS text
  FROM chk
),
scanned AS (
  SELECT doc_id, text,
         regexp_extract_all(text, '{T63_CARD}') AS cards,
         CAST(len(regexp_extract_all(text, '{T63_URL}')) AS BIGINT) AS n_urls,
         CAST(len(regexp_extract_all(text, '{T63_IPV4}')) AS BIGINT) AS n_ips,
         list_filter(regexp_extract_all(text, '{T63_CARD}'), c ->
           (({_T63_LUHN15_DUCK.format(v='c')}
             + CAST(substr(c, 16, 1) AS INT)) % 10) = 0) AS valid_cards
  FROM aug
),
-- the corpus plants at most ONE Luhn-valid run per document (the %11
-- branch; the %13 branch is valid-candidate-but-invalid by
-- construction and organic text has no 16-digit runs), so the general
-- fold-of-replaces collapses to a single conditional replace here.
red AS (
  SELECT doc_id, cards, valid_cards, n_urls, n_ips,
         regexp_replace(
           regexp_replace(
             CASE WHEN len(valid_cards) >= 1
                  THEN replace(text, valid_cards[1], '[CARD]')
                  ELSE text END,
             '{T63_URL}', '[URL]', 'g'),
           '{T63_IPV4}', '[IP]', 'g') AS clean_text
  FROM scanned
)
SELECT doc_id,
       CAST(len(cards) AS BIGINT) AS n_card_candidates,
       CAST(len(valid_cards) AS BIGINT) AS n_valid_cards,
       n_urls, n_ips,
       (CAST(len(valid_cards) AS BIGINT) + n_urls + n_ips) = 0 AS pii_free,
       CAST(length(clean_text) AS BIGINT) AS clean_chars,
       sha256(clean_text) AS clean_sha
FROM red
"""


QUERIES["t63_pii_checksum_scan"] = t63_pii_checksum_scan
ORACLES["t63_pii_checksum_scan"] = ORACLE_T63
