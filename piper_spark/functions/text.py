"""Text analysis operators (SURVEY.md §2B "LLM-data-pipeline extensions").

Everything here is built-in column expressions (split/transform/
aggregate/explode) — JVM-side, whole-stage-codegen'd — with ONE
deliberate exception: the shared word-hash fold crosses Python as a
single vectorized Arrow pass (`text_word_hash_udf`; the interpreted
per-character HOF form `_winnow_word_hash` is kept as the Catalyst
reference the parity test pins against). Documents.text is
space-separated lowercase words (FIXTURES.md), so whitespace
tokenization is lossless.

Cross-engine notes: Spark `size()`/`length()`/`ascii()` return INT →
cast to long; DuckDB integer sums return HUGEINT → oracle casts to
BIGINT. Lambda indexes: Spark `transform` passes a 0-based index,
DuckDB `list_transform` a 1-based one — Spark side uses (i+1).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from piper_spark.registry import register
from piper_spark.session import fan_out, table

#: High-frequency filler words in the synthetic corpus (FIXTURES.md vocab).
STOPWORDS = ("the", "a")

#: Marker-word chain for the n-gram-style language-ID heuristic.
LANG_MARKERS = (("spark", "en"), ("merge", "de"), ("vector", "fr"), ("window", "es"))


def words_col(text: Column | str = "text") -> Column:
    """Whitespace tokenization (lossless on this corpus)."""
    return F.split(text, " ")


@register(
    "text_stats",
    oracle="""
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_words,
       CAST(sum(len(list_distinct(string_split(text, ' ')))) AS BIGINT)
           AS total_distinct_words,
       CAST(CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*)
            AS DOUBLE) AS avg_words
FROM documents
GROUP BY lang
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-count / distinct-word stats per language."""
    d = table(spark, sf_dir, "documents")
    w = words_col()
    d = d.select(
        "lang",
        F.size(w).cast("long").alias("n_words"),
        F.size(F.array_distinct(w)).cast("long").alias("n_distinct"),
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_words"),
        F.sum("n_distinct").alias("total_distinct_words"),
        (F.sum("n_words").cast("double") / F.count(F.lit(1))).alias("avg_words"),
    )


@register(
    "text_topwords",
    oracle="""
SELECT word, count(*) AS freq
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
GROUP BY word
ORDER BY freq DESC, word
LIMIT 10
""",
)
def text_topwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 words by frequency (explode → agg → top-k)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(words_col()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "word")
        .limit(10)
    )


@register(
    "text_tokens",
    oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       CAST(list_sum(list_transform(string_split(text, ' '),
                                    w -> CAST(ceil(length(w) / 4.0) AS BIGINT)))
            AS BIGINT) AS n_tokens
FROM documents
""",
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: ceil(len/4) tokens per word, summed per doc."""
    d = table(spark, sf_dir, "documents")
    w = words_col()
    tok = F.transform(w, lambda x: F.ceil(F.length(x) / 4.0).cast("long"))
    n_tokens = F.aggregate(tok, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return d.select(
        "doc_id",
        F.size(w).cast("long").alias("n_words"),
        n_tokens.alias("n_tokens"),
    )


@register(
    "text_quality",
    oracle=f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       round(CAST(list_sum(list_transform(string_split(text, ' '),
                                          w -> CAST(length(w) AS BIGINT)))
                  AS DOUBLE) / len(string_split(text, ' ')), 4) AS avg_word_len,
       round(CAST(len(list_filter(string_split(text, ' '),
                                  w -> w IN ('the', 'a'))) AS DOUBLE)
             / len(string_split(text, ' ')), 4) AS stop_ratio
FROM documents
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality signals: avg word length + stopword ratio."""
    d = table(spark, sf_dir, "documents")
    w = words_col()
    n_words = F.size(w).cast("long")
    total_len = F.aggregate(
        F.transform(w, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_stop = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS))).cast("long")
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(total_len.cast("double") / n_words, 4).alias("avg_word_len"),
        F.round(n_stop.cast("double") / n_words, 4).alias("stop_ratio"),
    )


@register(
    "lang_id",
    oracle="""
SELECT lang,
       count(*) AS n_docs,
       round(avg(CASE WHEN (CASE
            WHEN list_contains(string_split(text, ' '), 'spark')  THEN 'en'
            WHEN list_contains(string_split(text, ' '), 'merge')  THEN 'de'
            WHEN list_contains(string_split(text, ' '), 'vector') THEN 'fr'
            WHEN list_contains(string_split(text, ' '), 'window') THEN 'es'
            ELSE 'en' END) = lang THEN 1.0 ELSE 0.0 END) * 100, 4) AS acc_pct
FROM documents
GROUP BY lang
""",
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic + accuracy vs the labeled lang.

    (On real corpora the markers would be character n-gram profiles; the
    operator shape — deterministic classify + accuracy rollup — is the
    same.)
    """
    d = table(spark, sf_dir, "documents")
    w = words_col()
    pred = F.lit("en")
    for marker, lang in reversed(LANG_MARKERS):
        pred = F.when(F.array_contains(w, marker), F.lit(lang)).otherwise(pred)
    hit = F.when(pred == F.col("lang"), F.lit(1.0)).otherwise(F.lit(0.0))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(hit) * 100, 4).alias("acc_pct"),
    )


@register(
    "text_bigrams",
    oracle="""
SELECT bigram, count(*) AS freq
FROM (
  SELECT unnest(list_transform(
           string_split(text, ' ')[1:len(string_split(text, ' ')) - 1],
           (w, i) -> concat(w, ' ', string_split(text, ' ')[i + 1]))) AS bigram
  FROM documents
  WHERE len(string_split(text, ' ')) >= 2
)
GROUP BY bigram
ORDER BY freq DESC, bigram
LIMIT 10
""",
)
def text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 adjacent word pairs (2-gram shingles) by frequency."""
    d = table(spark, sf_dir, "documents")
    w = words_col()
    # zip the array with its own shift — NEVER index the outer array
    # inside the lambda (element_at(w, i) re-evaluates the split per
    # element → O(words²) per document).
    bigrams = F.zip_with(
        F.slice(w, 1, F.size(w) - 1),
        F.slice(w, 2, F.size(w) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        d.filter(F.size(w) >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "bigram")
        .limit(10)
    )


@register(
    "text_fingerprint",
    oracle="""
SELECT doc_id,
       CAST(list_sum(list_transform(string_split(text, ' '),
            (w, i) -> i * (CAST(length(w) AS BIGINT) * 131
                           + ascii(substr(w, 1, 1)) * 31
                           + ascii(right(w, 1))))) AS BIGINT)
         % 2147483647 AS fp
FROM documents
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint (position-weighted word codes).

    Deliberately built from arithmetic both engines share (length/ascii)
    rather than an engine hash, so it IS oracle-checkable; the
    xxhash64-based 64-bit fingerprint for production lives in
    piper_spark.functions.dedup.
    """
    d = table(spark, sf_dir, "documents")
    w = words_col()
    # Spark lambda index is 0-based; DuckDB's is 1-based → use (i + 1).
    weighted = F.transform(
        w,
        lambda x, i: (i + 1).cast("long")
        * (
            F.length(x).cast("long") * 131
            + F.ascii(F.substring(x, 1, 1)).cast("long") * 31
            + F.ascii(x.substr(F.length(x), F.lit(1))).cast("long")
        ),
    )
    total = F.aggregate(weighted, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return d.select("doc_id", (total % 2147483647).alias("fp"))


@register(
    "text_tfidf",
    oracle="""
WITH tf AS (
  SELECT doc_id, w AS word, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY doc_id, w
),
df AS (
  SELECT word, count(*) AS df FROM tf GROUP BY word
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.word,
         CAST(tf.tf AS BIGINT) AS tf,
         CAST(df.df AS BIGINT) AS df,
         (tf.tf * 1000000 * n.n_docs) // df.df AS score
  FROM tf JOIN df USING (word), n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, word) AS rn
  FROM scored
)
SELECT doc_id, word, tf, df, CAST(score AS BIGINT) AS score
FROM ranked WHERE rn <= 3
""",
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 keywords per document by an integer TF-IDF score.

    score = tf · ⌊10⁶·N⌋ // df — the idf is kept as an exact integer
    ratio instead of ln(N/df) because libm log differs across engines
    in the last bits; the ORDERING is identical to the log form for a
    fixed N (both monotone in tf/df). Shape: explode → two hash aggs
    (tf per (doc,word), df per word) → broadcast-joinable df relation →
    per-doc top-k window. At 100 TB, df is the only global state and
    it's vocabulary-sized.
    """
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(words_col()).alias("word"))
    # persist: the df aggregate AND the scoring join both read tf —
    # one explode + tf-agg pass instead of two (round 15).
    tf = words.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).alias("tf")
    ).persist()
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.select(F.count(F.lit(1)).alias("n_docs"))
    scored = tf.join(df, "word").crossJoin(F.broadcast(n_docs)).select(
        "doc_id",
        "word",
        "tf",
        "df",
        F.expr("tf * 1000000L * n_docs div df").alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "word")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "word", "tf", "df", "score")
    )


def pii_facts(d: DataFrame) -> DataFrame:
    """The PII count/redact expression set over a (doc_id, text)
    relation — shared verbatim by the batch query `text_pii` and the
    streaming twin `streaming.events.stream_pii_scrub` (stateless
    per-row maps run unchanged under Structured Streaming)."""
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" from 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".1"),
            ),
        ).otherwise(F.lit("")),
    )
    email = r"[a-z0-9._]+@[a-z0-9.]+[a-z]"
    phone = r"[0-9]{3}-[0-9]{4}-[0-9]{4}"
    ip = r"[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+"
    aug = d.select("doc_id", t.alias("t"))
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), email, "<EMAIL>"), phone, "<PHONE>"
        ),
        ip,
        "<IP>",
    )
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("t"), F.lit(email), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(phone), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(ip), F.lit(0)))
        .cast("long")
        .alias("n_ips"),
        F.length(clean).cast("long").alias("clean_len"),
    )


@register(
    "text_pii",
    oracle="""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example or call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || CASE WHEN doc_id % 3 = 0
                      THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
                      ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '[a-z0-9._]+@[a-z0-9.]+[a-z]')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(t, '[0-9]{3}-[0-9]{4}-[0-9]{4}')) AS BIGINT)
         AS n_phones,
       CAST(len(regexp_extract_all(t, '[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+')) AS BIGINT)
         AS n_ips,
       length(regexp_replace(
         regexp_replace(
           regexp_replace(t, '[a-z0-9._]+@[a-z0-9.]+[a-z]', '<EMAIL>', 'g'),
           '[0-9]{3}-[0-9]{4}-[0-9]{4}', '<PHONE>', 'g'),
         '[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+', '<IP>', 'g')) AS clean_len
FROM aug
""",
)
def text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + scrubbing — the redaction pass every training
    corpus needs before the tokenizer sees it. The synthetic corpus
    carries no real PII, so a deterministic per-doc contact line is
    appended IN BOTH ENGINES first; the query then counts and redacts
    emails / phone numbers / IPv4s with anchored character-class
    regexes (kept inside the POSIX-compatible subset so Java regex and
    DuckDB's RE2 agree). Pure per-row expressions — but six regex
    passes per doc are CPU-heavy enough that the work must not be
    hostage to the input file layout (the `spread_for_decode` lesson:
    this fixture arrives as ONE parquet split, serializing every regex
    on a single core — the round-8 pinned +35% was exactly that
    single task; measured 0.54 s → 0.29 s at sf0.1 with the spread).
    At 100 TB the scan has thousands of splits and a real pipeline
    fuses the scrub onto an existing shuffle boundary instead; the
    streaming twin (`pii_facts` shared verbatim) never repartitions.
    """
    from piper_spark.sources.multimodal import spread_for_decode

    return pii_facts(spread_for_decode(table(spark, sf_dir, "documents")))


#: Broadcast gate for the decontamination semi-join (round-6 VERDICT
#: item 4 — the img_phash lesson applied BEFORE it bites): the eval
#: side is usually benchmark-sized, but THIS fixture derives it as
#: doc_id % 97 — ~1% of the corpus — which at 100 TB would be a ~1 TB
#: driver-side build. Broadcast only when a metadata-derived bound says
#: the hashed eval gram relation fits comfortably; otherwise pin a
#: shuffled hash join (keyed, build = the smaller eval side). The bound
#: is corpus row count ÷ 97 (parquet-footer read, no job) × a per-doc
#: gram ceiling × bytes per hashed-gram build row.
DECONTAM_EVAL_MOD = 97
DECONTAM_GRAMS_PER_DOC_BOUND = 256
DECONTAM_GRAM_BYTES = 32  # 8B hash + hashed-relation build overhead
DECONTAM_BROADCAST_MAX_BYTES = 64 << 20


def decontam_semi_join(
    train: DataFrame, eval_grams: DataFrame, n_corpus_docs: int, how: str
) -> DataFrame:
    """Join exploded train grams against the eval gram set, picking the
    physical strategy from a SIZE BOUND instead of trusting Catalyst's
    estimate through the explode (estimates through explodes undershoot
    — the img_phash OOM — and here they can also OVERSHOOT into a
    missed broadcast; the bound is derived from footer metadata, so the
    choice is deterministic at plan time and testable)."""
    est_eval_docs = n_corpus_docs // DECONTAM_EVAL_MOD + 1
    est_bytes = est_eval_docs * DECONTAM_GRAMS_PER_DOC_BOUND * DECONTAM_GRAM_BYTES
    if est_bytes <= DECONTAM_BROADCAST_MAX_BYTES:
        return train.join(F.broadcast(eval_grams), "h", how)
    return train.join(eval_grams.hint("shuffle_hash"), "h", how)


@register(
    "text_decontam",
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(ws[i:i+4], ' ')
                        FOR i IN range(1, greatest(len(ws) - 3, 2))]) AS sh
  FROM w
),
eval_sh AS (
  SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 97 = 0
),
train AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 97 <> 0)
SELECT DISTINCT t.doc_id
FROM train t JOIN eval_sh e ON t.g = e.g
ORDER BY t.doc_id
""",
)
def text_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — flag training docs sharing any
    5-gram with the eval set (docs with doc_id % 97 == 0 stand in for
    a held-out benchmark). Different from near-dup dedup: asymmetric
    (corpus vs a SMALL eval set) and any-overlap, not a similarity
    threshold. Shape: explode both sides to (doc, gram), hash the
    grams, equi-join on the hash — strategy picked by the size-gated
    `decontam_semi_join` (broadcast when the footer-derived eval bound
    fits, shuffled hash join otherwise — this fixture's % 97 eval set
    scales WITH the corpus, so an unconditional broadcast would be a
    ~1 TB build at 100 TB); the semi-join dedups flags before the
    distinct. The train side is round-robin repartitioned first so the
    explode+probe work spreads across cores even when the corpus
    arrives as one small parquet split (at real scale the input's own
    splits do this).
    """
    from piper_spark.functions.dedup import shingles

    # Spread the RAW rows, below the shingle projection: an
    # exchange above it would ship pre-computed shingle arrays but
    # leave the expensive compute itself on the input's single split.
    d = fan_out(table(spark, sf_dir, "documents"))
    # Hash every gram to 8 bytes INSIDE the shingle projection: both
    # join sides then carry int64s instead of ~50-byte gram strings, so
    # the broadcast build and the exploded probe shrink ~6×. A 64-bit
    # collision flagging one extra doc-for-review is acceptable for a
    # decontamination op (and vanishingly unlikely below ~2^32 distinct
    # grams). persist() makes the eval and train branches share ONE
    # shingle pass instead of recomputing it per branch.
    # CACHE LIFETIME: this returns a lazy plan, so the caller owns the
    # persisted relation (clearCache()/unpersist after the action).
    sh = (
        d.select(
            "doc_id",
            F.transform(
                F.array_distinct(shingles("text", n=5)),
                lambda g: F.xxhash64(g),
            ).alias("hs"),
        )
        .persist()
    )
    eval_grams = (
        sh.filter(F.col("doc_id") % DECONTAM_EVAL_MOD == 0)
        .select(F.explode("hs").alias("h"))
        .distinct()
    )
    train = sh.filter(F.col("doc_id") % DECONTAM_EVAL_MOD != 0).select(
        "doc_id", F.explode("hs").alias("h")
    )
    from piper_spark.session import row_count

    return (
        decontam_semi_join(
            train, eval_grams, row_count(spark, sf_dir, "documents"), "left_semi"
        )
        .select("doc_id")
        .distinct()
        .orderBy("doc_id")
    )


@register(
    "text_gopher",
    oracle="""
WITH s AS (
  SELECT doc_id, w, len(w) AS n,
         list_transform(w[1:len(w) - 1], (x, i) -> concat(x, ' ', w[i + 1])) AS bg,
         len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS alpha,
         list_sum(list_transform(w, x -> CAST(length(x) AS BIGINT))) AS tot
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
  WHERE len(w) >= 2
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_words,
       round(alpha / CAST(n AS DOUBLE), 4) AS alpha_frac,
       round(1 - len(list_distinct(bg)) / CAST(len(bg) AS DOUBLE), 4)
         AS dup_bigram_frac,
       CAST(CASE WHEN n >= 3
                  AND tot / CAST(n AS DOUBLE) BETWEEN 1 AND 12
                  AND alpha / CAST(n AS DOUBLE) >= 0.8
                  AND 1 - len(list_distinct(bg)) / CAST(len(bg) AS DOUBLE) <= 0.3
             THEN 1 ELSE 0 END AS BIGINT) AS gopher_pass
FROM s
""",
)
def text_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, public paper):
    word-count bounds, mean-word-length window [1, 12], ≥80% words with
    an alphabetic character, ≤30% duplicate bigrams. Complements
    `text_quality` (length/stopword signals) with the repetition and
    alpha-coverage rules a pretraining filter actually gates on.

    All signals are per-row HOF folds over one split — shuffle-free,
    codegen, a free rider on any scan. The pass flag is computed from
    the same doubles in both engines, so threshold boundaries agree
    bit-for-bit.
    """
    d = table(spark, sf_dir, "documents")
    w = words_col()
    n = F.size(w).cast("long")
    bg = F.zip_with(
        F.slice(w, 1, F.size(w) - 1),
        F.slice(w, 2, F.size(w) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    alpha = F.size(F.filter(w, lambda x: x.rlike("[a-z]"))).cast("long")
    tot = F.aggregate(
        F.transform(w, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    alpha_frac = alpha / n.cast("double")
    avg_wl = tot / n.cast("double")
    dup_frac = F.lit(1.0) - F.size(F.array_distinct(bg)) / F.size(bg).cast("double")
    gopher_pass = (
        (n >= 3)
        & avg_wl.between(1.0, 12.0)
        & (alpha_frac >= 0.8)
        & (dup_frac <= 0.3)
    )
    return (
        d.filter(F.size(w) >= 2)
        .select(
            "doc_id",
            n.alias("n_words"),
            F.round(alpha_frac, 4).alias("alpha_frac"),
            F.round(dup_frac, 4).alias("dup_bigram_frac"),
            gopher_pass.cast("long").alias("gopher_pass"),
        )
    )


#: The 8 Gopher stop words (Rae et al. 2021 §A1.1): a pass requires a
#: document to contain at least 2 of them.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


@register(
    "text_gopher_full",
    oracle="""
WITH s AS (
  SELECT doc_id,
         len(ws) AS n,
         list_sum(list_transform(ws, x -> CAST(length(x) AS BIGINT))) AS tot,
         len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS alpha,
         length(text) - length(replace(text, '#', '')) AS hash_cnt,
         (length(text) - length(replace(text, '...', ''))) // 3 AS ell_cnt,
         len(ls) AS n_lines,
         len(list_filter(ls, l -> starts_with(l, '•') OR starts_with(l, '-')))
           AS bullet_lines,
         len(list_filter(ls, l -> ends_with(l, '...') OR ends_with(l, '…')))
           AS ell_lines,
         len(list_filter(['the','be','to','of','and','that','have','with'],
                         w -> list_contains(ws, w))) AS n_stop
  FROM (SELECT doc_id, text,
               string_split(text, ' ') AS ws,
               string_split(text, chr(10)) AS ls
        FROM documents)
  WHERE len(ws) >= 1
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_words,
       round(tot / CAST(n AS DOUBLE), 4) AS mean_word_len,
       round((hash_cnt + ell_cnt) / CAST(n AS DOUBLE), 4) AS symbol_ratio,
       round(bullet_lines / CAST(n_lines AS DOUBLE), 4) AS bullet_line_frac,
       round(ell_lines / CAST(n_lines AS DOUBLE), 4) AS ellipsis_line_frac,
       round(alpha / CAST(n AS DOUBLE), 4) AS alpha_frac,
       CAST(n_stop AS BIGINT) AS n_stopwords,
       CAST(CASE WHEN n BETWEEN 50 AND 100000
                  AND tot / CAST(n AS DOUBLE) BETWEEN 3 AND 10
                  AND (hash_cnt + ell_cnt) / CAST(n AS DOUBLE) <= 0.1
                  AND bullet_lines / CAST(n_lines AS DOUBLE) <= 0.9
                  AND ell_lines / CAST(n_lines AS DOUBLE) <= 0.3
                  AND alpha / CAST(n AS DOUBLE) >= 0.8
                  AND n_stop >= 2
             THEN 1 ELSE 0 END AS BIGINT) AS gopher_full_pass
FROM s
""",
)
def text_gopher_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE Gopher quality-gate rule set (Rae et al. 2021
    §A1.1, public paper) — extends `text_gopher`'s four rules with the
    remaining published ones (round-5 VERDICT item 8):

    - word count in [50, 100000] and mean word length in [3, 10];
    - symbol-to-word ratio ('#' occurrences + '...' occurrences,
      counted via length-minus-replace so both engines count
      non-overlapping matches identically) ≤ 0.1;
    - ≤ 90% of lines start with a bullet ('•' or '-') and ≤ 30% of
      lines end with an ellipsis ('...' or '…') — lines are
      newline-split; this synthetic corpus is single-line, so the
      fractions are 0/1-valued here but the expressions are the real
      per-line folds a multi-line corpus exercises;
    - ≥ 80% of words contain an alphabetic character;
    - at least 2 distinct Gopher stop words present
      (:data:`GOPHER_STOPWORDS`, counted by membership of each stop
      word in the doc's word array — unambiguous in both engines,
      unlike intersect-dedup semantics).

    Same shape as `text_gopher`: shuffle-free per-row codegen folds,
    a free rider on any scan; the pass flag derives from the same
    unrounded doubles in both engines so threshold boundaries agree
    bit-for-bit.
    """
    d = table(spark, sf_dir, "documents")
    w = words_col()
    lines = F.split("text", "\n")
    n = F.size(w).cast("long")
    tot = F.aggregate(
        F.transform(w, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    alpha = F.size(F.filter(w, lambda x: x.rlike("[a-z]"))).cast("long")
    hash_cnt = (F.length("text") - F.length(F.replace("text", F.lit("#")))).cast(
        "long"
    )
    ell_cnt = (
        (F.length("text") - F.length(F.replace("text", F.lit("...")))) / F.lit(3)
    ).cast("long")
    n_lines = F.size(lines).cast("long")
    bullet_lines = F.size(
        F.filter(lines, lambda l: l.startswith("•") | l.startswith("-"))
    ).cast("long")
    ell_lines = F.size(
        F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
    ).cast("long")
    n_stop = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            lambda s: F.array_contains(w, s),
        )
    ).cast("long")
    mean_wl = tot / n.cast("double")
    symbol_ratio = (hash_cnt + ell_cnt) / n.cast("double")
    bullet_frac = bullet_lines / n_lines.cast("double")
    ell_frac = ell_lines / n_lines.cast("double")
    alpha_frac = alpha / n.cast("double")
    gopher_pass = (
        n.between(50, 100000)
        & mean_wl.between(3.0, 10.0)
        & (symbol_ratio <= 0.1)
        & (bullet_frac <= 0.9)
        & (ell_frac <= 0.3)
        & (alpha_frac >= 0.8)
        & (n_stop >= 2)
    )
    return d.filter(F.size(w) >= 1).select(
        "doc_id",
        n.alias("n_words"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(symbol_ratio, 4).alias("symbol_ratio"),
        F.round(bullet_frac, 4).alias("bullet_line_frac"),
        F.round(ell_frac, 4).alias("ellipsis_line_frac"),
        F.round(alpha_frac, 4).alias("alpha_frac"),
        n_stop.alias("n_stopwords"),
        gopher_pass.cast("long").alias("gopher_full_pass"),
    )


#: Chunking geometry: CHUNK_WORDS-word windows advancing CHUNK_STRIDE
#: words (16-word overlap) — the sliding-window document chunking every
#: context-window pipeline (RAG indexing, long-doc pretraining) runs.
CHUNK_WORDS, CHUNK_STRIDE = 64, 48


@register(
    "text_chunks",
    oracle=f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
s AS (
  SELECT doc_id, w,
         unnest(range(0, greatest(len(w), 1), {CHUNK_STRIDE})) AS start
  FROM d
)
SELECT doc_id,
       CAST(start // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(len(w[start + 1 : start + {CHUNK_WORDS}]) AS BIGINT)
         AS n_chunk_words,
       array_to_string(w[start + 1 : start + {CHUNK_WORDS}], ' ')
         AS chunk_text
FROM s
""",
)
def text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document CHUNKING — split every document into
    {CHUNK_WORDS}-word windows advancing {CHUNK_STRIDE} words (16-word
    overlap), the context-window preparation step of RAG indexing and
    long-document pretraining pipelines (each chunk must fit the
    model's window; the overlap preserves cross-boundary context).

    One narrow pass: split → `sequence` of chunk starts → posexplode →
    `slice`/`array_join` — no shuffle at all (chunking is per-row), so
    it scales with the scan. The final chunk is the tail (possibly
    short); a short document yields exactly one chunk. Deterministic
    chunk_id = start // stride.
    """
    d = table(spark, sf_dir, "documents")
    w = words_col()
    n = F.size(w)
    starts = F.sequence(
        F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(CHUNK_STRIDE)
    )
    chunk = F.slice(F.col("w"), F.col("start") + 1, CHUNK_WORDS)
    return (
        d.select("doc_id", w.alias("w"), F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (F.col("start") / CHUNK_STRIDE).cast("long").alias("chunk_id"),
            F.size(chunk).cast("long").alias("n_chunk_words"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


#: Context-window budget for sequence packing (whitespace+BPE-ish
#: tokens, matching `text_tokens`' ceil(len/4) rule), and the shard
#: width: each CONTIGUOUS doc_id range of PACK_SHARD_DOCS documents is
#: its own token stream, so the cumsum window's partition key
#: (lang, shard) has unbounded cardinality — no single-task stream at
#: any corpus size (every test SF fits in shard 0, so small-scale
#: results are the unsharded ones).
PACK_BUDGET, PACK_SHARD_DOCS = 512, 1_000_000


@register(
    "text_pack",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, doc_id // {PACK_SHARD_DOCS} AS shard,
         CAST(list_sum(list_transform(string_split(text, ' '),
                                      w -> CAST(ceil(length(w) / 4.0) AS BIGINT)))
              AS BIGINT) AS n_tokens
  FROM documents
),
o AS (
  SELECT doc_id, lang, shard, n_tokens,
         CAST(COALESCE(sum(n_tokens) OVER (
           PARTITION BY lang, shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_offset
  FROM t
)
SELECT doc_id, lang, CAST(shard AS BIGINT) AS shard, n_tokens, start_offset,
       CAST(start_offset // {PACK_BUDGET} AS BIGINT) AS pack_id,
       CAST((start_offset + n_tokens - 1) // {PACK_BUDGET}
            - start_offset // {PACK_BUDGET} + 1 AS BIGINT) AS spans
FROM o
""",
)
def text_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE PACKING bookkeeping — concatenate each language's
    documents in doc_id order into one token stream and cut it every
    {PACK_BUDGET} tokens: per document, its start offset in the
    stream, its first context window (`pack_id`), and how many windows
    it straddles (`spans`). This is the concat-and-cut packing LLM
    pretraining uses to waste no context (documents may straddle
    window boundaries); the output is the shuffle-side plan for
    writing packed examples.

    Packing is inherently sequential WITHIN a stream, so the stream is
    the window partition — and the stream key is (lang, shard), where
    a shard is a CONTIGUOUS PACK_SHARD_DOCS-wide doc_id range packing
    independently (how distributed packing actually writes: one stream
    per writer). That keeps the cumsum window's partition cardinality
    growing with the corpus — a lang-only key would collapse 100 TB
    into a handful of single-task streams, the low-cardinality-window
    trap `win_dist` already eliminates. The same exclusive-frame
    cumsum shape as `win_running`; token counts follow `text_tokens`'
    ceil(len/4) BPE-ish rule, exact integers end-to-end. Every test SF
    fits inside shard 0, so small-scale results are the unsharded
    stream's.
    """
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    w = words_col()
    tok = F.transform(w, lambda x: F.ceil(F.length(x) / 4.0).cast("long"))
    n_tokens = F.aggregate(tok, F.lit(0).cast("long"), lambda acc, x: acc + x)
    t = d.select(
        "doc_id",
        "lang",
        (F.col("doc_id") / PACK_SHARD_DOCS).cast("long").alias("shard"),
        n_tokens.alias("n_tokens"),
    )
    win = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(win), F.lit(0))
    t = t.withColumn("start_offset", start)
    first_pack = F.floor(F.col("start_offset") / PACK_BUDGET)
    last_pack = F.floor(
        (F.col("start_offset") + F.col("n_tokens") - 1) / PACK_BUDGET
    )
    return t.select(
        "doc_id",
        "lang",
        "shard",
        "n_tokens",
        "start_offset",
        first_pack.cast("long").alias("pack_id"),
        (last_pack - first_pack + 1).cast("long").alias("spans"),
    )


#: Winnowing (Schleimer, Wilkerson & Aiken, SIGMOD 2003): k-word grams,
#: window of WINNOW_W consecutive gram hashes, keep each window's min.
#: K matches dedup_jaccard_shingle's shingle width so the two views of
#: "near duplicate" are comparable; W=4 gives the ~2/(W+1) fingerprint
#: density the paper derives (guarantee threshold t = W + K - 1 = 6
#: words: any shared run of >= 6 words shares >= 1 fingerprint).
WINNOW_K, WINNOW_W = 3, 4


#: Word-hash modulus (prime): full-character polynomial fold
#: (acc·31 + char) mod P — every character participates, so distinct
#: words collide with probability ~1/P (the previous len/first/last
#: sample collided on real word pairs like 'and'/'add' and the scale
#: corpora's 'alpha12'/'alpha32', which could inflate dedup_substring
#: run lengths with no verify stage to catch it). 31 and P are shared
#: constants across engines; Spark aggregate ≡ DuckDB list_reduce.
WORD_HASH_MOD = 1_000_000_007


def _winnow_word_hash(x: Column) -> Column:
    """Full-char polynomial word hash from arithmetic both engines
    share (ascii/substring fold), so winnowing stays oracle-checkable;
    the production variant would use xxhash64. acc stays < P·31 + 255
    — no int64 overflow at any word length.

    Zero-length guard (the winnow_fps lesson): sequence(1, 0) yields
    the DESCENDING [1, 0], so an empty word — possible under repeated/
    leading/trailing spaces — would fold two out-of-range substr terms
    instead of none. Both engines happen to agree (ascii('') = 0), but
    the guard makes "empty word hashes to 0" designed, not accidental,
    and matches the oracle's range(1, 1) = [] exactly."""
    return F.when(
        F.length(x) >= 1,
        F.aggregate(
            F.sequence(F.lit(1), F.length(x)),
            F.lit(0).cast("long"),
            lambda acc, i: (acc * 31 + F.ascii(x.substr(i, F.lit(1))).cast("long"))
            % WORD_HASH_MOD,
        ),
    ).otherwise(F.lit(0).cast("long"))


def word_fold_sql(expr: str) -> str:
    """DuckDB fragment mirroring :func:`_winnow_word_hash` exactly
    (the list_prepend(0, …) seed makes the empty string fold to 0,
    matching the Spark guard)."""
    return (
        "list_reduce("
        "list_prepend(0::BIGINT, "
        f"list_transform(range(1, length({expr}) + 1), "
        f"i -> CAST(ord(substring({expr}, CAST(i AS INT), 1)) AS BIGINT))), "
        f"(acc, x) -> (acc * 31 + x) % {WORD_HASH_MOD})"
    )


# --- Arrow-vectorized word hash (the hot-path form of the fold) -------
#
# The sequential fold (acc·31 + c_i) mod P expands to the closed form
#     h = Σ_i c_i · 31^(L−1−i)   (mod P),
# which is the SAME residue class, and both forms reduce into [0, P) —
# so the numpy evaluation below is bit-identical to `_winnow_word_hash`
# (and to the DuckDB `list_reduce` oracle) for every input, including
# the empty-word → 0 guard. The round-10 oracle-exactness re-basing put
# this fold on the minhash/simhash/winnow hot paths as an interpreted
# Catalyst HOF (substr + ascii PER CHARACTER); at sf0.1 that tax was a
# pinned ~1.8× on `dedup_minhash` (round-10 VERDICT item 1). Here the
# whole batch is hashed in a handful of C passes: one str.join, one
# utf-32 decode (code points == what Spark `ascii`/`substr` and DuckDB
# `ord`/`substring` index, both count code points, not bytes), one
# modular power-table gather, one `np.add.reduceat` segment sum.
#
# int64 overflow audit: code points < 2²¹, powers < P < 2³⁰ → products
# < 2⁵¹; each post-mod term < 2³⁰, so segment sums stay in int64 for
# words/segments up to 2³³ characters.

_POW31: "np.ndarray | None" = None


def _pow31_table(n: int) -> "np.ndarray":
    """31^k mod P for k in [0, n) — grown monotonically, cached per
    process (workers keep it across Arrow batches)."""
    global _POW31
    if _POW31 is None or len(_POW31) < n:
        size = max(n, 256)
        pows = np.empty(size, dtype=np.int64)
        p = 1
        for i in range(size):
            pows[i] = p
            p = (p * 31) % WORD_HASH_MOD
        _POW31 = pows
    return _POW31


def _hash_words_flat(words: list) -> "np.ndarray":
    """int64 word hashes for a flat list of Python strings — the
    vectorized closed form of :func:`_winnow_word_hash` (see the
    equivalence note above). Empty strings hash to 0 (the guard)."""
    n = len(words)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return out
    lens = np.fromiter((len(w) for w in words), dtype=np.int64, count=n)
    total = int(lens.sum())
    if total == 0:
        return out
    # One C pass per step: join → utf-32 decode → gather → segment-sum.
    cps = np.frombuffer("".join(words).encode("utf-32-le"), dtype="<u4").astype(
        np.int64
    )
    ends = np.cumsum(lens)
    starts = ends - lens
    exps = np.repeat(ends, lens) - 1 - np.arange(total, dtype=np.int64)
    terms = (cps * _pow31_table(int(lens.max()))[exps]) % WORD_HASH_MOD
    nz = np.flatnonzero(lens)
    # reduceat: starts of NONEMPTY words are strictly increasing, and
    # each segment ends exactly at the next nonempty start (empty words
    # contribute no characters), so segment k sums word k's terms.
    out[nz] = np.add.reduceat(terms, starts[nz]) % WORD_HASH_MOD
    return out


_WORD_HASH_UDFS: dict = {}


def text_word_hash_udf():
    """Arrow UDF factory: text STRING → array<long> of per-word hashes,
    fusing tokenization + hash in one Python crossing. Tokenization is
    ``str.split(" ")``, which matches :func:`words_col` (= Spark
    ``split(text, ' ')``, limit −1) exactly: both keep leading/
    trailing/repeated-space empties, and ``"".split(" ") == [""]`` just
    like Java's ``split`` — pinned by the hypothesis parity test in
    tests/test_udfs.py. NULL text → NULL array (what ``transform`` over
    a null array yields)."""
    if "text_arr" not in _WORD_HASH_UDFS:

        @F.pandas_udf("array<long>")
        def text_word_hashes(text: pd.Series) -> pd.Series:
            counts: list = []
            flat: list = []
            for t in text:
                if t is None:
                    counts.append(None)
                else:
                    ws = t.split(" ")
                    counts.append(len(ws))
                    flat.extend(ws)
            hashes = _hash_words_flat(flat)
            res: list = []
            off = 0
            for c in counts:
                if c is None:
                    res.append(None)
                else:
                    res.append(hashes[off : off + c])
                    off += c
            return pd.Series(res, dtype=object)

        # asNondeterministic (round 15, guide §4.4): the UDF IS
        # deterministic, but leaving it eligible for optimizer
        # duplication meant every Generate over a gram fold derived
        # from this column INFERRED a size/notnull filter and pushed
        # it below the fan-out Exchange — re-evaluating the WHOLE
        # Arrow pass a second time below the shuffle and the zip_with
        # gram fold twice more inside the filter condition (measured
        # on dedup_substring: 2× ArrowEvalPython + 3× fold → 1× + 1×,
        # wall ~4.3–7 s → ~3.0–3.4 s; same shape on every
        # _gram_arrays/winnow consumer). Results are value-identical —
        # the flag only forbids the optimizer from duplicating or
        # reordering the call.
        _WORD_HASH_UDFS["text_arr"] = text_word_hashes.asNondeterministic()
    return _WORD_HASH_UDFS["text_arr"]


def words_hash_udf():
    """Arrow UDF factory: array<string> → array<long> of word hashes —
    the pre-tokenized form (e.g. a distinct-sliced word array). NULL
    array → NULL; NULL elements → 0 (the `_winnow_word_hash` null/empty
    guard: its WHEN condition is null → otherwise-0)."""
    if "words_arr" not in _WORD_HASH_UDFS:

        @F.pandas_udf("array<long>")
        def words_hashes(words: pd.Series) -> pd.Series:
            counts: list = []
            flat: list = []
            for ws in words:
                if ws is None:
                    counts.append(None)
                else:
                    counts.append(len(ws))
                    flat.extend("" if w is None else w for w in ws)
            hashes = _hash_words_flat(flat)
            res: list = []
            off = 0
            for c in counts:
                if c is None:
                    res.append(None)
                else:
                    res.append(hashes[off : off + c])
                    off += c
            return pd.Series(res, dtype=object)

        # asNondeterministic: same §4.4 duplication guard as
        # text_word_hash_udf — the spine consumers explode this
        # column, and the Generate-inferred filter would otherwise
        # clone the Arrow pass below the fan-out exchange.
        _WORD_HASH_UDFS["words_arr"] = words_hashes.asNondeterministic()
    return _WORD_HASH_UDFS["words_arr"]


def word_hash_scalar_udf():
    """Arrow UDF factory: STRING word → long hash — the exploded-word
    form (simhash/minhash-word paths hash AFTER the distinct explode).
    NULL → 0, matching `_winnow_word_hash`'s guard."""
    if "scalar" not in _WORD_HASH_UDFS:

        @F.pandas_udf("long")
        def word_hash(w: pd.Series) -> pd.Series:
            mask = w.notna().to_numpy()
            out = np.zeros(len(w), dtype=np.int64)
            if mask.any():
                out[mask] = _hash_words_flat(w[mask].tolist())
            return pd.Series(out)

        _WORD_HASH_UDFS["scalar"] = word_hash
    return _WORD_HASH_UDFS["scalar"]


def gram_hash_col(hw: Column, n: int = WINNOW_K) -> Column:
    """Rolling n-word-gram hash array from a word-hash array Column:
    g(i) = ((hw[i]·8191 + hw[i+1])·8191 + …)·8191 + hw[i+n−1], built
    with `zip_with` over shifted slices (never `element_at(expr, i)`
    in a lambda — the HOF-inlining trap).  ONE definition of the gram
    fold shared by `_gram_arrays` (winnow/minhash scale paths) and the
    slow/test shingle path (functions/dedup.py `shingle_hashes`), so
    the 8191 multiplier and window width cannot silently diverge.

    CALLER NOTE: pass `hw` as a bound column reference (a separate
    projection) on hot paths — as an inline expression it is
    re-evaluated once per slice."""
    ng = F.greatest(F.size(hw) - (n - 1), F.lit(0))
    g = F.slice(hw, 1, ng)
    for i in range(2, n + 1):
        g = F.zip_with(g, F.slice(hw, i, ng), lambda x, y: x * 8191 + y)
    return g


def _gram_arrays(
    d: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, grams) — the rolling 3-word-gram hash array `winnow_fps`,
    `gram_rel`, and the minhash signature path build on.

    STRUCTURED so each intermediate array is computed ONCE per row:
    `hw` and `grams` are separate multi-referenced projections and the
    gram hash is built with `zip_with` over shifted slices, NOT via
    `element_at(<expr>, i)` inside a lambda — Catalyst inlines single-
    reference expressions into lambda bodies and re-evaluates them per
    element, which turns a 50-word doc into ~10⁵ scalar ops (measured:
    ~0.2 s/doc). The multi-reference form keeps the whole pipeline
    O(chars) per document.

    The word-hash pass itself is the Arrow `text_word_hash_udf` (one
    columnar crossing, numpy closed-form fold — bit-identical to the
    `_winnow_word_hash` HOF by the mod-P expansion; parity-tested),
    recovering the round-10 interpreted-HOF tax on every gram consumer
    (minhash/winnow/substring). Downstream gram folding stays JVM-side
    `zip_with`. No shuffle is introduced: ArrowEvalPython is a
    per-partition node, so winnow fingerprinting stays Exchange-free."""
    t = d.select(id_col, text_word_hash_udf()(F.col(text_col)).alias("hw"))
    return t.select(id_col, gram_hash_col(F.col("hw")).alias("grams"))


def winnow_fps(d: DataFrame) -> DataFrame:
    """(doc_id, fp) winnowing fingerprints — ZERO-shuffle scan-bound
    per-row HOFs: word-hash array → rolling k-gram hash array → per-
    window array_min → array_distinct → explode. No Python, no window
    exchange: the whole selection runs inside whole-stage codegen, so
    at 100 TB this is embarrassingly parallel over parquet splits.
    See `_gram_arrays` for the expression-structure constraints.

    fan_out (round 14): "parallel over parquet splits" is exactly the
    problem on a SMALL corpus — one split = one core for the whole
    interpreted-HOF selection (measured 4.8 s single-task at sf0.1);
    the conditional repartition is a no-op at scale."""
    return winnow_fps_from_grams(_gram_arrays(fan_out(d)))


def winnow_fps_from_grams(t2: DataFrame) -> DataFrame:
    """Fingerprint selection from a (doc_id, grams) relation — factored
    from :func:`winnow_fps` so the shared near-dup signature stage
    (functions/dedup.py `near_dup_spine`) can reuse one gram relation
    across the minhash/winnow consumers."""
    g = F.col("grams")
    n_wins = F.greatest(F.size(g) - (WINNOW_W - 1), F.lit(0))
    # sequence(1, 0) would yield a DESCENDING [1, 0] — guard short docs.
    sel = F.when(n_wins >= 1, F.sequence(F.lit(1), n_wins)).otherwise(
        F.array().cast("array<int>")
    )
    mins = F.transform(sel, lambda i: F.array_min(F.slice(g, i, WINNOW_W)))
    return t2.select("doc_id", F.explode(F.array_distinct(mins)).alias("fp"))


#: toks → wh → grams → valid: the positioned 3-word-gram-hash relation
#: (doc_id, pos, g) both `text_winnow` and `dedup_substring` build on.
#: The word hash is the full-char polynomial fold (see WORD_HASH_MOD);
#: DuckDB's list_reduce mirrors Spark's aggregate exactly.
_GRAM_SQL = f"""
  SELECT doc_id,
         generate_subscripts(string_split(text, ' '), 1) AS pos,
         unnest(string_split(text, ' ')) AS word
  FROM documents
), wh AS (
  SELECT doc_id, pos,
         list_reduce(
           list_prepend(0::BIGINT,
             list_transform(range(1, length(word) + 1),
               i -> CAST(ord(substring(word, CAST(i AS INT), 1)) AS BIGINT))),
           (acc, x) -> (acc * 31 + x) % {WORD_HASH_MOD}) AS h
  FROM toks
), grams AS (
  SELECT doc_id, pos,
         (h * 8191 + lead(h, 1) OVER w) * 8191 + lead(h, 2) OVER w AS g
  FROM wh
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), valid AS (
  SELECT doc_id, pos, g FROM grams WHERE g IS NOT NULL
"""

_WINNOW_FPS_SQL = (
    _GRAM_SQL
    + """
), wins AS (
  SELECT doc_id,
         min(g) OVER w4 AS fp,
         count(g) OVER w4 AS n_in_win
  FROM valid
  WINDOW w4 AS (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
), fps AS (
  SELECT DISTINCT doc_id, fp FROM wins WHERE n_in_win = 4
"""
)


@register(
    "text_winnow",
    oracle=f"""
WITH toks AS ({_WINNOW_FPS_SQL})
SELECT doc_id, fp FROM fps
""",
)
def text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003, the MOSS
    algorithm) — the locality-guaranteed fingerprint family the
    rolling-hash `text_fingerprint` doesn't give: any two documents
    sharing a run of WINNOW_W + WINNOW_K - 1 = 6 words are GUARANTEED
    to share a fingerprint, while only ~2/(W+1) of grams are kept.

    The Spark plan is one parquet scan + codegen HOFs + one explode —
    no shuffle at all (the oracle's window-function formulation is the
    SQL mirror of the same arithmetic; per-doc array_distinct already
    makes (doc_id, fp) globally distinct). Feeds `dedup_winnow`."""
    return winnow_fps(table(spark, sf_dir, "documents"))


#: Per-doc bigram-LM score SQL — shared by `text_lm_score` and the
#: CCNet-style bucket key below.
_LM_SCORE_SQL = """
WITH toks AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, ' '), 1) AS pos,
         unnest(string_split(text, ' ')) AS word
  FROM documents
), bg AS (
  SELECT doc_id, word AS w1,
         lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM toks
), bgv AS (
  SELECT doc_id, w1, w2 FROM bg WHERE w2 IS NOT NULL
), bc AS (
  SELECT w1, w2, count(*) AS c12 FROM bgv GROUP BY w1, w2
), uc AS (
  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bc GROUP BY w1
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum((bc.c12 * 1000000) // uc.c1) // count(*) AS BIGINT)
           AS lm_score
FROM bgv JOIN bc USING (w1, w2) JOIN uc USING (w1)
GROUP BY doc_id
"""


@register(
    "text_lm_score",
    oracle=_LM_SCORE_SQL,
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score — the engine's analogue of CCNet-style
    perplexity filtering (Wenzek et al., LREC 2020): train bigram
    conditional frequencies ON the corpus itself, then score each
    document by the mean scaled conditional probability
    mean_i floor(1e6 · C(w1,w2) / C(w1·)) of its bigrams. Improbable
    word sequences → low score; gates compose with `text_gopher_full`.

    Kept as EXACT integer arithmetic (`div`, not log-prob doubles) so
    the oracle is value-exact — the ordering is the same monotone
    ranking a mean-log form gives for a fixed model. Shape: one explode
    → ONE hash agg building the MODEL (bigram counts; the left-context
    total C(w1·) is a window sum over the model relation itself —
    model-sized, not corpus-sized, so it costs one small exchange
    instead of a second corpus join) → one bucketed equi-join back →
    one per-doc agg. At 100 TB the model relation shards by (w1, w2)
    keys — never broadcast blindly (web-corpus bigram vocab is huge),
    and the scoring join stays shuffle-bucketed and skew-safe because
    bigram keys are near-uniform."""
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    w = words_col()
    n = F.size(w)
    # zip the array with its own shift — never element_at(w, i) inside
    # the lambda (re-evaluates the split per element, the text_bigrams
    # lesson).
    bigrams = F.zip_with(
        F.slice(w, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(w, 2, F.greatest(n - 1, F.lit(0))),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    # persist: the MODEL aggregate and the scoring join's probe side
    # both read the bigram relation — one explode pass instead of two
    # (round 15; the text_dup_grams persist discipline).
    b = d.select("doc_id", F.explode(bigrams).alias("bg")).select(
        "doc_id", "bg.w1", "bg.w2"
    ).persist()
    model = (
        b.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .withColumn("c1", F.sum("c12").over(Window.partitionBy("w1")))
    )
    return (
        b.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.expr("sum((c12 * 1000000) div c1) div count(1)")
            .cast("long")
            .alias("lm_score"),
        )
    )


def gram_rel(d: DataFrame) -> DataFrame:
    """(doc_id, pos, g) positioned 3-word-gram hashes — the relation
    `dedup_substring` joins on. The shared `_gram_arrays` pipeline
    finished with a posexplode; pos is 1-based to mirror the SQL
    oracle."""
    return (
        _gram_arrays(d)
        .select("doc_id", F.posexplode("grams").alias("pos0", "g"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "g")
    )


#: Cross-document boilerplate rule: a 5-word gram appearing VERBATIM in
#: >= BOILER_DF distinct documents is boilerplate; every word position
#: it covers is removed. (Real web corpora run this at line/paragraph
#: granularity with higher df — Raffel et al. 2020's C4 three-sentence
#: rule, Wenzek et al. 2020's per-shard line dedup; this corpus has no
#: line structure, so the 5-gram window is the unit.)
BOILER_N, BOILER_DF = 5, 3


@register(
    "text_boilerplate",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, ' '), 1) AS pos,
         unnest(string_split(text, ' ')) AS word
  FROM documents
), g5 AS (
  SELECT doc_id, pos,
         word || ' ' || lead(word, 1) OVER w || ' ' || lead(word, 2) OVER w
              || ' ' || lead(word, 3) OVER w || ' ' || lead(word, 4) OVER w
             AS gram
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), valid AS (
  SELECT doc_id, pos, gram FROM g5 WHERE gram IS NOT NULL
), boiler AS (
  SELECT gram
  FROM (SELECT gram, count(DISTINCT doc_id) AS df FROM valid GROUP BY gram)
  WHERE df >= {BOILER_DF}
), hits AS (
  SELECT DISTINCT valid.doc_id, covered.cpos
  FROM valid JOIN boiler USING (gram),
       LATERAL (SELECT unnest(range(valid.pos, valid.pos + {BOILER_N}))
                AS cpos) covered
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(count(h.cpos) AS BIGINT) AS n_boiler_words,
       round(CAST(count(h.cpos) AS DOUBLE) / count(*), 4) AS boiler_ratio,
       COALESCE(array_to_string(
         list(t.word ORDER BY t.pos) FILTER (WHERE h.cpos IS NULL), ' '),
         '') AS cleaned
FROM toks t LEFT JOIN hits h ON h.doc_id = t.doc_id AND h.cpos = t.pos
GROUP BY t.doc_id
""",
)
def text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document BOILERPLATE REMOVAL — the C4/CCNet curation step
    the per-doc quality gates can't do: find 5-word grams repeated
    verbatim across >= {BOILER_DF} distinct documents and strip every
    word position they cover, emitting the cleaned text plus audit
    counts. This is a corpus TRANSFORM (rewrites documents), not a
    pair-finder — the other half of the dedup story: near-dup ops drop
    whole documents, this removes repeated fragments inside kept ones.

    Shape: zero-shuffle gram explode (persisted — the df agg AND the
    join-back read the same relation, one Generate instead of two) →
    gram-keyed df agg (the boiler relation) → gram equi-join back →
    covered-position explode → ONE doc-keyed collect_set of covered
    positions → doc-LEVEL left join onto the documents table, where the
    cleaned text is rebuilt with array functions over the words array
    (filter by 1-based index). Token rows never cross an exchange: the
    old shape shuffled EVERY token through a (doc_id, pos) join plus a
    collect_list/array_sort aggregate; now only boiler-covered
    positions (a small fraction) are shuffled, keyed by doc_id. Every
    stage is a keyed shuffle; the boiler relation is corpus-derived
    state sharded by gram — never broadcast blindly at 100 TB."""
    # Round-robin spread before the explode-heavy map side (the
    # pipeline_curate pattern): a one-split test input would otherwise
    # run the gram explosion on a single core; at real scale the
    # input's own splits do this and fan_out adds no shuffle.
    base = table(spark, sf_dir, "documents")
    d = fan_out(base)
    w = words_col()
    n5 = F.greatest(F.size(w) - (BOILER_N - 1), F.lit(0))
    gram5 = F.transform(
        F.sequence(F.lit(1), n5),
        lambda i: F.concat_ws(" ", F.slice(w, i, BOILER_N)),
    )
    valid = d.select(
        "doc_id",
        F.posexplode(
            F.when(n5 >= 1, gram5).otherwise(F.array().cast("array<string>"))
        ).alias("pos0", "gram"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "gram").persist()
    boiler = (
        valid.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= BOILER_DF)
        .select("gram")
    )
    # Per-doc covered-position SET (collect_set dedups overlapping
    # covers, replacing the old row-level distinct + its extra
    # exchange); cpos is always within [1, n_words] because pos <=
    # n_words - (BOILER_N - 1), so size(cov) IS the boiler word count.
    covers = (
        valid.join(boiler, "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (BOILER_N - 1))
            ).alias("cpos"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("cpos").alias("cov"))
    )
    # Doc-level reassembly: rebuild the cleaned text from the words
    # array in place (pos order = array order), no token-level shuffle.
    # The isNotNull filter mirrors the old explode semantics: a NULL
    # text produced zero token rows (and no output row) before.
    docs = base.filter(F.col("text").isNotNull()).select(
        "doc_id", w.alias("ws")
    )
    joined = docs.join(covers, "doc_id", "left").select(
        "doc_id", "ws", F.coalesce("cov", F.array().cast("array<int>")).alias("cov")
    )
    n_boiler = F.size("cov")
    cleaned = F.concat_ws(
        " ",
        F.filter(
            F.col("ws"),
            lambda x, i: ~F.array_contains(F.col("cov"), i + F.lit(1)),
        ),
    )
    return joined.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_words"),
        n_boiler.cast("long").alias("n_boiler_words"),
        F.round(
            n_boiler.cast("double") / F.size("ws"), 4
        ).alias("boiler_ratio"),
        cleaned.alias("cleaned"),
    )


@register(
    "text_ccnet_buckets",
    oracle=f"""
WITH scored AS ({_LM_SCORE_SQL}),
cuts AS (
  SELECT quantile_cont(CAST(lm_score AS DOUBLE), CAST(1 AS DOUBLE)/3) AS c1,
         quantile_cont(CAST(lm_score AS DOUBLE), CAST(2 AS DOUBLE)/3) AS c2
  FROM scored
)
SELECT doc_id, lm_score,
       CASE WHEN CAST(lm_score AS DOUBLE) <= cuts.c1 THEN 'tail'
            WHEN CAST(lm_score AS DOUBLE) <= cuts.c2 THEN 'middle'
            ELSE 'head' END AS bucket
FROM scored, cuts
""",
)
def text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style QUALITY TERCILES (Wenzek et al. 2020 §4.4): rank
    every document by its LM score and label head / middle / tail by
    the global tercile cuts — the partition CCNet publishes per shard
    so downstream consumers can choose their quality/volume trade
    (head-only for small high-quality runs, head+middle for the usual
    mix). Composes on `text_lm_score`'s exact integer scores.

    NOT an ntile() window: a global rank window would funnel the whole
    corpus through one partition. The cuts are ONE tiny two-value
    aggregate (Spark exact `percentile` and DuckDB `quantile_cont`
    interpolate identically on the same doubles — the agg_median
    recipe) broadcast back over a narrow map, so the corpus is never
    globally sorted and never leaves its scan partitioning. At 100 TB
    swap the exact percentile for `approx_percentile` — that path is
    implemented (`ccnet_buckets_rel(approx=True)`), its relabeling
    drift is banded in tests and measured at 10×/100× in SCALING.md;
    the registered key stays exact for the oracle."""
    # persist: the tercile-cut aggregate AND the output map both read
    # the scored relation — one scoring pass by construction, not by
    # hoping Catalyst's exchange reuse fires (caller owns the cache).
    scored = text_lm_score(spark, sf_dir).persist()
    return ccnet_buckets_rel(scored, approx=False)


def ccnet_buckets_rel(
    scored: DataFrame, approx: bool = False, accuracy: int = 10000
) -> DataFrame:
    """Bucket a scored relation by global tercile cuts. `approx=True`
    is the 100 TB path the registered key's docstring promises:
    `approx_percentile`'s mergeable KLL-style sketch replaces the exact
    `percentile` (whose per-partition state is the value multiset) —
    same single two-value aggregate broadcast back, no global sort
    either way. The swap moves the CUTS by at most the sketch's rank
    error (≤ n/accuracy ranks), relabeling only documents whose score
    sits between the exact and sketched cut — a drift fraction bounded
    in tests and measured at 10×/100× in SCALING.md, so the recipe is
    evidence, not prose."""
    fn = "approx_percentile" if approx else "percentile"
    acc = f", {accuracy}" if approx else ""
    cuts = scored.agg(
        F.expr(
            f"{fn}(cast(lm_score as double),"
            f" array(cast(1 as double)/3, cast(2 as double)/3){acc}) AS qs"
        )
    ).select(F.col("qs")[0].alias("c1"), F.col("qs")[1].alias("c2"))
    s = F.col("lm_score").cast("double")
    return scored.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "lm_score",
        F.when(s <= F.col("c1"), F.lit("tail"))
        .when(s <= F.col("c2"), F.lit("middle"))
        .otherwise(F.lit("head"))
        .alias("bucket"),
    )


def substring_clean_rel(d: DataFrame) -> DataFrame:
    """(doc_id, n_words, n_removed_words, cleaned) — cross-document
    SUBSTRING REMOVAL over an arbitrary (doc_id, text) relation; the
    reusable core of `text_substring_clean` (factored out so the
    idempotence property test can run it on its own output).

    Every stage is the keyed-shuffle machinery `dedup_substring`
    already proved: its diagonal islands (`dedup.substring_islands`,
    candidates from `lsh.capped_pairs`; contract in ARCHITECTURE.md,
    "Dedup"); then, instead of reporting the pair, each island is
    converted to the covered word span of the HIGHER doc_id document
    and stripped with `text_boilerplate`'s order-deterministic
    rebuild."""
    from piper_spark.functions.dedup import substring_islands

    spread = fan_out(d)
    # Island → covered word span of the HIGHER doc (p2 = p1 − diag; a
    # 3-gram at p2 covers words p2 .. p2+2, hence the +2 on the end).
    ext = substring_islands(spread).select(
        "id2",
        (F.col("p1_lo") - F.col("diag")).alias("s2"),
        (F.col("p1_hi") - F.col("diag") + 2).alias("e2"),
    )
    # Per-doc covered-position SET (collect_set dedups overlapping
    # island spans — the old row-level distinct + token join without
    # either exchange); covered positions are within [1, n_words] by
    # construction (a 3-gram at p2 exists only when p2+2 <= n_words).
    covers = (
        ext.select(
            F.col("id2").alias("doc_id"),
            F.explode(F.sequence(F.col("s2"), F.col("e2"))).alias("cpos"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("cpos").alias("cov"))
    )
    # Doc-level reassembly (the text_boilerplate round-15 shape):
    # rebuild the cleaned text from the words array in place — token
    # rows never cross an exchange. isNotNull mirrors the old explode
    # semantics (NULL text produced no token rows, hence no output row).
    w = words_col()
    docs = d.filter(F.col("text").isNotNull()).select(
        "doc_id", w.alias("ws")
    )
    joined = docs.join(covers, "doc_id", "left").select(
        "doc_id",
        "ws",
        F.coalesce("cov", F.array().cast("array<int>")).alias("cov"),
    )
    cleaned = F.concat_ws(
        " ",
        F.filter(
            F.col("ws"),
            lambda x, i: ~F.array_contains(F.col("cov"), i + F.lit(1)),
        ),
    )
    return joined.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_words"),
        F.size("cov").cast("long").alias("n_removed_words"),
        cleaned.alias("cleaned"),
    )


def _substring_clean_oracle() -> str:
    from piper_spark.functions.dedup import SUBSTR_MAX_DF, SUBSTR_MIN_RUN

    return f"""
WITH toks AS ({_GRAM_SQL}),
rare AS (
  SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS df FROM valid GROUP BY g)
  WHERE df <= {SUBSTR_MAX_DF}
), v AS (
  SELECT doc_id, pos, g FROM valid JOIN rare USING (g)
), m AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, a.pos AS p1, a.pos - b.pos AS diag
  FROM v a JOIN v b ON a.g = b.g AND a.doc_id < b.doc_id
), runs AS (
  SELECT id1, id2, diag, p1,
         p1 - row_number() OVER (PARTITION BY id1, id2, diag ORDER BY p1)
             AS island
  FROM m
), ext AS (
  SELECT id2, min(p1) - diag AS s2, max(p1) - diag + 2 AS e2
  FROM runs GROUP BY id1, id2, diag, island
  HAVING count(*) >= {SUBSTR_MIN_RUN}
), hits AS (
  SELECT DISTINCT id2 AS doc_id, cpos
  FROM ext, LATERAL (SELECT unnest(range(s2, e2 + 1)) AS cpos) c
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(count(h.cpos) AS BIGINT) AS n_removed_words,
       COALESCE(array_to_string(
         list(t.word ORDER BY t.pos) FILTER (WHERE h.cpos IS NULL), ' '),
         '') AS cleaned
FROM toks t LEFT JOIN hits h ON h.doc_id = t.doc_id AND h.cpos = t.pos
GROUP BY t.doc_id
"""


@register("text_substring_clean", oracle=_substring_clean_oracle())
def text_substring_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document SUBSTRING REMOVAL — the actual Lee et al. 2022
    operation (`dedup_substring` finds the pairs; this TRANSFORMS the
    corpus): every verbatim run of ≥ SUBSTR_MIN_RUN + 2 = 10 words
    shared between two documents is stripped from the higher-doc_id
    one, so exactly one copy (the lowest doc_id holder) survives —
    the min-doc_id keeper convention every dedup op in this engine
    uses. Emits ALL documents with audit counts and the cleaned text
    (byte-exact vs the oracle, like `text_boilerplate`).

    Complementary coverage, by df: `text_boilerplate` strips SHORT
    (5-gram) fragments repeated across ≥ 3 docs; this op strips LONG
    (≥ 10-word) runs whose grams appear in ≤ SUBSTR_MAX_DF docs — the
    df-cap that keeps the gram join bucketed is exactly the boundary
    where boilerplate removal takes over, so the two transforms
    compose. Removal is one-sided (higher doc_id): a transitive set of
    holders loses the run everywhere except the global minimum, since
    every other holder is the id2 of its pair with that minimum —
    re-running the transform on its own output is a fixed point
    (property-tested)."""
    return substring_clean_rel(table(spark, sf_dir, "documents"))


#: Line-unit boilerplate: the corpus text is flat, so a deterministic
#: "line" is synthesized IN BOTH ENGINES as consecutive LINE_WORDS-word
#: chunks (the last line may be shorter). A line repeated verbatim in
#: >= BOILER_DF distinct docs is removed whole — the published
#: granularity of C4's repeated-line rule (Raffel et al. 2020) and
#: CCNet's per-shard line dedup (Wenzek et al. 2020), which the 5-gram
#: window of `text_boilerplate` approximates on flat text.
LINE_WORDS = 8


@register(
    "text_boilerplate_lines",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
l AS (
  SELECT doc_id, i AS lno,
         array_to_string(ws[{LINE_WORDS}*i+1 : {LINE_WORDS}*i+{LINE_WORDS}],
                         ' ') AS line
  FROM w, LATERAL (SELECT unnest(range(0, (len(ws) + {LINE_WORDS} - 1)
                                           // {LINE_WORDS})) AS i) t
),
boiler AS (
  SELECT line
  FROM (SELECT line, count(DISTINCT doc_id) AS df FROM l GROUP BY line)
  WHERE df >= {BOILER_DF}
)
SELECT l.doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(count(b.line) AS BIGINT) AS n_removed_lines,
       COALESCE(array_to_string(
         list(l.line ORDER BY l.lno) FILTER (WHERE b.line IS NULL), ' '),
         '') AS cleaned
FROM l LEFT JOIN boiler b ON b.line = l.line
GROUP BY l.doc_id
""",
)
def text_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINE-granularity boilerplate removal — `text_boilerplate`'s
    published-form sibling: C4 and CCNet dedup whole repeated LINES
    (navigation bars, cookie banners), not word windows. The removal
    unit here is the synthesized {LINE_WORDS}-word line (see
    LINE_WORDS); a line is boilerplate when it appears verbatim, as a
    complete aligned line, in >= BOILER_DF distinct documents, and is
    then dropped WHOLE from every document — coarser and cheaper than
    the word-window op (one row per LINE, not per word, in every
    join).

    Shape: zero-shuffle line chunking (HOF slice over the words array,
    one posexplode) → line-keyed df agg → line-keyed left join → the
    order-deterministic per-doc rebuild. At 100 TB the line relation
    is ~n_words/{LINE_WORDS} rows sharded by line text — strictly
    smaller than `text_boilerplate`'s per-word position relation, and
    no covered-position explode is needed at all (lines don't
    overlap). Real corpora with physical newlines swap the chunker for
    split(text, '\\n') — every stage downstream is unchanged."""
    base = table(spark, sf_dir, "documents")
    d = fan_out(base)
    t = d.select("doc_id", words_col().alias("ws"))
    ws = F.col("ws")
    nl = F.expr(f"(size(ws) + {LINE_WORDS - 1}) div {LINE_WORDS}")
    lines = F.transform(
        F.sequence(F.lit(0), nl - 1),
        lambda i: F.concat_ws(
            " ", F.slice(ws, i * LINE_WORDS + 1, F.lit(LINE_WORDS))
        ),
    )
    # persist: the df aggregate AND the hit join's probe side read the
    # line relation — one chunk+explode pass instead of two (round 15).
    l = t.select("doc_id", F.posexplode(lines).alias("lno", "line")).persist()
    boiler = (
        l.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= BOILER_DF)
        .select("line")
    )
    # Doc-level reassembly (the text_boilerplate round-15 shape): only
    # REMOVED line numbers cross an exchange; the cleaned text is
    # rebuilt from the recomputed lines array in place (lno order =
    # array order, lno is 0-based).
    covers = (
        l.join(boiler, "line")
        .groupBy("doc_id")
        .agg(F.collect_set("lno").alias("cov"))
    )
    docs = base.filter(F.col("text").isNotNull()).select(
        "doc_id", words_col().alias("ws")
    )
    joined = docs.join(covers, "doc_id", "left").select(
        "doc_id",
        "ws",
        F.coalesce("cov", F.array().cast("array<int>")).alias("cov"),
    )
    cleaned = F.concat_ws(
        " ",
        F.filter(
            lines, lambda x, i: ~F.array_contains(F.col("cov"), i)
        ),
    )
    return joined.select(
        "doc_id",
        nl.cast("long").alias("n_lines"),
        F.size("cov").cast("long").alias("n_removed_lines"),
        cleaned.alias("cleaned"),
    )


@register(
    "text_normalize",
    oracle="""
WITH aug AS (
  SELECT doc_id,
         '  ' || upper(substring(text, 1, 1 + CAST(doc_id % 7 AS INT)))
              || substring(text, 2 + CAST(doc_id % 7 AS INT))
              || '   -- Footer#' || CAST(doc_id AS VARCHAR) || '!!  ' AS t
  FROM documents
), norm AS (
  SELECT doc_id, t,
         trim(regexp_replace(
           regexp_replace(lower(t), '[^a-z0-9 ]', ' ', 'g'),
           ' +', ' ', 'g')) AS normalized
  FROM aug
)
SELECT doc_id,
       CAST(length(t) AS BIGINT) AS n_chars_raw,
       CAST(length(normalized) AS BIGINT) AS n_chars_norm,
       normalized
FROM norm
""",
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEXT NORMALIZATION — the canonicalization pass that runs BEFORE
    every hash-based dedup step in a real pipeline (CCNet lowercases
    and strips punctuation/accents before its per-shard hash dedup;
    exact dedup on raw bytes misses trivially-reformatted copies):
    case-fold → non-alphanumeric runs → single space → collapse
    whitespace → trim. Composes with `dedup_exact_hash` et al.: hash
    `normalized`, not `text`.

    The synthetic corpus is already clean, so a deterministic MESS is
    injected IN BOTH ENGINES first (the `text_pii` convention): mixed
    case at a doc_id-dependent prefix width, a punctuated footer, and
    leading/trailing/multiple spaces — every rule is exercised on
    every row and the byte-exact oracle proves the whole chain.
    Regexes stay in the POSIX character-class subset where Java regex
    and DuckDB's RE2 agree; Unicode NFC + lowercase folding is the
    companion key `text_nfc` (this chain strips to [a-z0-9 ], which
    would erase any non-ASCII evidence — the two passes compose:
    NFC-fold first, then this ASCII canonicalization).
    Pure per-row codegen: no shuffle, free rider on any scan."""
    d = table(spark, sf_dir, "documents")
    t = F.concat(
        F.lit("  "),
        F.upper(F.expr("substring(text, 1, cast(doc_id % 7 as int) + 1)")),
        F.expr("substring(text, cast(doc_id % 7 as int) + 2)"),
        F.lit("   -- Footer#"),
        F.col("doc_id").cast("string"),
        F.lit("!!  "),
    )
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(t), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    return d.select(
        "doc_id",
        F.length(t).cast("long").alias("n_chars_raw"),
        F.length(norm).cast("long").alias("n_chars_norm"),
        norm.alias("normalized"),
    )


#: Deterministic NON-ASCII injection for `text_nfc` (the text_pii
#: convention): four suffix variants — two logical strings, each in a
#: PRECOMPOSED and a fully DECOMPOSED (combining-mark) spelling — so
#: NFC provably collapses byte-distinct inputs to byte-equal outputs
#: on every corpus, ASCII or not.  Escapes keep the source reviewable.
NFC_VARIANTS = [
    "Caf\u00e9 D\u00c9J\u00c0 Vu",              # precomposed
    "Cafe\u0301 DE\u0301JA\u0300 Vu",           # same text, decomposed
    "M\u00dcNCHEN \u00c7A \u00d1O\u00cbL",     # precomposed
    "MU\u0308NCHEN C\u0327A N\u0303OE\u0308L", # same text, decomposed
    # Simple-vs-full case-mapping divergence probes (round-9 ADVICE):
    # final sigma (full lower \u2192 '\u03c2', simple \u2192 '\u03c3') and dotted capital
    # I (full \u2192 'i'+U+0307, simple \u2192 bare 'i'). Unlike variants 0-3,
    # 4 and 5 do NOT collapse to equal bytes: simple mapping loses
    # \u0130's dot while I+U+0307 keeps it \u2014 the engines must agree on the
    # DIVERGENT outputs, which is exactly what the hash checks.
    "\u0130STANBUL \u039b\u038c\u0393\u039f\u03a3",        # \u0130STANBUL \u039b\u038c\u0393\u039f\u03a3
    "I\u0307STANBUL \u039b\u038c\u0393\u039f\u03a3",       # I+dot variant
]


def _simple_lower(t: str) -> str:
    """SIMPLE (per-codepoint, UnicodeData.txt) lowercase — the mapping
    DuckDB's utf8proc `lower()` applies, NOT Python's full `str.lower`:

    - per-CHARACTER `.lower()` removes the context sensitivity (full
      mapping lowercases final 'Σ' to 'ς'; simple always yields 'σ');
    - U+0130 'İ' is the ONLY codepoint whose non-locale lowercase is
      multi-char in SpecialCasing.txt (verified by scanning all
      codepoints); simple maps it to plain 'i' (the dot is LOST, so
      'İ' and its canonical equivalent 'I'+U+0307 do NOT converge —
      inherent to simple mapping, exercised by NFC_VARIANTS[4:]).

    Byte-exact vs utf8proc for every codepoint whose simple mapping
    agrees across the two libraries' UCD versions — a 3000-codepoint
    random audit found only two recent Vithkuqi letters (U+10571,
    U+1058F; added in Unicode 14) where the versions disagree; the
    documented contract excludes such version-skew codepoints."""
    return "".join("i" if c == "İ" else c.lower() for c in t)


def nfc_fold_udf():
    """Vectorized Arrow UDF: Unicode NFC of the SIMPLE-lowercased
    string — matches DuckDB's `nfc_normalize(lower(…))` byte-for-byte
    including non-ASCII case folds (see :func:`_simple_lower`; Python's
    full `str.lower` would diverge on 'İ' and final sigma). Spark has
    no NFC builtin, so this is a justified Python crossing: one Arrow
    batch in, one out, no per-row Python objects beyond the string
    map."""

    @F.pandas_udf("string")
    def nfc_lower(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda t: None
            if t is None
            else unicodedata.normalize("NFC", _simple_lower(t))
        )

    return nfc_lower


@register(
    "text_nfc",
    oracle=f"""
WITH v AS (SELECT {NFC_VARIANTS!r}::VARCHAR[] AS vs),
aug AS (
  SELECT doc_id, text || ' ' || vs[CAST(doc_id % 6 AS INT) + 1] AS t
  FROM documents, v
),
norm AS (SELECT doc_id, t, nfc_normalize(lower(t)) AS normalized FROM aug)
SELECT doc_id,
       CAST(length(t) AS BIGINT) AS n_chars_aug,
       CAST(length(normalized) AS BIGINT) AS n_chars_nfc,
       normalized
FROM norm
""",
)
def text_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNICODE NFC + case folding — the canonicalization real crawl
    text needs BEFORE hash dedup (`text_normalize` handles the ASCII
    chain; this key closes its documented production extension): the
    same logical text arrives precomposed on one page and as
    base+combining-mark sequences on another, and a byte hash treats
    them as distinct documents unless NFC composes them first
    (Unicode UAX #15; CCNet/ccnet-style pipelines fold case the same
    pass).

    The synthetic corpus is ASCII, so deterministic non-ASCII is
    injected IN BOTH ENGINES (the `text_pii` convention): each doc
    gets one of six suffixes — two logical strings in precomposed
    AND fully decomposed spelling, plus a dotted-İ/final-sigma pair
    that exercises the SIMPLE-vs-full case-mapping divergence
    (`NFC_VARIANTS`) — so the oracle's byte-exact hash proves (a) NFC
    composed the decomposed rows (n_chars_nfc < n_chars_aug exactly
    there), (b) variant pairs 0-3 land byte-EQUAL post-fold, the
    property hash dedup depends on, and (c) the engines agree on the
    simple-mapping outputs where full mapping would diverge
    (round-9 ADVICE item 1).  Idempotence is property-tested.

    Spark side = a vectorized Arrow `pandas_udf` over stdlib
    `unicodedata` (no NFC builtin exists; the UDF applies the SIMPLE
    case mapping DuckDB's utf8proc lower() uses, in the same order as
    the oracle text — see `_simple_lower`).  Scale: pure per-row map, no shuffle —
    the UDF is the only Python crossing and rides whatever scan feeds
    the downstream dedup."""
    d = table(spark, sf_dir, "documents")
    suffix = F.element_at(
        F.array(*[F.lit(v) for v in NFC_VARIANTS]),
        (F.col("doc_id") % 6).cast("int") + 1,
    )
    t = F.concat(F.col("text"), F.lit(" "), suffix)
    aug = d.select("doc_id", t.alias("t"))
    norm = aug.select("doc_id", "t", nfc_fold_udf()(F.col("t")).alias("normalized"))
    return norm.select(
        "doc_id",
        F.length("t").cast("long").alias("n_chars_aug"),
        F.length("normalized").cast("long").alias("n_chars_nfc"),
        "normalized",
    )


#: Quality-mix keep rates in TENTHS per CCNet bucket: keep all of
#: head, half of middle, a tenth of tail — the head-heavy mix a
#: quality-stratified pretraining run samples (CCNet §4.4 consumers
#: choose exactly such head/middle/tail volume trades).
QMIX_TENTHS = {"head": 10, "middle": 5, "tail": 1}


@register(
    "sample_quality_mix",
    oracle=f"""
WITH scored AS ({_LM_SCORE_SQL}),
cuts AS (
  SELECT quantile_cont(CAST(lm_score AS DOUBLE), CAST(1 AS DOUBLE)/3) AS c1,
         quantile_cont(CAST(lm_score AS DOUBLE), CAST(2 AS DOUBLE)/3) AS c2
  FROM scored
), b AS (
  SELECT doc_id,
         CASE WHEN CAST(lm_score AS DOUBLE) <= cuts.c1 THEN 'tail'
              WHEN CAST(lm_score AS DOUBLE) <= cuts.c2 THEN 'middle'
              ELSE 'head' END AS bucket
  FROM scored, cuts
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN ((doc_id % 1000000007) * 2654435761) % 10
                          < CASE bucket WHEN 'head' THEN {QMIX_TENTHS["head"]}
                                        WHEN 'middle' THEN {QMIX_TENTHS["middle"]}
                                        ELSE {QMIX_TENTHS["tail"]} END
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM b GROUP BY bucket
""",
)
def sample_quality_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-STRATIFIED downsampling — the composition step after
    `text_ccnet_buckets`: keep all head documents, half of middle, a
    tenth of tail (QMIX_TENTHS), realized by the same deterministic
    Knuth-scramble residue rule as the language samplers so reruns
    keep the SAME documents and the whole mix is auditable. This is
    the head-heavy data diet CCNet-style pipelines actually feed a
    model once the terciles exist — buckets label, this op selects.

    Shape: the LM-score relation is computed once (persisted), the
    tercile cuts are one broadcast two-value aggregate, the keep rule
    is a narrow per-row map, and the output is a 3-row bucket audit
    (bucket, n_docs, n_kept) — the corpus is never globally sorted or
    shuffled beyond the lm-score join it already pays. Overflow-safe
    residues (reduce mod p before multiplying, the sample_capped
    rule)."""
    scored = text_lm_score(spark, sf_dir).persist()
    bucketed = ccnet_buckets_rel(scored, approx=False)
    tenths = (
        F.when(F.col("bucket") == "head", QMIX_TENTHS["head"])
        .when(F.col("bucket") == "middle", QMIX_TENTHS["middle"])
        .otherwise(QMIX_TENTHS["tail"])
    )
    keep = ((F.col("doc_id") % 1000000007) * 2654435761) % 10 < tenths
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept"),
    )


#: Intra-doc repetition: occurrences of one gram within a doc are
#: capped (pathological one-word spam would otherwise quadratically
#: self-join); runs count from a single repeated 3-gram up.
SELF_REPEAT_MAX_OCC = 20


@register(
    "text_self_repeat",
    oracle=f"""
WITH toks AS ({_GRAM_SQL}),
occ AS (
  SELECT doc_id, g FROM valid GROUP BY doc_id, g
  HAVING count(*) <= {SELF_REPEAT_MAX_OCC}
), v AS (
  SELECT valid.doc_id, pos, valid.g FROM valid JOIN occ USING (doc_id, g)
), m AS (
  SELECT a.doc_id, a.pos AS p1, a.pos - b.pos AS diag
  FROM v a JOIN v b ON a.doc_id = b.doc_id AND a.g = b.g AND a.pos > b.pos
), runs AS (
  SELECT doc_id, diag, p1,
         p1 - row_number() OVER (PARTITION BY doc_id, diag ORDER BY p1)
             AS island
  FROM m
), r AS (
  SELECT doc_id, count(*) AS n_repeat_sites,
         CAST(max(run_len) + 2 AS BIGINT) AS max_repeat_words
  FROM (SELECT doc_id, diag, island, count(*) AS run_len
        FROM runs GROUP BY doc_id, diag, island)
  GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(r.max_repeat_words, 0) AS BIGINT) AS max_repeat_words,
       CAST(coalesce(r.n_repeat_sites, 0) AS BIGINT) AS n_repeat_sites
FROM documents d LEFT JOIN r ON r.doc_id = d.doc_id
""",
)
def text_self_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTRA-document repetition — the self-plagiarism quality signal
    (Rae et al. 2021's dup-n-gram family; looping generation and SEO
    spam repeat themselves VERBATIM): for every document, the longest
    word run that appears at least twice inside it (0 when none) and
    the number of distinct repeat sites. `dedup_substring` finds runs
    shared ACROSS documents; this is the same diagonal-island machinery
    pointed at ONE document (match positions p1 > p2 within the doc;
    islands per (doc, p1−p2) diagonal; run length + 2 words).

    Per-gram occurrences are capped at SELF_REPEAT_MAX_OCC within a
    doc — a pathological one-phrase spam page would otherwise
    quadratically self-join; past the cap the doc is degenerate by
    inspection (the Gopher dup-fraction gates already kill it). Every
    stage is keyed by doc_id — embarrassingly parallel over the scan,
    window state bounded by matches per diagonal."""
    base = table(spark, sf_dir, "documents")
    docs = fan_out(base)
    # persist: occurrence-cap agg + both self-join aliases read it
    # (no eager fill — measured a net cost in the r15 A/B).
    v = gram_rel(docs).persist()
    occ = (
        v.groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") <= SELF_REPEAT_MAX_OCC)
        .select("doc_id", "g")
    )
    vc = v.join(occ, ["doc_id", "g"])
    a, b = vc.alias("a"), vc.alias("b")
    m = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.g") == F.col("b.g"))
            & (F.col("a.pos") > F.col("b.pos")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.pos").alias("p1"),
            (F.col("a.pos") - F.col("b.pos")).alias("diag"),
        )
    )
    from pyspark.sql.window import Window

    win = Window.partitionBy("doc_id", "diag").orderBy("p1")
    runs = m.select(
        "doc_id", "diag", (F.col("p1") - F.row_number().over(win)).alias("island")
    )
    r = (
        runs.groupBy("doc_id", "diag", "island")
        .agg(F.count(F.lit(1)).alias("run_len"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_repeat_sites"),
            (F.max("run_len") + 2).cast("long").alias("max_repeat_words"),
        )
    )
    return (
        base.select("doc_id")
        .join(r, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("max_repeat_words", F.lit(0)).cast("long").alias(
                "max_repeat_words"
            ),
            F.coalesce("n_repeat_sites", F.lit(0)).cast("long").alias(
                "n_repeat_sites"
            ),
        )
    )


#: Fixed BM25 demo query — three corpus terms with distinct df profiles
#: (two language markers + one common verb; FIXTURES.md vocab).
BM25_QUERY_TERMS = ("merge", "vector", "window")


@register(
    "text_bm25",
    oracle=f"""
WITH dl AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
  FROM documents
),
totals AS (
  SELECT count(*) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS l_total,
         (10000 * CAST(sum(dl) AS BIGINT)) // count(*) AS a_q
  FROM dl
),
tf AS (
  SELECT doc_id, w AS word, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w IN ('merge', 'vector', 'window')
  GROUP BY doc_id, w
),
df AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word),
scored AS (
  SELECT tf.doc_id,
         ((2 * t.n_docs - 2 * df.df + 1) * 10000 // (2 * df.df + 1))
         * ((22 * t.a_q * tf.tf * 10000)
            // (10 * t.a_q * tf.tf + 3 * t.a_q + 9 * dl.dl * 10000))
           AS term_score
  FROM tf
  JOIN df USING (word)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN totals t
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(term_score) AS BIGINT) AS score
FROM scored
GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT 10
""",
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents by BM25 (k1=1.2, b=0.75) for a fixed 3-term query.

    Okapi BM25 (Robertson et al.) in EXACT fixed-point integer
    arithmetic, the `text_tfidf` discipline: both factors are rational
    in integer corpus statistics, so instead of libm log/double division
    (engine-divergent last bits) each is a scaled integer floor-division
    — idf ≈ (N-df+½)/(df+½) kept as (2N-2df+1)·10⁴ div (2df+1), and the
    tf saturation tf·(k1+1)/(tf + k1(1-b+b·dl/avgdl)) cleared of
    fractions via avgdl_q = 10⁴·L div N then scaled by 10⁴. Ordering is
    monotone-equivalent to the double form at this quantization; values
    are bit-identical across engines by construction. Overflow-safe to
    ~10⁹ docs × 10³-word tf (score ≤ 2N·10⁴ · 2.2·10⁴ < 2⁶³).

    Scale shape: the explode is filtered to the query terms BEFORE any
    shuffle (predicate on the exploded value — the tf relation is
    |query|·|matching docs|, not corpus-sized), df and the (N, L)
    scalars are one tiny broadcast each, and the only corpus-wide pass
    is the dl projection. Top-k is an output-sized sort-limit.
    """
    d = table(spark, sf_dir, "documents")
    # persist: the totals aggregate AND the scoring join both read dl,
    # whose build is a full text split — one pass instead of two.
    dl = d.select(
        "doc_id", F.size(words_col()).cast("long").alias("dl")
    ).persist()
    totals = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("l_total"),
    ).select(
        "n_docs",
        F.expr("10000L * l_total div n_docs").alias("a_q"),
    )
    # persist: the df aggregate AND the scoring join both read tf, and
    # tf is query-term-sized while its BUILD is a corpus explode — one
    # pass instead of two (round 15, the text_tfidf discipline).
    tf = (
        d.select("doc_id", F.explode(words_col()).alias("word"))
        .filter(F.col("word").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    dfr = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfr), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            (
                F.expr("(2L * n_docs - 2L * df + 1L) * 10000L div (2L * df + 1L)")
                * F.expr(
                    "(22L * a_q * tf * 10000L)"
                    " div (10L * a_q * tf + 3L * a_q + 9L * dl * 10000L)"
                )
            ).alias("term_score"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("term_score").alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(10)
    )


#: Merge candidates reported by the BPE pair-count pass.
BPE_TOP_PAIRS = 20


@register(
    "text_bpe_pairs",
    oracle=f"""
WITH w AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
),
vocab AS (
  SELECT word, count(*) AS freq FROM w
  WHERE len(word) >= 2 GROUP BY word
),
pairs AS (
  SELECT unnest([substring(word, i, 2) FOR i IN range(1, len(word))]) AS pair,
         freq
  FROM vocab
)
SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count
FROM pairs GROUP BY pair
ORDER BY pair_count DESC, pair ASC LIMIT {BPE_TOP_PAIRS}
""",
)
def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE-training inner statistic (Sennrich et al. 2016): count
    adjacent SYMBOL pairs across the corpus, weighted by word
    frequency — the top pair is the next merge rule; tokenizer training
    is this op iterated with the merge applied between rounds (the
    driver-orchestrated loop, each round one cheap pass like this one).

    The scale insight that makes distributed BPE feasible: after ONE
    corpus-wide word-frequency aggregate (classic map-side-combine
    shuffle on the word), every subsequent pass runs on the DISTINCT
    VOCABULARY weighted by freq — Heaps-law sublinear in corpus size,
    so at 100 TB the pair counting never re-scans the corpus. Here the
    pair explode is a zero-shuffle HOF over the vocab relation (an
    adjacent char pair IS the 2-char substring at i), the pair count a
    second small hash agg, and top-20 a TakeOrderedAndProject —
    deterministic tiebreak on the pair string. Single-char words carry
    no pair and are filtered before the explode (they'd hit the
    descending-sequence trap winnow_fps guards against)."""
    docs = table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = vocab.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
        .limit(BPE_TOP_PAIRS)
    )


#: Number of BPE merges `text_bpe_encode` applies (rank order, fixed).
BPE_ENCODE_MERGES = 5

_BPE_MERGE_CTES = r"""
words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
wf AS (SELECT w, count(*) AS f FROM words WHERE length(w) >= 1 GROUP BY w),
prs AS (
  SELECT substring(w, i, 1) AS a, substring(w, i + 1, 1) AS b,
         CAST(sum(f) AS BIGINT) AS cnt
  FROM (SELECT w, f, unnest(range(1, length(w))) AS i
        FROM wf WHERE length(w) >= 2)
  GROUP BY 1, 2
),
rk AS (SELECT a, b, row_number() OVER (ORDER BY cnt DESC, a, b) AS r FROM prs)"""


def _bpe_apply_sql(expr: str) -> str:
    """Nested replace() chain applying merges 1..BPE_ENCODE_MERGES in
    rank order, each pattern a scalar subquery against `rk`.  Each
    application is NULL-guarded: a corpus with fewer than
    BPE_ENCODE_MERGES distinct pairs leaves the missing ranks as
    no-ops instead of NULL-propagating every document's encoding
    (replace(e, NULL, NULL) is NULL in both engines)."""
    for r in range(1, BPE_ENCODE_MERGES + 1):
        expr = (
            f"CASE WHEN (SELECT a FROM rk WHERE r={r}) IS NULL THEN ({expr}) "
            f"ELSE replace(({expr}), "
            f"(SELECT ' '||a||' '||b||' ' FROM rk WHERE r={r}), "
            f"(SELECT ' '||a||b||' ' FROM rk WHERE r={r})) END"
        )
    return expr


@register(
    "text_bpe_encode",
    oracle=f"""
WITH {_BPE_MERGE_CTES},
enc0 AS (
  SELECT doc_id, length(w) AS n_chars_w,
         ' ' || array_to_string([substring(w, i, 1)
                                 FOR i IN range(1, length(w) + 1)], ' ')
             || ' ' AS e
  FROM words WHERE length(w) >= 1
),
enc AS (SELECT doc_id, n_chars_w, {_bpe_apply_sql("e")} AS e FROM enc0)
SELECT doc_id,
       CAST(sum(n_chars_w) AS BIGINT) AS n_chars,
       CAST(sum(length(trim(e)) - length(replace(trim(e), ' ', '')) + 1)
            AS BIGINT) AS n_tokens
FROM enc GROUP BY doc_id
""",
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE — the application half of tokenizer training
    (`text_bpe_pairs` computes the merge statistic; this applies the
    top-{BPE_ENCODE_MERGES} merges and reports per-doc token counts,
    the number a packing/budget pipeline actually consumes).

    The merge table is the corpus's own top-ranked adjacent pairs
    (deterministic count-desc + lexicographic tiebreak); each merge is
    one engine-shared replace() over the space-separated character
    form, applied IN RANK ORDER — the one-shot variant of the BPE loop
    (canonical BPE recounts pairs after every merge; the recount loop
    runs the cheap vocabulary-sized half per `text_bpe_pairs`, so this
    key pins the apply step's semantics, both engines single-pass
    left-to-right).  FULLY DECLARATIVE: the merge table folds to one
    broadcast row (conditional-aggregate pivot over the ≤ alphabet²
    pair relation — a bounded global window, not a corpus one), no
    driver-side collect.

    Scale: one vocabulary shuffle for word freqs (Heaps-law sublinear),
    one bounded pair aggregate, then the char-split + replace chain
    applied ONCE PER DISTINCT WORD (the persisted vocabulary relation —
    its result is a pure function of the word, so running it per
    occurrence paid the regex + 5 replaces corpus-many times for
    vocab-many distinct answers; guide §1.2 per-task work). Per-doc
    sums come from one equi-join of the token stream against the
    vocab-sized (w, n_tokens) relation — the join is by the same key
    the freq aggregate already shuffles on.
    """
    d = table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(words_col()).alias("w")).filter(
        F.length("w") >= 1
    )
    # Persisted: feeds the merge-table chain AND the per-word encode.
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("f")).persist()
    pos = wf.filter(F.length("w") >= 2).select(
        "w", "f", F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i")
    )
    prs = (
        pos.select(
            F.expr("substring(w, i, 1)").alias("a"),
            F.expr("substring(w, i + 1, 1)").alias("b"),
            "f",
        )
        .groupBy("a", "b")
        .agg(F.sum("f").alias("cnt"))
    )
    rk = prs.select(
        "a",
        "b",
        F.expr("row_number() OVER (ORDER BY cnt DESC, a, b)").alias("r"),
    ).filter(F.col("r") <= BPE_ENCODE_MERGES)
    merges = rk.agg(
        *[
            F.max(F.when(F.col("r") == r, F.col(c))).alias(f"{c}{r}")
            for r in range(1, BPE_ENCODE_MERGES + 1)
            for c in ("a", "b")
        ]
    )
    apply_expr = "e"
    for r in range(1, BPE_ENCODE_MERGES + 1):
        # NULL-guarded like the oracle: a missing rank is a no-op, not
        # a NULL-propagating replace.
        apply_expr = (
            f"CASE WHEN a{r} IS NULL THEN ({apply_expr}) "
            f"ELSE replace(({apply_expr}), concat(' ', a{r}, ' ', b{r}, ' '), "
            f"concat(' ', a{r}, b{r}, ' ')) END"
        )
    # Per-DISTINCT-word encode: same char-split + replace chain the
    # per-occurrence form ran, now over the vocab relation only.
    enc_w = (
        wf.select(
            "w",
            F.concat(
                F.lit(" "), F.regexp_replace("w", "(?s)(.)", "$1 ")
            ).alias("e"),
        )
        .crossJoin(F.broadcast(merges))
        .select("w", F.expr(apply_expr).alias("e"))
    )
    toks = (
        F.length(F.trim(F.col("e")))
        - F.length(F.regexp_replace(F.trim(F.col("e")), " ", ""))
        + 1
    )
    wtok = enc_w.select(
        "w",
        F.length("w").alias("n_chars_w"),
        toks.alias("n_tokens_w"),
    )
    return (
        words.join(wtok, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("n_chars_w").cast("long").alias("n_chars"),
            F.sum("n_tokens_w").cast("long").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# text_dup_grams — cross-document duplicated n-gram coverage (round 12)
# ---------------------------------------------------------------------------


@register(
    "text_dup_grams",
    oracle=f"""
WITH toks AS ({_GRAM_SQL}),
dg AS (SELECT DISTINCT doc_id, g FROM valid),
gdf AS (SELECT g, count(*) AS df FROM dg GROUP BY g),
per AS (
  SELECT dg.doc_id,
         count(*) AS n_grams,
         sum(CASE WHEN gdf.df >= 2 THEN 1 ELSE 0 END) AS dup_grams
  FROM dg JOIN gdf USING (g) GROUP BY dg.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(per.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(per.dup_grams, 0) AS BIGINT) AS dup_grams,
       round(CASE WHEN per.n_grams > 0
                  THEN CAST(per.dup_grams AS DOUBLE) / per.n_grams
                  ELSE 0.0 END, 4) AS dup_frac
FROM documents d LEFT JOIN per USING (doc_id)
""",
)
def text_dup_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-DOCUMENT duplicated n-gram coverage — per document, the
    fraction of its DISTINCT 3-word grams that appear in at least one
    OTHER corpus document (df >= 2): the corpus-level repetition signal
    RefinedWeb/CCNet-style curation gates on, complementing
    `text_gopher_full`'s WITHIN-document dup-bigram fraction (a doc can
    be internally clean yet be 90% boilerplate shared with the crawl).
    Consumers: a drop/keep gate upstream of `dedup_minhash` (high
    dup_frac docs are what band joins pay for), a `sample_quality_mix`
    feature, and the audit view for `text_boilerplate`'s line-level
    removal.

    Shape: the spine's hashed gram relation (one Arrow word-hash pass +
    the shared JVM gram fold, distinct per doc) → ONE gram-keyed count
    window (the df, 8-byte keys) → per-doc counts; docs with < 3 words
    surface (0, 0, 0.0) via the left join in both engines. Everything is integer until one
    final divide rounded at 4 (the `dedup_jaccard` ratio precedent).
    At 100 TB both shuffles are keyed by 8-byte gram hashes — the
    `dedup_substring` profile without the positional windows."""
    from pyspark.sql import Window

    docs = fan_out(table(spark, sf_dir, "documents"))
    hwrel = docs.select(
        "doc_id", text_word_hash_udf()(F.col("text")).alias("hw")
    )
    # (doc_id, g) is distinct per doc, so a count over the gram's
    # partition is its df: one gram-keyed shuffle, no join back.
    dg = hwrel.select(
        "doc_id",
        F.explode(F.array_distinct(gram_hash_col(F.col("hw")))).alias("g"),
    ).withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("g")))
    per = dg.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.when(F.col("df") >= 2, F.lit(1)).otherwise(F.lit(0))).alias(
            "dup_grams"
        ),
    )
    frac = F.when(
        F.col("n_grams") > 0,
        F.col("dup_grams").cast("double") / F.col("n_grams"),
    ).otherwise(F.lit(0.0))
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("dup_grams", F.lit(0)).cast("long").alias("dup_grams"),
            F.round(frac, 4).alias("dup_frac"),
        )
    )
