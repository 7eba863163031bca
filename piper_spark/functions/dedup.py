"""Deduplication operators (SURVEY.md §2B / LLM-pipeline mandate).

Three tiers, in increasing scale-fitness:

- ``dedup_jaccard`` / ``dedup_jaccard_shingle`` — exact Jaccard over a
  bounded pair set, in the two token units the approximate paths use:
  word SETS and 3-word SHINGLES. O(n²) by construction; these are the
  ORACLES for the LSH paths (same unit ↔ same path:
  shingle ground truth ↔ `dedup_minhash`; the word-set ground truth
  validates the word-unit signature twin in tests/test_properties.py).
- ``dedup_minhash``  — MinHash + LSH banding: shingle → k minhashes →
  band hashes → equi-join on (band, hash). The join is a plain shuffle
  hash join on a 64-bit key, which is the shape that survives 100 TB;
  no cross product ever materializes. Signatures use the engine-shared
  hash discipline (polynomial gram fold → 2-universal affine mixers
  mod 2³¹−1, functions/numeric.py), so the key is ORACLE-EXACT in
  DuckDB; recall vs the shingle ground truth is additionally asserted
  in tests/test_properties.py.
- ``dedup_simhash``  — 64-bit SimHash + banded candidate pairs with a
  Hamming-distance cut. Same scale shape as minhash. Word hashes are
  fmix32-avalanched folds (functions/numeric.py) — also oracle-exact.

Generic library entry points (`exact_dedup`, `hash_split`) operate on
arbitrary DataFrames.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from piper_spark.functions.numeric import (
    HASH_SEEDS,
    M32,
    MERSENNE31,
    fmix32_col,
    fmix32_sql_ctes,
    pack_u32_pair,
    pack_u32_pair_sql,
    with_fmix32,
)
from piper_spark.functions.graphs import connected_components
from piper_spark.registry import register
from piper_spark.session import eager_fill, fan_out, table

SHINGLE_SIZE = 3
NUM_MINHASHES = 8
MINHASH_BANDS = 4  # 2 minhashes per band

#: SimHash distinct-word cap: the SWAR vote packs four 16-bit lane
#: counters per int64, and the SUM aggregate is SIGNED — once the
#: top lane's count reaches 2¹⁵ the packed value crosses 2⁶³ and
#: Spark's ANSI mode (default since 4.0) throws ARITHMETIC_OVERFLOW
#: instead of wrapping.  32767 keeps the worst-case packed sum at
#: 0x7FFF7FFF7FFF7FFF, inside signed range (the previous 65535 cap
#: was latent-overflow-unsafe for ≥32768-distinct-word documents —
#: caught by the round-10 cross-engine cap test).  Oversized docs'
#: signatures vote on the first-occurrence prefix, mirrored exactly
#: in the oracle.
SIMHASH_MAX_WORDS = 32767

#: The k MinHash "permutations": 2-universal affine mixers
#: (a·x + b) mod 2³¹−1 over the shared polynomial gram hash — the same
#: family the Count-Min row mixers use (operators/aggregates.py), so
#: every minhash value is DuckDB-expressible integer arithmetic.
#: 2-universality is exactly the guarantee min-wise estimation needs;
#: an avalanche hash would buy nothing for a MIN statistic.
MINHASH_MIXERS = (
    (0, 1_299_709, 104_729),
    (1, 2_750_159, 224_737),
    (2, 4_256_233, 350_377),
    (3, 5_800_079, 479_909),
    (4, 7_368_787, 611_953),
    (5, 8_960_453, 746_773),
    (6, 10_570_841, 882_377),
    (7, 12_195_257, 1_020_379),
)


def exact_dedup(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Keep exactly ONE row per key: first by order_col, then tiebreaks.

    Never dropDuplicates (partition-order-dependent survivor). For a
    deterministic survivor, ``[order_col] + tiebreak_cols`` must totally
    order rows within a key; row_number() still guarantees exactly one
    row per key either way (a bare min-join-back would keep every row
    tied at the minimum). One shuffle on the key — the 100 TB shape; at
    scale, group on xxhash64(key) first to avoid shuffling wide payloads.
    """
    w = Window.partitionBy(*key_cols).orderBy(order_col, *(tiebreak_cols or []))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def hash_split(df: DataFrame, key: str, train_pct: int = 80, seed: int = 42) -> Column:
    """Deterministic split tag from a key hash (reference loader.rs:21-45)."""
    return F.when(
        F.pmod(F.xxhash64(F.col(key), F.lit(seed)), 100) < train_pct,
        F.lit("train"),
    ).otherwise(F.lit("val"))


def shingles(text: Column | str = "text", n: int = SHINGLE_SIZE) -> Column:
    """n-word shingles as strings: sliding windows over the word array."""
    w = F.split(text, " ")
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)),
    )


@register(
    "dedup_jaccard",
    oracle="""
WITH d AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws
  FROM documents WHERE doc_id < 150
)
SELECT a.doc_id AS id1, b.doc_id AS id2,
       round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
             / len(list_distinct(list_concat(a.ws, b.ws))), 4) AS jaccard
FROM d a JOIN d b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
      / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.5
""",
)
def dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-set Jaccard ≥ 0.5 pairs on a bounded doc subset.

    Deliberately O(n²) on ≤150 docs — this is the ground truth the LSH
    path (`dedup_minhash`) approximates; never run this shape unbounded.
    """
    # persist: the self-join reads this projection from BOTH aliases —
    # one tokenization pass instead of two (caller owns the cache
    # lifetime, as with dedup_minhash).
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id", F.array_distinct(F.split("text", " ")).alias("ws"))
        .persist()
    )
    a, b = d.alias("a"), d.alias("b")
    inter = F.size(F.array_intersect(F.col("a.ws"), F.col("b.ws")))
    union = F.size(F.array_union(F.col("a.ws"), F.col("b.ws")))
    jac = inter.cast("double") / union
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(jac >= 0.5)
        .select(
            F.col("a.doc_id").alias("id1"),
            F.col("b.doc_id").alias("id2"),
            F.round(jac, 4).alias("jaccard"),
        )
    )


@register(
    "dedup_jaccard_shingle",
    oracle="""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE doc_id < 150
),
s AS (
  SELECT doc_id,
         list_distinct([array_to_string(w[i:i+2], ' ')
                        FOR i IN range(1, greatest(len(w) - 1, 2))]) AS sh
  FROM d
)
SELECT a.doc_id AS id1, b.doc_id AS id2,
       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
""",
)
def dedup_jaccard_shingle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-word-shingle Jaccard ≥ 0.5 pairs on a bounded doc subset.

    The SAME token unit `dedup_minhash` signs, so it is the aligned
    ground truth for the LSH path (the word-set `dedup_jaccard` above
    measures a different similarity — shared vocabulary — and is the
    ground truth for the word-unit signature twin instead).
    """
    # persist: one shingle pass shared by both self-join aliases.
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id", F.array_distinct(shingles("text")).alias("sh"))
        .persist()
    )
    a, b = d.alias("a"), d.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    jac = inter.cast("double") / union
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(jac >= 0.5)
        .select(
            F.col("a.doc_id").alias("id1"),
            F.col("b.doc_id").alias("id2"),
            F.round(jac, 4).alias("jaccard"),
        )
    )


@register(
    "dedup_clusters",
    oracle="""
WITH RECURSIVE
d AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws
  FROM documents WHERE doc_id < 150
),
e AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM d a JOIN d b ON a.doc_id <> b.doc_id
  WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
        / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.5
),
walk AS (
  SELECT doc_id AS start, doc_id AS node FROM d
  UNION
  SELECT w.start, e.v FROM walk w JOIN e ON w.node = e.u
)
SELECT start AS doc_id, CAST(min(node) AS BIGINT) AS component
FROM walk GROUP BY start
""",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from pairwise similarity — the step after
    candidate pairs that real corpus dedup needs (keep one doc per
    component, not per pair). Components over the word-set Jaccard ≥
    0.5 graph on the bounded subset, labeled by min doc_id; singletons
    keep their own id. The oracle walks the same graph with a recursive
    CTE. At scale the edge input is `lsh_candidate_pairs` instead of
    the exact O(n²) graph — same component algorithm.
    """
    # persist: read three times (both edge-join aliases + vertices).
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id", F.array_distinct(F.split("text", " ")).alias("ws"))
        .persist()
    )
    a, b = d.alias("a"), d.alias("b")
    jac = (
        F.size(F.array_intersect(F.col("a.ws"), F.col("b.ws"))).cast("double")
        / F.size(F.array_union(F.col("a.ws"), F.col("b.ws")))
    )
    edges = (
        a.join(b, F.col("a.doc_id") != F.col("b.doc_id"))
        .filter(jac >= 0.5)
        .select(F.col("a.doc_id").alias("u"), F.col("b.doc_id").alias("v"))
    )
    comp = connected_components(edges, d.select(F.col("doc_id").alias("id")))
    return comp.select(F.col("id").alias("doc_id"), "component")


@register(
    "dedup_exact_hash",
    oracle="""
SELECT d.lang, count(*) AS kept, CAST(min(d.doc_id) AS BIGINT) AS min_id
FROM documents d
JOIN (SELECT text, min(doc_id) AS doc_id FROM documents GROUP BY text) k
  ON d.text = k.text AND d.doc_id = k.doc_id
GROUP BY d.lang
""",
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-first exact dedup — the 100 TB form the plain
    `dedup_exact` docstrings point at: group on xxhash64(text) so the
    dedup shuffle moves 8-byte keys instead of document bodies, then
    resolve (astronomically rare) hash collisions on the real text
    before declaring rows duplicates. Result is semantically identical
    to grouping by text (the oracle), whatever the hash does.
    """
    d = table(spark, sf_dir, "documents")
    h = d.withColumn("__h", F.xxhash64("text"))
    # keeper per (hash, text): hash narrows the shuffle; text breaks
    # any collision so two different texts NEVER dedup together.
    keep = h.groupBy("__h", "text").agg(F.min("doc_id").alias("doc_id"))
    kept = h.join(keep, ["__h", "text", "doc_id"], "inner")
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("kept"), F.min("doc_id").alias("min_id")
    )


@register(
    "dedup_editdist",
    oracle="""
SELECT a.p_partkey AS id1, b.p_partkey AS id2,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
FROM part a JOIN part b ON a.p_partkey < b.p_partkey
WHERE a.p_partkey < 300 AND b.p_partkey < 300
  AND levenshtein(a.p_name, b.p_name) <= 2
""",
)
def dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dedup by edit distance ≤ 2 on short strings (part names),
    bounded pair set. Both engines implement classic Levenshtein, so
    the oracle is value-exact. The scale path for long text is the LSH
    family above — edit distance is for short keys (titles, names)
    where candidate blocking keeps pairs bounded.
    """
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 300)
        .select("p_partkey", "p_name")
    )
    a, b = p.alias("a"), p.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(b, F.col("a.p_partkey") < F.col("b.p_partkey"))
        .filter(dist <= 2)
        .select(
            F.col("a.p_partkey").alias("id1"),
            F.col("b.p_partkey").alias("id2"),
            dist.cast("long").alias("dist"),
        )
    )


def shingle_hashes(text_col: Column | str = "text") -> Column:
    """Shared-polynomial 3-word-gram hashes mod 2³¹−1 as a per-row
    array — the shingle token unit in DuckDB-expressible arithmetic
    (word fold → ·8191 gram fold, the `text_winnow` discipline).

    Docs with < 3 words yield an EMPTY array: a partial window is not
    a shingle (previously such docs were signed on one padded shingle;
    near-dup on a sub-shingle fragment was never meaningful).
    Test/slow path — the scale path is the `_gram_arrays` projection
    inside :func:`minhash_signatures`."""
    from piper_spark.functions.text import _winnow_word_hash, gram_hash_col

    hw = F.transform(F.split(text_col, " "), _winnow_word_hash)
    g = gram_hash_col(hw, n=SHINGLE_SIZE)
    return F.transform(g, lambda x: x % F.lit(MERSENNE31))


def minhash_signature(text_col: Column | str = "text") -> list[Column]:
    """k minhash values over word shingles as array expressions.

    Fine for small inputs / unit tests; the scale path is
    :func:`minhash_signatures` (explode + codegen'd hash aggregate) —
    higher-order functions are interpreted, not codegen'd, and this
    inline form re-evaluates the gram array once per mixer.
    """
    sh = shingle_hashes(text_col)
    return [
        F.array_min(
            F.transform(sh, lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MERSENNE31))
        ).alias(f"mh{i}")
        for i, a, b in MINHASH_MIXERS
    ]


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       unit: str = "shingle") -> DataFrame:
    """(id, mh0..mhk-1) for every document — the 100 TB shape.

    explode(token hashes) → groupBy(id).agg(min(affine mixer_i)): every
    operator is whole-stage-codegen'd, the only shuffle is the hash
    aggregate on the id key (pre-aggregated map-side). ``unit`` picks
    the token unit the signature estimates Jaccard over: 3-word
    "shingle" (near-dup detection, `dedup_jaccard_shingle` is the
    ground truth; docs with < 3 words carry no signature) or distinct
    "word" (vocabulary overlap, `dedup_jaccard` is the ground truth).

    Both token hash and the k "permutations" are the engine-shared
    integer discipline (MINHASH_MIXERS), so signatures are bit-exact
    in DuckDB — `dedup_minhash` is oracle-checkable end to end.
    """
    # fan_out: the gram/word hash fold is CPU-bound — see
    # `simhash_signatures` (no-op when the input already spreads).
    docs = fan_out(docs)
    if unit == "shingle":
        from piper_spark.functions.text import _gram_arrays

        return minhash_from_gram_arrays(
            _gram_arrays(docs, id_col=id_col, text_col=text_col), id_col
        )
    else:
        from piper_spark.functions.text import word_hash_scalar_udf

        w = F.array_distinct(F.split(text_col, " "))
        ex = docs.select(id_col, F.explode(w).alias("w")).select(
            id_col, word_hash_scalar_udf()(F.col("w")).alias("h")
        )
    return _minhash_from_h(ex, id_col)


def _minhash_from_h(ex: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """ONE definition of the k-mixer min aggregate over an exploded
    (id, h) token-hash relation — shared by the shingle and word token
    units so the mixer family cannot silently fork."""
    return ex.groupBy(id_col).agg(
        *[
            F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(MERSENNE31)).alias(
                f"mh{i}"
            )
            for i, a, b in MINHASH_MIXERS
        ]
    )


def minhash_from_gram_arrays(ga: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Shingle-unit minhash signatures from a (id, grams) relation —
    the post-gram stages of :func:`minhash_signatures`, factored so
    :func:`near_dup_spine` can reuse one shared gram relation across
    the minhash/winnow consumers."""
    ex = ga.select(id_col, F.explode("grams").alias("g")).select(
        id_col, (F.col("g") % F.lit(MERSENNE31)).alias("h")
    )
    return _minhash_from_h(ex, id_col)


def lsh_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Banded-LSH candidate (id1, id2) pairs from a minhash signature
    relation: bands of 2 minhashes → 62-bit band key (mh·2³¹ + mh',
    collision-free since each mh < 2³¹−1), joined by
    :func:`~piper_spark.functions.lsh.banded_pairs`. No global sort —
    candidate pairs feed a verifier or a keep/drop vote, not a report.
    """
    from piper_spark.functions.lsh import banded_pairs

    bands = [
        F.shiftleft(F.col(f"mh{2 * b}"), 31) + F.col(f"mh{2 * b + 1}")
        for b in range(MINHASH_BANDS)
    ]
    return banded_pairs(sigs, bands, id_col=id_col)


def simhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", bits: int = 64) -> DataFrame:
    """(id, sh) SimHash per document — the 100 TB shape.

    explode(distinct words) → shared polynomial fold → two fmix32
    lanes packed into a signed 64-bit word hash (functions/numeric.py;
    every stage a multi-referenced projection, one WholeStageCodegen
    span) → per-bit set-counts in ONE codegen'd hash aggregate →
    majority vote per bit. ~10× the interpreted array-lambda form
    (:func:`simhash32`), and bit-exact in DuckDB — `dedup_simhash` is
    oracle-checked end to end. 64-bit default — the standard near-dup
    configuration; with 4×16-bit LSH bands every pair at Hamming
    distance ≤ 3 shares at least one band (pigeonhole).
    """
    from piper_spark.functions.text import word_hash_scalar_udf

    # Cap at SIMHASH_MAX_WORDS distinct words per doc (see the
    # constant: 16-bit SWAR lanes + signed ANSI sums). The cap biases
    # oversized docs' signatures (prefix vote) instead of corrupting
    # them — or, past 2¹⁵, throwing.
    # Word hash = one Arrow crossing (text.py closed-form fold,
    # bit-identical to the `_winnow_word_hash` HOF) — the round-10
    # hash-tax recovery; everything downstream stays JVM codegen.
    # fan_out: the explode→hash→partial-vote chain is CPU-bound and
    # otherwise inherits the INPUT split count (1 task on a one-split
    # corpus); no-op when the scan already feeds every core.
    words = F.slice(
        F.array_distinct(F.split(text_col, " ")), 1, SIMHASH_MAX_WORDS
    )
    wh = fan_out(docs).select(id_col, F.explode(words).alias("w")).select(
        id_col, word_hash_scalar_udf()(F.col("w")).alias("wh")
    )
    return _simhash64_from_wh(wh, id_col, bits=bits)


def _simhash64_from_wh(
    wh: DataFrame, id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """SimHash vote (≤64 bits) from an exploded (id, wh) word-hash
    relation — the post-hash stages of :func:`simhash_signatures`,
    factored so :func:`near_dup_spine` can feed the SHARED
    signature-stage relation instead of re-hashing the corpus."""
    mixed = with_fmix32(
        wh,
        {
            "x0": (F.col("wh") + F.lit(HASH_SEEDS[0])) % F.lit(M32),
            "x1": (F.col("wh") + F.lit(HASH_SEEDS[1])) % F.lit(M32),
        },
        keep=[id_col],
    )
    ex = mixed.select(id_col, pack_u32_pair(F.col("x0"), F.col("x1")).alias("h"))
    # SWAR-packed counters: aggregate k sums (h >> k) & 0x0001000100010001,
    # giving four 16-bit per-bit-position counters per long — bits/4
    # aggregates instead of `bits`, a ~4× smaller agg buffer + codegen.
    # Safe for up to SIMHASH_MAX_WORDS distinct words per document.
    mask = 0x0001000100010001
    g = ex.groupBy(id_col).agg(
        *[
            F.expr(f"sum(shiftright(h, {k}) & {mask})").alias(f"c{k}")
            for k in range(16)
        ],
        F.count(F.lit(1)).alias("n"),
    )
    # Disjoint bit patterns OR together via long addition (never overflows:
    # adding bit 63's pattern is adding a negative). Built as ONE SQL
    # string: the Column-by-Column form cost ~64×6 py4j round-trips of
    # pure driver time per call (round 14, guide §7.3 plan-construction
    # cost); F.expr parses the identical expression tree in one call.
    terms = " + ".join(
        f"(CASE WHEN (shiftright(c{j % 16}, {16 * (j // 16)}) & 65535) * 2"
        f" > n THEN shiftleft(CAST(1 AS BIGINT), {j})"
        f" ELSE CAST(0 AS BIGINT) END)"
        for j in range(bits)
    )
    return g.select(id_col, F.expr(f"CAST(0 AS BIGINT) + {terms}").alias("sh"))


from piper_spark.functions.text import _GRAM_SQL as _GRAM_SQL_MH  # noqa: E402

_MINHASH_MIXER_VALUES = ", ".join(f"({i}, {a}, {b})" for i, a, b in MINHASH_MIXERS)


@register(
    "dedup_minhash",
    oracle=f"""
WITH toks AS ({_GRAM_SQL_MH}),
gm AS (SELECT doc_id, g % {MERSENNE31} AS h FROM valid),
m(i, a, b) AS (VALUES {_MINHASH_MIXER_VALUES}),
sigs AS (
  SELECT doc_id, m.i, min((gm.h * m.a + m.b) % {MERSENNE31}) AS mh
  FROM gm CROSS JOIN m GROUP BY doc_id, m.i
),
bands AS (
  SELECT doc_id, i // 2 AS band,
         CAST(sum(CASE WHEN i % 2 = 0 THEN mh * 2147483648 ELSE mh END)
              AS BIGINT) AS bh
  FROM sigs GROUP BY doc_id, i // 2
)
SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
FROM bands a
JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
""",
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs over ALL documents.

    shingle → 8 minhashes → 4 bands of 2 → equi-join on (band, key).
    The only shuffle is on the band-key; pair explosion is bounded
    by bucket sizes, not by n². Oracle-exact since round 10 (the
    engine-shared affine-mod-2³¹−1 hash family replaced xxhash64 —
    round-9 VERDICT item 1); recall vs `dedup_jaccard_shingle` is
    additionally asserted in tests/test_properties.py.
    """
    # DISK_ONLY keeps the lineage (recomputable after executor loss,
    # unlike localCheckpoint) without holding executor memory.
    # eager_fill (round 15, VERDICT items 1+3): the two join sides
    # otherwise RACE to fill this cache inside one job — both
    # concurrently recompute the whole gram-fold signature build, and
    # the contention grows with core count (this key's r13→r14 ~4×
    # "regression" was exactly this race on a 32-core run).
    sigs = eager_fill(
        minhash_signatures(table(spark, sf_dir, "documents")).persist(
            StorageLevel.DISK_ONLY
        )
    )
    return lsh_candidate_pairs(sigs)


def simhash32(text_col: str = "text") -> Column:
    """32-bit SimHash from the engine-shared word hash (distinct
    words): polynomial fold → fmix32 lane 0 — bit-identical to the low
    32 signature bits of :func:`simhash_signatures`.

    Parity/test path ONLY: each of the 32 per-bit votes re-traverses
    the hash array (interpreted HOFs re-evaluate single-reference
    arrays), so this is ~32× the cost of the fast path's one SWAR
    aggregate. Kept as the readable reference implementation the
    parity test pins the fast path against.
    """
    from piper_spark.functions.text import _winnow_word_hash

    words = F.slice(
        F.array_distinct(F.split(text_col, " ")), 1, SIMHASH_MAX_WORDS
    )
    h32 = F.transform(
        words,
        lambda w: fmix32_col(
            (_winnow_word_hash(w) + F.lit(HASH_SEEDS[0])) % F.lit(M32)
        ),
    )
    n = F.size(h32)
    sh = F.lit(0).cast("long")

    def bit_adder(j: int):
        # factory, not a default arg: pyspark derives the HOF's arity
        # from the lambda signature, so a 3-param lambda would break it
        return lambda acc, x: acc + F.shiftright(x, j).bitwiseAND(F.lit(1))

    for j in range(32):
        cnt = F.aggregate(h32, F.lit(0).cast("long"), bit_adder(j))
        sh = sh + F.when(
            cnt * 2 > n, F.shiftleft(F.lit(1).cast("long"), j)
        ).otherwise(F.lit(0).cast("long"))
    return sh


def _simhash_sig_sql(lanes: int, standalone: bool = True, prefix: str = "") -> str:
    """Shared DuckDB CTE chain computing the fmix32-packed SimHash
    signature(s): `sig(doc_id, sh)` for lanes=2 (64-bit) or
    `sig(doc_id, sh_lo, sh_hi)` for lanes=4 (128-bit). Mirrors
    :func:`simhash_signatures` / :func:`simhash128_signatures`
    stage-for-stage (fold → seed → fmix32 → signed pack → majority
    vote); the vote is per-bit here instead of SWAR-packed — same
    counts, clearer SQL.

    ``standalone=False`` drops the `WITH toks AS (...)` opener so the
    chain can be SPLICED after a caller-provided toks(doc_id, pos,
    word) CTE (the `pipeline_signatures` composed oracle); ``prefix``
    renames every internal CTE so the chain coexists with the gram
    chain's own `wh`. Defaults emit the byte-identical SQL the
    registered simhash keys have always carried."""
    from piper_spark.functions.text import word_fold_sql

    p = prefix
    fm_ctes, fm_final = fmix32_sql_ctes(
        f"{p}wh",
        "doc_id",
        {f"x{i}": f"(h + {HASH_SEEDS[i]}) % {M32}" for i in range(lanes)},
        prefix=f"{p}fm",
    )
    nbits = lanes * 32
    if lanes == 2:
        hv = f"SELECT doc_id, {pack_u32_pair_sql('x0', 'x1')} AS h FROM {fm_final}"
        bit = "(h >> CAST(j.range AS INT)) & 1"
        sig_cols = f"""
         CAST(sum(CASE WHEN b.cnt * 2 > n.n THEN
                CASE WHEN b.bit = 63 THEN -9223372036854775808
                     ELSE (1::BIGINT << CAST(b.bit AS INT)) END
              ELSE 0 END) AS BIGINT) AS sh"""
    else:
        hv = (
            f"SELECT doc_id, {pack_u32_pair_sql('x0', 'x1')} AS h0, "
            f"{pack_u32_pair_sql('x2', 'x3')} AS h1 FROM {fm_final}"
        )
        bit = (
            "CASE WHEN j.range < 64 THEN (h0 >> CAST(j.range AS INT)) & 1 "
            "ELSE (h1 >> CAST(j.range - 64 AS INT)) & 1 END"
        )
        sig_cols = f"""
         CAST(sum(CASE WHEN b.bit < 64 AND b.cnt * 2 > n.n THEN
                CASE WHEN b.bit = 63 THEN -9223372036854775808
                     ELSE (1::BIGINT << CAST(b.bit AS INT)) END
              ELSE 0 END) AS BIGINT) AS sh_lo,
         CAST(sum(CASE WHEN b.bit >= 64 AND b.cnt * 2 > n.n THEN
                CASE WHEN b.bit = 127 THEN -9223372036854775808
                     ELSE (1::BIGINT << CAST(b.bit - 64 AS INT)) END
              ELSE 0 END) AS BIGINT) AS sh_hi"""
    head = (
        """
WITH toks AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, ' '), 1) AS pos,
         unnest(string_split(text, ' ')) AS word
  FROM documents
), """
        if standalone
        else ", "
    )
    return f"""{head}{p}words AS (
  -- mirror of the Spark side's slice(array_distinct(...), 1,
  -- SIMHASH_MAX_WORDS): FIRST-OCCURRENCE distinct order, capped at
  -- the signed-SWAR bound.
  SELECT doc_id, word FROM (
    SELECT doc_id, word,
           row_number() OVER (PARTITION BY doc_id ORDER BY min(pos)) AS rn
    FROM toks GROUP BY doc_id, word)
  WHERE rn <= 32767
), {p}wh AS (
  SELECT doc_id, {word_fold_sql('word')} AS h FROM {p}words
), {p}n AS (SELECT doc_id, count(*) AS n FROM {p}wh GROUP BY doc_id)
{fm_ctes},
{p}hv AS ({hv}),
{p}bits AS (
  SELECT doc_id, j.range AS bit, sum({bit}) AS cnt
  FROM {p}hv CROSS JOIN range(0, {nbits}) j
  GROUP BY doc_id, j.range
),
{p}sig AS (
  SELECT b.doc_id,{sig_cols}
  FROM {p}bits b JOIN {p}n n ON b.doc_id = n.doc_id
  GROUP BY b.doc_id
)"""


@register(
    "dedup_simhash",
    oracle=_simhash_sig_sql(2)
    + """,
buckets AS (
  SELECT doc_id, sh, rb.range AS band,
         (sh >> CAST(16 * rb.range AS INT)) & 65535 AS bh
  FROM sig CROSS JOIN range(0, 4) rb
)
SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
       CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
FROM buckets a
JOIN buckets b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit signature, 4 bands of 16 bits,
    Hamming ≤ 3 cut (every such pair is guaranteed a band collision).

    Banding here is FIXED on purpose, unlike `dedup_lsh_cosine`'s
    corpus-derived width: 4×16 over a 64-bit signature is what makes
    the Hamming ≤ 3 guarantee a pigeonhole FACT (4 bands, ≤ 3 flipped
    bits → one band untouched), and text SimHash collisions are driven
    by signature clustering, not table size — measured 5.7×/10× at
    500k docs (SCALING.md), still sub-linear. Past ~10⁹ docs the
    random-collision term n²/2^16 does eventually dominate; the scale
    move there is a WIDER SIGNATURE — implemented as `dedup_simhash128`
    (4×32 bands over 128 bits: same pigeonhole, same plan shape) — not
    wider bands over 64 bits, which would break the recall guarantee."""
    # eager_fill: the same two-side cache-fill race as dedup_minhash.
    d = eager_fill(
        simhash_signatures(table(spark, sf_dir, "documents")).persist(
            StorageLevel.DISK_ONLY
        )
    )
    return _simhash_pairs(d, ["sh"])


def _simhash_pairs(d: DataFrame, halves: list[str]) -> DataFrame:
    """(id1, id2, hamming) Hamming ≤ 3 pairs from a SimHash signature
    relation whose 64-bit `halves` hold the signature: 4 bands of
    16·len(halves) bits (pigeonhole: ≤ 3 flipped bits leave one band
    untouched) joined by :func:`~piper_spark.functions.lsh.banded_pairs`.
    Shared by `dedup_simhash` (["sh"]), `dedup_simhash128`
    (["sh_lo", "sh_hi"]) and `dedup_ensemble`."""
    from piper_spark.functions.lsh import banded_pairs

    width = 16 * len(halves)
    bands = [
        F.shiftrightunsigned(h, width * i).bitwiseAND(F.lit((1 << width) - 1))
        for h in halves
        for i in range(64 // width)
    ]
    hamming = reduce(
        Column.__add__,
        [F.bit_count(F.col(f"{h}1").bitwiseXOR(F.col(f"{h}2"))) for h in halves],
    )
    return banded_pairs(
        d, bands, id_col="doc_id", keep=halves, verify=hamming <= 3
    ).select("id1", "id2", hamming.alias("hamming"))


def simhash128_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, sh_lo, sh_hi) 128-bit SimHash — the ≥10⁹-doc signature.

    Same plan shape as :func:`simhash_signatures` (explode distinct
    word hashes → SWAR-packed codegen hash aggregate → majority vote),
    with TWO independent 64-bit word hashes from the shared fmix32
    discipline: seed lanes 0/1 for the low half (bit-identical to the
    64-bit signature) and lanes 2/3 for the high half — 64 genuinely
    new bits. 32 SWAR sums instead of 16; everything else identical,
    so the aggregate stays one codegen pass and the shuffle carries two
    longs per doc instead of one.

    Why 128 bits: with a 64-bit signature, RANDOM Hamming ≤ 3
    collisions number ~n²·P[d ≤ 3]/2 with P = (Σ_{k≤3} C(64,k))/2⁶⁴ ≈
    2.4e-15 — negligible at 10⁸ docs but ~1.2e3 spurious pairs at 10⁹
    and growing n². Doubling the signature squares the per-pair
    probability denominator (P ≈ 2e-34), pushing the crossover past any
    physical corpus. Bands widen 16→32 bits with the COUNT fixed at 4,
    so the pigeonhole guarantee (Hamming ≤ 3 ⇒ ≥1 untouched band) is
    preserved, and random BAND collisions fall from n²/2¹⁶ to n²/2³²."""
    from piper_spark.functions.text import word_hash_scalar_udf

    # fan_out: same parallelism insurance as `simhash_signatures`.
    words = F.slice(
        F.array_distinct(F.split(text_col, " ")), 1, SIMHASH_MAX_WORDS
    )
    wh = fan_out(docs).select(id_col, F.explode(words).alias("w")).select(
        id_col, word_hash_scalar_udf()(F.col("w")).alias("wh")
    )
    return _simhash128_from_wh(wh, id_col)


def _simhash128_from_wh(wh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """128-bit SimHash vote from an exploded (id, wh) word-hash
    relation — the :func:`_simhash64_from_wh` factoring applied to
    :func:`simhash128_signatures` (shared-stage consumer)."""
    mixed = with_fmix32(
        wh,
        {
            f"x{i}": (F.col("wh") + F.lit(HASH_SEEDS[i])) % F.lit(M32)
            for i in range(4)
        },
        keep=[id_col],
    )
    ex = mixed.select(
        id_col,
        pack_u32_pair(F.col("x0"), F.col("x1")).alias("h0"),
        pack_u32_pair(F.col("x2"), F.col("x3")).alias("h1"),
    )
    mask = 0x0001000100010001
    g = ex.groupBy(id_col).agg(
        *[
            F.expr(f"sum(shiftright(h{half}, {k}) & {mask})").alias(
                f"c{half}_{k}"
            )
            for half in (0, 1)
            for k in range(16)
        ],
        F.count(F.lit(1)).alias("n"),
    )

    # ONE SQL string per half (see `_simhash64_from_wh`: the 2×64-term
    # Column form was ~2.2 s of pure py4j driver time per call).
    def vote(half: int):
        terms = " + ".join(
            f"(CASE WHEN (shiftright(c{half}_{j % 16}, {16 * (j // 16)})"
            f" & 65535) * 2 > n THEN shiftleft(CAST(1 AS BIGINT), {j})"
            f" ELSE CAST(0 AS BIGINT) END)"
            for j in range(64)
        )
        return F.expr(f"CAST(0 AS BIGINT) + {terms}")

    return g.select(id_col, vote(0).alias("sh_lo"), vote(1).alias("sh_hi"))


@register(
    "dedup_simhash128",
    oracle=_simhash_sig_sql(4)
    + """,
buckets AS (
  SELECT doc_id, sh_lo, sh_hi, rb.range AS band,
         CASE rb.range
           WHEN 0 THEN sh_lo & 4294967295
           WHEN 1 THEN (sh_lo >> 32) & 4294967295
           WHEN 2 THEN sh_hi & 4294967295
           ELSE (sh_hi >> 32) & 4294967295
         END AS bh
  FROM sig CROSS JOIN range(0, 4) rb
)
SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
       CAST(bit_count(xor(a.sh_lo, b.sh_lo)) AS INT)
         + CAST(bit_count(xor(a.sh_hi, b.sh_hi)) AS INT) AS hamming
FROM buckets a
JOIN buckets b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh_lo, b.sh_lo)) + bit_count(xor(a.sh_hi, b.sh_hi)) <= 3
""",
)
def dedup_simhash128(spark: SparkSession, sf_dir: str) -> DataFrame:
    """128-bit SimHash near-dup pairs: 4 bands of 32 bits, Hamming ≤ 3
    over the full 128-bit signature (`bit_count(xor(lo)) +
    bit_count(xor(hi))`) — the pigeonhole band guarantee of
    `dedup_simhash` carried to ≥10⁹-doc corpora, where the 64-bit
    form's n²/2⁶⁴ random-collision term starts to bite (round-5 VERDICT
    item 2; rationale quantified in `simhash128_signatures`).

    ORACLE-EXACT since round 10 like the 64-bit key (same fmix32
    discipline), with the same ground-truth twin
    (`dedup_jaccard_shingle`); the recall/containment
    relationship between the two widths is pinned by property tests
    (a pair at 64-bit Hamming 0 from identical text is at 128-bit
    Hamming 0 too, and the pigeonhole test runs at both widths)."""
    # eager_fill: the same two-side cache-fill race as dedup_minhash.
    d = eager_fill(
        simhash128_signatures(table(spark, sf_dir, "documents")).persist(
            StorageLevel.DISK_ONLY
        )
    )
    return _simhash_pairs(d, ["sh_lo", "sh_hi"])


def near_dup_signature_stage(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, hw, dwh) — the ONE-corpus-scan signature stage every
    near-dup text family member derives from (round-10 VERDICT item 4):

    - ``hw``  — positional word-hash array (`text_word_hash_udf`), the
      input to the 3-gram fold → minhash signatures, winnowing
      fingerprints, and the positioned substring/boilerplate relations
    - ``dwh`` — hashes of the first-occurrence-distinct words capped at
      SIMHASH_MAX_WORDS, the input to the simhash/simhash128 votes

    Both columns are one Arrow crossing each over the same scan; the
    caller persists the result (DISK_ONLY — recomputable lineage, no
    executor memory) and owns the lifetime. At 100 TB this is THE
    production layout: hash the corpus once, write the stage relation,
    and run every signature family off it instead of re-folding the
    same characters four times."""
    from piper_spark.functions.text import text_word_hash_udf, words_hash_udf

    # fan_out: the word-hash Arrow pass AND every vote/fold consumer of
    # the persisted stage inherit this relation's partitioning — on a
    # one-split local corpus the whole spine ran on a single core
    # (round 14; no-op at scale, see session.fan_out).
    t = F.col(text_col)
    distinct_words = F.slice(
        F.array_distinct(F.split(t, " ")), 1, SIMHASH_MAX_WORDS
    )
    return fan_out(docs).select(
        id_col,
        text_word_hash_udf()(t).alias("hw"),
        words_hash_udf()(distinct_words).alias("dwh"),
    )


def near_dup_spine(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: StorageLevel = StorageLevel.DISK_ONLY,
) -> dict[str, DataFrame]:
    """All four near-dup signature relations off ONE shared persisted
    stage: ``{"stage", "minhash_sigs", "simhash_sigs",
    "simhash128_sigs", "winnow_fps"}``.

    Bit-identical to the standalone operators (pinned in
    tests/test_operators_unit.py): the gram fold consumes the same
    ``hw`` arrays `_gram_arrays` produces, and exploding ``dwh`` yields
    exactly the rows the standalone simhash paths hash after their own
    distinct-slice (hashing each element of the distinct word array ≡
    hashing each exploded distinct word; the vote aggregates are
    order-insensitive). Caller owns the stage's persist lifetime —
    unpersist ``out["stage"]`` after the consuming actions. Measured in
    SCALING.md ("shared signature stage") against running the four
    standalone operators, at 1×/10×/100×. ``level`` picks the persist
    tier — round-13 (VERDICT item 6) measured DISK_ONLY vs
    MEMORY_AND_DISK at the 500k-doc corpus WITHIN NOISE of each other
    (~13.4s vs ~13.7s medians), so the round-12 100× spine share is
    the hash pass + stage scan itself, inherent to corpus size, not
    the disk round-trip; DISK_ONLY stays the default (no executor
    memory held across the consuming jobs) and the written stage
    TABLE remains the production shape past single-job scale."""
    from piper_spark.functions.text import gram_hash_col, winnow_fps_from_grams

    # eager_fill (round 15, VERDICT item 1): the signature relations
    # below are consumed TOGETHER in one fan-in action by every spine
    # caller, so without the fill the three/four consumer subtrees race
    # to compute the Arrow hash stage concurrently — the round-14
    # driver paid up to 3× for it on its single-pass 32-core run
    # (pipeline_near_dedup 34.6 s vs 3.4 s at 8 cores). One extra job
    # fills the stage once; every family then reads the cache.
    stage = eager_fill(
        near_dup_signature_stage(docs, id_col, text_col).persist(level)
    )
    grams = stage.select(id_col, gram_hash_col(F.col("hw")).alias("grams"))
    wh = stage.select(id_col, F.explode("dwh").alias("wh"))
    return {
        "stage": stage,
        "minhash_sigs": minhash_from_gram_arrays(grams, id_col),
        "simhash_sigs": _simhash64_from_wh(wh, id_col),
        "simhash128_sigs": _simhash128_from_wh(wh, id_col),
        "winnow_fps": winnow_fps_from_grams(grams),
    }


from piper_spark.functions.text import _WINNOW_FPS_SQL as _WINNOW_FPS_SQL_SPINE  # noqa: E402

_SPINE_MH_WIDE = ", ".join(
    f"max(CASE WHEN i = {i} THEN mh END) AS mh{i}"
    for i, _a, _b in MINHASH_MIXERS
)


@register(
    "pipeline_signatures",
    oracle=f"""
WITH toks AS ({_WINNOW_FPS_SQL_SPINE})
{_simhash_sig_sql(2, standalone=False, prefix="sx_")},
gm AS (SELECT doc_id, g % {MERSENNE31} AS h FROM valid),
m(i, a, b) AS (VALUES {_MINHASH_MIXER_VALUES}),
sigs AS (
  SELECT doc_id, m.i, min((gm.h * m.a + m.b) % {MERSENNE31}) AS mh
  FROM gm CROSS JOIN m GROUP BY doc_id, m.i
),
wide AS (SELECT doc_id, {_SPINE_MH_WIDE} FROM sigs GROUP BY doc_id),
fpc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps
        FROM fps GROUP BY doc_id)
SELECT w.doc_id, w.mh0, w.mh1, w.mh2, w.mh3, w.mh4, w.mh5, w.mh6, w.mh7,
       s.sh, COALESCE(f.n_fps, 0) AS n_fps
FROM wide w
JOIN sx_sig s ON s.doc_id = w.doc_id
LEFT JOIN fpc f ON f.doc_id = w.doc_id
""",
)
def pipeline_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SHARED SIGNATURE STAGE as a driver-gated relation: per
    document, the 8 minhash values, the 64-bit SimHash, and the
    winnowing fingerprint count — ALL derived from `near_dup_spine`'s
    one persisted (id, hw, dwh) stage (hash the corpus once, sign it
    three ways). This is the table a production near-dup system
    actually materializes between ingest and the pair joins; the
    standalone keys (`dedup_minhash`/`dedup_simhash`/`dedup_winnow`)
    consume signatures shaped exactly like these rows.

    ORACLE-EXACT as a composition: the SQL splices the gram chain
    (`_WINNOW_FPS_SQL`), the minhash mixer sigs, and the prefixed
    simhash chain into ONE WITH — the same stage-composition move
    `pipeline_embed_curate` makes, so the check can only pass if the
    shared-stage semantics compose. Docs with < 3 words carry no gram
    signatures and are absent (minhash semantics); fingerprint-less
    docs (< 6 words) report n_fps 0.

    Scale: one corpus scan + two Arrow hash passes (the spine stage),
    then three bounded aggregates off the persisted relation — the
    measured ~30% amortization over standalone builders (SCALING.md
    "shared signature stage")."""
    spine = near_dup_spine(table(spark, sf_dir, "documents"))
    fpc = (
        spine["winnow_fps"]
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_fps"))
    )
    out = (
        spine["minhash_sigs"]
        .join(spine["simhash_sigs"], "doc_id")
        .join(fpc, "doc_id", "left")
        .select(
            "doc_id",
            *[f"mh{i}" for i, _a, _b in MINHASH_MIXERS],
            "sh",
            F.coalesce(F.col("n_fps"), F.lit(0)).cast("long").alias("n_fps"),
        )
        .persist()
    )
    # Materialize, then release the stage cache (the spine contract:
    # the caller owns it; this registered key IS the consuming action).
    out.count()
    spine["stage"].unpersist()
    return out




@register(
    "dedup_embed",
    oracle="""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed
  FROM embeddings WHERE vec_id < 150
),
s AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2,
         list_sum(list_transform(a.ed, (x, i) -> x * b.ed[i]))
           / (sqrt(list_sum(list_transform(a.ed, x -> x * x)))
              * sqrt(list_sum(list_transform(b.ed, x -> x * x)))) AS cos
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT id1, id2, round(cos, 4) AS cos_sim
FROM s WHERE cos >= 0.35
""",
)
def dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ 0.35) on a bounded subset.

    The oracle-checked exact form; the scale path buckets by coarse
    quantization first (see functions/similarity.py). The synthetic
    embeddings have no true near-dups (max pairwise cosine ≈ 0.51), so
    the threshold sits below that to keep the oracle comparison
    non-vacuous — it checks the pair math on ~26 real rows, not on an
    empty set.
    """
    # persist: one cast/projection pass shared by both self-join aliases.
    # Round 14 (guide §2.6/§1.2): the norm is computed per ROW here —
    # the interpreted-HOF sum was previously inlined in `cos` and
    # re-evaluated per PAIR (2·n²/2 array folds instead of n), and the
    # pair join streams over e's partitions, so fan_out spreads the
    # quadratic verify across cores instead of one parquet split.
    # sqrt/product/division are the same IEEE expressions in the same
    # order, so round(cos, 4) stays bit-identical to the oracle.
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    e = (
        fan_out(table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150))
        .select("vec_id", F.col("embedding").cast("array<double>").alias("ed"))
        .withColumn("nrm", norm(F.col("ed")))
        .persist()
    )
    a, b = e.alias("a"), e.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.ed"), F.col("b.ed"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id1"),
            F.col("b.vec_id").alias("id2"),
            cos.alias("cos"),
        )
        .filter(F.col("cos") >= 0.35)
        .select("id1", "id2", F.round("cos", 4).alias("cos_sim"))
    )


#: Incremental-dedup batch boundary: docs below are the "accumulated
#: corpus" (its hash index), docs at/above are the incoming batch.
INCR_BOUNDARY = 250


@register(
    "dedup_incremental",
    oracle=f"""
WITH existing AS (
  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < {INCR_BOUNDARY}
),
batch AS (
  SELECT doc_id, md5(text) AS h, n_chars
  FROM documents WHERE doc_id >= {INCR_BOUNDARY}
),
keeper AS (
  SELECT h, min(doc_id) AS doc_id FROM batch GROUP BY h
)
SELECT b.doc_id, b.h, CAST(b.n_chars AS BIGINT) AS n_chars
FROM batch b
JOIN keeper k ON b.h = k.h AND b.doc_id = k.doc_id
WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.h = b.h)
""",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL exact dedup — the shape production pipelines run per
    crawl batch: dedup the incoming batch against itself (keep the min
    doc_id per content hash) AND against the accumulated corpus's hash
    index (anti-join), emitting only genuinely-new documents. Batch =
    doc_id ≥ {INCR_BOUNDARY}; accumulated corpus = the rest (in
    production the index is the persisted output of prior batches,
    bucketed by hash so this anti-join is exchange-free).

    Content hash is md5 (identical string in Spark and DuckDB, so the
    oracle is value-exact; xxhash64 differs across engines) — 16-byte
    keys shuffle, never document bodies. Two hash shuffles (batch
    group-by + anti-join) of hash-width rows: the same linear profile
    as `dedup_exact_hash` in SCALING.md."""
    d = table(spark, sf_dir, "documents")
    existing = (
        d.filter(F.col("doc_id") < INCR_BOUNDARY)
        .select(F.md5(F.encode("text", "utf-8")).alias("h"))
        .distinct()
    )
    batch = d.filter(F.col("doc_id") >= INCR_BOUNDARY).select(
        "doc_id", F.md5(F.encode("text", "utf-8")).alias("h"), "n_chars"
    )
    keeper = batch.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    return (
        batch.join(keeper, ["h", "doc_id"])
        .join(existing, "h", "left_anti")
        .select("doc_id", "h", F.col("n_chars").cast("long").alias("n_chars"))
    )


#: Winnowing candidate-pair knobs: drop fingerprints appearing in more
#: than WINNOW_MAX_DF documents (boilerplate/stop-gram buckets — the
#: standard df-cap that bounds the self-join's per-bucket fan-out),
#: and require >= WINNOW_MIN_SHARED shared rare fingerprints per pair.
WINNOW_MAX_DF, WINNOW_MIN_SHARED = 20, 3

from piper_spark.functions.text import _WINNOW_FPS_SQL  # noqa: E402


#: Full winnow-pair CTE chain (ends in `verified` = the value-exact
#: near-dup pairs) — shared by `dedup_winnow` and `pipeline_near_dedup`.
_WINNOW_PAIRS_CTES = f"""toks AS ({_WINNOW_FPS_SQL}),
rare AS (
  SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {WINNOW_MAX_DF}
), f AS (
  SELECT doc_id, fp FROM fps JOIN rare USING (fp)
), cand AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2,
         CAST(count(*) AS BIGINT) AS shared
  FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING count(*) >= {WINNOW_MIN_SHARED}
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(w[i:i+2], ' ')
                        FOR i IN range(1, greatest(len(w) - 1, 2))]) AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
), verified AS (
  SELECT id1, id2, shared,
         round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(x.sh, y.sh))), 4) AS jaccard
  FROM cand JOIN sh x ON x.doc_id = cand.id1
            JOIN sh y ON y.doc_id = cand.id2
  WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(x.sh, y.sh))) >= 0.5
)"""


@register(
    "dedup_winnow",
    oracle=f"""
WITH {_WINNOW_PAIRS_CTES}
SELECT id1, id2, shared, jaccard FROM verified
""",
)
def dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-DUPLICATE DOCUMENT pairs by SHARED WINNOWING FINGERPRINTS
    (Schleimer et al. 2003) — the guarantee-backed third member of the
    near-dup text family: unlike MinHash (probabilistic) or SimHash
    (Hamming ball), any pair sharing one >= 6-word run shares a
    fingerprint BY CONSTRUCTION, so the CANDIDATE stage cannot miss
    overlap by bad luck. The verify stage then scopes the OUTPUT to
    near-duplicate documents (whole-doc shingle-Jaccard >= 0.5): a
    short quoted passage inside two otherwise-different documents
    generates a candidate here but is deliberately NOT emitted — that
    localized-overlap class is `dedup_substring`'s output (it reports
    the shared run itself, with no doc-level similarity gate).

    Shape: zero-shuffle fingerprinting (`winnow_fps`) →
    `lsh.capped_pairs` on fp (df-capped self equi-join; per-bucket
    fan-out <= C(WINNOW_MAX_DF, 2) pairs; contract in ARCHITECTURE.md,
    "Dedup") → pair hash-agg with a shared-count threshold → exact shingle-
    Jaccard VERIFY on the surviving candidates (two id-keyed joins back
    to the shingle arrays; candidate volume is already bounded by the
    df-cap, so the verify never sees all-pairs — same candidates-then-
    verify discipline as `dedup_lsh_cosine`; since round-12 the shingle
    arrays themselves are built only for CANDIDATE docs, semi-joined
    off the pair relation). At 100 TB every stage is a keyed shuffle of
    8-byte fingerprints or doc ids."""
    from piper_spark.functions.text import winnow_fps

    # No spread here: `winnow_fps` and the verify each spread their own
    # scan (fan_out), a no-op at scale.
    docs = table(spark, sf_dir, "documents")
    # Materialize the pair-sized result, then release the verify
    # stage's internal (cand, sh) caches — the caller gets one owned
    # handle, no orphans.
    caches: list[DataFrame] = []
    out = _winnow_verified_pairs(
        docs, winnow_fps(docs), caches=caches
    ).persist()
    out.count()
    for c in caches:
        c.unpersist()
    return out


def _winnow_verified_pairs(
    docs: DataFrame, fps: DataFrame, caches: "list[DataFrame] | None" = None
) -> DataFrame:
    """(id1, id2, shared, jaccard) df-capped + verified winnow pairs
    from a (doc_id, fp) fingerprint relation — `dedup_winnow`'s
    candidate + verify stages, factored so `dedup_ensemble` can vote on
    the spine's shared fingerprints. Candidates come from
    `lsh.capped_pairs` (ARCHITECTURE.md, "Dedup"), which reads `fps`
    once, so the caller need not persist it. The internal persists
    (cand, sh) are appended to ``caches``; the caller releases them
    with its other stage caches."""
    from piper_spark.functions.lsh import capped_pairs

    cand = eager_fill(
        capped_pairs(fps, "fp", id_col="doc_id", max_df=WINNOW_MAX_DF)
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= WINNOW_MIN_SHARED)
        # read by the id-set derivation AND the verify join — eagerly
        # filled so those consumers don't race the fp self-join twice
        .persist()
    )
    # persist: both verify aliases read the shingle arrays (a doc can
    # be id1 of one pair and id2 of another). fan_out on the SCAN side
    # (never on the join plan — `.rdd` on an adaptive join plan can
    # trigger eager stage execution): the filled `cand` is small, its
    # ids are broadcast into the scan, and the shingle build would
    # otherwise run on the scan's split count (one core locally).
    sh = _candidate_shingles(fan_out(docs), cand).persist()
    if caches is not None:
        caches.extend([cand, sh])
    return _shingle_jaccard(cand, sh)


def _candidate_shingles(docs: DataFrame, cand: DataFrame) -> DataFrame:
    """(doc_id, sh): distinct 3-word-shingle arrays of the documents
    named in the candidate pairs `cand` (id1, id2, ...) — the verify
    input is CANDIDATE-BOUNDED: the distinct candidate ids semi-join the
    documents scan, so only candidate docs pay the shingle build."""
    cand_ids = (
        cand.select(F.col("id1").alias("doc_id"))
        .unionByName(cand.select(F.col("id2").alias("doc_id")))
        .distinct()
    )
    return (
        docs.join(cand_ids, "doc_id", "semi")
        .select("doc_id", F.array_distinct(shingles("text")).alias("sh"))
    )


def _shingle_jaccard(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """(id1, id2, shared, jaccard): the pairs of `cand` (id1, id2,
    shared) whose whole-document shingle Jaccard over `sh` (doc_id, sh)
    is at least 0.5, rounded to 4 places — the near-dup verify shared
    by `dedup_winnow` and `dedup_near_incremental`."""
    x, y = sh.alias("x"), sh.alias("y")
    inter = F.size(F.array_intersect(F.col("x.sh"), F.col("y.sh")))
    union = F.size(F.array_union(F.col("x.sh"), F.col("y.sh")))
    jac = inter.cast("double") / union
    return (
        cand.join(x, F.col("x.doc_id") == F.col("id1"))
        .join(y, F.col("y.doc_id") == F.col("id2"))
        .filter(jac >= 0.5)
        .select("id1", "id2", "shared", F.round(jac, 4).alias("jaccard"))
    )


@register(
    "dedup_ensemble",
    oracle=f"""
WITH {_WINNOW_PAIRS_CTES}
{_simhash_sig_sql(2, standalone=False, prefix="sx_")},
gm AS (SELECT doc_id, g % {MERSENNE31} AS h FROM valid),
mm(i, a, b) AS (VALUES {_MINHASH_MIXER_VALUES}),
msigs AS (
  SELECT doc_id, mm.i, min((gm.h * mm.a + mm.b) % {MERSENNE31}) AS mh
  FROM gm CROSS JOIN mm GROUP BY doc_id, mm.i
),
mbands AS (
  SELECT doc_id, i // 2 AS band,
         CAST(sum(CASE WHEN i % 2 = 0 THEN mh * 2147483648 ELSE mh END)
              AS BIGINT) AS bh
  FROM msigs GROUP BY doc_id, i // 2
),
mh_pairs AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM mbands a
  JOIN mbands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
sxb AS (
  SELECT doc_id, sh, rb.range AS band,
         (sh >> CAST(16 * rb.range AS INT)) & 65535 AS bh
  FROM sx_sig CROSS JOIN range(0, 4) rb
),
sh_pairs AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM sxb a
  JOIN sxb b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.sh, b.sh)) <= 3
),
wn_pairs AS (SELECT DISTINCT id1, id2 FROM verified),
allp AS (
  SELECT id1, id2 FROM mh_pairs
  UNION SELECT id1, id2 FROM sh_pairs
  UNION SELECT id1, id2 FROM wn_pairs
),
flagged AS (
  SELECT p.id1, p.id2,
         CAST(CASE WHEN m.id1 IS NULL THEN 0 ELSE 1 END AS BIGINT)
           AS in_minhash,
         CAST(CASE WHEN s.id1 IS NULL THEN 0 ELSE 1 END AS BIGINT)
           AS in_simhash,
         CAST(CASE WHEN w.id1 IS NULL THEN 0 ELSE 1 END AS BIGINT)
           AS in_winnow
  FROM allp p
  LEFT JOIN mh_pairs m ON m.id1 = p.id1 AND m.id2 = p.id2
  LEFT JOIN sh_pairs s ON s.id1 = p.id1 AND s.id2 = p.id2
  LEFT JOIN wn_pairs w ON w.id1 = p.id1 AND w.id2 = p.id2
)
SELECT id1, id2, in_minhash + in_simhash + in_winnow AS n_votes,
       in_minhash, in_simhash, in_winnow
FROM flagged
WHERE in_minhash + in_simhash + in_winnow >= 2
""",
)
def dedup_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENSEMBLE near-dup voting — pairs confirmed by ≥ 2 of the three
    text signature families (MinHash-LSH bands, 64-bit SimHash Hamming
    ≤ 3, verified winnowing), with per-family flags. Single-family
    candidates are where LSH false positives live (a band collision, a
    vocabulary-overlap Hamming ball); requiring independent agreement
    is the standard precision move a production dedup pass applies
    before destructive drops — and because every family signs off ONE
    `near_dup_spine` stage, the whole vote costs one corpus hash pass,
    the three bounded candidate joins, and the winnow family's
    CANDIDATE-BOUNDED Jaccard verify (a second documents scan whose
    shingle build is semi-joined down to candidate doc ids — round-12
    ADVICE 3; previously that pass shingled every corpus doc).

    ORACLE-EXACT as a composition (the `pipeline_signatures` move,
    extended to the PAIR level): the SQL splices the winnow
    candidate+verify chain, the minhash mixer/band chain, and the
    prefixed simhash chain into ONE WITH, then votes with three
    pair-keyed left joins. Scale: each family's candidate generator is
    the bounded equi-join its standalone key carries (df-capped fp
    buckets, 62-bit band keys, 16-bit Hamming bands); the voting joins
    are pair-keyed on id pairs, never corpus-keyed."""
    docs = table(spark, sf_dir, "documents")
    spine = near_dup_spine(docs)
    # No per-family eager fill: with the spine stage already filled,
    # each family build is a cheap agg off the cache and the r15 A/B
    # measured the three extra fill jobs as a net cost (1.22x).
    # Persisted here, not by the pair kernel, so this function can
    # release them once the votes are materialized.
    mh_sigs = spine["minhash_sigs"].persist(StorageLevel.DISK_ONLY)
    mh = (
        lsh_candidate_pairs(mh_sigs)
        .select("id1", "id2")
        .withColumn("in_minhash", F.lit(1).cast("long"))
    )
    sim_sigs = spine["simhash_sigs"].persist(StorageLevel.DISK_ONLY)
    sh = (
        _simhash_pairs(sim_sigs, ["sh"])
        .select("id1", "id2")
        .withColumn("in_simhash", F.lit(1).cast("long"))
    )
    wn_caches: list[DataFrame] = []
    wn = (
        _winnow_verified_pairs(docs, spine["winnow_fps"], caches=wn_caches)
        .select("id1", "id2")
        .withColumn("in_winnow", F.lit(1).cast("long"))
    )
    # ONE union-tagged aggregation instead of two pair-keyed full-outer
    # joins (round 15, VERDICT item 5): each family emits its pairs at
    # most once (every generator ends in a distinct/group-by), so a
    # full-outer join tree with coalesce-to-0 flags is value-identical
    # to summing one-hot flag columns over the union — and it costs a
    # single (id1, id2) exchange with map-side partial aggregation
    # where the join tree shuffled every family relation into two
    # separate join exchanges.
    zero = F.lit(0).cast("long")
    tagged = (
        mh.select("id1", "id2", "in_minhash",
                  zero.alias("in_simhash"), zero.alias("in_winnow"))
        .unionByName(
            sh.select("id1", "id2", zero.alias("in_minhash"),
                      "in_simhash", zero.alias("in_winnow"))
        )
        .unionByName(
            wn.select("id1", "id2", zero.alias("in_minhash"),
                      zero.alias("in_simhash"), "in_winnow")
        )
    )
    votes = (
        tagged.groupBy("id1", "id2")
        .agg(
            F.sum("in_minhash").alias("in_minhash"),
            F.sum("in_simhash").alias("in_simhash"),
            F.sum("in_winnow").alias("in_winnow"),
        )
        .withColumn(
            "n_votes",
            F.col("in_minhash") + F.col("in_simhash") + F.col("in_winnow"),
        )
        .filter(F.col("n_votes") >= 2)
        .select("id1", "id2", "n_votes", "in_minhash", "in_simhash", "in_winnow")
        .persist()
    )
    votes.count()  # materialize, then release the internal caches
    mh_sigs.unpersist()
    sim_sigs.unpersist()
    for c in wn_caches:  # the winnow verify's cand/shingle persists
        c.unpersist()
    spine["stage"].unpersist()
    return votes


#: Substring-dedup knobs: drop grams in more than SUBSTR_MAX_DF docs
#: (stop-gram buckets), require a diagonal run of >= SUBSTR_MIN_RUN
#: consecutive 3-grams — i.e. a shared VERBATIM substring of
#: SUBSTR_MIN_RUN + 2 = 10 words.
SUBSTR_MAX_DF, SUBSTR_MIN_RUN = 20, 8

from piper_spark.functions.text import _GRAM_SQL  # noqa: E402


@register(
    "dedup_substring",
    oracle=f"""
WITH toks AS ({_GRAM_SQL}),
rare AS (
  SELECT g
  FROM (SELECT g, count(DISTINCT doc_id) AS df FROM valid GROUP BY g)
  WHERE df <= {SUBSTR_MAX_DF}
), v AS (
  SELECT doc_id, pos, g FROM valid JOIN rare USING (g)
), m AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, a.pos AS p1,
         a.pos - b.pos AS diag
  FROM v a JOIN v b ON a.g = b.g AND a.doc_id < b.doc_id
), runs AS (
  SELECT id1, id2, diag,
         p1 - row_number() OVER (PARTITION BY id1, id2, diag ORDER BY p1)
             AS island
  FROM m
)
SELECT id1, id2, CAST(max(run_len) + 2 AS BIGINT) AS max_shared_words
FROM (SELECT id1, id2, diag, island, count(*) AS run_len
      FROM runs GROUP BY id1, id2, diag, island)
GROUP BY id1, id2
HAVING max(run_len) >= {SUBSTR_MIN_RUN}
""",
)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs sharing a LONG VERBATIM SUBSTRING — the document-level
    analogue of suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): set-
    similarity ops (Jaccard/MinHash) miss a 10-word quote inside two
    otherwise-different documents, and `dedup_winnow`'s doc-level
    Jaccard verify deliberately drops it; this op measures the run
    itself. "Verbatim" is up to the full-char polynomial word hash
    (WORD_HASH_MOD): a fabricated run needs SUBSTR_MIN_RUN consecutive
    aligned word collisions at ~1e-9 each — negligible, and the reason
    the hash folds every character (the earlier len/first/last sample
    collided on real word pairs and could inflate run lengths).

    Shape: positioned gram hashes (`gram_rel`, zero-shuffle) →
    `lsh.capped_pairs` (df-capped gram equi-join, fan-out ≤ df per
    gram; contract in ARCHITECTURE.md, "Dedup") → the classic
    diagonal trick: a shared run of consecutive grams lands on one
    (id1, id2, p1 − p2) diagonal, where islands of consecutive p1
    (p1 − row_number per diagonal) have length = run length. One
    window over (pair, diagonal) — state bounded by matches per pair
    (`substring_islands`) — then a pair-level max over the islands of
    ≥ SUBSTR_MIN_RUN grams (a pair's max reaches the threshold iff one
    of its islands does). Emits max_shared_words = longest shared
    word run. At 100 TB every stage is a keyed shuffle; no all-pairs,
    no suffix array materialization (the trade: only runs whose grams
    survive the df-cap are seen — exact-dup text shared by > df docs
    is the EXACT-dedup family's job)."""
    islands = substring_islands(fan_out(table(spark, sf_dir, "documents")))
    return islands.groupBy("id1", "id2").agg(
        (F.max("run_len") + 2).cast("long").alias("max_shared_words")
    )


def substring_islands(d: DataFrame) -> DataFrame:
    """(id1, id2, diag, run_len, p1_lo, p1_hi): every shared run of
    >= SUBSTR_MIN_RUN consecutive 3-grams between two documents of the
    (doc_id, text) relation `d`, with its extent on id1's positions —
    the diagonal-island stage of `dedup_substring` and
    `text.substring_clean_rel`.

    Gram matches come from `lsh.capped_pairs` over the positioned gram
    relation (df counted in distinct docs, cap SUBSTR_MAX_DF; contract
    in ARCHITECTURE.md, "Dedup"). A run of consecutive grams lands on
    one (id1, id2, p1 − p2) diagonal, where p1 − row_number is constant:
    one window keyed by (pair, diagonal), state bounded by the matches
    of one pair."""
    from piper_spark.functions.lsh import capped_pairs
    from piper_spark.functions.text import gram_rel

    m = capped_pairs(
        gram_rel(d), "g", id_col="doc_id", max_df=SUBSTR_MAX_DF, keep=("pos",)
    ).select(
        "id1",
        "id2",
        F.col("pos1").alias("p1"),
        (F.col("pos1") - F.col("pos2")).alias("diag"),
    )
    win = Window.partitionBy("id1", "id2", "diag").orderBy("p1")
    return (
        m.withColumn("island", F.col("p1") - F.row_number().over(win))
        .groupBy("id1", "id2", "diag", "island")
        .agg(
            F.count(F.lit(1)).alias("run_len"),
            F.min("p1").alias("p1_lo"),
            F.max("p1").alias("p1_hi"),
        )
        .filter(F.col("run_len") >= SUBSTR_MIN_RUN)
        .drop("island")
    )


#: Propagation-round bound for the REGISTERED end-to-end near-dedup op.
#: connected_components raises (loudly, by design) when the near-dup
#: chain diameter exceeds the bound; the registered key exposes no
#: parameters, so the bound lives here — a deployment with longer
#: legitimate chains raises this constant instead of editing library
#: code. 64 rounds covers any plausible near-dup chain (each round is
#: one bounded keyed shuffle; diameter-64 similarity chains do not
#: occur in curated corpora without an upstream bug worth surfacing).
NEAR_DEDUP_MAX_ITERS = 64


@register(
    "pipeline_near_dedup",
    oracle=f"""
WITH RECURSIVE {_WINNOW_PAIRS_CTES},
e AS (
  SELECT id1 AS u, id2 AS v FROM verified
  UNION ALL
  SELECT id2 AS u, id1 AS v FROM verified
),
walk AS (
  SELECT doc_id AS start, doc_id AS node FROM documents
  UNION
  SELECT w.start, e.v FROM walk w JOIN e ON w.node = e.u
)
SELECT start AS doc_id,
       CAST(min(node) AS BIGINT) AS component,
       CAST(CASE WHEN min(node) = start THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM walk GROUP BY start
""",
)
def pipeline_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END NEAR-DUPLICATE CURATION — the full production dedup
    decision, not just candidate pairs: winnowing near-dup pairs
    (guaranteed-recall candidates + exact Jaccard verify) → connected
    components over the pair graph (a transitive near-dup CHAIN is one
    cluster even when its endpoints aren't pairwise similar) → keep the
    min-doc_id canonical per cluster. Emits every document with its
    cluster label and the keep/drop decision — the relation a corpus
    rebuild or an audit joins against.

    This is the near-dup analogue of `pipeline_curate`'s exact-hash
    dedup stage, composed from the same verified pieces:
    `dedup_winnow` (df-capped fp equi-join, never all-pairs) and
    `connected_components` (iterative min-label propagation, one keyed
    shuffle per round, bounded driver state). The oracle walks the
    identical graph with a recursive CTE, so the whole decision —
    clusters AND keeps — is value-exact. At 100 TB: iterations = near-
    dup chain diameter (short in practice), per-round cost one edge
    join; singletons never enter the propagation loop's join (left
    join keeps them labeled with their own id)."""
    # persist: the union embeds the pair relation twice (forward +
    # reversed edges) — without this the whole winnow candidate+verify
    # subtree would evaluate once per branch.
    pairs = dedup_winnow(spark, sf_dir).select("id1", "id2").persist()
    edges = pairs.select(
        F.col("id1").alias("u"), F.col("id2").alias("v")
    ).union(pairs.select(F.col("id2").alias("u"), F.col("id1").alias("v")))
    verts = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id")
    )
    comp = connected_components(edges, verts, max_iters=NEAR_DEDUP_MAX_ITERS)
    return comp.select(
        F.col("id").alias("doc_id"),
        "component",
        F.when(F.col("component") == F.col("id"), 1)
        .otherwise(0)
        .cast("long")
        .alias("kept"),
    )


#: Fixture split for the incremental near-dedup demo: docs with
#: doc_id % 10 == 3 play the ARRIVING BATCH; the rest are the corpus
#: whose fingerprint index already exists (in production: a stored
#: table maintained across ingests).
NEAR_INCR_BATCH_MOD, NEAR_INCR_BATCH_RESIDUE = 10, 3

from piper_spark.functions.text import _WINNOW_FPS_SQL  # noqa: E402


@register(
    "dedup_near_incremental",
    oracle=f"""
WITH toks AS ({_WINNOW_FPS_SQL}),
cfps AS (SELECT doc_id, fp FROM fps
         WHERE doc_id % {NEAR_INCR_BATCH_MOD} <> {NEAR_INCR_BATCH_RESIDUE}),
rare AS (
  SELECT fp FROM (SELECT fp, count(*) AS df FROM cfps GROUP BY fp)
  WHERE df <= {WINNOW_MAX_DF}
),
bfps AS (SELECT doc_id, fp FROM fps
         WHERE doc_id % {NEAR_INCR_BATCH_MOD} = {NEAR_INCR_BATCH_RESIDUE}),
cand AS (
  SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id, count(*) AS shared
  FROM bfps b JOIN (SELECT * FROM cfps JOIN rare USING (fp)) c USING (fp)
  GROUP BY 1, 2 HAVING count(*) >= {WINNOW_MIN_SHARED}
),
sh AS (
  SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
                 FOR i IN range(1, greatest(len(w) - 1, 2))]) AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
)
SELECT batch_id, corpus_id, CAST(shared AS BIGINT) AS shared,
       round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(x.sh, y.sh))), 4) AS jaccard
FROM cand JOIN sh x ON x.doc_id = batch_id JOIN sh y ON y.doc_id = corpus_id
WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
      / len(list_distinct(list_concat(x.sh, y.sh))) >= 0.5
""",
)
def dedup_near_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-duplicate detection — the production ingest
    pattern `dedup_incremental` provides for EXACT dedup, extended to
    the near-dup family: an arriving batch is fingerprinted and probed
    against the standing corpus's winnowing-fingerprint INDEX, so daily
    ingest costs O(batch + matched buckets), never a full-corpus
    re-pairing. Emits (batch_id, corpus_id, shared, jaccard) for every
    batch document that near-duplicates an existing corpus document
    (shingle-Jaccard >= 0.5 after the same guarantee-backed candidate
    stage as `dedup_winnow`).

    The fixture derives the split from doc_id (% 10 == 3 arrives);
    production swaps the filter for (new parquet partitions) vs (the
    stored (doc_id, fp) index table — note the df-cap is computed on
    the INDEX side only, exactly the statistic a maintained index
    carries). Scale shape: the batch side is small by construction;
    every join is a keyed equi-join on 8-byte fingerprints; the corpus
    is touched only through its index and the ID-keyed shingle lookup
    of matched candidates. Batch-internal duplicates are deliberately
    out of scope here — run `dedup_winnow` within the batch for those
    (both halves compose into the ingest pipeline). The probe is the
    `probe` form of `lsh.capped_pairs` (ARCHITECTURE.md, "Dedup")."""
    from piper_spark.functions.lsh import capped_pairs
    from piper_spark.functions.text import winnow_fps

    docs = table(spark, sf_dir, "documents")
    is_batch = (
        F.col("doc_id") % NEAR_INCR_BATCH_MOD == NEAR_INCR_BATCH_RESIDUE
    )
    # One fingerprint pass over everything, split after (the fixture
    # stands in for "index exists + batch fingerprinted on arrival");
    # persist: the batch (probe) and index sides both read it.
    fps = winnow_fps(docs).persist()
    cand = (
        capped_pairs(
            fps.filter(~is_batch),
            "fp",
            id_col="doc_id",
            max_df=WINNOW_MAX_DF,
            probe=fps.filter(is_batch),
        )
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= WINNOW_MIN_SHARED)
        # read by the id-set derivation AND the verify join
        .persist()
    )
    # No persist for the shingle arrays: with `cand` a cache, both
    # verify aliases plan the same subtree and read one exchange of it.
    return _shingle_jaccard(cand, _candidate_shingles(docs, cand)).select(
        F.col("id1").alias("batch_id"),
        F.col("id2").alias("corpus_id"),
        "shared",
        "jaccard",
    )


#: SemDeDup parameters: corpus cap, cluster-count floor/ceiling and
#: target cluster size, cosine threshold for "semantic duplicate
#: within a cluster". The cluster count is CORPUS-SIZE-DERIVED
#: (round-12, the `derived_kmeans_k` discipline): SemDeDup's n²/k pair
#: bound only beats n² when k GROWS with n — at a fixed target cluster
#: size the expected within-cluster pair work is n · SEM_CELL_TARGET,
#: linear. Derivation is mirrored in the oracle's kd CTE, so one
#: static SQL string is exact at every SF.
SEMDEDUP_CAP = 1200
SEMDEDUP_K = 16
SEMDEDUP_K_MAX = 4096
SEM_CELL_TARGET = 64
SEMDEDUP_TAU = 0.35


def derived_semdedup_k(n_capped: int) -> int:
    """clamp(ceil(n / SEM_CELL_TARGET), SEMDEDUP_K, SEMDEDUP_K_MAX)
    over the CAPPED corpus count — seeds are the first k vec_ids, the
    pinned-representative convention (ids are contiguous in the
    fixture, the dedup_bloom assumption)."""
    want = (max(n_capped, 1) + SEM_CELL_TARGET - 1) // SEM_CELL_TARGET
    return min(SEMDEDUP_K_MAX, max(SEMDEDUP_K, want))


@register(
    "dedup_semantic",
    oracle=f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed
  FROM embeddings WHERE vec_id < {SEMDEDUP_CAP}
),
kd AS (
  SELECT LEAST({SEMDEDUP_K_MAX}, GREATEST({SEMDEDUP_K},
           (count(*) + {SEM_CELL_TARGET - 1}) // {SEM_CELL_TARGET})) AS k
  FROM e
),
seeds AS (
  SELECT vec_id AS sid, ed AS sed,
         sqrt(list_sum(list_transform(ed, x -> x * x))) AS snorm
  FROM e, kd WHERE vec_id < kd.k
),
scored AS (
  SELECT e.vec_id, s.sid,
         list_sum(list_transform(e.ed, (x, i) -> x * s.sed[i]))
           / (sqrt(list_sum(list_transform(e.ed, x -> x * x))) * s.snorm)
           AS cos,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_sum(list_transform(e.ed, (x, i) -> x * s.sed[i]))
                    / (sqrt(list_sum(list_transform(e.ed, x -> x * x)))
                       * s.snorm) DESC, s.sid
         ) AS rn
  FROM e CROSS JOIN seeds s
),
asg AS (SELECT vec_id, sid AS cluster FROM scored WHERE rn = 1),
pairs AS (
  SELECT a.cluster, a.vec_id AS id1, b.vec_id AS id2
  FROM asg a
  JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE list_sum(list_transform(ea.ed, (x, i) -> x * eb.ed[i]))
          / (sqrt(list_sum(list_transform(ea.ed, x -> x * x)))
             * sqrt(list_sum(list_transform(eb.ed, x -> x * x))))
        >= {SEMDEDUP_TAU}
)
SELECT id2 AS vec_id,
       CAST(cluster AS BIGINT) AS cluster,
       min(id1) AS dup_of,
       CAST(count(*) AS BIGINT) AS n_dups
FROM pairs
GROUP BY id2, cluster
""",
)
def dedup_semantic(
    spark: SparkSession, sf_dir: str, seeds: DataFrame | None = None
) -> DataFrame:
    """SemDeDup: cluster-scoped embedding dedup (Abbas et al. 2023).

    The headline modern semantic-dedup shape: partition the corpus into
    k clusters, then look for cosine-≥-τ duplicates ONLY within a
    cluster — candidate volume n²/k instead of n², and each cluster's
    pair set is an independent shard. A vec is DROPPED when a
    lower-vec_id member of its cluster sits within τ; output is the
    dropped set with its cluster, its lowest-id duplicate partner, and
    the partner count — all integers, so the oracle is value-exact
    (the float cosines only gate, never surface).

    Cluster representatives here are the first k embeddings, pinned so
    the key is oracle-checkable end-to-end (assignment = argmax cosine,
    ties to the lowest seed, decided on bit-identical doubles in both
    engines — the sequential-fold dot product matches DuckDB's
    list_sum(list_transform(...)) bit-for-bit, the `dedup_embed`
    discipline). Pass `seeds` (sid, sed array<double>) to swap in a
    trained representative set — `kmeans_codebook` supplies the
    DISTRIBUTED full-corpus Lloyd fit (`cluster_kmeans`), and the
    bounded-sample `train_codebook` works too; the join shapes stay
    (exercised in tests/test_properties.py).

    Scale shape: seeds are a k-row broadcast; assignment is one
    narrow pass (n·k fold-dot-products, no shuffle); the pair stage
    shuffles on `cluster` only and SemDeDup's own guarantee bounds each
    partition's work at |cluster|². k is CORPUS-SIZE-DERIVED
    (`derived_semdedup_k`, round-12): at a fixed SEM_CELL_TARGET the
    expected pair work is n · SEM_CELL_TARGET — linear — where a fixed
    k would be n²/k, quadratic. Skewed clusters would salt or df-cap
    exactly like the gram joins (functions/dedup.py df-cap pattern).
    Corpus capped at SEMDEDUP_CAP vecs for the registered key so the
    exact within-cluster verify stays bench-sized.
    """
    # persist: norms live IN the cached relation (trap 3 — the pair
    # stage reads e from two aliases; a per-pair norm recompute would
    # triple the fold work), and the relation feeds seeds, assignment,
    # and both pair aliases.
    e = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < SEMDEDUP_CAP)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("ed"))
        .select("vec_id", "ed", _vec_norm(F.col("ed")).alias("nrm"))
        .persist()
    )
    if seeds is None:  # default: pinned first-k representatives.
        # Round-13 (ADVICE 3): k derives from the ACTUAL capped-relation
        # count — the SAME predicate the oracle's kd CTE counts
        # (vec_id < SEMDEDUP_CAP) — not min(footer_count, CAP), which
        # silently diverges if vec_ids are ever sparse or
        # non-contiguous. e is persisted and read by the seed scan,
        # the assignment, and both pair aliases, so the count() also
        # serves as the eager-materialize (trap 2).
        k_sem = derived_semdedup_k(e.count())
        seeds = e.filter(F.col("vec_id") < k_sem).select(
            F.col("vec_id").alias("sid"),
            F.col("ed").alias("sed"),
            F.col("nrm").alias("snorm"),
        )
    else:  # trained representatives (sid, sed) — norm derived here
        seeds = seeds.select(
            "sid", "sed", _vec_norm(F.col("sed")).alias("snorm")
        )
    cos_to_seed = _fold_dot(F.col("ed"), F.col("sed")) / (
        F.col("nrm") * F.col("snorm")
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("sid").asc()
    )
    # persist: the decision stage reads the assignment from both pair
    # aliases — without it the k-way argmax window evaluates twice.
    asg = (
        e.crossJoin(F.broadcast(seeds))
        .select("vec_id", "sid", cos_to_seed.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("sid").alias("cluster"))
        .persist()
    )
    return semantic_drop_decisions(asg, e, SEMDEDUP_TAU)


def _semantic_ivf_oracle() -> str:
    from piper_spark.functions.similarity import _branched_cells_ctes

    return f"""{_branched_cells_ctes()},
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
pairs AS (
  SELECT a.cid AS cluster, a.vec_id AS id1, b.vec_id AS id2
  FROM cells a
  JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE list_sum(list_transform(ea.ed, (x, i) -> x * eb.ed[i]))
          / (sqrt(list_sum(list_transform(ea.ed, x -> x * x)))
             * sqrt(list_sum(list_transform(eb.ed, x -> x * x))))
        >= {SEMDEDUP_TAU}
)
SELECT id2 AS vec_id,
       CAST(cluster AS BIGINT) AS cluster,
       min(id1) AS dup_of,
       CAST(count(*) AS BIGINT) AS n_dups
FROM pairs
GROUP BY id2, cluster
"""


@register("dedup_semantic_ivf", oracle=_semantic_ivf_oracle())
def dedup_semantic_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the FULL corpus on the DISTRIBUTED IVF cells —
    the production-scale sibling of `dedup_semantic` (round-13 VERDICT
    item 1): clusters come from `ivf_cell_assignment` (the
    corpus-size-derived Lloyd fit, switching to the HIERARCHICAL leaf
    cells past the single-level clamp at HIER_SWITCH_N vectors —
    recursive depth `derived_fine_depth(n)` since round 14), so
    within-cluster pair work stays n · KM_CELL_TARGET at ANY corpus
    size — no SEMDEDUP_CAP, no pinned seeds, no driver-side k·dims
    closure past the coarse level. The τ-gate, drop rule (lowest-id
    cluster-mate within cosine τ wins), and output shape are
    `semantic_drop_decisions`, shared with the registered capped key.

    ORACLE-EXACT on every side of every switch: cells are integer
    arithmetic mirrored by `_branched_cells_ctes` (single-level a{{T}}
    assignment below the clamp, the unrolled depth-1/depth-2 leaf
    chains above it, gated on the same corpus count), and the float
    cosines only gate — every surfaced column is an integer (the
    `dedup_semantic` discipline).

    Scale shape: one Lloyd fit (bounded partial-agg shuffles) + one
    grouped Arrow pass per fine level; the pair stage
    shuffles on the cell id only, each cell's work bounded at
    |cell|² ≈ KM_CELL_TARGET² by construction. Cites
    reference src/piper/loader.rs:21-45 (the ref's only clustering)
    generalized to the SURVEY §2B semantic-dedup mandate."""
    from piper_spark.functions.similarity import ivf_cell_assignment
    from piper_spark.session import row_count

    if row_count(spark, sf_dir, "embeddings") == 0:
        return spark.createDataFrame(
            [], "vec_id long, cluster long, dup_of long, n_dups long"
        )
    vecs, cells = ivf_cell_assignment(spark, sf_dir)
    e = eager_fill(
        table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("ed"))
        .select("vec_id", "ed", _vec_norm(F.col("ed")).alias("nrm"))
        .persist()
    )
    # persist: the decision stage reads the assignment from both pair
    # aliases (the dedup_semantic discipline) — eagerly filled so the
    # aliases don't race the whole cell-assignment chain (which past
    # the hierarchy switch is one grouped Arrow pass per fine level)
    # inside the consuming action (round 15, VERDICT item 1).
    asg = eager_fill(
        cells.select("vec_id", F.col("cid").alias("cluster")).persist()
    )
    out = semantic_drop_decisions(asg, e, SEMDEDUP_TAU).persist()
    out.count()  # materialize, then release the stage caches
    asg.unpersist()
    e.unpersist()
    vecs.unpersist()
    return out


def _fold_dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product — bit-matches DuckDB's
    list_sum(list_transform(...)) (the `dedup_embed` discipline)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _vec_norm(c: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def semantic_drop_decisions(
    asg: DataFrame, e: DataFrame, tau: float
) -> DataFrame:
    """SemDeDup's within-cluster decision stage: given an assignment
    relation (vec_id, cluster) and the vectors (vec_id, ed, nrm — norm
    precomputed in the persisted relation, trap-3 discipline), emit the
    DROPPED set — every vec with a lower-vec_id cluster-mate within
    cosine τ, with its lowest-id partner and partner count.

    Shared by the registered `dedup_semantic` (k pinned seeds, HOF
    argmax assignment — oracle-exact) and the scale measurement in
    scripts/bench_scaling.py (corpus-size-derived k, `assign_cells`
    matmul assignment from functions/similarity.py). Caller persists
    both inputs (each is read from two aliases). The only shuffle is on
    `cluster`; per-partition work is |cluster|² by SemDeDup's own
    construction."""
    a = asg.alias("a").join(
        e.select(
            F.col("vec_id").alias("a_id"),
            F.col("ed").alias("a_ed"),
            F.col("nrm").alias("a_nrm"),
        ),
        F.col("a.vec_id") == F.col("a_id"),
    )
    b = asg.alias("b").join(
        e.select(
            F.col("vec_id").alias("b_id"),
            F.col("ed").alias("b_ed"),
            F.col("nrm").alias("b_nrm"),
        ),
        F.col("b.vec_id") == F.col("b_id"),
    )
    pair_cos = _fold_dot(F.col("a_ed"), F.col("b_ed")) / (
        F.col("a_nrm") * F.col("b_nrm")
    )
    pairs = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a_id") < F.col("b_id")),
        )
        .filter(pair_cos >= tau)
        .select(
            F.col("a.cluster").alias("cluster"),
            F.col("a_id").alias("id1"),
            F.col("b_id").alias("id2"),
        )
    )
    return pairs.groupBy(
        F.col("id2").alias("vec_id"), F.col("cluster").cast("long").alias("cluster")
    ).agg(
        F.min("id1").alias("dup_of"),
        F.count(F.lit(1)).alias("n_dups"),
    )


@register(
    "dedup_url",
    oracle="""
WITH aug AS (
  SELECT doc_id,
         'https://' ||
         CASE CAST(doc_id % 3 AS INT)
           WHEN 0 THEN 'Example.COM' WHEN 1 THEN 'www.example.com'
           ELSE 'example.com' END ||
         '/p/' || CAST(doc_id // 7 AS VARCHAR) ||
         CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END ||
         CASE WHEN doc_id % 2 = 0
              THEN '?utm_source=s' || CAST(doc_id % 4 AS VARCHAR)
                   || '&utm_campaign=c'
              ELSE '' END AS url
  FROM documents
),
canon AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             replace(lower(url), '://www.', '://'),
             '\\?.*$', ''),
           '/$', '') AS canon_url
  FROM aug
)
SELECT canon_url, min(doc_id) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_dups
FROM canon
GROUP BY canon_url
HAVING count(*) >= 2
""",
)
def dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the CCNet/RefinedWeb crawl-prep
    step: normalize scheme-host-path variants (case, `www.`, tracking
    query params, trailing slash) to one canonical URL, keep the lowest
    doc_id per canonical group, report the collapsed count.

    The corpus has no URL column, so one is synthesized careful-
    deterministically per doc (the `text_pii` augmentation precedent,
    functions/text.py pii_facts): seven consecutive doc_ids share a
    canonical URL behind different surface forms (host case / `www.` /
    `utm_*` query noise / trailing slash). Canonicalization is pure
    string expressions — lower + replace + two anchored regexes, each
    matching at most once so Spark's replace-all and DuckDB's
    replace-first agree — making the key value-exact.

    Scale shape: canonicalization is a zero-shuffle per-row map; the
    keeper decision is one canonical-key hash aggregate (the
    `dedup_exact` profile — hot URLs skew, which AQE skew-join/salting
    absorbs; state per key is a count and a min, never the rows).
    """
    d = table(spark, sf_dir, "documents")
    host = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("Example.COM"))
        .when(F.col("doc_id") % 3 == 1, F.lit("www.example.com"))
        .otherwise(F.lit("example.com"))
    )
    url = F.concat(
        F.lit("https://"),
        host,
        F.lit("/p/"),
        F.expr("CAST(doc_id div 7 AS STRING)"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("?utm_source=s"),
                (F.col("doc_id") % 4).cast("string"),
                F.lit("&utm_campaign=c"),
            ),
        ).otherwise(F.lit("")),
    )
    canon = F.regexp_replace(
        F.regexp_replace(
            F.expr("replace(lower(url), '://www.', '://')"), r"\?.*$", ""
        ),
        "/$",
        "",
    )
    return (
        d.select("doc_id", url.alias("url"))
        .select("doc_id", canon.alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .filter(F.col("n_dups") >= 2)
    )


#: Containment knobs: candidate shingles must appear in <= CONTAIN_MAX_DF
#: docs (stop-shingle buckets never join), and the verify keeps pairs
#: whose shared-shingle count covers >= CONTAIN_THRESHOLD of the SMALLER
#: document's distinct shingles.
CONTAIN_MAX_DF, CONTAIN_THRESHOLD = 20, 0.8


@register(
    "dedup_containment",
    oracle=f"""
WITH toks AS ({_GRAM_SQL}),
s AS (
  SELECT doc_id, list_distinct(list(g)) AS sh FROM valid GROUP BY doc_id
),
x AS (SELECT DISTINCT doc_id, g FROM valid),
rare AS (
  SELECT g
  FROM (SELECT g, count(*) AS df FROM x GROUP BY g)
  WHERE df <= {CONTAIN_MAX_DF}
),
xr AS (SELECT x.doc_id, x.g FROM x JOIN rare USING (g)),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM xr a JOIN xr b ON a.g = b.g AND a.doc_id < b.doc_id
),
v AS (
  SELECT c.id1, c.id2,
         len(list_intersect(sa.sh, sb.sh)) AS shared,
         least(len(sa.sh), len(sb.sh)) AS small
  FROM cand c
  JOIN s sa ON sa.doc_id = c.id1
  JOIN s sb ON sb.doc_id = c.id2
)
SELECT id1, id2, shared,
       round(CAST(shared AS DOUBLE) / small, 4) AS containment
FROM v
WHERE CAST(shared AS DOUBLE) / small >= {CONTAIN_THRESHOLD}
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup pairs by shingle CONTAINMENT — |S(a) ∩ S(b)|
    / min(|S(a)|, |S(b)|) ≥ 0.8 (Broder 1997's containment, the
    resemblance's one-sided sibling): a short document pasted inside a
    much longer one has LOW Jaccard (the union is dominated by the long
    doc) and is invisible to `dedup_jaccard_shingle` / `dedup_minhash`,
    but containment ≈ 1. This is the quote-inclusion / subset-document
    class a training-data pipeline must catch separately — Jaccard
    dedup keeps both docs, yet the small one contributes no new text.
    `dedup_substring` reports the shared RUN; this op scores the
    whole-document coverage.

    Shape (the `dedup_winnow` candidates-then-verify discipline):
    zero-shuffle shingling → `lsh.capped_pairs` over the exploded
    shingle relation (df-capped self equi-join ON shingle; fan-out
    ≤ C(CONTAIN_MAX_DF, 2) per shingle; contract in ARCHITECTURE.md,
    "Dedup") → DISTINCT pair candidates → exact containment verify via two
    id-keyed joins back to the per-doc shingle arrays. Every stage is
    a keyed shuffle; the only pairs not seen are those ALL of whose
    shared shingles exceed the df-cap — by then the text is corpus-
    common boilerplate, `text_boilerplate`'s job, not a pair op's. The
    oracle mirrors the cap, so the key stays value-exact.

    Round-12 (VERDICT item 4): the shingle unit is now the spine's
    HASHED 3-word gram (`text_word_hash_udf` Arrow pass → JVM
    `gram_hash_col` fold — the `near_dup_spine` gram relation shape)
    instead of space-joined word STRINGS: the candidate equi-join and
    the verify arrays carry 8-byte longs, not ~25-byte strings, and
    the last family member off the shared hash stage now rides it.
    The oracle computes the identical gram chain (`_GRAM_SQL`), so the
    key stays value-exact including hash collisions. Semantics note:
    docs with < 3 words now yield NO shingles (the `shingle_hashes`
    rule — a partial window is not a shingle; the string form padded
    one), so sub-shingle docs can no longer pair. Bit-equality vs the
    string-shingle form on the fixture is pinned in tests."""
    from piper_spark.functions.lsh import capped_pairs
    from piper_spark.functions.text import gram_hash_col, text_word_hash_udf

    docs = fan_out(table(spark, sf_dir, "documents"))
    hwrel = docs.select(
        "doc_id", text_word_hash_udf()(F.col("text")).alias("hw")
    )
    # persist: the shingle arrays feed the explode AND both verify
    # aliases (caller owns the cache lifetime).
    sh = hwrel.select(
        "doc_id",
        F.array_distinct(gram_hash_col(F.col("hw"), n=SHINGLE_SIZE)).alias(
            "sh"
        ),
    ).persist()
    cand = capped_pairs(
        sh.select("doc_id", F.explode("sh").alias("g")),
        "g",
        id_col="doc_id",
        max_df=CONTAIN_MAX_DF,
    ).distinct()
    sa, sb = sh.alias("sa"), sh.alias("sb")
    shared = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh"))).cast(
        "long"
    )
    small = F.least(
        F.size(F.col("sa.sh")).cast("long"), F.size(F.col("sb.sh")).cast("long")
    )
    contain = shared.cast("double") / small
    return (
        cand.join(sa, F.col("sa.doc_id") == F.col("id1"))
        .join(sb, F.col("sb.doc_id") == F.col("id2"))
        .filter(contain >= CONTAIN_THRESHOLD)
        .select(
            "id1",
            "id2",
            shared.alias("shared"),
            F.round(contain, 4).alias("containment"),
        )
    )


#: Bloom-prefilter geometry for `dedup_bloom`: k = 2 positions per key
#: from the engine-shared char fold of md5(text) (p1 = h mod m; p2 via
#: one prime affine mixer), m = the smallest power of two ≥
#: BLOOM_BITS_PER_KEY · corpus keys, clamped to [2¹², 2²⁶] — at k = 2
#: and m/n = 16 the false-positive rate is (1−e^(−2n/m))² ≈ 1.4%,
#: matching the 4/250 measured on the fixture.
BLOOM_BITS_PER_KEY = 16
BLOOM_MIN_BITS, BLOOM_MAX_BITS = 1 << 12, 1 << 26
BLOOM_MIX_A, BLOOM_MIX_MOD = 48_271, 2_147_483_647

_BLOOM_POWERS = ",".join(f"({1 << k})" for k in range(12, 27))


def derived_bloom_bits(n_keys: int) -> int:
    """Smallest power of two ≥ BLOOM_BITS_PER_KEY·n_keys, clamped —
    the `derived_band_bits` discipline for bloom sizing: the filter
    grows with the corpus (from a metadata-only count), so the FP
    rate — and therefore the exact-verify join's input — stays flat
    instead of degrading as the corpus outgrows a fixed m."""
    want = max(BLOOM_MIN_BITS, BLOOM_BITS_PER_KEY * max(n_keys, 1))
    m = 1 << (want - 1).bit_length()
    return min(max(m, BLOOM_MIN_BITS), BLOOM_MAX_BITS)


@register(
    "dedup_bloom",
    oracle=f"""
WITH hashed AS (
  SELECT doc_id, n_chars, md5(text) AS m5,
         list_reduce(list_prepend(0::BIGINT,
           list_transform(range(1, 33),
             i -> CAST(ord(substring(md5(text), CAST(i AS INT), 1)) AS BIGINT))),
           (acc, x) -> (acc * 31 + x) % 1000000007) AS h
  FROM documents
),
nc AS (SELECT count(*) AS n FROM documents WHERE doc_id < {INCR_BOUNDARY}),
m AS (SELECT min(p) AS m FROM (VALUES {_BLOOM_POWERS}) t(p) CROSS JOIN nc
      WHERE p >= {BLOOM_BITS_PER_KEY} * nc.n),
hp AS (SELECT doc_id, n_chars, m5, h, h % m.m AS p1,
              (h * {BLOOM_MIX_A}) % {BLOOM_MIX_MOD} % m.m AS p2
       FROM hashed CROSS JOIN m),
corpus AS (SELECT * FROM hp WHERE doc_id < {INCR_BOUNDARY}),
posset AS (SELECT p1 AS p FROM corpus UNION SELECT p2 FROM corpus),
batch AS (SELECT * FROM hp WHERE doc_id >= {INCR_BOUNDARY}),
keeper AS (SELECT m5, min(doc_id) AS doc_id FROM batch GROUP BY m5),
b2 AS (SELECT b.doc_id, b.m5, b.h, b.n_chars, b.p1, b.p2
       FROM batch b JOIN keeper k ON b.m5 = k.m5 AND b.doc_id = k.doc_id),
flagged AS (
  SELECT doc_id, m5, h, CAST(n_chars AS BIGINT) AS n_chars,
         CASE WHEN p1 IN (SELECT p FROM posset)
               AND p2 IN (SELECT p FROM posset)
              THEN 1::BIGINT ELSE 0::BIGINT END AS probed
  FROM b2
)
SELECT doc_id, h, n_chars, probed FROM flagged
WHERE probed = 0 OR m5 NOT IN (SELECT m5 FROM corpus)
""",
)
def dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered incremental dedup — `dedup_incremental` with
    the corpus-side join REPLACED by a bounded statistic for the
    common case (Bloom 1970; the "does this batch key exist at all?"
    screen every lakehouse MERGE and crawl-ingest pipeline runs before
    touching the accumulated index).  The corpus's content hashes are
    folded into an m-bit filter packed as m/64 int64 words via one
    `bit_or` aggregate — a relation whose size depends ONLY on m
    (64 rows at the fixture's m = 4096), NOT on corpus rows — and the
    incoming batch probes it with two broadcast joins:

      probed = 0 (either bit clear) → DEFINITELY new: kept with no
               corpus join at all — at 100 TB this is the overwhelming
               majority of a fresh crawl batch, and it never shuffles;
      probed = 1 → maybe-duplicate: only these few rows (true dups +
               the ~1.4% false-positive tail) reach the exact
               hash anti-join against the corpus index.

    No false negatives by construction, so kept-set semantics are
    EXACTLY `dedup_incremental`'s: document IDENTITY is the full
    md5 digest everywhere a keep/drop decision is made — the
    within-batch keeper groups on md5 and the exact-verify anti-join
    runs on md5 — while the ~30-bit fold of the digest is used ONLY
    to derive bloom bit positions, where a collision is just a false
    positive the exact verify absorbs (fold-as-identity would silently
    drop new docs at birthday-collision rates, ~n²/2·10⁹).  The oracle
    checks the `probed` flag too, because a position-set IN test is
    the unpacked bit array: the bloom arithmetic itself is value-exact
    cross-engine.  m derives from the corpus count in BOTH engines
    (Spark: parquet footer via `derived_bloom_bits`, exploiting the
    fixture's contiguous doc_ids; SQL: the same smallest-power-of-2
    lookup), so the filter scales with the corpus and the FP rate
    stays flat.

    Position hash = the engine-shared char fold OVER md5(text): md5
    is identical text in both engines and the 32-hex-char fold is
    O(1) per doc (the full-text fold would be O(doc length)).
    """
    from piper_spark.functions.text import _winnow_word_hash
    from piper_spark.session import row_count

    n_total = row_count(spark, sf_dir, "documents")
    m = derived_bloom_bits(min(INCR_BOUNDARY, n_total))
    d = table(spark, sf_dir, "documents")
    hp = d.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.md5(F.encode("text", "utf-8")).alias("m5"),
    ).select(
        "doc_id",
        "n_chars",
        "m5",
        _winnow_word_hash(F.col("m5")).alias("h"),
    ).select(
        "doc_id",
        "n_chars",
        "m5",
        "h",
        (F.col("h") % m).alias("p1"),
        (F.col("h") * BLOOM_MIX_A % BLOOM_MIX_MOD % m).alias("p2"),
    )
    # persist: the corpus side feeds BOTH the bloom build and the
    # exact-verify anti-join (4-long rows; caller owns the lifetime).
    corpus = hp.filter(F.col("doc_id") < INCR_BOUNDARY).persist()
    words = (
        corpus.select(F.explode(F.array("p1", "p2")).alias("p"))
        .select(
            F.expr("p div 64").alias("widx"),
            F.expr("shiftleft(cast(1 as bigint), cast(p % 64 as int))").alias(
                "mask"
            ),
        )
        .groupBy("widx")
        .agg(F.bit_or("mask").alias("w"))
    )
    # persist: the batch projection (md5 + 32-char fold + positions)
    # feeds the keeper aggregate AND the b2 join on different keys —
    # no exchange reuse applies, so without the persist the fold runs
    # twice over the (dominant) batch side.
    batch = hp.filter(F.col("doc_id") >= INCR_BOUNDARY).persist()
    keeper = batch.groupBy("m5").agg(F.min("doc_id").alias("doc_id"))
    b2 = batch.join(keeper, ["m5", "doc_id"])
    w1 = words.select(F.col("widx").alias("wi1"), F.col("w").alias("w1"))
    w2 = words.select(F.col("widx").alias("wi2"), F.col("w").alias("w2"))
    probed = (
        b2.join(F.broadcast(w1), F.expr("p1 div 64") == F.col("wi1"), "left")
        .join(F.broadcast(w2), F.expr("p2 div 64") == F.col("wi2"), "left")
        .select(
            "doc_id",
            "m5",
            "h",
            "n_chars",
            F.when(
                F.expr(
                    "(shiftright(w1, cast(p1 % 64 as int)) & 1) = 1"
                    " AND (shiftright(w2, cast(p2 % 64 as int)) & 1) = 1"
                ),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("probed"),
        )
    )
    fresh = probed.filter(F.col("probed") == 0)
    maybe = probed.filter(F.col("probed") == 1).join(
        corpus.select("m5"), "m5", "left_anti"
    )
    return fresh.unionByName(maybe).select("doc_id", "h", "n_chars", "probed")
