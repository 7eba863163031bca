"""Random-hyperplane (sign) LSH over embedding columns — DETERMINISTIC,
hence fully oracle-checkable (unlike the probabilistic textbook form).
The sign-bit construction is Charikar's SimHash for cosine similarity
(STOC 2002, public paper); banding follows the standard MinHash-LSH
band/row trade-off.

Two registered queries:

- ``dedup_lsh_cosine`` — embedding-cosine NEAR-DUP pairs at 100 TB
  shape: sign bits from fixed integer hyperplanes, banded 4 ×
  bits_per_band where the width is CORPUS-SIZE-DERIVED
  (max(16, ceil(log2(n)) + 3), `derived_band_bits`); a band-value
  EQUI-JOIN proposes candidates (never all-pairs), and an exact-cosine
  verify pass keeps pairs with cos ≥ 0.95. The scale path for
  `dedup_embed` (functions/dedup.py), whose bounded O(n²) form is
  the ground truth the recall property test checks against.
- ``sim_ann_lsh`` — LSH-bucketed approximate nearest neighbors: the
  query vector's 4×8-bit band values select candidate buckets; exact
  cosine ranks only the candidates. Together with `sim_ann_ivf`
  (similarity.py) the engine carries BOTH standard ANN families; this
  one is exactly reproducible in SQL, so it gets a full value-hash
  oracle where IVF is rows-only.

Determinism recipe (what makes a hash-bucket algorithm oracle-exact):

1. Hyperplane components are INTEGERS from a fixed mixer
   ``v=(k*2654435761+1013904223) mod 2^64→32; v^=v>>16; v%65536-32768``
   — both engines evaluate the same closed form (DuckDB: xor//%,
   numpy: int64 ops), no RNG state anywhere.
2. Embeddings are quantized ``floor(x * 8192)`` BEFORE the sign dot:
   8192 is a power of two so the double product is exact, floor of an
   exact double is exact, and the dot is then pure int64 arithmetic —
   bit-equal in Spark, numpy, and DuckDB, so every sign bit (and thus
   every bucket) matches across engines. A float dot could flip a sign
   on summation-order differences; an integer dot cannot.
3. Near-dups are PLANTED from the table itself (vec_id % 50 == 0 →
   vec_id + 2^40, vector scaled ×1.1 — cosine 1.0 by scale
   invariance): the synthetic corpus has no natural near-dups (max
   pairwise cos ≈ 0.51), and both engines derive the same planted rows
   from the same input, keeping the check non-vacuous at any SF.

Scale: the signature pass is one narrow Arrow `pandas_udf` matmul per
batch (same kernel shape as `score_linear`); candidates come from an
equi-join on (band_id, band_val) — band width grows with log2(n) so
random collisions (~n²·E[p^bits] per band) stay LINEAR in n, and the
exact-cosine verify is proportional to candidates, not pairs (measured
slopes in SCALING.md). At 100 TB band_val is the natural bucket key
for the signature table. No reference parallel (the reference has no
dedup surface); mandated by the LLM-pipeline north star.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from piper_spark.functions.similarity import cosine
from piper_spark.registry import register
from piper_spark.session import table

#: Quantization scale for sign bits — a power of TWO so `x * QUANT` is
#: an exact double and floor() of it is engine-independent.
QUANT = 8192
#: Planted near-dup derivation: every PLANT_MOD-th vector reappears as
#: vec_id + PLANT_OFFSET scaled by ×1.1 (cosine exactly 1.0).
#: The offset sits at 2^40, far above any realistic vec_id, so planted
#: ids can never collide with real ones (a 1e6 offset would collide on
#: a ≥1M-row corpus — scripts/gen_scale_vecs.py takes arbitrary N).
PLANT_MOD, PLANT_OFFSET = 50, 1 << 40

#: Band GEOMETRY: the band COUNT is fixed (recall = P[any band agrees]
#: depends on the count), while the band WIDTH grows with corpus size —
#: random band collisions scale ~n²/2^bits, so production derives
#: bits_per_band via `derived_band_bits` from a cheap count. SCALING.md
#: measures the fixed-16-bit form super-linear at 500k vectors and the
#: widened form near-linear; the registered `dedup_lsh_cosine` applies
#: the rule automatically (at the driver's test SFs n ≤ 2000, so the
#: derived width stays 16 and the oracle rows are unchanged).
_DEDUP_BANDS, _DEDUP_MIN_BITS = 4, 16
_DEDUP_PLANES, _DEDUP_BITS = 64, 16  # the n ≤ 65536 geometry (defaults)
_ANN_PLANES, _ANN_BITS = 32, 8  # 4 bands × 8 bits


#: Width margin over log2(n): with bits = log2(n) the candidate count
#: is ~bands · n · C where C is the angle-spread inflation of random
#: collisions (measured ~17× over the uniform-hash estimate on the
#: 500k synthetic corpus — E[p^bits] ≫ 0.5^bits because pair angles
#: spread around 90°). Three extra bits absorb an 8× slice of C, keeping
#: the verify join's shuffled bytes per input row flat in practice.
_DERIVED_BITS_MARGIN = 3


def derived_band_bits(n_rows: int) -> int:
    """bits_per_band for an n-row corpus:
    min(63, max(16, ceil(log2(n)) + 3)).

    With bits growing as log2(n), expected random band collisions
    (~n²·E[p^bits] per band) grow LINEARLY in n — that is what keeps
    the candidate equi-join and its exact-cosine verify linear; the +3
    margin pays down the constant factor (see _DERIVED_BITS_MARGIN).
    The 63-bit upper clamp keeps every downstream weight (numpy
    ``1 << arange(bpb)``, DuckDB ``1::BIGINT << (pid % bpb)``) inside
    int64 for BOTH consumers — `dedup_lsh_cosine` and `img_phash`
    (which further clamps to 61 for its own window geometry) — so the
    bound lives here, shared, instead of per-operator.
    Matches the DuckDB-side derivation
    ``LEAST(63, GREATEST(16, CAST(ceil(log2(GREATEST(n, 2))) AS
    INTEGER) + 3))`` exactly (both clamp n to ≥ 2, so an empty corpus
    derives the 16-bit floor instead of log2(0)): log2
    is correctly rounded in both engines, and the only inputs where
    ceil(log2(n)) is boundary-sensitive are exact powers of two, where
    both are exact."""
    return min(
        63,
        max(
            _DEDUP_MIN_BITS,
            math.ceil(math.log2(max(int(n_rows), 2))) + _DERIVED_BITS_MARGIN,
        ),
    )


def banded_pairs(
    sigs: DataFrame,
    bands: Sequence[Column],
    *,
    id_col: str,
    keep: Sequence[str] = (),
    probes: Callable[[Column], list[Column]] | None = None,
    verify: Column | None = None,
) -> DataFrame:
    """Banded-LSH self-join: candidate (id1 < id2) pairs of rows of
    `sigs` that agree on at least one band. The ONE kernel behind every
    near-dup family (text minhash/simhash, embedding sign-LSH, image
    pHash, audio and video fingerprints); callers own only their band
    geometry and verify rule.

    - **Persist.** Both join sides read `sigs`, so an unpersisted
      `sigs` is persisted here (default level); otherwise each side
      re-runs the whole signature build (a Python pass, a min-
      aggregate). A caller that already persisted it — at another
      level, or eagerly filled (`session.eager_fill`) — is taken as is.
      The lifetime is the caller's: the result is lazy, so release
      with ``spark.catalog.clearCache()`` after the consuming action.
    - **Bands.** Each entry of `bands` is one band value per row; a
      ``posexplode`` turns them into (band_id, band_val) rows and the
      join is an equi-join on both. One band is a plain equi-join on
      band_val, no explode. The only shuffle is on the band key, and
      pair explosion is bounded by bucket sizes, never n².
    - **Probes.** ``probes(v)`` lists extra values for band value `v`
      (multi-probe, e.g. its Hamming-1 neighbours). They are emitted on
      the id1 side only, which covers every pair because the probe
      relation is symmetric. Both sides are then corpus-scaled, so the
      un-probed side carries a ``shuffle_hash`` hint: a size estimate
      through the explode can undershoot and pick a broadcast that does
      not fit at scale.
    - **Verify.** `verify` filters candidates on the `keep` columns,
      suffixed 1 and 2 (``keep=["sh"]`` gives ``sh1``, ``sh2``).
    - **Distinct.** With more than one band, or with probes, a pair can
      meet in several buckets, so the result is made distinct; with one
      band and no probes every pair meets once and no aggregate is run.

    Returns (id1, id2, <keep>1..., <keep>2...).
    """
    if sigs.storageLevel == StorageLevel.NONE:
        sigs = sigs.persist()
    keys = ["band_val"] if len(bands) == 1 else ["band_id", "band_val"]

    def side(sfx: str) -> DataFrame:
        cols = [F.col(id_col).alias(f"id{sfx}")]
        cols += [F.col(k).alias(f"{k}{sfx}") for k in keep]
        if len(bands) == 1:
            rel = sigs.select(*cols, bands[0].alias("band_val"))
        else:
            rel = sigs.select(
                *cols, F.posexplode(F.array(*bands)).alias("band_id", "band_val")
            )
        if probes is not None and sfx == "1":
            v = F.col("band_val")
            rel = rel.select(
                *[c for c in rel.columns if c != "band_val"],
                F.explode(F.array(v, *probes(v))).alias("band_val"),
            )
        return rel

    a, b = side("1"), side("2")
    if probes is not None:
        b = b.hint("shuffle_hash")
    pairs = a.join(b, keys).filter(F.col("id1") < F.col("id2"))
    if verify is not None:
        pairs = pairs.filter(verify)
    pairs = pairs.select(
        "id1", "id2", *[f"{k}{sfx}" for sfx in "12" for k in keep]
    )
    return pairs.distinct() if len(bands) > 1 or probes is not None else pairs


def capped_pairs(
    rel: DataFrame,
    key: str,
    *,
    id_col: str,
    max_df: int,
    keep: Sequence[str] = (),
    probe: DataFrame | None = None,
) -> DataFrame:
    """Df-capped posting-list self-join: (id1 < id2) pairs of rows of
    `rel` that share a `key` value held by at most `max_df` distinct
    ids. The ONE kernel behind the gram/fingerprint/shingle candidate
    stages (winnow, substring, containment, incremental near-dup,
    substring removal); contract in ARCHITECTURE.md ("Dedup").

    The cap is a ``dense_rank`` over (key, id) filtered to
    ``max_df + 1`` — planned as a map-side ``WindowGroupLimit``, so a
    stop-gram ships at most ``max_df + 1`` ids per map partition — then
    the rank's per-key max must be ``<= max_df``. Both join sides read
    that one shuffle (exchange reuse), so `rel` is read once without a
    persist. With `probe` (a relation with `rel`'s columns), the probe
    rows join the capped `rel` instead: id1 is the probe id, id2 the
    `rel` id, no ordering filter, df counted on `rel` only.

    Returns (id1, id2, <keep>1..., <keep>2...).
    """
    by_key = Window.partitionBy(key)
    capped = (
        rel.withColumn("_rank", F.dense_rank().over(by_key.orderBy(id_col)))
        .filter(F.col("_rank") <= max_df + 1)
        .withColumn("_df", F.max("_rank").over(by_key))
        .filter(F.col("_df") <= max_df)
    )

    def side(r: DataFrame, sfx: str) -> DataFrame:
        return r.select(
            key,
            F.col(id_col).alias(f"id{sfx}"),
            *[F.col(k).alias(f"{k}{sfx}") for k in keep],
        )

    if probe is None:
        # merge: both sides already sit hash-partitioned and sorted on
        # (key, id) after the windows, so a sort-merge join adds no
        # exchange or sort, where a size-estimated broadcast would
        # collect one corpus-scaled side to the driver.
        pairs = side(capped, "1").join(side(capped, "2").hint("merge"), key)
        pairs = pairs.filter(F.col("id1") < F.col("id2"))
    else:
        pairs = side(probe, "1").join(side(capped, "2"), key)
    return pairs.select(
        "id1", "id2", *[f"{k}{sfx}" for sfx in "12" for k in keep]
    )


def _planes(n_planes: int) -> np.ndarray:
    """(n_planes, 64) int64 hyperplane matrix from the fixed mixer."""
    vals = []
    for k in range(n_planes * 64):
        v = (k * 2654435761 + 1013904223) % 2**32
        v ^= v >> 16
        vals.append(v % 65536 - 32768)
    return np.array(vals, dtype=np.int64).reshape(n_planes, 64)


def _band_sig_udf(n_planes: int, bits_per_band: int):
    """Arrow pandas_udf: array<double> embedding → array<long> of
    (n_planes // bits_per_band) packed band values. One int64 matmul
    per batch — the vectorized-kernel shape columnar sign-LSH needs."""
    H = _planes(n_planes)
    n_bands = n_planes // bits_per_band
    weights = 1 << np.arange(bits_per_band, dtype=np.int64)

    @F.pandas_udf("array<long>")
    def sig(ed: pd.Series) -> pd.Series:
        x = np.stack(ed.to_numpy()).astype(np.float64)
        q = np.floor(x * QUANT).astype(np.int64)
        bits = (q @ H.T) >= 0  # (n, n_planes) — exact int dot signs
        vals = np.stack(
            [
                bits[:, b * bits_per_band : (b + 1) * bits_per_band].astype(np.int64)
                @ weights
                for b in range(n_bands)
            ],
            axis=1,
        )
        return pd.Series(list(vals))

    return sig


def planted_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ planted near-dup copies (deterministic derivation)."""
    base = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("ed")
    )
    planted = base.filter(F.col("vec_id") % PLANT_MOD == 0).select(
        (F.col("vec_id") + PLANT_OFFSET).alias("vec_id"),
        F.transform("ed", lambda x: x * 1.1).alias("ed"),
    )
    return base.unionByName(planted)


def band_signatures(un: DataFrame, n_planes: int, bits_per_band: int) -> DataFrame:
    """(vec_id, band_id, band_val) — the bucketed signature table."""
    sig = _band_sig_udf(n_planes, bits_per_band)
    return un.select(
        "vec_id", F.posexplode(sig(F.col("ed"))).alias("band_id", "band_val")
    )


#: Shared SQL: the hyperplane list (flat, plane-major: hv[pid*64 + i]
#: with 1-based element index i) and the quantized planted union.
_H_SQL = """
  SELECT list_transform(range(0, {n_coeffs}), k ->
           xor((k * 2654435761 + 1013904223) % 4294967296,
               ((k * 2654435761 + 1013904223) % 4294967296) // 65536)
           % 65536 - 32768) AS hv
"""

_UNION_SQL = """
base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings
),
un AS (
  SELECT vec_id, ed FROM base
  UNION ALL
  SELECT vec_id + 1099511627776 AS vec_id, list_transform(ed, x -> x * 1.1) AS ed
  FROM base WHERE vec_id % 50 = 0
),
q AS (
  SELECT vec_id, ed,
         list_transform(ed, x -> CAST(floor(x * 8192) AS BIGINT)) AS qd
  FROM un
),
bits AS (
  SELECT vec_id, p.pid,
         CASE WHEN list_sum(list_transform(qd,
                (x, i) -> x * hv[p.pid * 64 + i])) >= 0
              THEN 1 ELSE 0 END AS bit
  FROM q, h, (SELECT unnest(range(0, {n_planes})) AS pid) p
),
bands AS (
  SELECT vec_id, pid // {bits_per_band} AS band_id,
         sum(bit * (1 << (pid % {bits_per_band}))) AS band_val
  FROM bits GROUP BY 1, 2
)"""


def _union_sql(n_planes: int, bits_per_band: int) -> str:
    return _UNION_SQL.format(n_planes=n_planes, bits_per_band=bits_per_band)


_COS_SQL = """list_sum(list_transform({a}.ed, (x, i) -> x * {b}.ed[i]))
           / (sqrt(list_sum(list_transform({a}.ed, x -> x * x)))
              * sqrt(list_sum(list_transform({b}.ed, x -> x * x))))"""


#: Dynamic-width dedup oracle: bits_per_band is DERIVED IN SQL from the
#: corpus count (LEAST(63, GREATEST(16, ceil(log2(n)) + 3)) — the same
#: rule `derived_band_bits` applies on the Spark side), so one static
#: oracle string is exact at every SF. `nb` is a 1-row CTE cross-joined
#: where the width is needed; the hyperplane list and the plane range
#: scale with it (n_planes = 4 × bits_per_band — band count fixed at 4).
#: The CTE chain through `pairs` (candidates + exact cosine), shared by
#: the dedup oracle and pipeline_embed_curate's composed oracle.
_DEDUP_CTES = """
WITH nb AS (
  SELECT LEAST(63, GREATEST(16,
           CAST(ceil(log2(GREATEST(count(*), 2))) AS INTEGER) + 3)) AS bpb
  FROM embeddings
),
h AS (
  SELECT list_transform(range(0, bpb * 4 * 64), k ->
           xor((k * 2654435761 + 1013904223) % 4294967296,
               ((k * 2654435761 + 1013904223) % 4294967296) // 65536)
           % 65536 - 32768) AS hv
  FROM nb
),
base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings
),
un AS (
  SELECT vec_id, ed FROM base
  UNION ALL
  SELECT vec_id + 1099511627776 AS vec_id,
         list_transform(ed, x -> x * 1.1) AS ed
  FROM base WHERE vec_id % 50 = 0
),
q AS (
  SELECT vec_id, ed,
         list_transform(ed, x -> CAST(floor(x * 8192) AS BIGINT)) AS qd
  FROM un
),
p AS (SELECT unnest(range(0, (SELECT bpb * 4 FROM nb))) AS pid),
bits AS (
  SELECT vec_id, p.pid,
         CASE WHEN list_sum(list_transform(qd,
                (x, i) -> x * hv[p.pid * 64 + i])) >= 0
              THEN 1 ELSE 0 END AS bit
  FROM q, h, p
),
bands AS (
  SELECT vec_id, pid // bpb AS band_id,
         sum(bit * (CAST(1 AS BIGINT) << (pid % bpb))) AS band_val
  FROM bits, nb GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
  FROM bands a JOIN bands b USING (band_id, band_val)
  WHERE a.vec_id < b.vec_id
),
pairs AS (
  SELECT id1, id2, {cos} AS cos
  FROM cand
  JOIN q e1 ON cand.id1 = e1.vec_id
  JOIN q e2 ON cand.id2 = e2.vec_id
)"""

_DEDUP_ORACLE = (
    _DEDUP_CTES
    + """
SELECT id1, id2, round(cos, 4) AS cos_sim
FROM pairs WHERE cos >= 0.95
"""
)


@register("dedup_lsh_cosine", oracle=_DEDUP_ORACLE.format(cos=_COS_SQL.format(a="e1", b="e2")))
def dedup_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via sign-LSH bands + exact-cosine verify.

    The 100 TB shape for `dedup_embed`: candidates from a (band_id,
    band_val) equi-join over banded signatures — never an all-pairs
    comparison — then exact cosine only on candidates. Deterministic
    end-to-end (module docstring), so the oracle reproduces the exact
    candidate set, not just the final filter.

    Band width is corpus-size-DERIVED, not fixed: bits_per_band =
    min(63, max(16, ceil(log2(n)) + 3)) from the parquet footers' row
    counts (`session.row_count` — pure driver-side metadata, NO Spark
    job), with the band count held at 4 (n_planes = 4 × bits). Random
    band collisions scale ~n²/2^bits, so a fixed width goes super-linear
    once n²/2^bits dominates — SCALING.md measures exactly that for
    the 16-bit form at 500k vectors and near-linear cost for the
    widened form this rule selects. The oracle derives the identical
    width in SQL, so the check stays exact at every SF.
    """
    from piper_spark.session import row_count

    bpb = derived_band_bits(row_count(spark, sf_dir, "embeddings"))
    # persist: the union feeds the signature pass AND both verify-join
    # sides; lifetime is caller-owned (same discipline as dedup_embed).
    un = planted_union(spark, sf_dir).persist()
    return lsh_near_dup_pairs(un, _DEDUP_BANDS * bpb, bpb)


def lsh_near_dup_pairs(
    un: DataFrame,
    n_planes: int = _DEDUP_PLANES,
    bits_per_band: int = _DEDUP_BITS,
    threshold: float = 0.95,
) -> DataFrame:
    """Parameterized core of `dedup_lsh_cosine`: banded candidates +
    exact-cosine verify over any (vec_id, ed array<double>) frame."""
    from piper_spark.functions.similarity import dot, l2_norm

    sig = _band_sig_udf(n_planes, bits_per_band)
    sigs = un.select("vec_id", sig(F.col("ed")).alias("bv"))
    n_bands = n_planes // bits_per_band
    cand = banded_pairs(
        sigs, [F.col("bv")[i] for i in range(n_bands)], id_col="vec_id"
    )
    # Verify-pass norms are computed ONCE PER VECTOR here, not once per
    # candidate pair: with bits = log2(n) the candidate count grows ~n·C
    # (C = bands × collision inflation), so per-pair work is the scale
    # cost — the pair fold is the dot alone, a 3× cut of the HOF work.
    # Same expression, same doubles: cos = dot/(‖a‖·‖b‖) bit-identically.
    e1 = un.select(
        F.col("vec_id").alias("id1"),
        F.col("ed").alias("ed1"),
        l2_norm(F.col("ed")).alias("n1"),
    )
    e2 = un.select(
        F.col("vec_id").alias("id2"),
        F.col("ed").alias("ed2"),
        l2_norm(F.col("ed")).alias("n2"),
    )
    return (
        cand.join(e1, "id1")
        .join(e2, "id2")
        .withColumn(
            "cos", dot(F.col("ed1"), F.col("ed2")) / (F.col("n1") * F.col("n2"))
        )
        .filter(F.col("cos") >= threshold)
        .select("id1", "id2", F.round("cos", 4).alias("cos_sim"))
    )


@register(
    "sim_ann_lsh",
    oracle=f"""
WITH h AS ({_H_SQL.format(n_coeffs=_ANN_PLANES * 64)}),
{_union_sql(_ANN_PLANES, _ANN_BITS)},
qbands AS (SELECT band_id, band_val FROM bands WHERE vec_id = 0),
cand AS (
  SELECT DISTINCT b.vec_id FROM bands b
  JOIN qbands USING (band_id, band_val)
  WHERE b.vec_id <> 0
),
qv AS (SELECT ed AS qd FROM un WHERE vec_id = 0)
SELECT c.vec_id,
       round(list_sum(list_transform(e.ed, (x, i) -> x * qv.qd[i]))
             / (sqrt(list_sum(list_transform(e.ed, x -> x * x)))
                * sqrt(list_sum(list_transform(qv.qd, x -> x * x)))), 4) AS cos_sim
FROM cand c JOIN q e ON c.vec_id = e.vec_id, qv
ORDER BY cos_sim DESC, c.vec_id
LIMIT 10
""",
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-10 neighbors of the vec_id=0 vector.

    4×8-bit band values of the query select candidate buckets (an
    equi-join against the broadcast 4-row query-signature table — at
    scale this is a bucket-pruned read of the signature table); exact
    cosine ranks candidates only. The planted ×1.1 twin of vec_id 0
    (cos 1.0) lands in the same buckets with near-certainty, pinning
    recall deterministically (tests/test_properties.py).
    """
    un = planted_union(spark, sf_dir).persist()
    # persist: the query-signature filter AND the bucket probe both
    # read the signature relation — one Arrow signature pass, not two.
    bands = band_signatures(un, _ANN_PLANES, _ANN_BITS).persist()
    qb = bands.filter(F.col("vec_id") == 0).select(
        F.col("band_id").alias("qband_id"), F.col("band_val").alias("qband_val")
    )
    cand = (
        bands.join(
            F.broadcast(qb),
            (F.col("band_id") == F.col("qband_id"))
            & (F.col("band_val") == F.col("qband_val")),
        )
        .filter(F.col("vec_id") != 0)
        .select("vec_id")
        .distinct()
    )
    q = un.filter(F.col("vec_id") == 0).select(F.col("ed").alias("qd"))
    return (
        cand.join(un, "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id", F.round(cosine(F.col("ed"), F.col("qd")), 4).alias("cos_sim")
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )
