"""End-to-end training-data pipeline — the engine's equivalent of the
reference's whole purpose (Luigi DAG → prepare a training dataset,
luigi_tasks.py:328-347), re-expressed as one deterministic dataflow:

  documents
    → quality filter        (length + stopword-ratio gates)
    → exact dedup           (min-doc_id keeper per text)
    → near-dup removal      (MinHash-LSH candidates; drop the larger id)
    → deterministic split   (key-hash 80/20 train/val)
    → partitioned parquet   (split=…/lang=… layout)

Where the reference sequences stages with file-existence markers and a
polling worker (luigi_tasks.py:45-51, docker/luigi_worker.sh:2-14),
here the stages are one lazy plan by default: idempotence comes from
deterministic transforms + overwrite-mode writes, retries from Spark
task retry, and lineage replaces markers. Each stage is independently
usable.

`resume=True` re-expresses Luigi's marker targets (luigi_tasks.py:
49-51,150-152,243-246) for the 100 TB operational case: each stage
materializes to `<out>_stages/<name>` (a SIBLING of the final
sink — the sink's wholesale overwrite must never touch stage files) and
a completed stage —
detected by Spark's atomically-committed `_SUCCESS` marker — is read
back instead of recomputed, so a pipeline that dies at stage N resumes
at stage N, not stage 1. The marker check goes through the Hadoop
FileSystem API, so it holds on HDFS/S3A/ABFS, and `_SUCCESS` only
exists after the output committer finishes — partial stage output can
never read as complete.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from piper_spark.functions.dedup import lsh_candidate_pairs, minhash_signatures
from piper_spark.functions.graphs import connected_components
from piper_spark.registry import register
from piper_spark.session import eager_fill, fan_out, table
from piper_spark.sources.sinks import write_partitioned


def quality_filter(docs: DataFrame, min_words: int = 5,
                   max_stop_ratio: float = 0.5) -> DataFrame:
    """Drop too-short and stopword-dominated documents."""
    w = F.split("text", " ")
    n = F.size(w)
    stop = F.size(F.filter(w, lambda x: x.isin("the", "a")))
    return docs.filter(
        (n >= min_words) & (stop.cast("double") / n <= max_stop_ratio)
    )


def dedup_exact_docs(docs: DataFrame) -> DataFrame:
    """One row per distinct text — deterministic min-doc_id keeper."""
    keep = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    return docs.join(keep, ["text", "doc_id"], "inner")


def dedup_near_docs(docs: DataFrame) -> DataFrame:
    """Remove MinHash-LSH near-duplicates GROUP-wise: candidate pairs →
    connected components → keep the min doc_id per component.

    Pair-based dropping ("larger id of any pair loses") over-drops on
    chains (a-b, b-c keeps only a even though c never matched a); the
    component keeper retains exactly one doc per near-dup GROUP — the
    semantics corpus dedup wants. Candidate pairs stay the bounded
    band-join shape; components touch only pair members (singletons
    never enter the iteration).
    """
    pairs = lsh_candidate_pairs(minhash_signatures(docs))
    edges = pairs.select(F.col("id1").alias("u"), F.col("id2").alias("v")).unionAll(
        pairs.select(F.col("id2").alias("u"), F.col("id1").alias("v"))
    )
    members = edges.select(F.col("u").alias("id")).distinct()
    comp = connected_components(edges, members)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    return docs.join(losers, "doc_id", "left_anti")


def tag_split(
    docs: DataFrame, train_pct: int = 80, key: str = "doc_id"
) -> DataFrame:
    """Deterministic key-modulo split tag (reference loader.rs:21-45).
    ONE definition of the 80/20 rule — text pipelines tag doc_id,
    `pipeline_embed_curate` tags vec_id via the same expression."""
    split = F.when(F.col(key) % 100 < train_pct, F.lit("train")).otherwise(
        F.lit("val")
    )
    return docs.withColumn("split", split)


def stage_is_complete(spark: SparkSession, path: str) -> bool:
    """True iff `path` holds a COMMITTED stage output: Spark's output
    committer writes `_SUCCESS` only after every task has committed, so
    this is an atomic completion marker (the engine's form of Luigi's
    `Target.exists()`, luigi_tasks.py:49-51). Checked through the Hadoop
    FileSystem API so the same test works on local FS, HDFS, or object
    stores."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path + "/_SUCCESS")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def run_training_data_pipeline(
    spark: SparkSession, sf_dir: str, out_dir: str, resume: bool = False
) -> DataFrame:
    """Full pipeline; writes split=…/lang=… parquet, returns the final DF.

    Default: ONE lazy plan end-to-end (Catalyst sees everything; no
    intermediate materialization). `resume=True` trades that for
    stage-level resumability — the right call when a stage costs hours
    at full scale: `clean` and `near_dedup` each materialize to
    `<out>_stages/<name>` and are SKIPPED on re-run if their
    `_SUCCESS` marker exists, so a run that died mid-`near_dedup`
    recomputes nothing of `clean`. The final split+partitioned sink
    always re-runs (it is itself an idempotent overwrite)."""
    docs = table(spark, sf_dir, "documents")
    if not resume:
        cleaned = tag_split(dedup_near_docs(dedup_exact_docs(quality_filter(docs))))
        write_partitioned(cleaned, out_dir, ["split", "lang"])
        return cleaned

    # Sibling dir, NOT nested: the final sink overwrites out_dir wholesale,
    # which must never delete (or race with reading) completed stage files.
    def stage(name: str, compute) -> DataFrame:
        path = f"{out_dir}_stages/{name}"
        if stage_is_complete(spark, path):
            return spark.read.parquet(path)
        compute().write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    clean = stage("clean", lambda: dedup_exact_docs(quality_filter(docs)))
    deduped = stage("near_dedup", lambda: dedup_near_docs(clean))
    final = tag_split(deduped)
    write_partitioned(final, out_dir, ["split", "lang"])
    return final


@register(
    "dq_checks",
    oracle="""
SELECT count(*) AS n_rows,
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_custkey,
       CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS nonpos_price,
       CAST(sum(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P') THEN 1 ELSE 0 END)
            AS BIGINT) AS bad_status,
       CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01 00:00:00'
                       OR o_orderdate >= TIMESTAMP '2030-01-01 00:00:00'
                     THEN 1 ELSE 0 END) AS BIGINT) AS ts_out_of_range,
       count(DISTINCT o_orderkey) AS distinct_keys
FROM orders
""",
)
def dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate: one scan computing every ingest invariant at
    once (null FKs, domain violations, non-positive amounts, timestamp
    range, key uniqueness). The pipeline's admission control — at
    100 TB the cost is exactly one pass, and the conditional sums are
    all map-side partials.
    """
    o = table(spark, sf_dir, "orders")
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        flag(F.col("o_custkey").isNull()).alias("null_custkey"),
        flag(F.col("o_totalprice") <= 0).alias("nonpos_price"),
        flag(~F.col("o_orderstatus").isin("F", "O", "P")).alias("bad_status"),
        flag(
            (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
            | (F.col("o_orderdate") >= F.lit("2030-01-01").cast("timestamp"))
        ).alias("ts_out_of_range"),
        F.countDistinct("o_orderkey").alias("distinct_keys"),
    )


@register(
    "pipeline_stats",
    oracle="""
WITH q AS (
  SELECT doc_id, text, lang
  FROM documents
  WHERE len(string_split(text, ' ')) >= 5
    AND CAST(len(list_filter(string_split(text, ' '),
                             w -> w IN ('the', 'a'))) AS DOUBLE)
        / len(string_split(text, ' ')) <= 0.5
),
e AS (
  SELECT q.doc_id, q.lang FROM q
  JOIN (SELECT text, min(doc_id) AS doc_id FROM q GROUP BY text) k
    ON q.text = k.text AND q.doc_id = k.doc_id
)
SELECT CASE WHEN doc_id % 100 < 80 THEN 'train' ELSE 'val' END AS split,
       lang, count(*) AS cnt
FROM e
GROUP BY 1, 2
""",
)
def pipeline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(split, lang) counts after the deterministic pipeline spine
    (quality filter → exact dedup → split). The near-dup stage is
    excluded here because its engine hash isn't oracle-expressible —
    it's covered by dedup_minhash and the end-to-end pipeline test.
    """
    docs = table(spark, sf_dir, "documents")
    cleaned = tag_split(dedup_exact_docs(quality_filter(docs)))
    return cleaned.groupBy("split", "lang").agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "pipeline_curate",
    oracle="""
WITH w AS (
  SELECT doc_id, lang, source, text, string_split(text, ' ') AS ws
  FROM documents
),
g AS (
  SELECT doc_id, lang, source, text FROM w
  WHERE len(ws) >= 3
    AND list_sum(list_transform(ws, x -> CAST(length(x) AS BIGINT)))
        / CAST(len(ws) AS DOUBLE) BETWEEN 1 AND 12
    AND len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))
        / CAST(len(ws) AS DOUBLE) >= 0.8
    AND 1 - len(list_distinct(list_transform(ws[1:len(ws) - 1],
                  (x, i) -> concat(x, ' ', ws[i + 1]))))
          / CAST(greatest(len(ws) - 1, 1) AS DOUBLE) <= 0.3
),
sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(ws[i:i+4], ' ')
                        FOR i IN range(1, greatest(len(ws) - 3, 2))]) AS sh
  FROM w
),
eval_sh AS (SELECT DISTINCT unnest(sh) AS gr FROM sh WHERE doc_id % 97 = 0),
contaminated AS (
  SELECT DISTINCT s.doc_id
  FROM (SELECT doc_id, unnest(sh) AS gr FROM sh WHERE doc_id % 97 <> 0) s
  JOIN eval_sh e ON s.gr = e.gr
),
clean AS (
  SELECT * FROM g
  WHERE doc_id % 97 <> 0
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
),
ded AS (
  SELECT c.doc_id, c.lang, c.source FROM clean c
  JOIN (SELECT text, min(doc_id) AS doc_id FROM clean GROUP BY text) k
    ON c.text = k.text AND c.doc_id = k.doc_id
)
SELECT CASE WHEN doc_id % 100 < 80 THEN 'train' ELSE 'val' END AS split,
       lang, count(*) AS cnt,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
FROM ded GROUP BY 1, 2
""",
)
def pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL curation spine a pretraining corpus actually runs —
    `pipeline_stats`' bigger sibling composing this round's gates:

      documents
        → Gopher quality gate   (word count, mean word length,
                                 alpha coverage, duplicate bigrams)
        → decontamination       (drop eval docs AND train docs sharing
                                 any 5-gram with the eval set)
        → exact dedup           (min-doc_id keeper per text)
        → deterministic split   (doc_id % 100 80/20)
        → per-(split, lang) counts + source diversity

    One lazy plan: the gates are per-row codegen folds, decontam is the
    hashed-gram broadcast semi-join (eval side is benchmark-sized), and
    dedup is one text-keyed hash agg — each stage's scale argument is
    its standalone query's. Denominators carry greatest(·,1) guards so
    ANSI mode cannot raise if Catalyst merges and reorders the filter
    conjuncts onto degenerate rows.
    """
    from piper_spark.functions.dedup import shingles
    from piper_spark.functions.text import words_col

    # Round-robin the RAW rows across cores first: the testdata ships
    # as one parquet split, which would serialize every per-row gate
    # fold and the shingle hashing on a single task (the same lesson as
    # text_decontam / spread_for_decode — at real scale the input's own
    # splits provide this parallelism and fan_out adds no exchange).
    d = fan_out(table(spark, sf_dir, "documents"))
    w = words_col()
    n = F.size(w).cast("long")
    nbg = F.greatest(F.size(w) - 1, F.lit(1))
    bg = F.zip_with(
        F.slice(w, 1, F.size(w) - 1),
        F.slice(w, 2, F.size(w) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    tot = F.aggregate(
        F.transform(w, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    alpha_frac = F.size(F.filter(w, lambda x: x.rlike("[a-z]"))) / n.cast("double")
    avg_wl = tot / n.cast("double")
    dup_frac = F.lit(1.0) - F.size(F.array_distinct(bg)) / nbg.cast("double")
    g = d.filter(
        (n >= 3)
        & avg_wl.between(1.0, 12.0)
        & (alpha_frac >= 0.8)
        & (dup_frac <= 0.3)
    )

    # Shingle ONLY what decontam needs: every eval doc (the benchmark
    # side is unconditional) + the gate-PASSING train docs — gate-failed
    # docs are already gone, so hashing their grams would be pure waste.
    hs = F.transform(
        F.array_distinct(shingles("text", n=5)), lambda x: F.xxhash64(x)
    ).alias("hs")
    eval_grams = (
        d.filter(F.col("doc_id") % 97 == 0)
        .select(hs)
        .select(F.explode("hs").alias("h"))
        .distinct()
    )
    gated = g.filter(F.col("doc_id") % 97 != 0).persist()
    eager_fill(gated)  # read by the decontam probe + the anti-join (VERDICT 1)
    # Size-gated strategy (decontam_semi_join): broadcast only while
    # the footer-derived eval gram bound fits — this fixture's % 97
    # eval set grows WITH the corpus, so an unconditional broadcast
    # would be a ~1 TB driver-side build at 100 TB.
    from piper_spark.functions.text import decontam_semi_join
    from piper_spark.session import row_count

    contaminated = (
        decontam_semi_join(
            gated.select("doc_id", hs).select(
                "doc_id", F.explode("hs").alias("h")
            ),
            eval_grams,
            row_count(spark, sf_dir, "documents"),
            "left_semi",
        )
        .select("doc_id")
        .distinct()
    )
    clean = gated.join(contaminated, "doc_id", "left_anti").persist()
    eager_fill(clean)  # read by the keeper agg + the dedup semi-join
    keeper = clean.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    ded = clean.join(keeper, ["text", "doc_id"], "left_semi")
    split = F.when(F.col("doc_id") % 100 < 80, F.lit("train")).otherwise(
        F.lit("val")
    )
    return ded.groupBy(split.alias("split"), "lang").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.countDistinct("source").alias("n_sources"),
    )


@register(
    "dq_quarantine",
    oracle="""
WITH flagged AS (
  SELECT *,
         CASE WHEN o_custkey IS NULL
                OR o_totalprice <= 0
                OR o_totalprice > 480000
                OR o_orderstatus NOT IN ('F', 'O', 'P')
              THEN 'quarantine' ELSE 'admitted' END AS route
  FROM orders
)
SELECT route,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(o_orderkey) AS BIGINT) AS min_key,
       CAST(max(o_orderkey) AS BIGINT) AS max_key
FROM flagged GROUP BY 1
""",
)
def dq_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admission ROUTING — `dq_checks` counts violations; this one acts
    on them: rows failing any admission rule are written to a
    quarantine sink, the rest to the admitted sink, and the query
    reports per-route counts + key ranges (read back from the sinks, so
    the numbers prove the WRITES, not just the classification).

    One scan classifies; two filtered writes route (Spark's batch form
    of a dead-letter queue). At scale the route column makes this a
    single `partitionBy("route")` write — demonstrated here as two
    sinks because quarantine typically lives in a different location /
    retention policy than admitted data.
    """
    import os as _os

    from piper_spark.operators.scans import WAREHOUSE_DIR

    o = table(spark, sf_dir, "orders")
    # The suspicious-value bound (> 480k) is the rule that actually
    # fires on clean synthetic data, keeping the quarantine sink (and
    # its oracle row) non-vacuous at every SF.
    bad = (
        F.col("o_custkey").isNull()
        | (F.col("o_totalprice") <= 0)
        | (F.col("o_totalprice") > 480000)
        | ~F.col("o_orderstatus").isin("F", "O", "P")
    )
    flagged = o.withColumn(
        "route", F.when(bad, F.lit("quarantine")).otherwise(F.lit("admitted"))
    )
    base = f"{WAREHOUSE_DIR}/dq_{_os.path.basename(sf_dir.rstrip('/'))}"
    for route in ("admitted", "quarantine"):
        flagged.filter(F.col("route") == route).write.mode("overwrite").parquet(
            f"{base}/{route}"
        )
    # Read back with the writer's explicit schema: a route that matched
    # zero rows leaves a data-file-less sink, and schema inference would
    # fail on it — the explicit schema makes the empty read well-defined
    # instead of relying on the data distribution to populate both sinks.
    back = spark.read.schema(flagged.schema).parquet(f"{base}/admitted").unionByName(
        spark.read.schema(flagged.schema).parquet(f"{base}/quarantine")
    )
    return back.groupBy("route").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


#: Robust-outlier knobs: MAD consistency constant (σ estimate for
#: normal data) and the flag threshold in robust-σ units.
MAD_K, OUTLIER_SIGMA = 1.4826, 3.0


@register(
    "dq_outliers",
    oracle=f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_id, e.event_type, e.value, m.med,
         abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_id, d.event_type, d.value,
       round((d.value - d.med) / ({MAD_K!r} * m.mad), 4) AS robust_z
FROM dev d JOIN mad m USING (event_type)
WHERE d.adev > {OUTLIER_SIGMA!r} * {MAD_K!r} * m.mad
""",
)
def dq_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST outlier flags per event_type — |x − median| > 3 robust-σ,
    where robust-σ = 1.4826·MAD (median absolute deviation). The
    data-quality sibling of `dq_checks`/`dq_quarantine` that mean/stddev
    z-scores cannot replace: one fat-fingered 1e9 value drags the MEAN
    gate's own threshold, while median and MAD are 50%-breakdown
    estimators — the standard anomaly screen before a value column
    feeds training or billing.

    Shape: two grouped EXACT percentiles (same `percentile` ≡
    `quantile_cont` bit-parity as `agg_median`) with the tiny per-type
    stats broadcast back — the corpus is scanned, never shuffled on a
    data key. At 100 TB swap `percentile` for `approx_percentile`'s
    mergeable sketch (the `agg_median_approx` path — bounded state per
    group instead of a full value buffer); exact form registered so the
    oracle is value-exact. The filter and z expression are the same
    IEEE operation order both engines, so doubles match bit-for-bit."""
    ev = table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    # persist: the MAD aggregate AND the final flag pass both read the
    # deviation relation — one events scan+join, not two (caller owns
    # the cache lifetime).
    dev = (
        ev.join(F.broadcast(med), "event_type")
        .withColumn("adev", F.abs(F.col("value") - F.col("med")))
        .persist()
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    rz = (F.col("value") - F.col("med")) / (F.lit(MAD_K) * F.col("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("adev") > F.lit(OUTLIER_SIGMA) * F.lit(MAD_K) * F.col("mad"))
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(rz, 4).alias("robust_z"),
        )
    )


def _embed_curate_oracle() -> str:
    """Composed oracle: the LSH near-dup CTE chain -> drop the higher
    id of every verified pair -> modulo split -> int8 quantize audit.
    Built from the SAME SQL fragments the stage oracles use, so the
    pipeline check can only pass if each stage's semantics compose."""
    from piper_spark.functions.lsh import _COS_SQL, _DEDUP_CTES
    from piper_spark.functions.similarity import (
        _QUANT_AUDIT_SQL,
        _QUANT_FACTS_SQL,
    )

    return (
        _DEDUP_CTES.format(cos=_COS_SQL.format(a="e1", b="e2"))
        + """,
drops AS (SELECT DISTINCT id2 AS vec_id FROM pairs WHERE cos >= 0.95),
surv AS (
  SELECT vec_id, ed FROM un
  WHERE vec_id NOT IN (SELECT vec_id FROM drops)
),"""
        + _QUANT_AUDIT_SQL.format(src="surv")
        + """
SELECT vec_id,
       CASE WHEN vec_id % 100 < 80 THEN 'train' ELSE 'val' END AS split,
       mn, mx,"""
        + _QUANT_FACTS_SQL
        + """
FROM qq
"""
    )


@register("pipeline_embed_curate", oracle=_embed_curate_oracle())
def pipeline_embed_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EMBEDDING modality's curation spine — `pipeline_curate` for
    vectors, closing the pipeline × modality grid (text:
    pipeline_curate/near_dedup; vectors: this):

      embeddings (∪ derived near-dup twins, the lsh fixture)
        → near-dup removal   (dedup_lsh_cosine's banded candidates +
                              exact-cosine verify; drop the HIGHER
                              vec_id of every cos ≥ 0.95 pair — the
                              pipeline_near_dedup keep rule)
        → deterministic split (vec_id % 100 modulo form)
        → int8 quantization audit (the embed_quantize stage — what an
                              embedding store persists for ANN)

    One lazy plan end-to-end: the banded signature equi-join and the
    anti-join on the bounded drop set are the only key shuffles; the
    quantize stage is per-row codegen. Value-exact because every stage
    is (the oracle composes the stages' own SQL fragments), where a
    k-means-style semantic dedup would be rows-only — the exact twin
    discipline, applied to a whole pipeline."""
    from piper_spark.functions.lsh import (
        _DEDUP_BANDS,
        derived_band_bits,
        lsh_near_dup_pairs,
        planted_union,
    )
    from piper_spark.functions.similarity import quantize_audit_rel
    from piper_spark.session import row_count

    bpb = derived_band_bits(row_count(spark, sf_dir, "embeddings"))
    # persist: the union feeds the signature pass, both verify sides,
    # AND the survivor anti-join (caller owns the cache lifetime).
    un = planted_union(spark, sf_dir).persist()
    pairs = lsh_near_dup_pairs(un, _DEDUP_BANDS * bpb, bpb)
    drops = pairs.select(F.col("id2").alias("vec_id")).distinct()
    surv = un.join(drops, "vec_id", "left_anti")
    audit = tag_split(quantize_audit_rel(surv), key="vec_id")
    return audit.select(
        "vec_id", "split", "mn", "mx", "code_sum", "code_first", "code_last", "mae"
    )


@register(
    "dq_profile",
    oracle="""
SELECT 'text' AS col, count(*) - count(text) AS n_null,
       count(DISTINCT text) AS n_distinct,
       CAST(min(len(text)) AS BIGINT) AS min_len,
       CAST(max(len(text)) AS BIGINT) AS max_len
FROM documents
UNION ALL
SELECT 'lang', count(*) - count(lang), count(DISTINCT lang),
       CAST(min(len(lang)) AS BIGINT), CAST(max(len(lang)) AS BIGINT)
FROM documents
UNION ALL
SELECT 'source', count(*) - count(source), count(DISTINCT source),
       CAST(min(len(source)) AS BIGINT), CAST(max(len(source)) AS BIGINT)
FROM documents
UNION ALL
SELECT 'n_chars', count(*) - count(n_chars), count(DISTINCT n_chars),
       CAST(min(n_chars) AS BIGINT), CAST(max(n_chars) AS BIGINT)
FROM documents
""",
)
def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column PROFILE of the documents table — per column the null
    count, exact distinct cardinality, and min/max length (value range
    for numerics): the data-profiling pass every ingest pipeline runs
    before `dq_checks` can even be WRITTEN (you cannot pick domain
    gates without knowing the observed domains). One row per column.

    Shape: ONE corpus scan computing all sixteen measures in a single
    aggregate (the multi-distinct lowers to Spark's Expand — one pass
    over the data, k× the agg input rows, still map-side partials per
    distinct key), then a 4-struct inline explode pivots the 1-row wide
    result to the (col, measures) report grid — the unpivot costs
    nothing at any scale because it runs on ONE row. The oracle spells
    the same facts as four UNION ALL aggregates; for a 100 TB profile
    swap the exact distincts for `approx_count_distinct` (the
    `agg_approx_distinct` path) — exact form registered so the check
    stays value-exact."""
    d = table(spark, sf_dir, "documents")
    n = F.count(F.lit(1))
    wide = d.agg(
        (n - F.count("text")).alias("text_null"),
        F.countDistinct("text").alias("text_dist"),
        F.min(F.length("text").cast("long")).alias("text_min"),
        F.max(F.length("text").cast("long")).alias("text_max"),
        (n - F.count("lang")).alias("lang_null"),
        F.countDistinct("lang").alias("lang_dist"),
        F.min(F.length("lang").cast("long")).alias("lang_min"),
        F.max(F.length("lang").cast("long")).alias("lang_max"),
        (n - F.count("source")).alias("source_null"),
        F.countDistinct("source").alias("source_dist"),
        F.min(F.length("source").cast("long")).alias("source_min"),
        F.max(F.length("source").cast("long")).alias("source_max"),
        (n - F.count("n_chars")).alias("n_chars_null"),
        F.countDistinct("n_chars").alias("n_chars_dist"),
        F.min("n_chars").alias("n_chars_min"),
        F.max("n_chars").alias("n_chars_max"),
    )
    row = lambda c: F.struct(  # noqa: E731
        F.lit(c).alias("col"),
        F.col(f"{c}_null").alias("n_null"),
        F.col(f"{c}_dist").alias("n_distinct"),
        F.col(f"{c}_min").alias("min_len"),
        F.col(f"{c}_max").alias("max_len"),
    )
    return wide.select(
        F.explode(
            F.array(row("text"), row("lang"), row("source"), row("n_chars"))
        ).alias("p")
    ).select("p.col", "p.n_null", "p.n_distinct", "p.min_len", "p.max_len")


def _audio_curate_oracle() -> str:
    """Composed oracle: fingerprint CTE → near-dup pairs → drop the
    higher id → modulo split — built from the SAME SQL fragments the
    audio stage oracles use (the `pipeline_embed_curate` discipline)."""
    from piper_spark.sources.multimodal import _AUDIO_FP_SQL, _AUDIO_PAIRS_SQL

    return (
        f"WITH d AS ({_AUDIO_FP_SQL}){_AUDIO_PAIRS_SQL}"
        + """,
drops AS (SELECT DISTINCT id2 AS doc_id FROM apairs),
surv AS (
  SELECT doc_id, n_bits, fp FROM f
  WHERE doc_id NOT IN (SELECT doc_id FROM drops)
)
SELECT doc_id,
       CASE WHEN doc_id % 100 < 80 THEN 'train' ELSE 'val' END AS split,
       n_bits, fp
FROM surv
"""
    )


@register("pipeline_audio_curate", oracle=_audio_curate_oracle())
def pipeline_audio_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AUDIO modality's curation spine — `pipeline_curate` for PCM
    clips, extending the pipeline × modality grid (text:
    pipeline_curate/near_dedup; vectors: pipeline_embed_curate;
    audio: this):

      audio clips → fingerprintability gate (frame count above the
                     band width, applied INSIDE the fingerprint
                     relation on the cheap byte-length-derived count —
                     the computed-column pushdown trap)
                  → acoustic fingerprint (`audio_fingerprint`'s exact
                     integer delta-energy bits)
                  → near-dup removal (`dedup_audio`'s banded pairs;
                     drop the HIGHER doc_id — the pipeline_near_dedup
                     keep rule)
                  → deterministic modulo split.

    One lazy plan: the band self-join and the bounded drop anti-join
    are the only key shuffles; the fingerprint fold is per-row
    codegen.  VALUE-EXACT as a whole because every stage is — the
    oracle composes the stages' own SQL fragments
    (`_AUDIO_FP_SQL` + `_AUDIO_PAIRS_SQL`), so this key can only pass
    if the stage semantics compose.
    """
    from piper_spark.sources.multimodal import (
        AUDIO_FP_BAND_BITS,
        _audio_fp_rel,
        audio_near_dup_pairs,
    )

    # persist: the survivor anti-join reads the fingerprint relation
    # too, not only the pair join (caller owns the lifetime).
    f = _audio_fp_rel(spark, sf_dir, min_frames=AUDIO_FP_BAND_BITS + 2).persist()
    pairs = audio_near_dup_pairs(f)
    drops = pairs.select(F.col("id2").alias("doc_id")).distinct()
    surv = f.join(drops, "doc_id", "left_anti")
    return tag_split(surv).select("doc_id", "split", "n_bits", "fp")


def _video_curate_oracle() -> str:
    """Composed oracle: video signature CTEs → near-dup pairs → drop
    the higher id → modulo split (the audio-pipeline discipline)."""
    from piper_spark.sources.multimodal import _VIDEO_PAIRS_SQL, _VIDEO_SIG_CTES

    return (
        f"WITH {_VIDEO_SIG_CTES}{_VIDEO_PAIRS_SQL}"
        + """,
drops AS (SELECT DISTINCT id2 AS doc_id FROM vpairs),
surv AS (
  SELECT doc_id, ns, band FROM bb
  WHERE doc_id NOT IN (SELECT doc_id FROM drops)
)
SELECT doc_id,
       CASE WHEN doc_id % 100 < 80 THEN 'train' ELSE 'val' END AS split,
       CAST(ns AS BIGINT) AS n_sampled_frames,
       band
FROM surv
"""
    )


@register("pipeline_video_curate", oracle=_video_curate_oracle())
def pipeline_video_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VIDEO modality's curation spine — the fourth column of the
    pipeline × modality grid (text: pipeline_curate/near_dedup;
    vectors: pipeline_embed_curate; audio: pipeline_audio_curate;
    video: this):

      clips → length gate (≥ 2k+1 raw frames from the cheap byte
               length, inside the producing relation)
            → per-sampled-frame average-hash signatures
               (`video_fingerprint`'s exact integer arithmetic)
            → near-dup removal (`dedup_video`'s derived-width banded
               pairs; drop the HIGHER doc_id)
            → deterministic modulo split.

    VALUE-EXACT end-to-end (the oracle composes the video stage CTEs),
    because every video stage is integer arithmetic — where the image
    pipeline (`pipeline_image_curate`) is rows-only through its DCT
    floats.  Same lazy single plan as the audio spine: the band
    self-join and the bounded drop anti-join are the only key
    shuffles.

    Round-9 scale fix — EXACT-SIGNATURE COLLAPSE before the band
    join: the 100× corpus plants large exact-duplicate clip groups,
    and feeding them to the pair join costs |group|² band candidates
    (measured 28.8M candidates, max bucket 2,333 docs, 10.3 s at 500k
    docs — the 6.7× SCALING step).  Collapsing each (sig, ns) group
    to its min-doc_id
    representative first is LOSSLESS for the drop set: every non-rep
    member is a hamming-0 pair with its rep (drops, as before), and a
    rep r₂ drops iff ANY lower doc x verifies against it — in which
    case x's own rep r_x ≤ x < r₂ has x's exact signature, so the
    rep-level pair (r_x, r₂) verifies identically (same hamming, same
    Δns).  The oracle is UNCHANGED — same drop set by the argument
    above — and the heavy groups now cost one map-side-combined
    groupBy row instead of a quadratic bucket (measured 28.8M → 11.8M
    candidates and 10.3 s → 5.4 s at 100×, the 6.7× step down to
    2.9×; exact dedup BEFORE near-dup, the hash-first production
    order).
    """
    from piper_spark.session import row_count
    from piper_spark.sources.multimodal import (
        _video_fh_rel,
        spread_for_decode,
        video_band_col,
        video_band_frames,
        video_near_dup_pairs,
    )

    k = video_band_frames(row_count(spark, sf_dir, "documents"))
    d = spread_for_decode(
        table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    f = _video_fh_rel(d, min_nf=2 * k + 1)
    # persist: the survivor anti-join reads the rep relation too, not
    # only the pair join.
    reps = (
        f.groupBy("sig", "ns")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "ns", "sig")
        .persist()
    )
    pairs = video_near_dup_pairs(reps, k)
    drops = pairs.select(F.col("id2").alias("doc_id")).distinct()
    band = video_band_col(k)
    surv = reps.join(drops, "doc_id", "left_anti").select(
        "doc_id", F.col("ns").alias("n_sampled_frames"), band.alias("band")
    )
    return tag_split(surv).select(
        "doc_id", "split", "n_sampled_frames", "band"
    )


@register("pipeline_image_curate")
def pipeline_image_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IMAGE modality's curation spine — the fifth and final
    column of the pipeline × modality grid, ⚠ ROWS-ONLY by nature: its
    near-dup stage is `img_phash` (DCT floats are not reproducible in
    SQL — the same boundary that makes img_phash itself rows-only).
    The exact-twin discipline applies at the PIPELINE level too: the
    value-exact `pipeline_video_curate` runs the identical
    gate → fingerprint → drop-higher-id → split spine with an
    integer-arithmetic fingerprint, so the composition logic is
    oracle-checked there, while THIS key's correctness is carried by
    property tests (planted perceptually-perturbed copies must be
    dropped; survivors keep their split tags — tests/test_pipeline.py).

      images → decodable gate (non-empty payload, the `with_payload`
               projection `img_phash` itself scans)
             → 64-bit DCT pHash (Arrow mapInPandas)
             → near-dup removal (img_phash's multi-probe banded pairs;
               drop the HIGHER doc_id — planted copies sit at
               PHASH_PLANT_OFFSET above their source, so every planted
               id drops)
             → deterministic modulo split.
    """
    from piper_spark.sources.multimodal import img_phash, with_payload

    universe = with_payload(table(spark, sf_dir, "documents")).select("doc_id")
    pairs = img_phash(spark, sf_dir)
    drops = pairs.select(F.col("id2").alias("doc_id")).distinct()
    surv = universe.join(drops, "doc_id", "left_anti")
    return tag_split(surv).select("doc_id", "split")


@register(
    "dq_referential",
    oracle="""
WITH dim AS (
  SELECT c_custkey FROM customer
  WHERE c_custkey < (SELECT 9 * count(*) // 10 FROM customer)
),
o AS (
  SELECT 'orders->customer' AS relationship,
         CAST(count(*) AS BIGINT) AS n_child,
         CAST(sum(CASE WHEN d.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_orphans
  FROM orders LEFT JOIN dim d ON orders.o_custkey = d.c_custkey
),
l AS (
  SELECT 'lineitem->orders' AS relationship,
         CAST(count(*) AS BIGINT) AS n_child,
         CAST(sum(CASE WHEN ok.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_orphans
  FROM lineitem LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) ok
    ON lineitem.l_orderkey = ok.o_orderkey
)
SELECT relationship, n_child, n_orphans,
       n_orphans * 1000000 // n_child AS orphan_ppm
FROM o
UNION ALL
SELECT relationship, n_child, n_orphans, n_orphans * 1000000 // n_child
FROM l
""",
)
def dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REFERENTIAL-INTEGRITY audit — the dq family's cross-table
    member (dq_checks gates rows, dq_profile profiles columns,
    dq_outliers screens values; this audits FOREIGN KEYS): orphan
    counts per child→parent relationship.  The fixture's keys are
    fully consistent, so the customer side is audited against a
    TRUNCATED dimension snapshot (lowest 90 % of keys — the
    late-arriving-dimension scenario CDC pipelines hit), yielding a
    real orphan rate, while lineitem→orders audits the intact
    relationship and must report zero.

    Scale: two left joins that AQE plans by runtime size (dimension
    snapshot broadcastable here, shuffled at 100 TB — no pinned hint,
    the fact-join rule), each collapsing to a 1-row count — map-side
    partial aggregation means the exchange carries counters, not rows.
    """
    from piper_spark.session import row_count

    c = table(spark, sf_dir, "customer")
    # snapshot bound from the parquet footer — no Spark job.
    n_dim = row_count(spark, sf_dir, "customer")
    dim = c.filter(F.col("c_custkey") < 9 * n_dim // 10).select("c_custkey")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    o_audit = (
        o.join(dim, o["o_custkey"] == dim["c_custkey"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_child"),
            F.sum(
                F.when(F.col("c_custkey").isNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_orphans"),
        )
        .select(
            F.lit("orders->customer").alias("relationship"),
            "n_child",
            "n_orphans",
        )
    )
    ok = o.select("o_orderkey").distinct()
    l_audit = (
        li.join(ok, li["l_orderkey"] == ok["o_orderkey"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphans"),
        )
        .select(
            F.lit("lineitem->orders").alias("relationship"),
            "n_child",
            "n_orphans",
        )
    )
    return o_audit.unionAll(l_audit).select(
        "relationship",
        "n_child",
        "n_orphans",
        F.expr("n_orphans * 1000000 div n_child").alias("orphan_ppm"),
    )


#: Drift-audit geometry: fixed-width length bins (64 chars, capped at
#: bin 9) over a deterministic snapshot split (even doc_ids = the
#: reference snapshot, odd = the current one).
DRIFT_BIN_WIDTH, DRIFT_MAX_BIN = 64, 9


def drift_counts(docs: DataFrame) -> DataFrame:
    """(bin, ref_n, cur_n) conditional counts over a (doc_id, n_chars)
    relation — ONE definition shared by the batch `dq_drift` (which
    adds the ppm finish) and the streaming twin
    `streaming.events.stream_drift`: the key space is FIXED at
    ≤ DRIFT_MAX_BIN+1 bins, so streaming state is histogram-sized
    forever and counts merge by addition across micro-batches exactly
    as they do across shards."""
    b = docs.select(
        F.least(
            F.lit(DRIFT_MAX_BIN), F.expr(f"n_chars div {DRIFT_BIN_WIDTH}")
        ).alias("bin"),
        F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0).alias("is_ref"),
    )
    return b.groupBy("bin").agg(
        F.sum("is_ref").cast("long").alias("ref_n"),
        F.sum(1 - F.col("is_ref")).cast("long").alias("cur_n"),
    )


@register(
    "dq_drift",
    oracle=f"""
WITH b AS (
  SELECT least({DRIFT_MAX_BIN}, n_chars // {DRIFT_BIN_WIDTH}) AS bin,
         CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS is_ref
  FROM documents
),
cnt AS (
  SELECT bin,
         CAST(sum(is_ref) AS BIGINT) AS ref_n,
         CAST(sum(1 - is_ref) AS BIGINT) AS cur_n
  FROM b GROUP BY bin
),
tot AS (SELECT sum(ref_n) AS rt, sum(cur_n) AS ct FROM cnt)
SELECT bin, ref_n, cur_n,
       CAST(ref_n * 1000000 // rt AS BIGINT) AS ref_ppm,
       CAST(cur_n * 1000000 // ct AS BIGINT) AS cur_ppm,
       CAST(abs(ref_n * 1000000 // rt - cur_n * 1000000 // ct) AS BIGINT)
         AS delta_ppm
FROM cnt, tot
""",
)
def dq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTION-DRIFT audit — the monitoring statistic a recurring
    ingest compares snapshots with before admitting a new crawl batch
    (the PSI/KS family; `dq_profile` describes ONE snapshot, this
    DIFFS two): document-length histogram of the reference snapshot
    (even doc_ids) vs the current one (odd doc_ids), per-bin shares in
    exact integer ppm and their absolute delta.  Σ delta_ppm / 2 is
    total-variation drift in ppm — the alert threshold a pipeline
    gates on.

    Kept FULLY integer (counts, floor-div ppm shares, |Δ|) instead of
    the textbook PSI's Σ(p−q)·ln(p/q): libm `ln` differs across
    engines in the last ulp (the text_tfidf ratio lesson), while the
    TV form is the same monotone drift signal with a bit-exact
    cross-engine hash.  Scale: one scan → bin-keyed conditional
    partial-agg counts (≤ {DRIFT_MAX_BIN + 1} groups) + a broadcast
    1-row total — nothing driver-side, free at any corpus size.
    """
    from pyspark.sql import Window

    cnt = drift_counts(table(spark, sf_dir, "documents"))
    # Totals via an unpartitioned window over the BOUNDED count
    # relation (≤ DRIFT_MAX_BIN+1 rows — the sample_unimax documented-
    # bounded pattern): a totals AGGREGATE branch would re-scan the
    # corpus a second time (measured in the plan: two FileScans), while
    # the window reuses the single aggregated histogram.
    w = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        cnt.withColumn("rt", F.sum("ref_n").over(w))
        .withColumn("ct", F.sum("cur_n").over(w))
        .select(
            "bin",
            "ref_n",
            "cur_n",
            F.expr("ref_n * 1000000 div rt").cast("long").alias("ref_ppm"),
            F.expr("cur_n * 1000000 div ct").cast("long").alias("cur_ppm"),
            F.expr(
                "abs(ref_n * 1000000 div rt - cur_n * 1000000 div ct)"
            )
            .cast("long")
            .alias("delta_ppm"),
        )
    )
