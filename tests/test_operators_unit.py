"""Per-operator unit tests on tiny inline DataFrames — edge cases the
synthetic tables don't exercise (SURVEY.md §5 strategy #2).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from piper_spark.functions.dedup import (
    exact_dedup,
    hash_split,
    minhash_signature,
    minhash_signatures,
    shingles,
    simhash32,
    simhash_signatures,
)
from piper_spark.functions.numeric import dsum
from piper_spark.functions.similarity import assign_cells, cosine, dot, sq_dist


def test_exact_dedup_keeps_min_key(spark):
    df = spark.createDataFrame(
        [(3, "x"), (1, "x"), (2, "y"), (5, "x")], "id long, k string"
    )
    out = exact_dedup(df, ["k"], "id").collect()
    kept = {r.k: r.id for r in out}
    assert kept == {"x": 1, "y": 2}


def test_exact_dedup_idempotent(spark):
    df = spark.createDataFrame([(1, "x"), (2, "x"), (3, "y")], "id long, k string")
    once = exact_dedup(df, ["k"], "id")
    twice = exact_dedup(once, ["k"], "id")
    assert sorted(r.id for r in twice.collect()) == sorted(
        r.id for r in once.collect()
    )


def test_exact_dedup_empty_input(spark):
    df = spark.createDataFrame([], "id long, k string")
    assert exact_dedup(df, ["k"], "id").count() == 0


def test_hash_split_deterministic_and_complementary(spark):
    df = spark.createDataFrame([(i,) for i in range(500)], "id long")
    tagged = df.withColumn("split", hash_split(df, "id"))
    counts = dict(tagged.groupBy("split").count().collect())
    assert counts.get("train", 0) + counts.get("val", 0) == 500
    # deterministic across runs
    again = dict(
        df.withColumn("split", hash_split(df, "id")).groupBy("split").count().collect()
    )
    assert counts == again
    # roughly 80/20
    assert 0.7 < counts["train"] / 500 < 0.9


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([("a b",), ("a",)], "text string")
    rows = df.select(shingles("text").alias("s")).collect()
    assert rows[0].s == ["a b"]  # doc shorter than shingle size → one shingle
    assert rows[1].s == ["a"]


def test_minhash_identical_docs_collide(spark):
    df = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5"), (2, "w1 w2 w3 w4 w5"), (3, "x1 x2 x3 x4 x5")],
        "doc_id long, text string",
    )
    sig = df.select("doc_id", *minhash_signature("text")).collect()
    by_id = {r.doc_id: [r[f"mh{i}"] for i in range(8)] for r in sig}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[3]


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g x"), (3, "p q r s t u v w")],
        "doc_id long, text string",
    )
    rows = df.select("doc_id", simhash32("text").alias("sh")).collect()
    sh = {r.doc_id: r.sh for r in rows}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(sh[1], sh[2]) < ham(sh[1], sh[3])
    assert 0 <= sh[1] < 2**32


def test_signature_paths_agree(spark):
    """The interpreted array-lambda forms and the explode+agg scale
    forms must produce identical signatures."""
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs"),
         (3, "a b")],
        "doc_id long, text string",
    )
    slow_sh = {r.doc_id: r.sh for r in df.select("doc_id", simhash32("text").alias("sh")).collect()}
    fast_sh = {r.doc_id: r.sh for r in simhash_signatures(df, bits=32).collect()}
    assert slow_sh == fast_sh
    slow_mh = {r.doc_id: [r[f"mh{i}"] for i in range(8)]
               for r in df.select("doc_id", *minhash_signature("text")).collect()}
    fast_mh = {r.doc_id: [r[f"mh{i}"] for i in range(8)]
               for r in minhash_signatures(df).collect()}
    # Doc 3 ("a b") has no full 3-word shingle → no signature: the slow
    # array form yields NULL minhashes, the explode+agg form yields no
    # row. Same meaning, different encodings — pin both.
    assert slow_mh.pop(3) == [None] * 8
    assert 3 not in fast_mh
    assert slow_mh == fast_mh


def test_vector_ops(spark):
    df = spark.createDataFrame(
        [([3.0, 4.0], [3.0, 4.0]), ([1.0, 0.0], [0.0, 1.0])],
        "a array<double>, b array<double>",
    )
    rows = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        cosine(F.col("a"), F.col("b")).alias("c"),
        sq_dist(F.col("a"), F.col("b")).alias("s"),
    ).collect()
    assert rows[0].d == 25.0 and abs(rows[0].c - 1.0) < 1e-12 and rows[0].s == 0.0
    assert rows[1].d == 0.0 and rows[1].c == 0.0 and rows[1].s == 2.0


def test_assign_cells_tie_break(spark):
    vectors = spark.createDataFrame(
        [(10, [0.0, 0.0])], "vec_id long, ed array<double>"
    )
    # two centroids equidistant → lowest cid wins
    cents = spark.createDataFrame(
        [(2, [1.0, 0.0]), (1, [-1.0, 0.0])], "cid long, cd array<double>"
    )
    out = assign_cells(vectors, cents).collect()
    assert out[0].cid == 1


def test_dsum_exact_across_partition_counts(spark):
    data = [(float(f"{i % 97}.{i % 100:02d}"),) for i in range(1, 2000)]
    df1 = spark.createDataFrame(data, "v double").repartition(1)
    df32 = spark.createDataFrame(data, "v double").repartition(32)
    s1 = df1.agg(dsum(F.col("v")).alias("s")).collect()[0].s
    s32 = df32.agg(dsum(F.col("v")).alias("s")).collect()[0].s
    assert s1 == s32  # bit-identical regardless of partitioning


def test_approx_distinct_close(spark):
    from piper_spark.operators.aggregates import agg_approx_distinct, agg_distinct
    from tests.conftest import SF_SMOKE

    approx = {r.event_type: r.approx_users for r in agg_approx_distinct(spark, SF_SMOKE).collect()}
    exact = {r.event_type: r.uniq_users for r in agg_distinct(spark, SF_SMOKE).collect()}
    for k, ex in exact.items():
        assert abs(approx[k] - ex) <= max(2, 0.05 * ex), (k, approx[k], ex)


def test_train_codebook_kmeans_reduces_inertia(spark):
    from piper_spark.functions.similarity import (
        assign_cells,
        sq_dist,
        train_codebook,
    )

    # Two well-separated clusters; init takes the two lowest-id vectors
    # (one from each cluster) and Lloyd iterations must tighten them.
    pts = [(0, [0.0, 0.1]), (1, [10.0, 10.2]), (2, [0.2, 0.0]),
           (3, [9.9, 10.0]), (4, [0.1, 0.2]), (5, [10.1, 9.9])]
    v = spark.createDataFrame(pts, "vec_id long, ed array<double>")

    def inertia(cents):
        a = assign_cells(v, cents)
        joined = a.join(cents, "cid").select(
            sq_dist(F.col("ed"), F.col("cd")).alias("d2")
        )
        return joined.agg(F.sum("d2")).collect()[0][0]

    init = v.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("cid"), F.col("ed").alias("cd")
    )
    trained = train_codebook(v, k=2, iters=2)
    assert trained.count() == 2
    assert inertia(trained) <= inertia(init) + 1e-9
    # converged centroids = cluster means
    cds = sorted([r.cd for r in trained.collect()])
    assert cds[0] == [pytest.approx(0.1), pytest.approx(0.1)]
    assert cds[1] == [pytest.approx(10.0), pytest.approx(10.0333333333)]


def test_approx_median_close_to_exact(spark):
    """The sketch path must land within a small rank-error band of the
    exact quartiles: each approx value between the exact p±0.01 quantiles."""
    from piper_spark.operators.aggregates import agg_median_approx
    from piper_spark.session import table
    from tests.conftest import SF_SMOKE

    approx = {
        r.l_returnflag: (r.q1, r.med, r.q3)
        for r in agg_median_approx(spark, SF_SMOKE).collect()
    }
    band = {
        r.l_returnflag: r.b
        for r in table(spark, SF_SMOKE, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(l_extendedprice, "
                "array(0.24, 0.26, 0.49, 0.51, 0.74, 0.76))"
            ).alias("b")
        )
        .collect()
    }
    for flag, (q1, med, q3) in approx.items():
        lo = band[flag]
        assert lo[0] <= q1 <= lo[1], (flag, "q1", q1, lo[0], lo[1])
        assert lo[2] <= med <= lo[3], (flag, "med", med, lo[2], lo[3])
        assert lo[4] <= q3 <= lo[5], (flag, "q3", q3, lo[4], lo[5])


def test_connected_components_chain_and_singleton(spark):
    from piper_spark.functions.dedup import connected_components

    # chain 1-2-3 (diameter 2, needs >1 iteration), pair 10-11, singleton 99
    und = [(1, 2), (2, 3), (10, 11)]
    edges = spark.createDataFrame(
        und + [(v, u) for u, v in und], "u long, v long"
    )
    vertices = spark.createDataFrame(
        [(1,), (2,), (3,), (10,), (11,), (99,)], "id long"
    )
    got = {
        r.id: r.component
        for r in connected_components(edges, vertices).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_agg_stats_matches_builtin_stddev_corr(spark):
    """The exact-moment formulas must agree with Spark's native
    stddev_samp/corr to float tolerance (the natives are order-unstable
    across engines, which is why the query uses moments — but on one
    engine they're the ground truth)."""
    from piper_spark.operators.aggregates import agg_stats
    from piper_spark.session import table
    from tests.conftest import SF_SMOKE

    got = {
        r.l_returnflag: (r.std_qty, r.std_price, r.corr_qty_price)
        for r in agg_stats(spark, SF_SMOKE).collect()
    }
    ref = {
        r.l_returnflag: (r.s1, r.s2, r.c)
        for r in table(spark, SF_SMOKE, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.stddev_samp("l_quantity").alias("s1"),
            F.stddev_samp("l_extendedprice").alias("s2"),
            F.corr("l_quantity", "l_extendedprice").alias("c"),
        )
        .collect()
    }
    for flag, (s1, s2, c) in ref.items():
        assert got[flag][0] == pytest.approx(s1, rel=1e-9)
        assert got[flag][1] == pytest.approx(s2, rel=1e-9)
        assert got[flag][2] == pytest.approx(c, rel=1e-6)


def test_win_rank_tie_break(spark):
    from piper_spark.operators import windows  # noqa: F401  (registry)
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(1, 100, 50.0), (1, 99, 50.0), (1, 98, 60.0)],
        "cust long, okey long, price double",
    )
    w = Window.partitionBy("cust").orderBy(F.col("price").desc(), F.col("okey"))
    rows = df.withColumn("rn", F.row_number().over(w)).orderBy("rn").collect()
    assert [r.okey for r in rows] == [98, 99, 100]  # ties broken by key


def test_audio_batches_decode_signed_pcm():
    """The oracle only exercises ASCII payloads (all-positive samples);
    the decoder itself must handle real two's-complement PCM, negative
    samples included, matching a numpy reference exactly."""
    import numpy as np
    import pandas as pd

    from piper_spark.sources.multimodal import AUDIO_FRAME_SAMPLES, _audio_batches

    rng = np.random.default_rng(7)
    samples = rng.integers(-32768, 32768, AUDIO_FRAME_SAMPLES * 3 + 11, dtype=np.int16)
    payload = samples.tobytes()
    (out,) = list(
        _audio_batches(iter([pd.DataFrame({"doc_id": [1], "payload": [payload]})]))
    )
    framed = samples[: AUDIO_FRAME_SAMPLES * 3].astype(np.int64).reshape(3, -1)
    energies = (framed * framed).sum(axis=1)
    row = out.iloc[0]
    assert row.n_frames == 3  # trailing 11 samples dropped
    assert row.total_energy == energies.sum()
    assert row.peak_energy == energies.max()


def test_audio_batches_short_payload_yields_no_row():
    import pandas as pd

    from piper_spark.sources.multimodal import _audio_batches

    (out,) = list(
        _audio_batches(iter([pd.DataFrame({"doc_id": [1], "payload": [b"xy" * 10]})]))
    )
    assert len(out) == 0


def test_sample_mixture_hits_exact_proportions(spark):
    """Every source must keep exactly target_kept = T * weight docs —
    the achieved mixture is proportional to the weights by construction,
    and no source is asked for more docs than it has."""
    from piper_spark.operators.sampling import sample_mixture
    from piper_spark.session import table
    from tests.conftest import SF_SMOKE

    rows = sample_mixture(spark, SF_SMOKE).collect()
    avail = {
        r.source: r.cnt
        for r in table(spark, SF_SMOKE, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert rows
    ratios = {r.kept / r.weight for r in rows}
    assert len(ratios) == 1  # kept_s / w_s == T for every source
    for r in rows:
        assert r.kept == r.target_kept
        assert r.kept <= avail[r.source]


def test_event_attribution_partitions_all_purchases(spark):
    """Channel buckets (click/view/none) must partition the purchase
    set exactly — nothing dropped, nothing double-counted."""
    from piper_spark.operators.asof import event_attribution
    from piper_spark.session import table
    from tests.conftest import SF_SMOKE

    rows = event_attribution(spark, SF_SMOKE).collect()
    total = sum(r.n_purchases for r in rows)
    want = (
        table(spark, SF_SMOKE, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert total == want
    assert {r.channel for r in rows} <= {"click", "view", "none"}


def test_text_chunks_sliding_window_semantics(spark):
    """Chunks are CHUNK_WORDS-word windows advancing CHUNK_STRIDE words:
    overlap = CHUNK_WORDS - CHUNK_STRIDE, tail chunk short, short doc →
    exactly one chunk, and the windows reconstruct the document."""
    from piper_spark.functions.text import CHUNK_STRIDE, CHUNK_WORDS, text_chunks
    from piper_spark.session import table
    from tests.conftest import SF_SMOKE

    docs = {
        r.doc_id: r.text.split(" ")
        for r in table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    }
    out = text_chunks(spark, SF_SMOKE).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, rows in by_doc.items():
        words = docs[doc_id]
        rows = sorted(rows, key=lambda r: r.chunk_id)
        expected_starts = list(range(0, max(len(words), 1), CHUNK_STRIDE))
        assert [r.chunk_id for r in rows] == list(range(len(expected_starts)))
        for r, start in zip(rows, expected_starts):
            expect = words[start : start + CHUNK_WORDS]
            assert r.chunk_text == " ".join(expect)
            assert r.n_chunk_words == len(expect) <= CHUNK_WORDS


def test_text_pack_offsets_are_contiguous_per_stream(spark):
    """Packing bookkeeping: per-(lang, shard) doc_id-ordered start
    offsets are exactly the running token sum; pack_id/spans follow
    the budget."""
    from piper_spark.functions.text import PACK_BUDGET, text_pack
    from tests.conftest import SF_SMOKE

    rows = text_pack(spark, SF_SMOKE).collect()
    by_lang: dict[tuple, list] = {}
    for r in rows:
        by_lang.setdefault((r.lang, r.shard), []).append(r)
    for lang, rs in by_lang.items():
        rs = sorted(rs, key=lambda r: r.doc_id)
        offset = 0
        for r in rs:
            assert r.start_offset == offset, (lang, r.doc_id)
            assert r.pack_id == offset // PACK_BUDGET
            last = (offset + r.n_tokens - 1) // PACK_BUDGET
            assert r.spans == last - r.pack_id + 1 >= 1
            offset += r.n_tokens


def test_embed_quantize_constant_vector_and_bounds(spark):
    """Constant vectors quantize to all-zero codes (no div-by-zero);
    codes stay in 0..255; dequantization MAE is bounded by scale/2."""
    from piper_spark.functions.similarity import embed_quantize
    from tests.conftest import SF_SMOKE

    rows = embed_quantize(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r.code_first <= 255 and 0 <= r.code_last <= 255
        scale = (r.mx - r.mn) / 255.0
        assert r.mae <= scale / 2 + 1e-9, r.vec_id
    # synthetic edge: a constant vector through the same expression
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, [0.5] * 4)], "vec_id long, ed array<double>")
    mn, mx = F.array_min("ed"), F.array_max("ed")
    code = F.transform(
        "ed",
        lambda x: F.when(mx == mn, F.lit(0).cast("long")).otherwise(
            F.floor((x - mn) * 255.0 / (mx - mn) + 0.5)
        ),
    )
    out = df.select(code.alias("codes")).collect()[0]
    assert out.codes == [0, 0, 0, 0]


def test_simhash128_low_half_is_the_64bit_signature(spark):
    """simhash128's low half votes on xxhash64(w) — the SAME hash the
    64-bit signature votes on — so sh_lo must equal sh bit-for-bit,
    while the high half (xxhash64(w, 1)) must differ: 64 genuinely new
    bits, not a copy."""
    from piper_spark.functions.dedup import (
        simhash128_signatures,
        simhash_signatures,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "pack my box with five dozen liquor jugs"),
        ],
        "doc_id long, text string",
    )
    sh64 = {r.doc_id: r.sh for r in simhash_signatures(df).collect()}
    s128 = {r.doc_id: (r.sh_lo, r.sh_hi) for r in simhash128_signatures(df).collect()}
    assert {k: v[0] for k, v in s128.items()} == sh64
    assert any(v[1] != sh64[k] for k, v in s128.items())


def test_bm25_ranks_higher_tf_doc_first(spark):
    """On a tiny synthetic corpus, the doc with more query-term hits
    (same length, same terms) must outscore its sibling, and every
    returned doc must actually contain a query term."""
    from piper_spark.functions.text import BM25_QUERY_TERMS, text_bm25
    import tempfile

    rows = [
        (0, "merge merge merge pad pad pad pad pad", "en", "s", 8),
        (1, "merge pad pad pad pad pad pad pad", "en", "s", 8),
        (2, "pad pad pad pad pad pad pad pad", "en", "s", 8),
        (3, "vector window pad pad pad pad pad pad", "en", "s", 8),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.parquet(f"{d}/documents.parquet")
        out = {r.doc_id: r for r in text_bm25(spark, d).collect()}
    assert 2 not in out  # no query term → no score
    assert out[0].score > out[1].score  # tf monotonicity
    assert out[3].n_terms == 2 and out[0].n_terms == 1
    assert set(BM25_QUERY_TERMS) == {"merge", "vector", "window"}


def test_dedup_semantic_pairs_are_same_cluster_and_over_tau(spark):
    """Every reported drop must have cos(vec, dup_of) ≥ τ, dup_of <
    vec_id, and both ends assigned to the reported cluster — recomputed
    independently in numpy."""
    import numpy as np

    from piper_spark.functions.dedup import (
        SEMDEDUP_CAP,
        SEMDEDUP_TAU,
        dedup_semantic,
        derived_semdedup_k,
    )

    sf = "/root/testdata/sf0.001"
    out = dedup_semantic(spark, sf).collect()
    assert out, "threshold should be non-vacuous on the fixture corpus"
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf}/embeddings.parquet")
        .filter(f"vec_id < {SEMDEDUP_CAP}")
        .collect()
    }
    # seeds mirror the registered key's corpus-size-derived count
    seeds = {i: emb[i] for i in range(derived_semdedup_k(len(emb))) if i in emb}

    def cluster(v):
        cs = {
            s: float(v @ sv / (np.linalg.norm(v) * np.linalg.norm(sv)))
            for s, sv in seeds.items()
        }
        best = max(cs.values())
        return min(s for s, c in cs.items() if c == best)

    for r in out:
        assert r.dup_of < r.vec_id and r.n_dups >= 1
        a, b = emb[r.dup_of], emb[r.vec_id]
        cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert cos >= SEMDEDUP_TAU - 1e-9, (r.vec_id, r.dup_of, cos)
        assert cluster(a) == r.cluster == cluster(b)


def test_dedup_containment_hashed_grams_match_string_shingles(spark):
    """Round-12 (VERDICT item 4): `dedup_containment` now rides the
    spine's hashed 3-gram relation; on the fixture (every doc has
    >= 3 words and the 3-gram polynomial has no collisions there) the
    ported output must be IDENTICAL to the string-shingle form it
    replaced — pairs, shared counts, and containment values."""
    from piper_spark.functions.dedup import (
        CONTAIN_MAX_DF,
        CONTAIN_THRESHOLD,
        dedup_containment,
    )
    from piper_spark.session import table

    sf = "/root/testdata/sf0.001"
    got = {
        (r.id1, r.id2): (r.shared, r.containment)
        for r in dedup_containment(spark, sf).collect()
    }
    # the string-shingle reference: the pre-round-12 implementation
    docs = table(spark, sf, "documents")
    sh = docs.select(
        "doc_id", F.array_distinct(shingles("text")).alias("sh")
    ).persist()
    x = sh.select("doc_id", F.explode("sh").alias("g"))
    rare = (
        x.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= CONTAIN_MAX_DF)
        .select("g")
    )
    xr = x.join(rare, "g")
    a, b = xr.alias("a"), xr.alias("b")
    cand = (
        a.join(b, "g")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .distinct()
    )
    sa, sb = sh.alias("sa"), sh.alias("sb")
    shared = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh"))).cast(
        "long"
    )
    small = F.least(
        F.size(F.col("sa.sh")).cast("long"),
        F.size(F.col("sb.sh")).cast("long"),
    )
    contain = shared.cast("double") / small
    want = {
        (r.id1, r.id2): (r.shared, r.containment)
        for r in cand.join(sa, F.col("sa.doc_id") == F.col("id1"))
        .join(sb, F.col("sb.doc_id") == F.col("id2"))
        .filter(contain >= CONTAIN_THRESHOLD)
        .select(
            "id1",
            "id2",
            shared.alias("shared"),
            F.round(contain, 4).alias("containment"),
        )
        .collect()
    }
    sh.unpersist()
    assert got and got == want


def test_text_dup_grams_flags_cross_doc_boilerplate(spark):
    """Round-12: the cross-doc duplicated-gram fraction must be 1.0
    for a verbatim copy pair, ~the shared-prefix share for a partial
    overlap, 0.0 for a unique doc, and (0, 0, 0.0) for a sub-shingle
    doc — counted on DISTINCT grams per doc."""
    from unittest import mock

    from piper_spark.functions import text as T

    shared = " ".join(f"s{i}" for i in range(12))  # 10 distinct 3-grams
    uniq = " ".join(f"u{i}" for i in range(12))
    d = spark.createDataFrame(
        [
            (1, shared),
            (2, shared),  # verbatim copy: every gram shared
            (3, shared + " " + uniq),  # prefix shared, tail unique
            (4, "one two"),  # < 3 words: no shingles
        ],
        "doc_id long, text string",
    )
    with mock.patch.object(T, "table", lambda s, sf, name: d):
        got = {
            r.doc_id: (r.n_grams, r.dup_grams, r.dup_frac)
            for r in T.text_dup_grams(spark, "_").collect()
        }
    assert got[1] == (10, 10, 1.0) and got[2] == (10, 10, 1.0)
    n3, dup3, frac3 = got[3]
    # doc 3 has 24 words → 22 grams; the 10 fully inside the shared
    # prefix are df>=2, the 2 straddling grams (s10 s11 u0 / s11 u0 u1)
    # and the 10 unique-tail grams are not
    assert n3 == 22 and dup3 == 10 and frac3 == round(10 / 22, 4)
    assert got[4] == (0, 0, 0.0)


def test_derived_cell_counts_scale_with_corpus():
    """Round-12 (VERDICT item 1): the Lloyd/SemDeDup cell counts must
    DERIVE from corpus size — k tracks n at a fixed target cell size
    (so cell-sharded pair work is n·CELL_TARGET, linear), clamped at
    both ends; probe width derives from the MEASURED per-k recall
    staircase (round-13: ceil(k/2) / ceil(k/4) / ceil(k/8) at the
    782 / 4096 stair edges — each the smallest fraction measured
    ≥ 0.8 recall at the edge), floored at NUM_PROBES."""
    from piper_spark.functions.dedup import (
        SEMDEDUP_K,
        derived_semdedup_k,
    )
    from piper_spark.functions.similarity import (
        KM_CELL_TARGET,
        KMEANS_K,
        KMEANS_K_MAX,
        NUM_PROBES,
        derived_kmeans_k,
        derived_probes,
    )

    assert derived_kmeans_k(0) == KMEANS_K
    assert derived_kmeans_k(500) == KMEANS_K  # the sf0.01 gate keeps k=8
    assert derived_kmeans_k(2000) == 32  # sf0.1 grows the fit
    assert derived_kmeans_k(10**12) == KMEANS_K_MAX  # bounded model state
    for n in (10_000, 200_000):  # slope (below the clamp): one cell
        assert abs(derived_kmeans_k(n) - n / KM_CELL_TARGET) <= 1
        # per KM_CELL_TARGET vectors → pair work n·KM_CELL_TARGET
    assert derived_probes(1) == NUM_PROBES
    assert derived_probes(8) == 4
    assert derived_probes(32) == 16
    # round-13 staircase: stairs sit AT the measured certification ks
    assert derived_probes(781) == 391 and derived_probes(782) == 196
    assert derived_probes(4095) == 1024 and derived_probes(4096) == 512
    assert derived_probes(10**6) == 125_000  # 1/8 persists past the edge
    assert derived_semdedup_k(500) == SEMDEDUP_K
    assert derived_semdedup_k(1200) == 19


def test_derivation_formulas_agree_cross_engine():
    """Round-12: the oracle derives k and the probe width in SQL (the
    kd/np CTE arithmetic) while Spark derives them in Python — pin the
    two formulas equal over a sweep of corpus sizes INCLUDING both
    clamp edges, so the derivations cannot silently diverge."""
    import duckdb

    from piper_spark.functions.dedup import derived_semdedup_k
    from piper_spark.functions.similarity import (
        derived_kmeans_k,
        derived_probes,
    )

    con = duckdb.connect()
    for n in (0, 1, 7, 8, 500, 511, 512, 513, 2000, 50_000, 262_144,
              262_145, 10**9):
        sql_k = con.execute(
            f"SELECT LEAST(4096, GREATEST(8, ({n} + 63) // 64))"
        ).fetchone()[0]
        assert sql_k == derived_kmeans_k(n), n
        # np CTE derives off the ACTUAL seed count k (kn), 1 <= kn <= kd
        for k in (1, 2, 8, 32, 781, 782, 4095, 4096, 100_000, sql_k):
            sql_np = con.execute(
                f"SELECT GREATEST(2, CASE"
                f" WHEN {k} >= 4096 THEN ({k} + 7) // 8"
                f" WHEN {k} >= 782 THEN ({k} + 3) // 4"
                f" ELSE ({k} + 1) // 2 END)"
            ).fetchone()[0]
            assert sql_np == derived_probes(k), (n, k)
        sql_sem = con.execute(
            f"SELECT LEAST(4096, GREATEST(16, ({min(n, 1200)} + 63) // 64))"
        ).fetchone()[0]
        assert sql_sem == derived_semdedup_k(min(n, 1200)), n
    con.close()


def test_countmin_never_underestimates(spark):
    """The CMS one-sided error guarantee: est ≥ exact for every
    reported word, with equality unless that word's counter row
    collided in all d rows (possible, never below)."""
    from piper_spark.operators.aggregates import agg_countmin

    out = agg_countmin(spark, "/root/testdata/sf0.001").collect()
    assert len(out) == 15
    for r in out:
        assert r.cms_est >= r.exact_cnt, (r.word, r.exact_cnt, r.cms_est)


def test_ewma_halving_fold_semantics(spark):
    """s ← (s+x)/2 seeded with the frame's first element, frame capped
    at EWMA_SPAN rows — checked against a hand-rolled fold."""
    from piper_spark.operators.windows import EWMA_SPAN, win_ewma
    import tempfile

    rows = [
        (i, f"2024-01-01 00:00:{i:02d}", 7, "click", float(i + 1), "{}")
        for i in range(20)
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.to_timestamp("ts")).write.parquet(
            f"{d}/events.parquet"
        )
        out = {r.event_id: r.ewma for r in win_ewma(spark, d).collect()}
    for eid in (0, 1, 16, 19):
        lo = max(0, eid - EWMA_SPAN + 1)
        cents = [(i + 1) * 100.0 for i in range(lo, eid + 1)]
        s = cents[0]
        for x in cents[1:]:
            s = (s + x) / 2.0
        assert out[eid] == s / 100.0, eid


def test_merge_upsert_applies_changelog(spark):
    """Matched keys carry status 'U', inserted keys are shifted with
    'N', untouched keys keep their original status, and row counts
    reconcile exactly."""
    from piper_spark.operators.joins import MERGE_INSERT_SHIFT, merge_upsert

    sf = "/root/testdata/sf0.001"
    base = {
        r.o_orderkey: r.o_orderstatus
        for r in spark.read.parquet(f"{sf}/orders.parquet").collect()
    }
    out = merge_upsert(spark, sf).collect()
    n_upd = sum(1 for k in base if k % 3 == 0)
    n_ins = sum(1 for k in base if k % 10 == 7)
    assert len(out) == len(base) + n_ins
    by_key = {r.o_orderkey: r.o_orderstatus for r in out}
    for k, st in base.items():
        if k % 3 == 0:
            assert by_key[k] == "U"
        else:
            assert by_key[k] == st
        if k % 10 == 7:
            assert by_key[k + MERGE_INSERT_SHIFT] == "N"


def test_dedup_url_groups_of_seven(spark):
    """Every canonical group collapses exactly the seven (or tail)
    consecutive doc_ids that share doc_id div 7, and keeps the lowest."""
    from piper_spark.functions.dedup import dedup_url

    out = dedup_url(spark, "/root/testdata/sf0.001").collect()
    assert out
    for r in out:
        assert 2 <= r.n_dups <= 7
        assert r.canon_url.endswith(f"/p/{r.keep_id // 7}")
        assert r.keep_id % 7 == 0 or r.canon_url.endswith("/p/0")


def test_hll_accuracy_and_mergeability(spark):
    """Round-10 agg_hll: (a) the raw Flajolet estimate lands within a
    loose multiple of the 13% (1.04/√64) standard error on the real
    per-flag orderkey cardinalities; (b) registers are MAX-mergeable —
    the registers of the full table equal the elementwise max of the
    registers of two disjoint halves, the property that makes the
    sketch shard- and stream-composable at 100 TB."""
    from pyspark.sql import functions as F

    from piper_spark.operators.aggregates import agg_hll, hll_registers
    from piper_spark.session import table
    from tests.conftest import SF_SMOKE

    for r in agg_hll(spark, SF_SMOKE).collect():
        # sf0.001 per-flag cardinality ~1.1k >> 2.5m = 160 → raw regime
        assert abs(r.hll_est - r.exact_orders) <= 0.45 * r.exact_orders, (
            r.l_returnflag, r.hll_est, r.exact_orders,
        )
        assert r.zero_regs == 0 and r.reg_sum > 0

    li = table(spark, SF_SMOKE, "lineitem")
    full = {
        (r.g, r.bucket): r.reg
        for r in hll_registers(li, "l_returnflag", "l_orderkey").collect()
    }
    lo = li.filter(F.col("l_orderkey") % 2 == 0)
    hi = li.filter(F.col("l_orderkey") % 2 == 1)
    merged: dict = {}
    for half in (lo, hi):
        for r in hll_registers(half, "l_returnflag", "l_orderkey").collect():
            k = (r.g, r.bucket)
            merged[k] = max(merged.get(k, 0), r.reg)
    assert merged == full


def test_median_bins_within_value_quantization(spark):
    """Round-10 agg_median_bins: the binned estimate must sit within
    half a bin width (IN VALUE) of the exact rank-(n+1)//2 median —
    the two-scan histogram's quantization contract — and the bin count
    must respect the fixed ≤ 1024 state bound."""
    from piper_spark.operators.aggregates import MEDIAN_BINS, agg_median_bins
    from piper_spark.session import table
    from tests.conftest import SF_SMOKE

    got = {r.l_returnflag: r for r in agg_median_bins(spark, SF_SMOKE).collect()}
    li = table(spark, SF_SMOKE, "lineitem")
    import pyspark.sql.functions as F

    for flag, r in got.items():
        vals = sorted(
            x.c
            for x in li.filter(F.col("l_returnflag") == flag)
            .select(
                F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5))
                .cast("long")
                .alias("c")
            )
            .collect()
        )
        exact_cents = vals[(len(vals) + 1) // 2 - 1]
        assert r.med_bin < MEDIAN_BINS
        assert abs(r.binned_median * 100.0 - exact_cents) <= r.bin_w_cents / 2 + 1e-9, (
            flag, r.binned_median, exact_cents / 100.0, r.bin_w_cents,
        )


def test_hll_union_monotone_and_identity(spark):
    """Round-10 agg_hll_union: max-merged union registers dominate each
    side's, so est_union >= max(est_a, est_b) holds EXACTLY (every
    2^-reg term shrinks or stays); est_inter must equal the
    inclusion-exclusion identity of the three emitted estimates."""
    from piper_spark.operators.aggregates import agg_hll_union
    from tests.conftest import SF_SMOKE

    rows = agg_hll_union(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.est_union >= max(r.est_a, r.est_b) - 1e-9, r
        assert abs(r.est_inter - ((r.est_a + r.est_b) - r.est_union)) < 1e-9
        assert r.exact_inter > 0


def test_near_dup_spine_matches_standalone(spark):
    """The shared signature stage must be BIT-IDENTICAL to the four
    standalone operators it amortizes (round-10 VERDICT item 4): same
    minhash signatures, simhash votes (both widths), and winnowing
    fingerprints — or the spine would silently fork the family's
    oracle-checked semantics."""
    from piper_spark.functions.dedup import (
        minhash_signatures,
        near_dup_spine,
        simhash128_signatures,
        simhash_signatures,
    )
    from piper_spark.functions.text import winnow_fps
    from piper_spark.session import table
    from tests.conftest import SF_SMOKE

    docs = table(spark, SF_SMOKE, "documents")
    spine = near_dup_spine(docs)
    try:
        def rows(df):
            return sorted(tuple(r) for r in df.collect())

        assert rows(spine["minhash_sigs"]) == rows(minhash_signatures(docs))
        assert rows(spine["simhash_sigs"]) == rows(simhash_signatures(docs))
        assert rows(spine["simhash128_sigs"]) == rows(
            simhash128_signatures(docs)
        )
        assert rows(spine["winnow_fps"]) == rows(winnow_fps(docs))
    finally:
        spine["stage"].unpersist()


def test_quantiles_bins_contract(spark):
    """Round-11 agg_quantiles_bins: every quantile estimate sits within
    half a bin width of the exact rank-ceil(n*q) value; p50 agrees with
    agg_median_bins BY CONSTRUCTION (same histogram, same rank rule);
    bins respect the <= 1024 state bound."""
    import pyspark.sql.functions as F

    from piper_spark.operators.aggregates import (
        MEDIAN_BINS,
        QUANTILE_GRID,
        agg_median_bins,
        agg_quantiles_bins,
    )
    from piper_spark.session import table
    from tests.conftest import SF_SMOKE

    got = {
        (r.l_returnflag, r.q): r
        for r in agg_quantiles_bins(spark, SF_SMOKE).collect()
    }
    med = {r.l_returnflag: r for r in agg_median_bins(spark, SF_SMOKE).collect()}
    li = table(spark, SF_SMOKE, "lineitem")
    flags = {k[0] for k in got}
    assert {k[1] for k in got} == {q for q, _, _ in QUANTILE_GRID}
    for flag in flags:
        vals = sorted(
            x.c
            for x in li.filter(F.col("l_returnflag") == flag)
            .select(
                F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5))
                .cast("long")
                .alias("c")
            )
            .collect()
        )
        n = len(vals)
        for q, num, den in QUANTILE_GRID:
            r = got[(flag, q)]
            rank = (n * num + den - 1) // den  # ceil(n*q)
            exact_cents = vals[rank - 1]
            assert r.q_bin < MEDIAN_BINS
            assert (
                abs(r.binned_q * 100.0 - exact_cents) <= r.bin_w_cents / 2 + 1e-9
            ), (flag, q, r.binned_q, exact_cents / 100.0, r.bin_w_cents)
        # p50 == the registered median key, bit for bit
        assert got[(flag, "p50")].binned_q == med[flag].binned_median


def _capped_brute(rel, max_df, probe=None):
    """Brute-force `capped_pairs` over (key, id, pos) tuples: keys held
    by at most max_df distinct ids of `rel` pair their rows, id1 < id2
    for a self-join, every probe row against `rel` otherwise."""
    from collections import defaultdict

    posting = defaultdict(list)
    for k, i, p in rel:
        posting[k].append((i, p))
    rare = {
        k: v for k, v in posting.items() if len({i for i, _ in v}) <= max_df
    }
    if probe is None:
        return sorted(
            (i1, i2, p1, p2)
            for v in rare.values()
            for i1, p1 in v
            for i2, p2 in v
            if i1 < i2
        )
    return sorted(
        (i1, i2, p1, p2)
        for k, i1, p1 in probe
        for i2, p2 in rare.get(k, [])
    )


def test_capped_pairs_matches_brute_force(spark):
    """`lsh.capped_pairs` on hand-built postings: a key held by exactly
    max_df ids pairs, one held by max_df + 1 does not; df counts
    distinct ids, so a doc repeating a key at several positions counts
    once and yields one pair row per position (keep=("pos",)); the
    probe form counts df on `rel` only and applies no id ordering; an
    empty relation gives no pairs."""
    from piper_spark.functions.lsh import capped_pairs

    max_df = 3
    rel = (
        [(10, i, 0) for i in (1, 2, 3)]  # exactly max_df ids
        + [(20, i, 100) for i in (1, 2, 3, 4)]  # max_df + 1 ids
        + [(30, 5, 0), (30, 5, 4), (30, 6, 2)]  # doc 5 repeats the key
        + [(40, 7, p) for p in range(5)] + [(40, 8, 9)]  # 6 rows, 2 ids
    )
    probe = [(10, 0, 7), (10, 9, 8), (20, 9, 1), (40, 2, 3), (50, 9, 0)]
    schema = "g long, doc_id long, pos long"

    def frame(rows):
        # several partitions, so the map-side partial limit sees each
        # key's ids split across them
        return spark.createDataFrame(rows, schema).repartition(3)

    def run(r, p=None):
        out = capped_pairs(
            frame(r), "g", id_col="doc_id", max_df=max_df, keep=("pos",),
            probe=None if p is None else frame(p),
        )
        assert out.columns == ["id1", "id2", "pos1", "pos2"]
        return sorted(tuple(x) for x in out.collect())

    got = run(rel)
    assert got == _capped_brute(rel, max_df)
    assert (5, 6, 0, 2) in got and (5, 6, 4, 2) in got
    assert not any(p1 == 100 for _, _, p1, _ in got)  # key 20 is capped out
    got = run(rel, probe)
    assert got == _capped_brute(rel, max_df, probe)
    assert (9, 1, 8, 0) in got and (0, 1, 7, 0) in got
    assert run([]) == [] and run([], probe) == []
