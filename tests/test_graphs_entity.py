"""Round-8 operator families: graph analytics (PageRank / triangles /
neighbor Jaccard), entity resolution, bloom-prefiltered dedup, OHLC
bars, and the audio curation pipeline.

The graph tests verify the distributed operators against BRUTE-FORCE
adjacency-set recomputations in plain Python over the collected
sf0.001 graph (500 nodes) — an independent algorithm, not a replay of
the Spark plan — the planted-truth discipline of test_properties.py.
"""

from __future__ import annotations

import pytest

from piper_spark import registry
from tests.conftest import SF_SMOKE


# ---------------------------------------------------------------- graphs


@pytest.fixture(scope="module")
def adjacency(spark):
    """Collected undirected adjacency sets of the sf0.001 link graph."""
    from piper_spark.functions.graphs import link_edges, undirected

    rows = undirected(link_edges(spark, SF_SMOKE)).collect()
    adj: dict[int, set[int]] = {}
    for r in rows:
        adj.setdefault(r["u"], set()).add(r["v"])
    return adj


def test_link_edges_shape(spark):
    from piper_spark.functions.graphs import link_edges

    e = link_edges(spark, SF_SMOKE).collect()
    srcs = {}
    for r in e:
        assert r["src"] != r["dst"]
        srcs.setdefault(r["src"], set()).add(r["dst"])
    # Out-degree ≤ 3, odd ids capped at 2 (the c=3 link is even-only).
    assert max(len(v) for v in srcs.values()) <= 3
    assert all(len(v) <= 2 for s, v in srcs.items() if s % 2 == 1)
    # The quadratic map must yield an IRREGULAR in-degree profile —
    # a bijective (affine) map would give every node in-degree 3 and
    # make PageRank exactly uniform (measured before this design).
    indeg: dict[int, int] = {}
    for r in e:
        indeg[r["dst"]] = indeg.get(r["dst"], 0) + 1
    assert len(set(indeg.values())) >= 3


def test_pagerank_mass_and_floor(spark):
    from piper_spark.functions.graphs import PR_SCALE

    out = registry.all_queries()["graph_pagerank"](spark, SF_SMOKE).collect()
    n = len(out)
    assert n == 500
    ranks = [r["pagerank"] for r in out]
    base = 15 * PR_SCALE // 100
    # Every node keeps at least the teleport mass; nodes with no
    # in-links sit exactly on it.
    assert min(ranks) == base
    # Total mass never exceeds the initial N·SCALE (floor divisions
    # only ever LOSE mass) but stays within 20% of it.
    assert sum(ranks) <= n * PR_SCALE
    assert sum(ranks) >= int(0.8 * n * PR_SCALE)
    # Non-degenerate: the quadratic graph must differentiate ranks.
    assert len(set(ranks)) >= 10


def test_triangles_match_bruteforce(spark, adjacency):
    out = {
        r["node"]: r["n_triangles"]
        for r in registry.all_queries()["graph_triangles"](
            spark, SF_SMOKE
        ).collect()
    }
    expect: dict[int, int] = {}
    for u, nbrs in adjacency.items():
        for v in nbrs:
            if v <= u:
                continue
            for w in adjacency[v]:
                if w > v and w in nbrs:
                    for x in (u, v, w):
                        expect[x] = expect.get(x, 0) + 1
    assert out == expect


def test_neighbor_jaccard_matches_bruteforce(spark, adjacency):
    out = {
        (r["x"], r["y"]): (r["common"], r["jacc_ppm"])
        for r in registry.all_queries()["graph_neighbor_jaccard"](
            spark, SF_SMOKE
        ).collect()
    }
    expect = {}
    nodes = sorted(adjacency)
    for i, x in enumerate(nodes):
        for y in nodes[i + 1 :]:
            common = len(adjacency[x] & adjacency[y])
            if common >= 2:
                union = len(adjacency[x]) + len(adjacency[y]) - common
                expect[(x, y)] = (common, common * 1_000_000 // union)
    # Hub cap is a no-op at this scale (max degree ~20 < 64), so the
    # wedge-join candidates must equal the exhaustive pair set.
    assert out == expect


# ------------------------------------------------------- entity resolution


def test_lev_le1_matches_full_dp():
    from piper_spark.functions.entity import _lev_le1

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    words = ["", "a", "ab", "ba", "abc", "abcd", "axcd", "abxd", "acd",
             "abcde", "xbcd", "abdc", "aabcd", "abcda", "bacd"]
    for s in words:
        for t in words:
            assert _lev_le1(s, t) == (lev(s, t) <= 1), (s, t)


def test_pairs_lev_le1_matches_scalar_reference():
    """The vectorized in-block pair finder must agree exactly with the
    scalar _lev_le1 double loop — including mixed lengths, duplicates,
    empty strings, and a non-ASCII bucket (scalar-fallback path)."""
    import itertools
    import random

    from piper_spark.functions.entity import _lev_le1, _pairs_lev_le1

    rng = random.Random(7)
    alpha = "abcd"
    cases = [
        ["".join(rng.choice(alpha) for _ in range(rng.randint(0, 5))) for _ in range(40)],
        ["", "", "a", "ab", "ba", "aa"],
        ["héllo", "hello", "hallo", "héllo!"],  # multi-byte bucket
    ]
    for names in cases:
        expect = sorted(
            (i, j)
            for i, j in itertools.combinations(range(len(names)), 2)
            if _lev_le1(names[i], names[j])
        )
        assert sorted(_pairs_lev_le1(names)) == expect


def test_er_match_planted_recall_is_total(spark):
    from piper_spark.functions.entity import (
        ER_V1_MOD,
        ER_V1_OFFSET,
        ER_V2_MOD,
        ER_V2_OFFSET,
    )

    pairs = {
        (r["id1"], r["id2"])
        for r in registry.all_queries()["er_match"](spark, SF_SMOKE).collect()
    }
    n_cust = 150  # sf0.001 customer count
    planted = {(k, k + ER_V1_OFFSET) for k in range(0, n_cust, ER_V1_MOD)} | {
        (k, k + ER_V2_OFFSET) for k in range(0, n_cust, ER_V2_MOD)
    }
    # Recall on the planted dirty variants must be exactly 1.0: the
    # edits land past the blocking prefix BY CONSTRUCTION, so a miss
    # is a bug, not bad luck.
    assert planted <= pairs


def test_er_clusters_consistent_with_matches(spark):
    qs = registry.all_queries()
    ent = {
        r["rec_id"]: r["entity_id"]
        for r in qs["er_clusters"](spark, SF_SMOKE).collect()
    }
    pairs = [
        (r["id1"], r["id2"]) for r in qs["er_match"](spark, SF_SMOKE).collect()
    ]
    # Every matched pair shares an entity; every entity label is the
    # min rec_id of its member set (singletons keep their own id).
    for a, b in pairs:
        assert ent[a] == ent[b]
    members: dict[int, list[int]] = {}
    for rec, e in ent.items():
        members.setdefault(e, []).append(rec)
    for e, recs in members.items():
        assert e == min(recs)


# ----------------------------------------------------------- dedup_bloom


def test_derived_bloom_bits_properties():
    from piper_spark.functions.dedup import (
        BLOOM_MAX_BITS,
        BLOOM_MIN_BITS,
        derived_bloom_bits,
    )

    prev = 0
    for n in (0, 1, 100, 250, 10_000, 10**6, 10**9):
        m = derived_bloom_bits(n)
        assert m & (m - 1) == 0  # power of two
        assert BLOOM_MIN_BITS <= m <= BLOOM_MAX_BITS
        assert m >= prev  # monotone in corpus size
        prev = m
    assert derived_bloom_bits(250) == 4096
    assert derived_bloom_bits(10**9) == BLOOM_MAX_BITS  # clamped


def test_dedup_bloom_drops_planted_duplicates(spark, tmp_path):
    """Exact-dup semantics under the bloom prefilter: plant copies of
    corpus docs in the batch; kept set must exclude them (no false
    negatives possible) and keep exactly the genuinely-new docs."""
    import duckdb

    from piper_spark.functions.dedup import INCR_BOUNDARY

    base = str(tmp_path)
    con = duckdb.connect()
    # Batch = 50 copies of corpus docs (shifted ids) + the real tail.
    con.execute(
        f"""
        COPY (
          SELECT * FROM '{SF_SMOKE}/documents.parquet'
          UNION ALL
          SELECT doc_id + 1000, text, lang, source, n_chars
          FROM '{SF_SMOKE}/documents.parquet' WHERE doc_id < 50
        ) TO '{base}/documents.parquet' (FORMAT PARQUET)
        """
    )
    out = registry.all_queries()["dedup_bloom"](spark, base).collect()
    kept = {r["doc_id"] for r in out}
    # Planted copies of corpus docs (ids 1000..1049) must all be gone,
    # flagged probed=1 and killed by the exact verify.
    assert not any(1000 <= d < 1050 for d in kept)
    # The genuine batch tail (250..499, all unique texts) is kept.
    assert kept == set(range(INCR_BOUNDARY, 500))


# --------------------------------------------------------------- ts_ohlc


def test_ohlc_invariants_and_tie_determinism(spark):
    rows = registry.all_queries()["ts_ohlc"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["high"] >= max(r["open"], r["close"])
        assert r["low"] <= min(r["open"], r["close"])
        assert r["n_trades"] >= 1
        assert r["low"] <= r["volume_cents"] // r["n_trades"] <= r["high"]


# -------------------------------------------- pipeline_audio_curate


def test_audio_curate_composes_its_stages(spark):
    qs = registry.all_queries()
    out = qs["pipeline_audio_curate"](spark, SF_SMOKE).collect()
    kept = {r["doc_id"] for r in out}
    pairs = qs["dedup_audio"](spark, SF_SMOKE).collect()
    fps = {
        r["doc_id"]: (r["n_bits"], r["fp"])
        for r in qs["audio_fingerprint"](spark, SF_SMOKE).collect()
    }
    from piper_spark.sources.multimodal import AUDIO_FP_BAND_BITS

    eligible = {d for d, (nb, _) in fps.items() if nb > AUDIO_FP_BAND_BITS}
    drops = {p["id2"] for p in pairs}
    assert kept == eligible - drops
    for r in out:
        assert r["split"] == ("train" if r["doc_id"] % 100 < 80 else "val")
        assert (r["n_bits"], r["fp"]) == fps[r["doc_id"]]


# ------------------------------------------------- round-8 wave 2


def test_bpe_encode_compresses_and_bounds(spark):
    rows = registry.all_queries()["text_bpe_encode"](spark, SF_SMOKE).collect()
    assert rows
    total_chars = sum(r["n_chars"] for r in rows)
    total_tokens = sum(r["n_tokens"] for r in rows)
    for r in rows:
        # merges only ever reduce the token count, never below 1/word
        assert 1 <= r["n_tokens"] <= r["n_chars"]
    # The top-5 merges must actually fire on the corpus they came from.
    assert total_tokens < total_chars


def test_join_interval_matches_bruteforce(spark):
    from datetime import date, timedelta

    from piper_spark.operators.joins import (
        IVL_EPOCH,
        IVL_MAX_DAYS,
        IVL_WIN_DAYS,
        IVL_WINDOWS,
    )
    from piper_spark.session import table

    orders = table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderdate"
    ).collect()
    epoch = date.fromisoformat(IVL_EPOCH)
    expect = set()
    for r in orders:
        s = r["o_orderdate"].date()
        e = s + timedelta(days=r["o_orderkey"] % IVL_MAX_DAYS)
        for w in range(IVL_WINDOWS):
            ws = epoch + timedelta(days=7 * w)
            we = epoch + timedelta(days=7 * w + IVL_WIN_DAYS - 1)
            if s <= we and ws <= e:
                expect.add(
                    (r["o_orderkey"], w, (min(e, we) - max(s, ws)).days + 1)
                )
    got = {
        (r["o_orderkey"], r["window_id"], r["overlap_days"])
        for r in registry.all_queries()["join_interval"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == expect


def test_event_rfm_quintiles_are_consistent(spark):
    rows = registry.all_queries()["event_rfm"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 1 <= r["r_q"] <= 5 and 1 <= r["f_q"] <= 5 and 1 <= r["m_q"] <= 5
    # Monotone: a strictly better value can never land in a lower bucket.
    by_f = sorted(rows, key=lambda r: r["frequency"])
    for a, b in zip(by_f, by_f[1:]):
        assert a["f_q"] <= b["f_q"]
    by_r = sorted(rows, key=lambda r: r["recency_us"])
    for a, b in zip(by_r, by_r[1:]):
        assert a["r_q"] >= b["r_q"]
    # Every quintile is populated on the uniform fixture.
    assert {r["f_q"] for r in rows} == {1, 2, 3, 4, 5}


def test_join_geo_grid_matches_bruteforce(spark):
    from piper_spark.operators.joins import GEO_GRID_SIZE, GEO_RADIUS
    from piper_spark.session import table

    keys = [
        r["c_custkey"]
        for r in table(spark, SF_SMOKE, "customer").select("c_custkey").collect()
    ]
    pts = {
        k: ((k * 7919) % GEO_GRID_SIZE, (k * k % 9973 * 4073 + k) % GEO_GRID_SIZE)
        for k in keys
    }
    expect = set()
    ks = sorted(keys)
    for i, a in enumerate(ks):
        for b in ks[i + 1 :]:
            cheb = max(abs(pts[a][0] - pts[b][0]), abs(pts[a][1] - pts[b][1]))
            if cheb <= GEO_RADIUS:
                expect.add((a, b, cheb))
    got = {
        (r["id1"], r["id2"], r["cheb"])
        for r in registry.all_queries()["join_geo_grid"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == expect


def test_graph_bfs_matches_bruteforce(spark):
    from collections import deque

    from piper_spark.functions.graphs import (
        BFS_ROUNDS,
        BFS_SOURCE_MOD,
        link_edges,
    )

    fwd: dict[int, set[int]] = {}
    for r in link_edges(spark, SF_SMOKE).collect():
        fwd.setdefault(r["src"], set()).add(r["dst"])
    sources = [d for d in range(500) if d % BFS_SOURCE_MOD == 0]
    dist = {s: 0 for s in sources}
    q = deque(sources)
    while q:
        u = q.popleft()
        if dist[u] >= BFS_ROUNDS:
            continue
        for v in fwd.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    got = {
        r["doc_id"]: r["dist"]
        for r in registry.all_queries()["graph_bfs"](spark, SF_SMOKE).collect()
    }
    assert got == dist


def test_soft_dedup_weights_partition_unity(spark):
    rows = registry.all_queries()["sample_soft_dedup"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    # Every planted copy pair carries half weight; uniques carry full.
    by_size = {}
    for r in rows:
        by_size.setdefault(r["group_size"], 0)
        by_size[r["group_size"]] += 1
        assert r["weight_ppm"] == 1_000_000 // r["group_size"]
    assert by_size.get(2, 0) == 2 * (500 // 5)  # both members of each pair
    assert by_size.get(1, 0) == 400


def test_dq_referential_reports_planted_and_clean(spark):
    rows = {
        r["relationship"]: (r["n_child"], r["n_orphans"], r["orphan_ppm"])
        for r in registry.all_queries()["dq_referential"](
            spark, SF_SMOKE
        ).collect()
    }
    # lineitem->orders is intact; orders->customer audits the truncated
    # dimension snapshot and must report a nonzero orphan rate.
    assert rows["lineitem->orders"][1] == 0
    n, orph, ppm = rows["orders->customer"]
    assert orph > 0 and ppm == orph * 1_000_000 // n


def test_bpe_encode_handles_merge_starved_corpus(spark, tmp_path):
    """Fewer distinct adjacent pairs than BPE_ENCODE_MERGES must leave
    the missing ranks as NO-OPS — before the NULL guard, the all-NULL
    merge slots NULL-propagated every document's token count through
    replace() in BOTH engines, so the oracle couldn't catch it."""
    import duckdb

    from piper_spark import registry

    base = str(tmp_path)
    # Single-character words only: zero adjacent pairs exist at all.
    duckdb.connect().execute(
        f"""
        COPY (
          SELECT doc_id, 'a b a' AS text, lang, source, 5 AS n_chars
          FROM '{SF_SMOKE}/documents.parquet' WHERE doc_id < 10
        ) TO '{base}/documents.parquet' (FORMAT PARQUET)
        """
    )
    rows = registry.all_queries()["text_bpe_encode"](spark, base).collect()
    assert len(rows) == 10
    for r in rows:
        assert r["n_chars"] == 3 and r["n_tokens"] == 3  # no merges, no NULLs


def test_bpe_encode_newline_chars_stay_cross_engine_exact(spark, tmp_path):
    """Words can carry embedded newlines (words_col splits on single
    spaces only); Java regex '.' excludes line terminators, so the char
    split needs (?s) to match the oracle's per-character list
    comprehension — this pins the dotall flag with a direct
    Spark-vs-DuckDB comparison on a newline-bearing corpus."""
    import duckdb
    import sys

    sys.path.insert(0, "/root/repo")
    from scripts.check_oracle import compare

    from piper_spark import registry

    base = str(tmp_path)
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT doc_id, 'ab' || chr(10) || 'cd ab ab' AS text, lang,
                 source, 8 AS n_chars
          FROM '{SF_SMOKE}/documents.parquet' WHERE doc_id < 10
        ) TO '{base}/documents.parquet' (FORMAT PARQUET)
        """
    )
    sdf = registry.all_queries()["text_bpe_encode"](spark, base).toPandas()
    for t in ("documents",):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{base}/{t}.parquet'")
    odf = con.execute(registry.all_oracles()["text_bpe_encode"]).df()
    assert compare("bpe_newline", sdf, odf) == []


def test_agg_moments_matches_numpy(spark):
    """The skew/kurtosis finish must agree with an independent numpy
    population-moment computation (not just the mirrored SQL)."""
    import numpy as np

    from piper_spark.session import table

    rows = registry.all_queries()["agg_moments"](spark, SF_SMOKE).collect()
    docs = table(spark, SF_SMOKE, "documents").select("lang", "n_chars").collect()
    by_lang: dict[str, list[int]] = {}
    for d in docs:
        by_lang.setdefault(d["lang"], []).append(d["n_chars"])
    assert rows
    for r in rows:
        v = np.array(by_lang[r["lang"]], dtype=np.float64)
        mu, sd = v.mean(), v.std()  # population
        skew = ((v - mu) ** 3).mean() / sd**3
        kurt = ((v - mu) ** 4).mean() / sd**4 - 3.0
        assert abs(r["skewness"] - skew) < 1e-4
        assert abs(r["excess_kurtosis"] - kurt) < 1e-4


def test_pagerank_matches_bruteforce_recurrence(spark):
    """Exact parity with a pure-Python replay of the integer
    recurrence over the collected edge list — independent of both the
    Spark plan and the SQL oracle (the triangles/BFS discipline)."""
    from piper_spark.functions.graphs import PR_ITERS, PR_SCALE, link_edges

    edges = [(r["src"], r["dst"]) for r in link_edges(spark, SF_SMOKE).collect()]
    outdeg: dict[int, int] = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    n = 500
    rank = {i: PR_SCALE for i in range(n)}
    for _ in range(PR_ITERS):
        contrib: dict[int, int] = {}
        for u, v in edges:
            contrib[v] = contrib.get(v, 0) + rank[u] // outdeg[u]
        rank = {
            i: (15 * PR_SCALE + 85 * contrib.get(i, 0)) // 100 for i in range(n)
        }
    got = {
        r["doc_id"]: r["pagerank"]
        for r in registry.all_queries()["graph_pagerank"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == rank


def test_kcore_matches_bruteforce_peel(spark, adjacency):
    """Round-9: the fixed-round k-core peel must equal a direct Python
    peel of the same adjacency — same survivor set, same last-round
    degrees — and the peel must still be shrinking at the last round
    (the iteration is load-bearing, not converged-trivial)."""
    from piper_spark.functions.graphs import KCORE_K, KCORE_ROUNDS

    out = {
        r["doc_id"]: r["deg"]
        for r in registry.all_queries()["graph_kcore"](
            spark, SF_SMOKE
        ).collect()
    }
    alive = set(adjacency)
    sizes = [len(alive)]
    deg: dict[int, int] = {}
    for _ in range(KCORE_ROUNDS):
        deg = {
            u: sum(1 for v in adjacency[u] if v in alive)
            for u in alive
        }
        alive = {u for u, d in deg.items() if d >= KCORE_K}
        sizes.append(len(alive))
    assert out == {u: deg[u] for u in alive}
    assert sizes[-1] < sizes[-2], sizes  # still peeling at the last round


def test_lpa_matches_bruteforce_propagation(spark, adjacency):
    """Round-9: deterministic LPA (most-frequent neighbor label, ties
    to the smallest) must equal a direct Python propagation over the
    same adjacency, and must still be coarsening at the last round."""
    from collections import Counter

    from piper_spark.functions.graphs import LPA_ROUNDS

    out = {
        r["doc_id"]: r["community"]
        for r in registry.all_queries()["graph_lpa"](
            spark, SF_SMOKE
        ).collect()
    }
    lab = {u: u for u in adjacency}
    k_prev = len(set(lab.values()))
    for _ in range(LPA_ROUNDS):
        k_prev = len(set(lab.values()))
        lab = {
            u: min(
                l
                for l, c in Counter(lab[v] for v in adjacency[u]).items()
                if c == max(Counter(lab[v] for v in adjacency[u]).values())
            )
            for u in adjacency
        }
    assert out == lab
    assert len(set(lab.values())) < k_prev  # still coarsening


def test_graph_fixpoint_optins_match_bruteforce(spark, adjacency):
    """Round-10 (VERDICT item 5): the to_fixpoint=True opt-ins must
    EXECUTE to convergence (replacing the docstrings' prose promise)
    and agree with direct Python iteration of the same rules.

    - BFS: frontier exhaustion — full reachable set, true hop levels
      (the per-round row count is the convergence scalar).
    - k-core: peel until no node drops; this fixture's 4-core is
      EMPTY, so the fixpoint must return zero survivors while the
      fixed-round key returns 194 — the opt-in provably iterates
      further.
    - LPA / PageRank: synchronous LPA 2-cycles and integer PageRank
      sits in an ~20-unit limit cycle on this fixture (measured), so
      their caps are load-bearing: with a small max-rounds cap the
      output must equal brute force at exactly that round; PageRank
      with a TOLERANCE must stop at the first round whose Σ|Δ| is
      within it."""
    from collections import Counter, deque

    from piper_spark.functions.graphs import (
        BFS_SOURCE_MOD,
        KCORE_K,
        PR_SCALE,
        graph_bfs,
        graph_kcore,
        graph_lpa,
        graph_pagerank,
        link_edges,
    )

    # --- BFS to frontier exhaustion
    fwd: dict[int, set[int]] = {}
    edges = [(r["src"], r["dst"]) for r in link_edges(spark, SF_SMOKE).collect()]
    for s, d in edges:
        fwd.setdefault(s, set()).add(d)
    sources = [d for d in range(500) if d % BFS_SOURCE_MOD == 0]
    dist = {s: 0 for s in sources}
    q = deque(sources)
    while q:
        u = q.popleft()
        for v in fwd.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    got = {
        r["doc_id"]: r["dist"]
        for r in graph_bfs(spark, SF_SMOKE, to_fixpoint=True).collect()
    }
    assert got == dist
    assert max(dist.values()) > 3  # genuinely beyond the fixed rounds

    # --- k-core to fixpoint (empty 4-core on this fixture)
    alive = set(adjacency)
    while True:
        deg = {u: sum(1 for v in adjacency[u] if v in alive) for u in alive}
        new = {u for u, d in deg.items() if d >= KCORE_K}
        if new == alive:
            break
        alive = new
    fix = graph_kcore(spark, SF_SMOKE, to_fixpoint=True).collect()
    assert {r["doc_id"]: r["deg"] for r in fix} == {
        u: deg[u] for u in alive
    }
    assert len(fix) == 0 and len(alive) == 0  # measured: empty 4-core

    # --- LPA capped at 5 rounds == brute force round 5
    lab = {u: u for u in adjacency}
    for _ in range(5):
        nl = {}
        for u in adjacency:
            c = Counter(lab[v] for v in adjacency[u])
            m = max(c.values())
            nl[u] = min(l for l, cc in c.items() if cc == m)
        lab = nl
    got_lpa = {
        r["doc_id"]: r["community"]
        for r in graph_lpa(spark, SF_SMOKE, to_fixpoint=True, max_rounds=5).collect()
    }
    assert got_lpa == lab

    # --- PageRank with tolerance stops at the first within-tol round
    outdeg = Counter(s for s, _ in edges)
    rank = {i: PR_SCALE for i in range(500)}
    TOL = 10**12
    rounds = 0
    while True:
        rounds += 1
        contrib: dict[int, int] = {}
        for u, v in edges:
            contrib[v] = contrib.get(v, 0) + rank[u] // outdeg[u]
        new = {i: (15 * PR_SCALE + 85 * contrib.get(i, 0)) // 100 for i in range(500)}
        delta = sum(abs(new[i] - rank[i]) for i in new)
        rank = new
        if delta <= TOL:
            break
    assert 3 < rounds < 60  # the tol path genuinely iterates & stops
    got_pr = {
        r["doc_id"]: r["pagerank"]
        for r in graph_pagerank(
            spark, SF_SMOKE, to_fixpoint=True, tol=TOL
        ).collect()
    }
    assert got_pr == rank


def test_graph_cores_run_on_arbitrary_edge_relations(spark):
    """Round-10 (VERDICT item 7): the factored cores must accept ANY
    (src, dst) edge relation — not just the synthesized link graph —
    and agree with direct Python computation on a tiny skewed graph
    with a hub (node 0 connected to everyone)."""
    from collections import Counter

    from piper_spark.functions.graphs import (
        kcore_degrees,
        lpa_communities,
        neighbor_jaccard_scores,
        triangle_counts,
        undirected,
    )

    # hub 0 — {1..6}, plus a triangle 1-2-3 and a pendant 7-1
    raw = [(0, i) for i in range(1, 7)] + [(1, 2), (2, 3), (1, 3), (7, 1)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    sym = undirected(edges)

    tri = {r["node"]: r["n_triangles"] for r in triangle_counts(sym).collect()}
    # triangles: (0,1,2),(0,2,3),(0,1,3),(1,2,3)
    assert tri == {0: 3, 1: 3, 2: 3, 3: 3}

    adj: dict[int, set[int]] = {}
    for s, d in raw:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)

    deg3 = kcore_degrees(sym, k=3, rounds=10).collect()
    survivors = {r["u"]: r["d"] for r in deg3 if r["d"] >= 3}
    alive = set(adj)
    for _ in range(10):
        dd = {u: sum(1 for v in adj[u] if v in alive) for u in alive}
        alive = {u for u, d in dd.items() if d >= 3}
    assert survivors == {u: dd[u] for u in alive} and 0 in survivors

    labs = {r["id"]: r["lab"] for r in lpa_communities(sym, rounds=2).collect()}
    lab = {u: u for u in adj}
    for _ in range(2):
        nl = {}
        for u in adj:
            c = Counter(lab[v] for v in adj[u])
            m = max(c.values())
            nl[u] = min(l for l, cc in c.items() if cc == m)
        lab = nl
    assert labs == lab

    nj = {(r["x"], r["y"]): r["common"]
          for r in neighbor_jaccard_scores(sym).collect()}
    # 1 and 2 share neighbors {0, 3}; 2 and 3 share {0, 1}; 1 and 3 share {0, 2}
    assert nj[(1, 2)] == 2 and nj[(2, 3)] == 2 and nj[(1, 3)] == 2


def test_graph_cc_fixed_rounds_reach_true_components(spark):
    """Round-10 graph_cc: fixed-CC_ROUNDS labels must equal the TRUE
    components from the fixpoint engine (the graph converges in 7
    effective rounds on the fixture — measured), the fixpoint opt-in
    must agree, and the mid-round labels must still be moving (the
    iteration is load-bearing, not converged by round 5)."""
    import pyspark.sql.functions as F

    from piper_spark.functions.dedup import connected_components
    from piper_spark.functions.graphs import graph_cc, link_edges, undirected
    from piper_spark.session import table
    from tests.conftest import SF_SMOKE

    out = {r.doc_id: (r.comp_mid, r.component)
           for r in graph_cc(spark, SF_SMOKE).collect()}
    sym = undirected(link_edges(spark, SF_SMOKE)).select(
        F.col("u"), F.col("v")
    )
    nodes = table(spark, SF_SMOKE, "documents").select(
        F.col("doc_id").alias("id")
    )
    truth = {r.id: r.component
             for r in connected_components(sym, nodes, max_iters=40).collect()}
    assert {k: v[1] for k, v in out.items()} == truth
    fix = {r.id: r.component
           for r in graph_cc(spark, SF_SMOKE, to_fixpoint=True).collect()}
    assert fix == truth
    assert any(mid != comp for mid, comp in out.values())
    with pytest.raises(RuntimeError, match="did not converge"):
        graph_cc(spark, SF_SMOKE, to_fixpoint=True, max_rounds=2)


def test_graph_cc_fires_no_job_while_it_builds(spark):
    """All CC_ROUNDS rounds build as one lazy query: building the frame
    runs no Spark job; the rounds run in the action."""
    from piper_spark.functions.graphs import graph_cc
    from piper_spark.session import table

    table(spark, SF_SMOKE, "documents")  # a table's first read infers its schema
    sc = spark.sparkContext
    group = "test_graph_cc:build"
    sc.setJobGroup(group, "graph_cc build")
    try:
        df = graph_cc(spark, SF_SMOKE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert df.count() > 0


def test_graph_cc_result_survives_clear_cache(spark):
    """graph_cc's frame reads no cache or checkpoint the call made, so
    it can be re-read after a global `clearCache()`."""
    from piper_spark.functions.graphs import graph_cc

    df = graph_cc(spark, SF_SMOKE)
    n = df.count()
    spark.catalog.clearCache()
    assert df.count() == n


def test_connected_components_plan_does_not_grow_with_rounds(spark):
    """A path of n nodes converges at round n.  Rounds 6 and 11 sit at
    the same offset after a plan truncation, so the returned frame's
    analyzed plan must have as many leaves at 11 rounds as at 6;
    without truncation the leaves double every round."""
    from piper_spark.functions.graphs import connected_components

    def leaves(n: int) -> int:
        und = [(i, i + 1) for i in range(n - 1)]
        edges = spark.createDataFrame(und + [(v, u) for u, v in und], "u long, v long")
        verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
        comp = connected_components(edges, verts)
        assert sorted(comp.collect()) == [(i, 0) for i in range(n)]
        return comp._jdf.queryExecution().analyzed().collectLeaves().size()

    assert leaves(11) <= leaves(6)


@pytest.mark.xfail(
    strict=True,
    reason="the loop releases the local checkpoints its result's lineage "
    "reads, so a recompute after clearCache() cannot find them; one "
    "lifetime for caches and checkpoints is ROADMAP item 3",
)
def test_connected_components_result_survives_clear_cache(spark):
    """A returned frame can be re-read after a global `clearCache()`."""
    from piper_spark.functions.graphs import connected_components

    und = [(i, i + 1) for i in range(6)]
    edges = spark.createDataFrame(und + [(v, u) for u, v in und], "u long, v long")
    verts = spark.createDataFrame([(i,) for i in range(7)], "id long")
    comp = connected_components(edges, verts)
    assert comp.count() == 7
    spark.catalog.clearCache()
    assert comp.count() == 7


def _stored_rdds(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


@pytest.mark.parametrize(
    "key",
    [
        "graph_pagerank",
        "graph_bfs",
        "graph_kcore",
        "graph_lpa",
        "graph_cc",
        "dedup_clusters",
        "pipeline_near_dedup",
    ],
)
def test_iterative_key_leaves_no_storage_after_clear_cache(spark, key):
    """Build, run, `clearCache()`: no RDD blocks may remain that were
    not stored before.  Local checkpoints are outside the cache
    manager, so this fails for any checkpoint the loop does not
    release itself."""
    import time

    before = _stored_rdds(spark)
    registry.all_queries()[key](spark, SF_SMOKE).write.format("noop").mode(
        "overwrite"
    ).save()
    spark.catalog.clearCache()
    deadline = time.monotonic() + 10  # block removal is asynchronous
    while (left := _stored_rdds(spark) - before) and time.monotonic() < deadline:
        time.sleep(0.2)
    assert not left
