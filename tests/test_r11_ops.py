"""Round-11 operator tests.

Early waves: in-loop release of dead iterative generations (VERDICT
r10 ask #3), lineage truncation on deep walks, the eager-cleanup
default for the r10 corpus pins (ADVICE r10), the pareto staircase's
distributed-prefix scale path, personalized PageRank, weighted
Jaccard/tf-cosine, SymSpell linkage, RRF fusion, rollup cascade, MI,
robust MAD, association rules, eventually-follows, absence anti-join.

Late waves: TF-IDF keywords, PMI collocations, the two-sample suite on
the shared frozen-tile prefix (Wasserstein-1, Mann-Whitney, Spearman),
chi² + Cramér's V, the FD audit, Kaplan-Meier survival, exact-integer
HITS, golden-record survivorship, vocabulary growth, the Benford
screen, and lag-k autocorrelation. Every operator gets a hand model
plus a property/replay test; plan shapes are pinned where the oracle
can't see them.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _n_cache_entries(spark) -> int:
    """Live cache-manager entries (the .cache()/persist() pins — the
    storage-tab signal, minus GC-managed localCheckpoint blocks)."""
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


# ------------------------------------------ in-loop dead-generation release


def test_bfs_hops_releases_dead_frontiers_in_loop(spark):
    """VERDICT r10 ask #3: on a deep path graph the per-round storage
    footprint stays bounded — at each round's start only the
    adjacency, the current visited set, and the current frontier hold
    cached blocks (frontier h−1 is unpersisted once round h's visited
    materializes). Before the fix, every round's frontier stayed
    pinned to function exit (2h+1 frames by round h)."""
    from transe_pyspark_spark.operators import graph

    spark.catalog.clearCache()
    path = [(i, i + 1) for i in range(10)]  # 0-1-...-10
    edges = spark.createDataFrame(path, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")

    observed = []
    real = graph._bfs_frontier

    def spy(adj, frontier, visited, h):
        observed.append(_n_cache_entries(spark))
        return real(adj, frontier, visited, h)

    graph._bfs_frontier = spy
    try:
        got = {r["node"]: r["hops"] for r in graph.bfs_hops(edges, seeds, 7).collect()}
    finally:
        graph._bfs_frontier = real
    assert got == {i: i for i in range(8)}  # hops = index, bounded at 7
    assert len(observed) == 7
    # round 1 sees adj + seeds(=visited=frontier) = 2; later rounds
    # adj + visited + frontier = 3 (after the cadence lineage
    # truncation the frontier is a filter view of visited, so 2) —
    # never the accumulating 2h+1
    assert max(observed) <= 3, f"dead frontiers left pinned: {observed}"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "bfs_hops exited with cache-manager entries pinned"
    )


def test_sssp_rounds_releases_dead_rounds_in_loop(spark):
    """Same contract for the weighted loop: round r−1's relaxed frame
    is released once round r's materializes — mid-loop storage is the
    adjacency + one live round, not one frame per round."""
    from transe_pyspark_spark.operators import graph

    spark.catalog.clearCache()
    path = [(i, i + 1, 10 + i) for i in range(10)]
    edges = spark.createDataFrame(path, "src long, dst long, w long")
    seeds = spark.createDataFrame([(0,)], "node long")

    observed = []
    real = graph._sssp_relax

    def spy(adj, frontier, dist):
        observed.append(_n_cache_entries(spark))
        return real(adj, frontier, dist)

    graph._sssp_relax = spy
    try:
        got = {r["node"]: r["cost"] for r in graph.sssp_rounds(edges, seeds, 7).collect()}
    finally:
        graph._sssp_relax = real
    want = {0: 0}
    for i in range(7):
        want[i + 1] = want[i] + 10 + i
    assert got == want
    assert len(observed) == 7
    assert max(observed) <= 3, f"dead rounds left pinned: {observed}"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "sssp_rounds exited with cache-manager entries pinned"
    )


def test_deep_walks_cross_lineage_checkpoint_boundary(spark):
    """Walks longer than _LINEAGE_CHECKPOINT_EVERY rounds cross the
    localCheckpoint truncation path; results are identical to the
    short-walk recurrences (the truncation is pure bookkeeping)."""
    from transe_pyspark_spark.operators.graph import (
        _LINEAGE_CHECKPOINT_EVERY,
        bfs_hops,
        sssp_rounds,
    )

    depth = _LINEAGE_CHECKPOINT_EVERY + 3
    path = [(i, i + 1) for i in range(depth + 2)]
    edges = spark.createDataFrame(path, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["hops"] for r in bfs_hops(edges, seeds, depth).collect()}
    assert got == {i: i for i in range(depth + 1)}

    wedges = spark.createDataFrame(
        [(a, b, 7) for a, b in path], "src long, dst long, w long"
    )
    costs = {r["node"]: r["cost"] for r in sssp_rounds(wedges, seeds, depth).collect()}
    assert costs == {i: 7 * i for i in range(depth + 1)}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# ------------------------------------- pareto staircase distributed prefix


def test_pareto_frontier_continuous_x_matches_bruteforce(spark):
    """VERDICT r10 ask #2: with a CONTINUOUS x (every row its own x
    value — the per-x aggregate is corpus-sized) the staircase must
    still equal the quadratic NOT-EXISTS definition, including
    duplicate extremes and cross-partition staircase steps."""
    import random

    from transe_pyspark_spark.operators.relational import pareto_frontier_2d

    rng = random.Random(23)
    pts = [(i, rng.random() * 1000.0, rng.randrange(1000)) for i in range(500)]
    pts += [(9000, -1.0, 5), (9001, -1.0, 5)]  # duplicate extreme pair
    df = spark.createDataFrame(pts, "pid long, x double, y long")
    got = sorted(r.pid for r in pareto_frontier_2d(df, "x", "y").collect())
    want = sorted(
        p[0]
        for p in pts
        if not any(
            q[1] <= p[1] and q[2] <= p[2] and (q[1] < p[1] or q[2] < p[2])
            for q in pts
        )
    )
    assert got == want
    assert 9000 in got and 9001 in got


def test_pareto_plan_has_no_pidless_x_window(spark):
    """The staircase prefix-min must ride the distributed prefix:
    every window ordered on the x column also partitions on __pid — a
    pid-less x window funnels the (corpus-sized for continuous x)
    per-x aggregate through one task (the ks_statistic contract)."""
    from transe_pyspark_spark.operators.relational import pareto_frontier_2d

    df = spark.createDataFrame(
        [(i, float(i), (37 * i) % 11) for i in range(200)], "pid long, x double, y long"
    )
    plan = pareto_frontier_2d(df, "x", "y")._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    bad = [
        line.strip()[:120]
        for line in plan.splitlines()
        if "windowspecdefinition(x#" in line and "__pid#" not in line
    ]
    assert not bad, bad


# ------------------------------------------------- personalized PageRank


def _ppr_model(edge_list, seeds, iters=3):
    """Pure-python exact-integer PPR twin of
    personalized_pagerank_integer (same div semantics)."""
    from collections import defaultdict

    out = defaultdict(list)
    for s, d in edge_list:
        out[s].append(d)
    r = {v: (1_000_000 if v in seeds else 0) for v in out}
    for _ in range(iters):
        inc = defaultdict(int)
        for u, ds in out.items():
            c = r[u] // len(ds)
            for d in ds:
                inc[d] += c
        r = {
            v: (150_000 if v in seeds else 0) + (85 * inc.get(v, 0)) // 100
            for v in out
        }
    return r


def test_personalized_pagerank_matches_python_model(spark):
    """Random doubled graph + seed cohort: exact-integer PPR is a pure
    function of (edges, seeds) — Spark must equal the python model
    bit-for-bit, including nodes the rank ball hasn't reached (0)."""
    import random

    from transe_pyspark_spark.operators.graph import personalized_pagerank_integer

    rng = random.Random(11)
    und = {(a, b) for a, b in ((rng.randrange(30), rng.randrange(30)) for _ in range(60)) if a != b}
    edge_list = [(a, b) for a, b in und] + [(b, a) for a, b in und]
    seeds = [0, 1, 2]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    sd = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {
        r["node"]: r["rank_micro"]
        for r in personalized_pagerank_integer(edges, sd, iterations=3).collect()
    }
    assert got == _ppr_model(edge_list, set(seeds))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_personalized_pagerank_mass_stays_in_seed_component(spark):
    """Two disconnected triangles, seeds only in the first: the second
    component's ranks are exactly 0 at every node (the restart vector
    is the ONLY mass source), and seed-component ranks are positive."""
    from transe_pyspark_spark.operators.graph import personalized_pagerank_integer

    tri = lambda o: [(o, o + 1), (o + 1, o + 2), (o + 2, o)]  # noqa: E731
    und = tri(0) + tri(10)
    edge_list = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    sd = spark.createDataFrame([(0,)], "node long")
    got = {
        r["node"]: r["rank_micro"]
        for r in personalized_pagerank_integer(edges, sd, iterations=4).collect()
    }
    assert all(got[n] == 0 for n in (10, 11, 12))
    assert got[0] > got[1] > 0 and got[1] == got[2]


def test_personalized_pagerank_rejects_dangling(spark):
    from transe_pyspark_spark.operators.graph import personalized_pagerank_integer

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")  # 2 dangles
    sd = spark.createDataFrame([(1,)], "node long")
    with pytest.raises(ValueError, match="dangling"):
        personalized_pagerank_integer(edges, sd)


# --------------------------------------- eager-cleanup for r10 corpus pins


def test_r10_corpus_ops_default_eager_cleanup_releases_pins(spark):
    """ADVICE r10 (medium): bm25_scores / source_divergence /
    semantic_near_pairs with the library default leave the cache
    manager EMPTY after returning — repeated calls no longer
    accumulate corpus-sized pinned caches. Values match the lazy
    (plan-gate) form exactly."""
    import numpy as np

    from transe_pyspark_spark.functions.text import bm25_scores, source_divergence
    from transe_pyspark_spark.operators.similarity import semantic_near_pairs

    spark.catalog.clearCache()
    docs = spark.createDataFrame(
        [
            (1, "spark joins streams", "a"),
            (2, "joins joins windows", "a"),
            (3, "vector hash windows stream", "b"),
            (4, "totally unrelated prose", "b"),
        ],
        "doc_id long, text string, source string",
    )
    terms = ["joins", "stream"]
    eager = {r["doc_id"]: r for r in bm25_scores(docs, terms).collect()}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "bm25_scores default left the tokenization pinned"
    )
    lazy_df = bm25_scores(docs, terms, eager_cleanup=False)
    lazy = {r["doc_id"]: r for r in lazy_df.collect()}
    assert not spark._jsparkSession.sharedState().cacheManager().isEmpty()
    spark.catalog.clearCache()
    assert {k: (v["n_matched_terms"], v["score"]) for k, v in eager.items()} == {
        k: (v["n_matched_terms"], v["score"]) for k, v in lazy.items()
    }

    sd = {r["source"]: r for r in source_divergence(docs).collect()}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "source_divergence default left the (source, token) pin"
    )
    assert set(sd) == {"a", "b"} and all(r["entropy"] is not None for r in sd.values())

    rng = np.random.default_rng(3)
    base = rng.normal(size=8)
    rows = [(0, [float(x) for x in base]), (1, [float(x) for x in base * 2.0])] + [
        (i, [float(x) for x in rng.normal(size=8)]) for i in range(2, 40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = semantic_near_pairs(emb, threshold=0.99, n_cells=2, n_assign=2).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "semantic_near_pairs default left the assignment pinned"
    )
    assert any((r["id_a"], r["id_b"]) == (0, 1) for r in pairs)


# --------------------------------- weighted (tf) similarity — r11 widen


def _tf_docs(spark):
    # d1/d4 exact dups; d2 shares terms at different multiplicities;
    # d3 disjoint. Hand math:
    #   wJ(1,2) = (min(3,2)+min(1,2)) / (4+4-3) = 3/5 = 0.6  (boundary!)
    #   wJ(1,4) = 4/4 = 1.0, wJ(2,4) = 0.6, d3 pairs unreachable
    #   cos(1,2) = (3·2+1·2)/(√10·√8) = 8/√80 ≈ 0.894427
    rows = [(1, "a a a b"), (2, "a a b b"), (3, "c"), (4, "a a a b")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_weighted_jaccard_hand_model(spark):
    from transe_pyspark_spark.operators import dedup as D

    got = {
        (r["doc_a"], r["doc_b"]): r["wjaccard"]
        for r in D.weighted_jaccard_pairs(_tf_docs(spark), 0.6).collect()
    }
    assert got == {(1, 2): 0.6, (1, 4): 1.0, (2, 4): 0.6}


def test_weighted_jaccard_prefix_matches_exact(spark):
    """The occurrence-expansion prefix path returns the identical pair
    set — including the t·n boundary pair (wJ exactly 0.6), which
    exercises the eps-nudged ceil in the shared PPJoin pipeline."""
    from transe_pyspark_spark.operators import dedup as D

    docs = _tf_docs(spark)
    exact = sorted(map(tuple, D.weighted_jaccard_pairs(docs, 0.6).collect()))
    prefix = sorted(map(tuple, D.weighted_jaccard_prefix_pairs(docs, 0.6).collect()))
    assert exact == prefix and len(exact) == 3


def test_tf_cosine_hand_model(spark):
    import math

    from transe_pyspark_spark.operators import dedup as D

    got = {
        (r["doc_a"], r["doc_b"]): r["tf_cosine"]
        for r in D.tf_cosine_pairs(_tf_docs(spark), 0.85).collect()
    }
    expected = round(8.0 / (math.sqrt(10.0) * math.sqrt(8.0)), 6)
    assert got == {(1, 2): expected, (1, 4): 1.0, (2, 4): expected}


def test_weighted_similarity_guards(spark):
    """The exact paths are guarded eager (require_bounded_input) and
    reject threshold <= 0 (disjoint pairs are unreachable by
    construction — a 0-threshold call would be silently incomplete)."""
    from pyspark.sql import functions as F

    from transe_pyspark_spark.operators import dedup as D

    big = spark.range(10_001).select(
        F.col("id").alias("doc_id"), F.lit("x y").alias("text")
    )
    with pytest.raises(ValueError, match="allow_quadratic"):
        D.weighted_jaccard_pairs(big, 0.6).collect()
    with pytest.raises(ValueError, match="allow_quadratic"):
        D.tf_cosine_pairs(big, 0.9).collect()
    small = _tf_docs(spark)
    with pytest.raises(ValueError, match="threshold > 0"):
        D.weighted_jaccard_pairs(small, 0.0)
    with pytest.raises(ValueError, match="threshold > 0"):
        D.tf_cosine_pairs(small, -1.0)


# ------------------------------ unigram NLL quality screen — r11 widen


def test_unigram_nll_hand_model(spark):
    """Tiny corpus: 'a' has corpus prob 4/6, 'b' 1/6, 'c' 1/6 — hand
    math replayed through the nano-quantization contract."""
    import math

    from transe_pyspark_spark.functions.text import unigram_nll

    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "a c")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["mean_nll"])
        for r in unigram_nll(docs).collect()
    }

    def nano(tf, q):
        return round(tf * math.log(q) * 1e9)

    d1 = -(nano(3, 4 / 6) + nano(1, 1 / 6)) / 1e9 / 4
    d2 = -(nano(1, 4 / 6) + nano(1, 1 / 6)) / 1e9 / 2
    assert got == {1: (4, round(d1, 4)), 2: (2, round(d2, 4))}
    # boilerplate (all-common-token) doc scores LOWER than a rare-token
    # doc — the direction the quality screen relies on
    assert got[1][1] < got[2][1]


def test_unigram_nll_eager_cleanup_releases_pin(spark):
    from transe_pyspark_spark.functions.text import unigram_nll

    spark.catalog.clearCache()
    docs = spark.createDataFrame([(1, "x y"), (2, "y z")], "doc_id long, text string")
    out = unigram_nll(docs)  # default eager_cleanup=True
    assert out.count() == 2
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "unigram_nll leaked its corpus-sized (doc, token) pin"
    )


# --------------------------------- SCD2 point-in-time join — r11 widen


def test_pit_join_picks_version_valid_at_event_time(spark):
    """Each fact matches exactly the version covering its timestamp:
    inclusive at valid_from, exclusive at valid_to, open version for
    the tail; 'left' keeps facts predating the first version."""
    from transe_pyspark_spark.operators.relational import pit_join

    dim = spark.createDataFrame(
        [
            (7, "old", "2024-01-01", "2024-01-16"),
            (7, "new", "2024-01-16", None),
            (8, "only", "2024-01-10", None),
        ],
        "k long, attr string, valid_from string, valid_to string",
    ).selectExpr(
        "k", "attr", "cast(valid_from as date) valid_from", "cast(valid_to as date) valid_to"
    )
    facts = spark.createDataFrame(
        [
            (1, 7, "2024-01-15 23:59:59"),  # last instant of v1
            (2, 7, "2024-01-16 00:00:00"),  # valid_from is INCLUSIVE -> v2
            (3, 8, "2024-01-09 12:00:00"),  # predates first version
        ],
        "fid long, key long, ts string",
    ).selectExpr("fid", "key", "cast(ts as timestamp) ts")

    inner = {
        (r["fid"], r["attr"])
        for r in pit_join(facts, dim, "key", "k", "ts").collect()
    }
    assert inner == {(1, "old"), (2, "new")}
    left = {
        r["fid"]: r["attr"]
        for r in pit_join(facts, dim, "key", "k", "ts", how="left").collect()
    }
    assert left == {1: "old", 2: "new", 3: None}


def test_weighted_jaccard_3gram_hand_model(spark):
    """Gram multiset math: d1 = 3x'x y z' pasted (grams xyz:3 yzx:2
    zxy:2, len 7), d2 = 2x (xyz:2 yzx:1 zxy:1, len 4) ->
    wJ = (2+1+1)/(7+4-4) = 4/7 — repeated-paragraph inflation visible
    at gram granularity; prefix path identical to exact."""
    from transe_pyspark_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(1, "x y z x y z x y z"), (2, "x y z x y z"), (3, "p q r")],
        "doc_id long, text string",
    )
    expect = {(1, 2): round(4 / 7, 6)}
    exact = {
        (r["doc_a"], r["doc_b"]): r["wjaccard"]
        for r in D.weighted_jaccard_pairs(docs, 0.5, shingle_n=3).collect()
    }
    prefix = {
        (r["doc_a"], r["doc_b"]): r["wjaccard"]
        for r in D.weighted_jaccard_prefix_pairs(docs, 0.5, shingle_n=3).collect()
    }
    assert exact == expect and prefix == expect


# --------------------------------------- BM25 top-k retrieval — r11 widen


def test_bm25_topk_ranks_and_bound(spark):
    """Each query's result is exactly ranks 1..k by (rounded score
    desc, doc_id) with no score inversions; k bounds the list."""
    from transe_pyspark_spark.functions.text import bm25_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = bm25_topk(
        docs, {"q1": ["hash", "join"], "q2": ["stream"]}, k=5
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {"q1", "q2"}
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, 6))
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True), f"{q} score inversion"
        # tiebreak: equal scores must be doc_id-ascending
        for a, b in zip(rows, rows[1:]):
            if a["score"] == b["score"]:
                assert a["doc_id"] < b["doc_id"]


def test_bm25_topk_plan_uses_window_group_limit(spark):
    """The per-query top-k must plan the partial WindowGroupLimit —
    O(k) state per partition before the shuffle, never a full sort of
    a query's candidate list."""
    from transe_pyspark_spark.functions.text import bm25_topk
    from transe_pyspark_spark.plans.contract import explain_text

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = bm25_topk(docs, {"q": ["hash"]}, k=3, eager_cleanup=False)
    assert "WindowGroupLimit" in explain_text(df)


# ------------------------------------ winnowing fingerprints — r11 widen


def test_winnow_guarantee_shared_run_detected(spark):
    """The winnowing guarantee: any shared run of >= w+k-1 = 6 words
    yields at least one shared fingerprint, wherever the run sits in
    each document — and unrelated docs share none."""
    from transe_pyspark_spark.operators import dedup as D

    run = "alpha beta gamma delta epsilon zeta"  # 6 shared words
    docs = spark.createDataFrame(
        [
            (1, f"one two three {run} four five six"),
            (2, f"seven eight {run} nine ten eleven twelve"),
            (3, "totally different words entirely unrelated here now"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in D.winnow_pairs(docs, min_shared=1).collect()
    }
    assert (1, 2) in got and got[(1, 2)] >= 1
    assert all(3 not in pair for pair in got)


def test_winnow_fingerprints_match_python_replay(spark):
    """Bit-exact replay of the Arrow kernel in pure Python: word poly
    hashes (base 131, init 7), gram combine (base 131313), window-of-4
    minima with the short-doc boundary rule."""
    from transe_pyspark_spark.operators import dedup as D

    M = (1 << 31) - 1
    texts = {1: "a b c d e f g h", 2: "x y z"}  # long + shorter-than-window

    def replay(text, k=3, w=4):
        ws = [x for x in text.split(" ") if x]
        wh = []
        for word in ws:
            acc = 7
            for ch in word:
                acc = (acc * 131 + ord(ch)) % M
            wh.append(acc)
        grams = []
        for i in range(len(wh) - k + 1):
            acc = wh[i]
            for j in range(1, k):
                acc = (acc * 131313 + wh[i + j]) % M
            grams.append(acc)
        if len(grams) <= w:
            return {min(grams)}
        return {min(grams[i : i + w]) for i in range(len(grams) - w + 1)}

    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    rows = D.winnow_fingerprint_rows_arrow(docs).collect()
    got = {}
    for r in rows:
        got.setdefault(r["doc_id"], set()).add(r["fp"])
        assert r["n_fps"] == len(replay(texts[r["doc_id"]]))
    assert got == {d: replay(t) for d, t in texts.items()}


# --------------------------------------------- PSI drift — r11 widen


def test_psi_drift_hand_model(spark):
    """Hand math with an EMPTY bucket on one side (the case that
    killed the unsmoothed form): a = {0:3, 1:1}, b = {0:1, 2:3},
    B = 3 observed buckets, Laplace add-one on both sides."""
    import math

    from transe_pyspark_spark.operators.relational import psi_drift
    from pyspark.sql import functions as F

    a = spark.createDataFrame([(0,), (0,), (0,), (1,)], "v long")
    b = spark.createDataFrame([(0,), (2,), (2,), (2,)], "v long")
    row = psi_drift(a, b, F.col("v")).collect()[0]
    assert (row["n_a"], row["n_b"], row["n_buckets"]) == (4, 4, 3)

    def term(ca, cb, na=4, nb=4, B=3):
        p = (ca + 1) / (na + B)
        q = (cb + 1) / (nb + B)
        return round((p - q) * math.log(p / q) * 1e9)

    nano = term(3, 1) + term(1, 0) + term(0, 3)
    assert row["psi"] == round(nano / 1e9, 4)
    assert row["psi"] > 0  # PSI is non-negative, strictly so when p != q


def test_psi_drift_identical_distributions_near_zero(spark):
    from transe_pyspark_spark.operators.relational import psi_drift
    from pyspark.sql import functions as F

    a = spark.createDataFrame([(i % 5,) for i in range(100)], "v long")
    row = psi_drift(a, a, F.col("v")).collect()[0]
    assert row["psi"] == 0.0


# ------------------------------------------------ symmetric-delete edit join


def _py_levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_symmetric_delete_pairs_matches_bruteforce(spark):
    """Completeness + exactness at both supported radii against a
    Python brute force, on names engineered to exercise every edit
    kind (substitution, insertion, deletion) plus far-apart pairs."""
    from transe_pyspark_spark.operators.linkage import symmetric_delete_pairs

    names = [
        "kettle", "kettlz", "kettl", "kettles",  # sub / del / ins of 0
        "bottle", "bottles", "botle",            # ins / del
        "kelp", "whale", "xylophone", "a", "ab",
    ]
    rows = [(i, n) for i, n in enumerate(names)]
    df = spark.createDataFrame(rows, "id long, name string")
    for d in (1, 2):
        want = sorted(
            (i, j, _py_levenshtein(a, b))
            for i, a in rows
            for j, b in rows
            if i < j and _py_levenshtein(a, b) <= d
        )
        got = sorted(
            (r["id_a"], r["id_b"], r["distance"])
            for r in symmetric_delete_pairs(df, "id", "name", d).collect()
        )
        assert got == want, f"d={d}: {got} != {want}"


def test_symmetric_delete_pairs_rejects_large_radius(spark):
    from transe_pyspark_spark.operators.linkage import symmetric_delete_pairs

    df = spark.createDataFrame([(1, "x")], "id long, name string")
    with pytest.raises(ValueError, match="max_distance in"):
        symmetric_delete_pairs(df, "id", "name", 3)


def test_symmetric_delete_plan_is_posting_list_join(spark):
    """The oracle states the quadratic definition; the plan must not
    contain it — the join is an equi-join on the exploded deletion
    variants, never a cartesian/BNLJ over the name pairs."""
    from transe_pyspark_spark.operators.linkage import symmetric_delete_pairs

    df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    plan = symmetric_delete_pairs(df, "c_custkey", "c_name", 1)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Generate explode" in plan  # the variant posting lists


# ------------------------------------------------------- hybrid RRF fusion


def test_hybrid_rrf_hand_model(spark):
    """Exact integer nano-unit fusion on a two-list hand model: a doc
    in both lists outranks single-list docs; absent legs contribute 0;
    flags report which leg carried each doc."""
    from transe_pyspark_spark.operators.similarity import hybrid_rrf_fuse

    text = spark.createDataFrame(
        [("q0", 1, 1), ("q0", 2, 2)], "query_id string, doc_id long, rank long"
    )
    vec = spark.createDataFrame(
        [("q0", 2, 1), ("q0", 3, 2)], "query_id string, doc_id long, rank long"
    )
    got = {
        r["doc_id"]: (r["rank"], r["rrf_nano"], r["in_text"], r["in_vector"])
        for r in hybrid_rrf_fuse(text, vec, k=10).collect()
    }
    r61, r62 = 10**9 // 61, 10**9 // 62
    assert got == {
        2: (1, r61 + r62, True, True),   # both lists
        1: (2, r61, True, False),        # text only, rank 1
        3: (3, r62, False, True),        # vector only, rank 2
    }


def test_hybrid_rrf_respects_k_and_tiebreak(spark):
    """Equal-score docs order by doc_id; k truncates per query
    independently."""
    from transe_pyspark_spark.operators.similarity import hybrid_rrf_fuse

    text = spark.createDataFrame(
        [("a", 5, 1), ("a", 9, 1), ("b", 7, 3)],
        "query_id string, doc_id long, rank long",
    )
    vec = spark.createDataFrame([], "query_id string, doc_id long, rank long")
    out = hybrid_rrf_fuse(text, vec, k=1).collect()
    got = {(r["query_id"], r["doc_id"], r["rank"]) for r in out}
    assert got == {("a", 5, 1), ("b", 7, 1)}  # doc 9 ties doc 5, loses on id


# ------------------------------------------------- multi-resolution rollup


def test_multires_rollup_matches_raw_definition(spark):
    """Every cascaded level equals its definitional GROUP BY on raw —
    including NULL-value rows (counted, excluded from sums) and a week
    straddling two days."""
    from pyspark.sql import functions as F

    from transe_pyspark_spark.operators.relational import multires_rollup

    rows = [
        ("2024-01-01 10:15:00", 1.00),
        ("2024-01-01 10:45:00", 2.50),
        ("2024-01-01 23:10:00", None),      # counted, not summed
        ("2024-01-02 00:05:00", 4.00),      # next day, same ISO week
        ("2024-01-08 09:00:00", 8.00),      # next ISO week (Monday)
    ]
    df = spark.createDataFrame(rows, "ts string, value double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    cents = F.round(F.col("value") * 100, 0).cast("long")
    got = {
        (r["level"], str(r["bucket_start"]), r["n_events"], r["value_cents"])
        for r in multires_rollup(df, "ts", cents, ("hour", "day", "week")).collect()
    }
    want = set()
    for lvl in ("hour", "day", "week"):
        for r in (
            df.groupBy(F.date_trunc(lvl, "ts").alias("b"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("c"))
            .collect()
        ):
            want.add((lvl, str(r["b"]), r["n"], r["c"]))
    assert got == want
    # spot-pin the cascade arithmetic: Jan-1 week holds 4 events, 750¢
    assert ("week", "2024-01-01 00:00:00", 4, 750) in got
    assert ("week", "2024-01-08 00:00:00", 1, 800) in got


def test_multires_rollup_single_scan_and_guard(spark):
    """The returned plan holds NO raw-table scan at all — day and week
    read the checkpointed hourly partials (the continuous-aggregate
    contract: one corpus pass per call, not per level)."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from transe_pyspark_spark.operators.relational import multires_rollup

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    out = multires_rollup(ev, "ts", cents)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan, "a coarser level re-scanned the raw table"
    with _pytest.raises(ValueError, match=">= 2 levels"):
        multires_rollup(ev, "ts", cents, ("hour",))


# ------------------------------------------------------ mutual information


def test_mutual_information_hand_model(spark):
    """Perfect dependence between two binary facets carries exactly
    ln(2) nats (quantized to nano-nats then rounded to 4dp)."""
    import math

    from pyspark.sql import functions as F

    from transe_pyspark_spark.operators.relational import mutual_information

    rows = [("a", 0)] * 5 + [("b", 1)] * 5
    df = spark.createDataFrame(rows, "x string, y long")
    r = mutual_information(df, F.col("x"), F.col("y")).collect()[0]
    assert (r["n_rows"], r["n_x"], r["n_y"], r["n_cells"]) == (10, 2, 2, 2)
    assert r["mi"] == round(round(math.log(2.0) * 1e9) * 2 * 0.5 / 1e9, 4)


def test_mutual_information_independent_is_zero(spark):
    """A product distribution (every (x, y) cell = p(x)·p(y)) has MI
    exactly 0 — each term's ln argument is exactly 1."""
    from pyspark.sql import functions as F

    from transe_pyspark_spark.operators.relational import mutual_information

    rows = [(x, y) for x in ("a", "b", "c") for y in (0, 1) for _ in range(4)]
    df = spark.createDataFrame(rows, "x string, y long")
    r = mutual_information(df, F.col("x"), F.col("y")).collect()[0]
    assert r["mi"] == 0.0 and r["n_cells"] == 6


# ------------------------------------------------------ robust MAD outliers


def test_robust_outliers_hand_model(spark):
    """Known median/MAD on an odd group: values [10,11,12,13,100] →
    med 12, devs [2,1,0,1,88] → MAD 1, fence 3·1 → only 100 flags.
    The classic robustness point: one wild value cannot move the
    fence. NULL values are excluded entirely."""
    from pyspark.sql import functions as F

    from transe_pyspark_spark.operators.relational import robust_outliers

    rows = [("g", i, v) for i, v in enumerate([10.0, 11.0, 12.0, 13.0, 100.0])]
    rows.append(("g", 99, None))
    df = spark.createDataFrame(rows, "grp string, id long, v double")
    cents = F.round(F.col("v") * 100, 0).cast("long")
    r = robust_outliers(df, "grp", cents, "id", 3, 1).collect()[0]
    assert (r["n"], r["med_cents"], r["mad_cents"], r["n_outliers"]) == (5, 1200, 100, 1)


def test_robust_outliers_matches_python_model(spark):
    """Randomized multi-group check against a python twin using the
    same type-1 discrete quantile (element at ceil(n/2))."""
    import random

    from pyspark.sql import functions as F

    from transe_pyspark_spark.operators.relational import robust_outliers

    rng = random.Random(7)
    rows = [
        (f"g{g}", g * 1000 + i, float(rng.randint(-50, 500)))
        for g in range(4)
        for i in range(rng.randint(3, 40))
    ]
    df = spark.createDataFrame(rows, "grp string, id long, v double")
    cents = F.round(F.col("v") * 100, 0).cast("long")
    got = {
        r["grp"]: (r["n"], r["med_cents"], r["mad_cents"], r["n_outliers"])
        for r in robust_outliers(df, "grp", cents, "id", 3, 1).collect()
    }

    def q_disc(vals):
        s = sorted(vals)
        return s[max(1, -(-len(s) // 2)) - 1]  # ceil(n/2), 1-based

    want = {}
    for g in {r[0] for r in rows}:
        vals = [round(v * 100) for gg, _, v in rows if gg == g]
        med = q_disc(vals)
        devs = [abs(c - med) for c in vals]
        mad = q_disc(devs)
        want[g] = (len(vals), med, mad, sum(1 for d in devs if d > 3 * mad))
    assert got == want


# ---------------------------------------------------------- association rules


def test_assoc_rules_hand_model(spark):
    """Four baskets: {1,2} ×3, {1,3} ×1 → pair (1,2) support 3 keeps,
    (1,3) support 1 prunes at min_support 2. Directed math:
    conf(1→2) = 3/4, conf(2→1) = 3/3, lift = 3·4/(4·3) = 1 exactly."""
    from transe_pyspark_spark.operators.relational import assoc_rules

    rows = [(10, 1), (10, 2), (11, 1), (11, 2), (12, 1), (12, 2), (13, 1), (13, 3)]
    df = spark.createDataFrame(rows, "b long, i long")
    got = {
        (r["antecedent"], r["consequent"]): (
            r["n_ab"], r["n_a"], r["n_b"], r["conf_nano"], r["lift_nano"]
        )
        for r in assoc_rules(df, "b", "i", min_support=2).collect()
    }
    assert got == {
        (1, 2): (3, 4, 3, 750_000_000, 1_000_000_000),
        (2, 1): (3, 3, 4, 1_000_000_000, 1_000_000_000),
    }


def test_assoc_rules_dedups_repeat_items(spark):
    """A basket listing the same item twice counts it once (DISTINCT
    membership — the market-basket convention)."""
    from transe_pyspark_spark.operators.relational import assoc_rules

    rows = [(1, "x"), (1, "x"), (1, "y"), (2, "x"), (2, "y")]
    df = spark.createDataFrame(rows, "b long, i string")
    got = {(r["antecedent"], r["consequent"]): r["n_ab"]
           for r in assoc_rules(df, "b", "i", min_support=2).collect()}
    assert got == {("x", "y"): 2, ("y", "x"): 2}


def test_r11_wave5_default_eager_cleanup_releases_pins(spark):
    """The fifth-wave operators leave NO cache-manager entries behind
    under their library defaults (ADVICE r10 contract): assoc_rules
    pins its membership frame, robust_outliers its values + deviation
    frames — all released once the output-sized result materializes;
    mutual_information uses only GC-managed checkpoints (never a pin)."""
    from pyspark.sql import functions as F

    from transe_pyspark_spark.operators.relational import (
        assoc_rules,
        mutual_information,
        robust_outliers,
    )

    spark.catalog.clearCache()
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    mutual_information(ev, F.col("event_type"), F.hour("ts").cast("long")).collect()
    robust_outliers(ev, "event_type", cents, "event_id").collect()
    assoc_rules(li, "l_orderkey", "l_partkey").collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "a fifth-wave operator left a cache-manager pin behind"
    )


# ------------------------------------------------ eventually-follows matrix


def test_eventually_follows_hand_model(spark):
    """Hand-built baskets: strict first-occurrence precedence, ties
    count in neither direction, repeats collapse to the first, and
    the ratio divides by baskets CONTAINING the source type."""
    from transe_pyspark_spark.operators.sequences import eventually_follows

    rows = [
        # basket 1: a(t1) b(t2) a(t9)  -> a→b (repeat a ignored)
        (1, "a", "2024-01-01 00:00:01"),
        (1, "b", "2024-01-01 00:00:02"),
        (1, "a", "2024-01-01 00:00:09"),
        # basket 2: b(t1) a(t2)        -> b→a
        (2, "b", "2024-01-01 00:00:01"),
        (2, "a", "2024-01-01 00:00:02"),
        # basket 3: a and b at the SAME instant -> neither direction
        (3, "a", "2024-01-01 00:00:05"),
        (3, "b", "2024-01-01 00:00:05"),
        # basket 4: a only -> no pair, but counts in a's total
        (4, "a", "2024-01-01 00:00:01"),
    ]
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "bk long, event_type string, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    got = {
        (r["t_from"], r["t_to"]): (r["n_baskets"], r["n_from"], r["ratio_nano"])
        for r in eventually_follows(df, ["bk"]).collect()
    }
    assert got == {
        ("a", "b"): (1, 4, 250_000_000),  # 1 of 4 a-baskets
        ("b", "a"): (1, 3, 333_333_333),  # 1 of 3 b-baskets
    }


def test_eventually_follows_beats_adjacent_transitions(spark):
    """The defining case vs transition_counts: a → x → b is an
    eventually-follows (a, b) pair even though a and b are never
    adjacent."""
    from pyspark.sql import functions as F

    from transe_pyspark_spark.operators.sequences import eventually_follows

    rows = [(1, t, f"2024-01-01 00:00:0{i}") for i, t in enumerate(["a", "x", "b"], 1)]
    df = spark.createDataFrame(rows, "bk long, event_type string, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    got = {(r["t_from"], r["t_to"]) for r in eventually_follows(df, ["bk"]).collect()}
    assert ("a", "b") in got and ("b", "a") not in got


# ---------------------------------------------------- absence anti-join


def test_absent_followup_hand_model(spark):
    """Boundary semantics: a purchase exactly AT the trigger counts
    (inclusive lower), exactly at trigger+window does NOT (exclusive
    upper); keys with no triggers emit nothing; all-answered keys
    emit n_unanswered = 0."""
    from pyspark.sql import functions as F

    from transe_pyspark_spark.operators.asof import absent_followup

    rows = [
        # user 1: view at :00 answered at :00 (inclusive), view at :10 unanswered
        (1, "view", "2024-01-01 10:00:00"),
        (1, "purchase", "2024-01-01 10:00:00"),
        (1, "view", "2024-01-01 12:00:00"),
        # user 2: purchase lands exactly at +1h -> EXCLUSIVE, unanswered
        (2, "view", "2024-01-01 09:00:00"),
        (2, "purchase", "2024-01-01 10:00:00"),
        # user 3: purchases only -> no output row
        (3, "purchase", "2024-01-01 09:30:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    got = {
        r["user_id"]: (r["n_triggers"], r["n_unanswered"])
        for r in absent_followup(df, "view", "purchase", 3600).collect()
    }
    assert got == {1: (2, 1), 2: (1, 1)}


def test_absent_followup_plan_is_keyed_anti_join(spark):
    """The NOT-EXISTS stays in the oracle: the plan must carry the
    time window as a residual on a key-equi LeftAnti, never a
    cartesian/BNLJ."""
    from transe_pyspark_spark.operators.asof import absent_followup

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = absent_followup(ev, "view", "purchase", 3600)._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


# ------------------------------------------------ TF-IDF keyword extraction


def test_top_terms_per_doc_hand_model(spark):
    """Exact integer ordering on a 3-doc corpus: a term in every doc
    gets the minimum idf (ln(1)+1 = 1e9 nano) and loses to rarer
    terms at equal tf; ties order by term; k truncates."""
    import math

    from transe_pyspark_spark.functions.text import top_terms_per_doc

    docs = spark.createDataFrame(
        [
            (1, "common rare common zebra"),
            (2, "common plain"),
            (3, "common plain"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["rank"]): (r["term"], r["tf"], r["score_nano"])
        for r in top_terms_per_doc(docs, k=2).collect()
    }
    idf = lambda df: round((math.log((3 + 1) / (df + 1)) + 1.0) * 1e9)
    # doc 1: common tf=2 score 2e9; rare/zebra tf=1 score idf(1) ≈ 1.69e9
    assert got[(1, 1)] == ("common", 2, 2 * idf(3))
    assert got[(1, 2)] == ("rare", 1, idf(1))  # ties zebra, wins on term
    # docs 2/3: plain (df=2) beats common (df=3) at equal tf
    assert got[(2, 1)] == ("plain", 1, idf(2))
    assert got[(2, 2)] == ("common", 1, idf(3))


def test_top_terms_plan_and_cleanup(spark):
    """Lazy form keeps WindowGroupLimit (O(k) pre-shuffle state);
    eager default releases the tf pin."""
    from transe_pyspark_spark.functions.text import top_terms_per_doc

    spark.catalog.clearCache()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    lazy = top_terms_per_doc(docs, k=5, eager_cleanup=False)
    plan = lazy._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    spark.catalog.clearCache()
    top_terms_per_doc(docs, k=5).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# --------------------------------------------- Wasserstein-1 / Mann-Whitney


def test_wasserstein_1d_hand_model(spark):
    """A={0,0,10}, B={5,10,10,20}: Σ|F_a−F_b|·Δv = 95/12 exactly —
    numerators 40+25+30 over the shared denominator n_a·n_b=12, the
    globally-last value contributing nothing."""
    from transe_pyspark_spark.operators.relational import wasserstein_1d

    rows = [("a", v) for v in (0, 0, 10)] + [("b", v) for v in (5, 10, 10, 20)]
    df = spark.createDataFrame(rows, "g string, v long")
    r = wasserstein_1d(df, "g", "v", "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"], r["w1_num"]) == (3, 4, 95)
    assert r["w1"] == 95 / 12


def test_wasserstein_constant_shift_is_exact(spark):
    """W1 between a sample and its +7 translate is exactly 7 — the
    transport-units contract KS cannot make (KS saturates at the
    overlap gap regardless of distance)."""
    from transe_pyspark_spark.operators.relational import wasserstein_1d

    vals = [1, 3, 3, 8, 20, 41, 41, 41, 100]
    rows = [("a", v) for v in vals] + [("b", v + 7) for v in vals]
    df = spark.createDataFrame(rows, "g string, v long")
    r = wasserstein_1d(df, "g", "v", "a", "b", num_partitions=4).collect()[0]
    assert r["w1"] == 7.0
    assert r["w1_num"] == 7 * len(vals) * len(vals)


def test_mannwhitney_hand_model(spark):
    """A=[1,2,2,5], B=[2,3]: U_a = 0 + ½ + ½ + 2 = 3 (half credit on
    the value-2 ties), U_b = 5; doubled statistics 6 and 10 with the
    exact invariant u2_a + u2_b = 2·n_a·n_b = 16; AUC 6/16."""
    from transe_pyspark_spark.operators.relational import mannwhitney_u

    rows = [("a", v) for v in (1.0, 2.0, 2.0, 5.0)] + [("b", v) for v in (2.0, 3.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = mannwhitney_u(df, "g", "v", "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"], r["u2_a"], r["u2_b"]) == (4, 2, 6, 10)
    assert r["auc_a"] == 6 / 16


def test_mannwhitney_invariant_and_symmetry(spark):
    """On real data: u2_a + u2_b = 2·n_a·n_b term-for-term, and
    swapping the groups swaps the statistics."""
    from transe_pyspark_spark.operators.relational import mannwhitney_u

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    r = mannwhitney_u(ev, "event_type", "value", "view", "purchase").collect()[0]
    assert r["u2_a"] + r["u2_b"] == 2 * r["n_a"] * r["n_b"]
    s = mannwhitney_u(ev, "event_type", "value", "purchase", "view").collect()[0]
    assert (s["u2_a"], s["u2_b"]) == (r["u2_b"], r["u2_a"])


def test_two_sample_prefix_plan_has_no_pidless_window(spark):
    """All three siblings ride the frozen-tile prefix: no window in
    the executed plan may order without a partitionBy over the
    value-cardinality frame (the tiny __pid-ordered offset windows are
    driver-small and explicitly allowed)."""
    from transe_pyspark_spark.operators.relational import (
        mannwhitney_u,
        wasserstein_1d,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    for fn, args in (
        (wasserstein_1d, (ev, "event_type", F.round(F.col("value") * 100, 0).cast("long"), "view", "purchase")),
        (mannwhitney_u, (ev, "event_type", "value", "view", "purchase")),
    ):
        plan = fn(*args)._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            if "Window " in line and "windowspecdefinition(__v" in line:
                raise AssertionError(f"pid-less value window: {line.strip()}")


# --------------------------------------------------- chi² independence


def test_chi2_hand_model_includes_empty_cells(spark):
    """2×2 with an EMPTY cell: x=a → y only 'p'; x=b → 2×'p', 2×'q'.
    N=6, margins: n_a=2, n_b=4, n_p=4, n_q=2. Expected counts
    e = (4/3, 2/3 / 8/3, 4/3); χ² = Σ(o−e)²/e = (2−4/3)²/(4/3) +
    (0−2/3)²/(2/3) + (2−8/3)²/(8/3) + (2−4/3)²/(4/3) = 1.5 exactly —
    the (a,q) zero cell contributes its full expected mass 2/3."""
    from transe_pyspark_spark.operators.relational import chi2_independence

    rows = [("a", "p"), ("a", "p"), ("b", "p"), ("b", "p"), ("b", "q"), ("b", "q")]
    df = spark.createDataFrame(rows, "x string, y string")
    r = chi2_independence(df, F.col("x"), F.col("y")).collect()[0]
    assert (r["n_rows"], r["n_x"], r["n_y"], r["dof"]) == (6, 2, 2, 1)
    assert r["chi2"] == 1.5
    assert r["cramers_v"] == 0.5  # √(1.5/(6·1)) = 0.5 exactly


def test_chi2_exact_independence_is_zero(spark):
    """A perfectly factorized table (every (x,y) count = n_x·n_y/N)
    scores exactly 0."""
    from transe_pyspark_spark.operators.relational import chi2_independence

    rows = []
    for x, cx in (("a", 1), ("b", 2)):
        for y, cy in (("p", 1), ("q", 3)):
            rows += [(x, y)] * (cx * cy)
    df = spark.createDataFrame(rows, "x string, y string")
    r = chi2_independence(df, F.col("x"), F.col("y")).collect()[0]
    assert r["chi2"] == 0.0
    assert r["n_rows"] == 12


def test_chi2_matches_numpy_replay(spark):
    """Against a direct numpy contingency-table replay on real data
    (no continuity correction — the raw Pearson statistic)."""
    import numpy as np

    from transe_pyspark_spark.operators.relational import chi2_independence
    from transe_pyspark_spark.sources.readers import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    x, y = F.col("event_type"), (F.hour("ts") % 4).cast("long")
    r = chi2_independence(ev, x, y).collect()[0]
    pdf = ev.select(x.alias("x"), y.alias("y")).toPandas()
    ct = pdf.groupby(["x", "y"]).size().unstack(fill_value=0).to_numpy().astype(float)
    e = np.outer(ct.sum(1), ct.sum(0)) / ct.sum()
    assert abs(r["chi2"] - ((ct - e) ** 2 / e).sum()) < 1e-3


# ------------------------------------------------------ PMI collocations


def test_collocations_hand_model(spark):
    """3 docs, min_count=2: only (new,york) ×3 and (the,the) ×2
    survive; N_uni=10, N_pairs=7; PMI replayed exactly at nano
    precision with the same float expression shape."""
    import math

    from transe_pyspark_spark.functions.text import collocations

    docs = spark.createDataFrame(
        [(1, "new york new york"), (2, "new york city"), (3, "the the the")],
        "doc_id long, text string",
    )
    got = {
        (r["term_1"], r["term_2"]): (r["n_pair"], r["pmi_nano"])
        for r in collocations(docs, min_count=2).collect()
    }
    pmi = lambda c12, c1, c2: round(
        math.log((float(c12) * 10 * 10) / (7.0 * c1 * c2)) * 1e9
    )
    assert got == {
        ("new", "york"): (3, pmi(3, 3, 3)),
        ("the", "the"): (2, pmi(2, 3, 3)),
    }
    # the repeated-word bigram scores BELOW the genuine collocation
    assert got[("the", "the")][1] < got[("new", "york")][1]


def test_collocations_single_token_docs_and_cleanup(spark):
    """Docs with <2 tokens contribute no pairs (the slice guard);
    the eager default releases the token-array pin."""
    from transe_pyspark_spark.functions.text import collocations

    spark.catalog.clearCache()
    docs = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, "a b a b")], "doc_id long, text string"
    )
    rows = collocations(docs, min_count=2).collect()
    assert {(r["term_1"], r["term_2"]): r["n_pair"] for r in rows} == {
        ("a", "b"): 2
    }
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# ------------------------------------------------- FD-violation audit


def test_fd_violations_hand_model(spark):
    """det 'a' → {p,p,q}: 1 repair; det 'b' → {p,p}: satisfied,
    excluded; det 'c' → {NULL,p}: NULL is a conflicting dependent
    value (the profiler must see it)."""
    from transe_pyspark_spark.operators.quality import fd_violations

    rows = [("a", "p"), ("a", "p"), ("a", "q"), ("b", "p"), ("b", "p"),
            ("c", None), ("c", "p")]
    df = spark.createDataFrame(rows, "d string, v string")
    got = {r["det"]: (r["n_rows"], r["n_dep"], r["mode_n"], r["n_violating"])
           for r in fd_violations(df, "d", "v").collect()}
    assert got == {"a": (3, 2, 2, 1), "c": (2, 2, 1, 1)}


def test_fd_violations_repair_cost_is_minimal(spark):
    """g3 semantics: n_violating equals the brute-force minimum number
    of dependent changes per group on a random table."""
    import random
    from collections import Counter, defaultdict

    from transe_pyspark_spark.operators.quality import fd_violations

    rng = random.Random(11)
    rows = [(rng.randrange(8), rng.randrange(3)) for _ in range(400)]
    df = spark.createDataFrame(rows, "d long, v long")
    groups = defaultdict(list)
    for d, v in rows:
        groups[d].append(v)
    want = {
        d: len(vs) - Counter(vs).most_common(1)[0][1]
        for d, vs in groups.items()
        if len(vs) > Counter(vs).most_common(1)[0][1]
    }
    got = {r["det"]: r["n_violating"] for r in fd_violations(df, "d", "v").collect()}
    assert got == want


# --------------------------------------------------- Spearman correlation


def test_spearman_hand_model_with_ties(spark):
    """x=[1,2,2,4], y=[10,30,30,20]: midranks x=(1,2.5,2.5,4),
    y=(1,3.5,3.5,2); centered doubled dx=(-3,0,0,3), dy=(-3,2,2,-1);
    ρ = Σdxdy/√(Σdx²Σdy²) = (9+0+0−3)/√(18·18) = 6/18 = 1/3."""
    from transe_pyspark_spark.operators.relational import spearman_corr

    df = spark.createDataFrame(
        [(1.0, 10.0), (2.0, 30.0), (2.0, 30.0), (4.0, 20.0)], "x double, y double"
    )
    r = spearman_corr(df, "x", "y").collect()[0]
    assert r["n_rows"] == 4
    assert r["spearman"] == round(1 / 3, 6)


def test_spearman_monotone_invariance_and_scipy(spark):
    """Perfect monotone ⇒ exactly 1.0; a random sample matches
    scipy.stats.spearmanr (tie-corrected) to 1e-6; NULLs drop
    pairwise."""
    import random

    from transe_pyspark_spark.operators.relational import spearman_corr

    rng = random.Random(7)
    xs = [rng.randrange(100) for _ in range(300)]
    mono = [(float(v), float(v * v * v)) for v in xs]  # cubic: nonlinear, monotone
    df = spark.createDataFrame(mono, "x double, y double")
    assert spearman_corr(df, "x", "y").collect()[0]["spearman"] == 1.0

    pairs = [(float(rng.randrange(50)), float(rng.randrange(50))) for _ in range(400)]
    df2 = spark.createDataFrame(pairs + [(None, 1.0), (2.0, None)], "x double, y double")
    got = spearman_corr(df2, "x", "y").collect()[0]
    try:
        from scipy.stats import spearmanr

        want = spearmanr([p[0] for p in pairs], [p[1] for p in pairs]).statistic
        assert abs(got["spearman"] - want) < 1e-6
    except ImportError:
        # scipy absent in this container: replay via numpy midranks
        import numpy as np

        a = np.array([p[0] for p in pairs])
        b = np.array([p[1] for p in pairs])

        def midrank(v):
            order = np.argsort(v, kind="stable")
            ranks = np.empty(len(v))
            sv = v[order]
            i = 0
            while i < len(v):
                j = i
                while j + 1 < len(v) and sv[j + 1] == sv[i]:
                    j += 1
                ranks[order[i : j + 1]] = (i + j) / 2 + 1
                i = j + 1
            return ranks

        ra, rb = midrank(a), midrank(b)
        want = np.corrcoef(ra, rb)[0, 1]
        assert abs(got["spearman"] - want) < 1e-6
    assert got["n_rows"] == 400


# --------------------------------------------------- Kaplan-Meier survival


def test_km_survival_hand_model(spark):
    """Textbook: events at t=1 (1 of 6), t=3 (2 of 4 after a
    censoring), t=5 (the last remaining subject — survival exactly 0);
    censor times emit no rows but shrink the risk set."""
    from transe_pyspark_spark.operators.sequences import km_survival

    rows = [(1, 1), (2, 0), (3, 1), (3, 1), (4, 0), (5, 1)]
    df = spark.createDataFrame(rows, "dur long, ev int")
    got = {
        r["duration"]: (r["n_risk"], r["n_event"], r["survival"])
        for r in km_survival(df, "dur", "ev").collect()
    }
    assert got == {
        1: (6, 1, 0.833333),  # 5/6
        3: (4, 2, 0.416667),  # 5/6 · 2/4 = 5/12
        5: (1, 1, 0.0),       # d = n_risk ⇒ exact 0
    }


def test_km_survival_matches_python_replay_and_partitions(spark):
    """Random censored cohort: n_risk/n_event exact, survival within
    1e-6 of a direct python product; partition count changes nothing
    (the two chained prefixes are tiling-invariant)."""
    import math
    import random
    from collections import Counter

    from transe_pyspark_spark.operators.sequences import km_survival

    rng = random.Random(31)
    subj = [(rng.randrange(50), rng.random() < 0.6) for _ in range(500)]
    df = spark.createDataFrame(
        [(t, int(e)) for t, e in subj], "dur long, ev int"
    )
    base = {tuple(r) for r in km_survival(df, "dur", "ev").collect()}
    again = {tuple(r) for r in km_survival(df, "dur", "ev", num_partitions=5).collect()}
    assert base == again

    deaths = Counter(t for t, e in subj if e)
    at_risk = lambda t: sum(1 for u, _ in subj if u >= t)
    s, want = 1.0, {}
    for t in sorted({t for t, e in subj if e}):
        n, d = at_risk(t), deaths[t]
        s *= (n - d) / n
        want[t] = (n, d, s)
    got = {r["duration"]: (r["n_risk"], r["n_event"], r["survival"])
           for r in km_survival(df, "dur", "ev").collect()}
    assert set(got) == set(want)
    for t in want:
        assert got[t][:2] == want[t][:2]
        assert abs(got[t][2] - want[t][2]) < 1e-6


# ------------------------------------------------ HITS hubs/authorities


def _hits_model(edge_list, iters, scale=10**9):
    """Pure-python exact-integer twin of hits_integer (same L1
    integer-DIV normalization)."""
    from collections import defaultdict

    out_, in_ = defaultdict(list), defaultdict(list)
    for s, d in edge_list:
        out_[s].append(d)
        in_[d].append(s)
    h = {u: scale for u in out_}
    a = {}
    for _ in range(iters):
        raw_a = {v: sum(h.get(u, 0) for u in in_[v]) for v in in_}
        t = sum(raw_a.values())
        a = {v: (r * scale) // t for v, r in raw_a.items()}
        raw_h = {u: sum(a[v] for v in out_[u]) for u in out_}
        t = sum(raw_h.values())
        h = {u: (r * scale) // t for u, r in raw_h.items()}
    return {n: (h.get(n, 0), a.get(n, 0)) for n in set(h) | set(a)}


def test_hits_integer_matches_python_model(spark):
    """Random bipartite multigraph (parallel edges kept — multigraph
    semantics): Spark equals the integer model bit-for-bit, including
    role-less zeros."""
    import random

    from transe_pyspark_spark.operators.graph import hits_integer

    rng = random.Random(13)
    el = [(rng.randrange(20), 100 + rng.randrange(15)) for _ in range(120)]
    df = spark.createDataFrame(el, "src long, dst long")
    got = {
        r["node"]: (r["hub_nano"], r["auth_nano"])
        for r in hits_integer(df, iterations=3).collect()
    }
    assert got == _hits_model(el, 3)


def test_hits_integer_known_shape(spark):
    """Star into one sink: the sink takes the entire authority mass
    (scale exactly) and all hubs tie; pure sources score 0 authority."""
    from transe_pyspark_spark.operators.graph import hits_integer

    el = [(u, 99) for u in range(4)]
    df = spark.createDataFrame(el, "src long, dst long")
    got = {
        r["node"]: (r["hub_nano"], r["auth_nano"])
        for r in hits_integer(df, iterations=2).collect()
    }
    assert got[99] == (0, 10**9)
    hubs = {got[u][0] for u in range(4)}
    assert hubs == {10**9 // 4} and all(got[u][1] == 0 for u in range(4))


# --------------------------------------------------- golden-record merge


def test_golden_record_hand_model(spark):
    """Survivorship rules per field: min id is canonical, max takes
    the longest/latest, mode majority-votes with ties broken by
    smallest value, NULLs lose every rule, singleton groups drop."""
    from transe_pyspark_spark.operators.dedup import golden_record

    rows = [
        # group "k1": ids 5,3,9 — modes tie on src (a,a,b → a wins by count)
        ("k1", 5, 100, "a"), ("k1", 3, 200, "a"), ("k1", 9, None, "b"),
        # group "k2": perfect mode tie (x,y) → smallest value "x" wins
        ("k2", 1, 10, "y"), ("k2", 2, 20, "x"),
        # singleton: excluded
        ("k3", 7, 1, "z"),
    ]
    df = spark.createDataFrame(rows, "g string, id long, n long, src string")
    got = {
        r["canonical_id"]: (r["n_members"], r["max_n"], r["mode_src"])
        for r in golden_record(
            df, "g", "id", max_cols=("n",), mode_cols=("src",)
        ).collect()
    }
    assert got == {3: (3, 200, "a"), 1: (2, 20, "x")}


def test_golden_record_mode_matches_python_and_cleanup(spark):
    """Random groups: mode_* equals the python (max count, min value)
    rule exactly; the eager default releases the pin."""
    import random
    from collections import Counter, defaultdict

    from transe_pyspark_spark.operators.dedup import golden_record

    spark.catalog.clearCache()
    rng = random.Random(3)
    rows = [(rng.randrange(12), i, rng.choice("abcde")) for i in range(300)]
    df = spark.createDataFrame(rows, "g long, id long, v string")
    groups = defaultdict(list)
    for g, i, v in rows:
        groups[g].append((i, v))
    want = {}
    for g, members in groups.items():
        if len(members) < 2:
            continue
        cnt = Counter(v for _, v in members)
        best = min(((-n, v) for v, n in cnt.items()))[1]
        want[min(i for i, _ in members)] = (len(members), best)
    got = {
        r["canonical_id"]: (r["n_members"], r["mode_v"])
        for r in golden_record(df, "g", "id", mode_cols=("v",)).collect()
    }
    assert got == want
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# --------------------------------------------------- vocabulary growth


def test_vocab_growth_hand_model(spark):
    """Three slices in order: s1 brings {a,b}; s2 re-treads a,b and
    adds c; s3 adds nothing new — n_new tracks FIRST-SEEN under the
    slice order, vocab_cum is its running sum."""
    from transe_pyspark_spark.functions.text import vocab_growth

    docs = spark.createDataFrame(
        [("s1", "a b a"), ("s2", "b c a"), ("s3", "c c b")],
        "source string, text string",
    )
    got = {
        r["source"]: (r["n_tokens"], r["n_distinct"], r["n_new"], r["vocab_cum"])
        for r in vocab_growth(docs).collect()
    }
    assert got == {
        "s1": (3, 2, 2, 2),
        "s2": (3, 3, 1, 3),
        "s3": (3, 2, 0, 3),
    }


def test_vocab_growth_invariants(spark):
    """On the real corpus: Σn_new = final vocab_cum = global distinct
    vocabulary; n_new ≤ n_distinct per slice; vocab_cum nondecreasing."""
    from transe_pyspark_spark.functions.text import vocab_growth

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = sorted(vocab_growth(docs).collect(), key=lambda r: r["source"])
    assert all(r["n_new"] <= r["n_distinct"] for r in rows)
    cums = [r["vocab_cum"] for r in rows]
    assert cums == sorted(cums)
    assert sum(r["n_new"] for r in rows) == cums[-1]
    total_vocab = (
        docs.selectExpr(
            "explode(filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')) AS t"
        )
        .select("t")
        .distinct()
        .count()
    )
    assert cums[-1] == total_vocab


# --------------------------------------------- Benford + autocorrelation


def test_benford_screen_hand_model(spark):
    """First digits from the decimal string: 123→1, 95→9, 1000→1;
    zero/negative excluded but counted nowhere; shares exact."""
    from transe_pyspark_spark.operators.quality import benford_screen

    df = spark.createDataFrame(
        [(123,), (95,), (1000,), (19,), (0,), (-7,)], "v long"
    )
    got = {r["digit"]: (r["n_obs"], r["n_total"], r["share"]) for r in
           benford_screen(df, "v").collect()}
    assert got == {1: (3, 4, 0.75), 9: (1, 4, 0.25)}


def test_benford_screen_follows_log_data(spark):
    """A multiplicative (log-uniform) sample approximates Benford:
    every digit's |excess| stays small; Σ n_obs = n_total."""
    import math
    import random

    from transe_pyspark_spark.operators.quality import benford_screen

    rng = random.Random(5)
    vals = [
        int(math.exp(rng.uniform(math.log(10), math.log(10**7))))
        for _ in range(20000)
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    rows = benford_screen(df, "v").collect()
    assert sum(r["n_obs"] for r in rows) == rows[0]["n_total"] == len(vals)
    assert all(abs(r["share"] - r["benford"]) < 0.02 for r in rows)


def test_lag_autocorr_hand_model(spark):
    """Perfect period-2 alternation: ACF(1) = −1, ACF(2) = +1 exactly;
    a gap in t shortens n_pairs instead of fabricating zeros."""
    from transe_pyspark_spark.operators.relational import lag_autocorr

    rows = [(t, 10 if t % 2 == 0 else 20) for t in range(10) if t != 5]
    df = spark.createDataFrame(rows, "t long, x long")
    got = {r["lag"]: (r["n_pairs"], r["acf"]) for r in
           lag_autocorr(df, "t", "x", max_lag=2).collect()}
    assert got[1] == (7, -1.0)   # 8 adjacent slots minus the t=5 gap
    assert got[2] == (6, 1.0)    # the gap breaks two lag-2 pairs


# --------------------------------------------------- quantile normalization


def test_quantile_normalize_hand_model(spark):
    """Two groups over a pooled set of 6: g1 = [10, 20, 30],
    g2 = [100, 200, 300]; pooled sorted = [10,20,30,100,200,300].
    Group ranks 1..3 map to positions ⌈r·6/3⌉ = 2,4,6 → both groups
    normalize to (20, 100, 300): identical marginals, order kept."""
    from transe_pyspark_spark.operators.relational import quantile_normalize

    rows = [("g1", 10, 1), ("g1", 20, 2), ("g1", 30, 3),
            ("g2", 100, 4), ("g2", 200, 5), ("g2", 300, 6)]
    df = spark.createDataFrame(rows, "g string, v long, id long")
    got = {r["id"]: r["norm_value"] for r in
           quantile_normalize(df, "g", "v", "id").collect()}
    assert got == {1: 20, 2: 100, 3: 300, 4: 20, 5: 100, 6: 300}


def test_quantile_normalize_equalizes_marginals(spark):
    """Random unequal-sized groups: after normalization each group's
    value multiset is (near-)identical — the largest group's marginal
    matches the pooled quantile function exactly, order within every
    group is preserved, and the python replay agrees row-for-row."""
    import random

    from transe_pyspark_spark.operators.relational import quantile_normalize

    rng = random.Random(17)
    rows = []
    rid = 0
    for g, size, lo, hi in (("a", 120, 0, 1000), ("b", 80, 500, 5000), ("c", 50, -200, 100)):
        for _ in range(size):
            rows.append((g, rng.randrange(lo, hi), rid))
            rid += 1
    df = spark.createDataFrame(rows, "g string, v long, id long")
    out = quantile_normalize(df, "g", "v", "id", num_partitions=5).collect()

    pooled = sorted((v, i) for _, v, i in rows)
    by_group = {}
    for g, v, i in rows:
        by_group.setdefault(g, []).append((v, i))
    n = len(rows)
    want = {}
    for g, members in by_group.items():
        members.sort()
        ng = len(members)
        for r, (v, i) in enumerate(members, 1):
            p = -(-(r * n) // ng)  # ceil
            want[i] = pooled[p - 1][0]
    got = {r["id"]: r["norm_value"] for r in out}
    assert got == want
    # order preserved within each group
    for g, members in by_group.items():
        ordered = [got[i] for _, i in sorted(members)]
        assert ordered == sorted(ordered)


# --------------------------------------------------- embedding covariance


def test_embedding_covariance_matches_numpy_exact(spark):
    """Random float vectors: the integer moment sums equal a numpy
    int64 replay BIT-FOR-BIT, and the derived covariance matches
    numpy's biased (population) covariance of the quantized data."""
    import numpy as np

    from transe_pyspark_spark.functions.vector import embedding_covariance

    rng = np.random.default_rng(9)
    X = rng.uniform(-0.5, 0.5, size=(200, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<float>",
    )
    rows = embedding_covariance(df, "embedding").collect()
    assert len(rows) == 8 * 9 // 2
    y = X.astype(np.float64) * 1e6
    Q = np.copysign(np.floor(np.abs(y) + 0.5), y).astype(np.int64)
    M = Q.T @ Q
    s = Q.sum(axis=0)
    n = len(Q)
    for r in rows:
        i, j = r["i"] - 1, r["j"] - 1
        assert i <= j
        assert r["n"] == n
        assert r["s_ij"] == M[i, j]
        assert (r["s_i"], r["s_j"]) == (s[i], s[j])
        want = (n * M[i, j] - s[i] * s[j]) / (n * n) / 1e12
        assert abs(r["cov"] - round(want, 9)) < 1e-12


def test_embedding_covariance_diagonal_is_variance(spark):
    """On the real embeddings table: every diagonal entry is
    nonnegative and equals the population variance of that dimension
    (numpy replay); partition count changes nothing."""
    import numpy as np

    from transe_pyspark_spark.functions.vector import embedding_covariance

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = embedding_covariance(df.repartition(7), "embedding").collect()
    diag = {r["i"]: r for r in rows if r["i"] == r["j"]}
    y = np.stack(df.toPandas()["embedding"].to_numpy()).astype(np.float64) * 1e6
    Q = np.copysign(np.floor(np.abs(y) + 0.5), y).astype(np.int64)
    n = len(Q)
    for i, r in diag.items():
        v = Q[:, i - 1]
        assert r["s_ij"] == int(v @ v)
        assert r["cov"] >= 0
        want = (n * (v @ v) - v.sum() ** 2) / (n * n) / 1e12
        assert abs(r["cov"] - round(float(want), 9)) < 1e-12


# --------------------------------------------- Mann-Kendall + runs test


def test_mann_kendall_hand_model(spark):
    """Strictly increasing n=4: S = 6, var18 = 4·3·13 = 156,
    z = 5/√(156/18); a tie shrinks S and the tie term subtracts
    t(t−1)(2t+5)."""
    import math

    from transe_pyspark_spark.operators.relational import mann_kendall

    df = spark.createDataFrame([(t, v) for t, v in enumerate((1, 2, 3, 4))], "t long, x long")
    r = mann_kendall(df, "t", "x").collect()[0]
    assert (r["n"], r["s"], r["var18"]) == (4, 6, 156)
    assert r["z"] == round(5 / math.sqrt(156 / 18), 6)

    df2 = spark.createDataFrame([(0, 1), (1, 2), (2, 2), (3, 4)], "t long, x long")
    r2 = mann_kendall(df2, "t", "x").collect()[0]
    assert (r2["s"], r2["var18"]) == (5, 156 - 2 * 1 * 9)


def test_mann_kendall_matches_python_replay(spark):
    """Random series with ties: S, var18, and z replay exactly."""
    import math
    import random
    from collections import Counter

    from transe_pyspark_spark.operators.relational import mann_kendall

    rng = random.Random(41)
    xs = [rng.randrange(20) for _ in range(120)]
    df = spark.createDataFrame(list(enumerate(xs)), "t long, x long")
    r = mann_kendall(df, "t", "x").collect()[0]
    s = sum(
        (xs[j] > xs[i]) - (xs[j] < xs[i])
        for i in range(len(xs))
        for j in range(i + 1, len(xs))
    )
    n = len(xs)
    var18 = n * (n - 1) * (2 * n + 5) - sum(
        c * (c - 1) * (2 * c + 5) for c in Counter(xs).values() if c > 1
    )
    assert (r["n"], r["s"], r["var18"]) == (n, s, var18)
    want = 0.0 if s == 0 else round((s - (1 if s > 0 else -1)) / math.sqrt(var18 / 18), 6)
    assert r["z"] == want


def test_runs_test_hand_model(spark):
    """[10,20,30,40]: discrete median 20 drops its own value; signs
    −,+,+ make 2 runs of a=2 pluses, b=1 minus ⇒ z = −0.707107.
    One-sided series ⇒ z NULL."""
    from transe_pyspark_spark.operators.relational import runs_test

    df = spark.createDataFrame(list(enumerate((10, 20, 30, 40))), "t long, x long")
    r = runs_test(df, "t", "x").collect()[0]
    assert (r["n_plus"], r["n_minus"], r["n_runs"]) == (2, 1, 2)
    assert r["z"] == -0.707107

    one_sided = spark.createDataFrame([(0, 1), (1, 1), (2, 5)], "t long, x long")
    r2 = runs_test(one_sided, "t", "x").collect()[0]
    assert r2["z"] is None and r2["n_minus"] == 0


def test_runs_test_matches_python_replay(spark):
    """Random series: side counts, run count, and z replay exactly
    against a direct python pass."""
    import math
    import random

    from transe_pyspark_spark.operators.relational import runs_test

    rng = random.Random(43)
    xs = [rng.randrange(100) for _ in range(150)]
    df = spark.createDataFrame(list(enumerate(xs)), "t long, x long")
    r = runs_test(df, "t", "x").collect()[0]
    med = sorted(xs)[math.ceil(0.5 * len(xs)) - 1]
    signs = [1 if x > med else -1 for x in xs if x != med]
    a = signs.count(1)
    b = signs.count(-1)
    runs = 1 + sum(1 for i in range(1, len(signs)) if signs[i] != signs[i - 1])
    assert (r["n_plus"], r["n_minus"], r["n_runs"]) == (a, b, runs)
    mu = 1 + 2 * a * b / (a + b)
    sig2 = (2 * a * b * (2 * a * b - a - b)) / ((a + b) ** 2 * (a + b - 1))
    assert r["z"] == round((runs - mu) / math.sqrt(sig2), 6)
