"""Round-9 regression tests: ADVICE fixes (sink append mode,
compaction crash recovery, NULL group keys, repeated funnel steps)
plus the round's new operators."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- sink append


def test_tsv_sink_append_preserves_previous_write(spark):
    """mode('append') must number its part files past the previous
    write's and keep _SUCCESS cumulative — the r08 advisory's silent
    os.replace data loss."""
    from transe_pyspark_spark.sources import pydatasource
    from transe_pyspark_spark.sources.readers import read_triples_tsv

    pydatasource.register(spark)
    src = (spark.read.format("kg_triples").option("n_rows", "600")
           .option("n_entities", "50").option("n_relations", "4")
           .option("n_partitions", "2").load())
    d = tempfile.mkdtemp(prefix="kgtsv_app_")
    try:
        src.write.format("kg_tsv").option("path", d).mode("overwrite").save()
        first = {f: open(os.path.join(d, f)).read()
                 for f in os.listdir(d) if f.startswith("part-")}
        assert sorted(first) == ["part-00000.tsv", "part-00001.tsv"]

        src.write.format("kg_tsv").option("path", d).mode("append").save()
        files = sorted(f for f in os.listdir(d) if f.startswith("part-"))
        assert files == ["part-00000.tsv", "part-00001.tsv",
                         "part-00002.tsv", "part-00003.tsv"]
        # the first write's bytes are untouched
        for name, body in first.items():
            assert open(os.path.join(d, name)).read() == body
        # _SUCCESS is the directory's cumulative row count
        assert open(os.path.join(d, "_SUCCESS")).read().strip() == "1200"
        back = read_triples_tsv(spark, d + "/part-*.tsv")
        assert back.count() == 1200
        # append wrote the same 600 rows again: every triple's count
        # doubled (the generator itself can repeat a triple, so the
        # invariant is 2x, not exactly-2)
        dup = back.groupBy("head", "label", "tail").count()
        src_counts = {tuple(r[:3]): r["count"]
                      for r in src.groupBy("h", "l", "t").count().collect()}
        for r in dup.collect():  # TSV reader yields strings
            assert r["count"] == 2 * src_counts[tuple(int(v) for v in r[:3])]
    finally:
        shutil.rmtree(d, ignore_errors=True)


# --------------------------------------------------- compaction crash recovery


def _write_frag(spark, path, n_files=6, n_rows=2_000):
    df = spark.range(n_rows).select("id", (F.col("id") * 3).alias("v"))
    df.repartition(n_files).write.parquet(path)


def test_compact_parquet_ignores_and_heals_stale_tmp(spark, tmp_path):
    """A stale __compact_tmp from a crashed staging write must not be
    counted as live data, and must be rolled back (dropped) — the r08
    advisory's recursive _parts() bug."""
    from transe_pyspark_spark.sources.readers import compact_parquet

    path = str(tmp_path / "frag")
    _write_frag(spark, path)
    live = sorted(f for f in os.listdir(path) if f.startswith("part-"))
    # simulate a crash mid-staging-write: tmp holds part files but no
    # manifest (the staging write never completed)
    tmp = os.path.join(path, "__compact_tmp")
    os.makedirs(tmp)
    shutil.copy(os.path.join(path, live[0]), os.path.join(tmp, "part-junk.parquet"))

    stats = compact_parquet(spark, path, target_file_bytes=1 << 30, min_files=2)
    # files_before counted only the 6 live files, never the staged one
    assert stats["files_before"] == 6 and stats["files_after"] == 2
    assert not os.path.exists(tmp)
    back = spark.read.parquet(path)
    assert back.count() == 2_000
    assert back.agg(F.sum("v")).collect()[0][0] == 3 * sum(range(2_000))


def test_compact_parquet_rolls_forward_interrupted_swap(spark, tmp_path):
    """A manifest in __compact_tmp means the staging write finished:
    the next call completes the swap (moves the remaining staged files
    up, deletes the old ones) instead of double-counting both layouts."""
    from transe_pyspark_spark.sources.readers import compact_parquet

    path = str(tmp_path / "frag2")
    _write_frag(spark, path)
    old = sorted(f for f in os.listdir(path) if f.startswith("part-"))

    # stage a completed rewrite by hand: one staged file moved up
    # (crash happened mid-move), one still in tmp
    staged_dir = str(tmp_path / "staged")
    spark.read.parquet(path).repartition(2).write.parquet(staged_dir)
    tmp = os.path.join(path, "__compact_tmp")
    os.makedirs(tmp)
    staged = sorted(f for f in os.listdir(staged_dir) if f.startswith("part-"))
    names = [f"part-{i:05d}-compact-deadbeef.parquet" for i in range(len(staged))]
    shutil.copy(os.path.join(staged_dir, staged[0]), os.path.join(path, names[0]))
    for s, n in zip(staged[1:], names[1:]):
        shutil.copy(os.path.join(staged_dir, s), os.path.join(tmp, n))
    with open(os.path.join(tmp, "__compact_manifest.json"), "w") as f:
        json.dump({"old": [os.path.join(path, o) for o in old], "new": names}, f)

    compact_parquet(spark, path, target_file_bytes=1 << 30, min_files=2)
    # recovery first rolled the old swap forward (old 6 gone, staged 2
    # in), then this call compacted the healed layout
    assert not os.path.exists(tmp)
    back = spark.read.parquet(path)
    assert back.count() == 2_000  # duplicates would make this 4_000
    assert back.agg(F.sum("v")).collect()[0][0] == 3 * sum(range(2_000))
    assert not (set(os.listdir(path)) & set(old))


# ------------------------------------------------------------ NULL group keys


def test_group_rank_keeps_null_group(spark):
    """group_percent_rank / gini_concentration on data with a NULL
    group value: the NULL group ranks as its own partition (SQL
    PARTITION BY semantics) instead of silently dropping rows — the
    r08 advisory's equi-join null loss."""
    from transe_pyspark_spark.operators.relational import (
        gini_concentration,
        group_percent_rank,
    )

    rows = [("a", 10, 1), ("a", 30, 2), (None, 5, 3), (None, 7, 4),
            (None, 7, 5), ("b", 2, 6)]
    df = spark.createDataFrame(rows, "g string, v long, id long")

    pr = group_percent_rank(df, "g", "v", "id")
    assert pr.count() == 6  # nothing dropped
    got = {(r["g"], r["id"]): r["pr"] for r in pr.collect()}
    # expected = plain window semantics incl. the NULL partition
    from pyspark.sql import Window
    w = Window.partitionBy("g").orderBy("v", "id")
    exp_df = df.select(
        "g", "id",
        ((F.row_number().over(w) - 1) /
         F.greatest(F.count("*").over(Window.partitionBy("g")) - 1, F.lit(1))
         ).alias("pr"),
    )
    exp = {(r["g"], r["id"]): r["pr"] for r in exp_df.collect()}
    assert got == exp

    gi = gini_concentration(df, "g", "v", "id")
    by_g = {r["g"]: r for r in gi.collect()}
    assert set(by_g) == {"a", "b", None}
    assert by_g[None]["n"] == 3 and by_g[None]["total_cents"] == 19
    # gini of [5,7,7]: (2*(1*5+2*7+3*7) - 4*19)/(3*19)
    assert abs(by_g[None]["gini"] - (2 * 40 - 4 * 19) / 57) < 1e-12


# ------------------------------------------- non-adjacent repeated funnel step


def test_ordered_funnel_nonadjacent_repeat_needs_new_event(spark):
    """['view','click','view'] with a tied click timestamp: the view
    that opened the funnel must not also close it (r09 advisory — the
    r08 fix only covered ADJACENT repeats)."""
    import datetime as dt

    from transe_pyspark_spark.operators.asof import ordered_funnel

    def ts(m):
        return dt.datetime(2024, 7, 1, 12, m)

    rows = [
        # user 1: view@0, click@0 — no SECOND view: must stop at step 1
        (1, "view", ts(0)), (1, "click", ts(0)),
        # user 2: view@0, click@0, view@5 — completes all three
        (2, "view", ts(0)), (2, "click", ts(0)), (2, "view", ts(5)),
        # user 3: view@0, click@2 — again only one view
        (3, "view", ts(0)), (3, "click", ts(2)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    got = {r["step_idx"]: r["n_users"]
           for r in ordered_funnel(df, ["view", "click", "view"]).collect()}
    assert got == {0: 3, 1: 3, 2: 1}


# --------------------------------------------------------- fused audit checks


def test_check_foreign_key_single_child_scan(spark, sf_dir):
    """The fused FK check reads the child subtree ONCE (left join +
    one aggregate), not twice (r08 advisory: separate n_checked agg
    re-ran the child scan)."""
    from transe_pyspark_spark.operators.quality import check_foreign_key
    from transe_pyspark_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    rep = check_foreign_key(li, "l_orderkey", o, "o_orderkey")
    row = rep.collect()[0]
    n_li = li.count()
    assert row["n_checked"] == n_li and row["n_violations"] == 0
    # AQE's toString prints Final AND Initial plan sections — count
    # scans in the final section only
    plan = rep._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    li_scans = [ln for ln in plan.splitlines()
                if "FileScan" in ln and "lineitem" in ln]
    assert len(li_scans) == 1, f"child scanned more than once: {li_scans}"

    # orphan counting still works: a child key with no parent
    child = spark.createDataFrame([(1,), (2,), (None,), (99,)], "k long")
    parent = spark.createDataFrame([(1,), (2,), (2,)], "p long")
    r = check_foreign_key(child, "k", parent, "p").collect()[0]
    # NULL key not checked; 99 is the one orphan; duplicate parent
    # keys must NOT multiply matched rows
    assert (r["n_checked"], r["n_violations"]) == (3, 1)


def test_audit_table_one_scan_matches_standalone_checks(spark, sf_dir):
    """audit_table batches same-table checks into ONE aggregate over
    one scan, with rows identical to the standalone check functions."""
    from transe_pyspark_spark.operators import quality as Q
    from transe_pyspark_spark.sources.readers import load_table

    o = load_table(spark, sf_dir, "orders")
    batched = Q.audit_table(o, [
        ("not_null", "o_custkey"),
        ("unique", "o_orderkey"),
        ("accepted", "o_orderstatus", ["O", "F", "P"]),
        ("range", "o_totalprice", 0, None),
    ])
    plan = batched._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert len(scans) == 1, f"batched audit rescans the table: {scans}"

    standalone = Q.constraint_audit([
        Q.check_not_null(o, "o_custkey"),
        Q.check_unique(o, "o_orderkey"),
        Q.check_accepted_values(o, "o_orderstatus", ["O", "F", "P"]),
        Q.check_range(o, "o_totalprice", lo=0),
    ])
    key = lambda r: r["check_name"]  # noqa: E731
    assert sorted(map(tuple, batched.collect()), key=lambda t: t[0]) == \
        sorted(map(tuple, standalone.collect()), key=lambda t: t[0])

    with pytest.raises(ValueError, match="at least one"):
        Q.audit_table(o, [])
    with pytest.raises(ValueError, match="kind"):
        Q.audit_table(o, [("bogus", "o_custkey")])


# -------------------------------------------------------- k-core convergence


def test_kcore_converge_peels_long_chain(spark):
    """A 10-node path cascades one layer per round under k=2, so
    fixed-3 under-peels it; rounds='converge' dissolves the whole
    chain and keeps exactly the attached 4-clique (the true 2-core),
    reporting the rounds it took."""
    from transe_pyspark_spark.operators.graph import kcore_peel

    path = [(i, i + 1) for i in range(100, 109)]          # 10-node chain
    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = spark.createDataFrame(path + clique, "src long, dst long")

    fixed = kcore_peel(edges, k=2, rounds=3)
    assert fixed.kcore_rounds_taken == 3
    fixed_nodes = {r["node"] for r in fixed.collect()}
    assert set(range(4)) <= fixed_nodes
    assert fixed_nodes & set(range(100, 110)), "fixed-3 should under-peel"

    conv = kcore_peel(edges, k=2, rounds="converge")
    got = {r["node"]: r["degree"] for r in conv.collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
    # 9-edge chain needs 5 peels (one layer from each end per round);
    # converge pays one extra no-change round to observe the fixpoint
    assert conv.kcore_rounds_taken == 6

    # converge on an already-core graph stops after one no-op round
    conv2 = kcore_peel(spark.createDataFrame(clique, "src long, dst long"),
                       k=2, rounds="converge")
    assert conv2.kcore_rounds_taken == 1
    assert conv2.count() == 4

    import pytest as _pt
    with _pt.raises(ValueError, match="converge"):
        kcore_peel(edges, k=2, rounds="bogus")


# ------------------------------------------------------------ semantic dedup


def test_semantic_dedup_planted_clusters(spark):
    """Three planted near-duplicate groups (cosine ~0.999 within,
    orthogonal-ish across) in a sea of noise: semantic_near_pairs
    finds every intra-group pair and nothing across groups;
    semantic_dedup_keep keeps exactly the min-id member per group and
    every noise vector."""
    import numpy as np

    from transe_pyspark_spark.operators.similarity import (
        semantic_dedup_keep,
        semantic_near_pairs,
    )

    rng = np.random.default_rng(7)
    rows = []
    group_ids = {}
    for g in range(3):
        base = rng.standard_normal(32)
        ids = []
        for j in range(4):  # 4 near-copies per group
            vid = g * 100 + j
            v = base + rng.standard_normal(32) * 0.01
            rows.append((vid, [float(x) for x in v]))
            ids.append(vid)
        group_ids[g] = ids
    for i in range(40):  # noise
        rows.append((1000 + i, [float(x) for x in rng.standard_normal(32)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    pairs = semantic_near_pairs(df, threshold=0.95, n_cells=4, n_assign=2, seed=1)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    want = {(a, b) for ids in group_ids.values()
            for a in ids for b in ids if a < b}
    assert got == want  # all 18 intra-group pairs, zero cross/noise

    keep = semantic_dedup_keep(df, threshold=0.95, n_cells=4, n_assign=2, seed=1)
    verdicts = {r["vec_id"]: r["keep"] for r in keep.collect()}
    assert len(verdicts) == 52
    for g, ids in group_ids.items():
        assert verdicts[min(ids)] is True
        assert all(verdicts[i] is False for i in ids if i != min(ids))
    assert all(verdicts[1000 + i] is True for i in range(40))


def test_semantic_near_pairs_no_cross_cluster_join(spark):
    """The pair join is a cell EQUI-join — the plan must contain no
    CartesianProduct / BroadcastNestedLoopJoin (never corpus
    all-pairs)."""
    from transe_pyspark_spark.operators.similarity import semantic_near_pairs
    from transe_pyspark_spark.plans.contract import explain_text
    from transe_pyspark_spark.sources.readers import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    pairs = semantic_near_pairs(e, threshold=0.4, n_cells=8, n_assign=2,
                                eager_cleanup=False)
    plan = explain_text(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan  # the cell equi-join is there


# ------------------------------------------------------- pipeline composition


def test_corpus_pipeline_one_action_composition(spark, sf_dir):
    """The end-to-end pipeline is ONE lazy plan: <=2 parquet scans of
    documents (audit + dedup cache build), fan-out frames pinned
    (their consumers read InMemoryTableScan), and the metric rows are
    internally consistent."""
    from transe_pyspark_spark.operators.pipeline import corpus_pipeline_report
    from transe_pyspark_spark.plans.contract import count_nodes, explain_text
    from transe_pyspark_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    rep, pins = corpus_pipeline_report(docs)
    try:
        plan = explain_text(rep)
        assert count_nodes(plan, "Scan parquet") <= 2
        assert count_nodes(plan, "InMemoryTableScan") >= 6
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

        m = {r["metric"]: r["value"] for r in rep.collect()}
        assert m["audit_violations:unique:doc_id"] == 0
        assert 0 < m["docs_after_decontaminate"] <= m["docs_after_near_dedup"]
        n_mixed = sum(v for k, v in m.items() if k.startswith("mix:"))
        n_split = sum(v for k, v in m.items() if k.startswith("split:"))
        assert n_mixed == n_split > 0  # split partitions exactly the mixed docs
        assert m["n_packs"] >= 1
    finally:
        for p in pins:
            p.unpersist()


# ------------------------------------------------------------ LPA communities


def test_lpa_communities_matches_python_model(spark):
    """Synchronous mode-label LPA with min-label tie-break is a pure
    function of the edge set — the Spark plan must replay a reference
    python model exactly, round by round, on a seeded random graph
    (including the bipartite oscillation sync-LPA is known for)."""
    import random
    from collections import Counter

    from transe_pyspark_spark.operators.graph import lpa_communities

    rng = random.Random(7)
    nodes = list(range(1, 41))
    edges = {
        tuple(sorted(rng.sample(nodes, 2)))
        for _ in range(120)
    }
    df = spark.createDataFrame(sorted(edges), "src long, dst long")

    def lpa_py(es, rounds):
        adj: dict[int, set[int]] = {}
        for s, d in es:
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
        lab = {n: n for n in adj}
        for _ in range(rounds):
            lab = {
                n: max(
                    Counter(lab[m] for m in adj[n]).items(),
                    key=lambda kv: (kv[1], -kv[0]),
                )[0]
                for n in adj
            }
        return lab

    for r in (1, 2, 4):
        got = {
            row["node"]: row["community"]
            for row in lpa_communities(df, rounds=r).collect()
        }
        assert got == lpa_py(edges, r), f"round {r} diverged"

    with pytest.raises(ValueError):
        lpa_communities(df, rounds=0)


def test_lpa_communities_cache_hygiene(spark):
    """eager_cleanup (the default) must release every pinned
    generation — the r08 graph-operator cache-leak advisory's
    contract extends to the new iterative op."""
    from transe_pyspark_spark.operators.graph import lpa_communities

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "src long, dst long"
    )
    spark.catalog.clearCache()
    lpa_communities(df, rounds=3).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# --------------------------------------------- incremental view maintenance


def test_ivm_maintain_equals_recompute_on_random_churn(spark):
    """The IVM law on seeded random churn: maintained summary ==
    build_group_summary(new base), with group-moving updates, deletes
    that empty a group, inserts into fresh groups, NULL group keys,
    and NULL measures all present."""
    import random

    from transe_pyspark_spark.operators.relational import (
        build_group_summary,
        maintain_group_summary,
        snapshot_changeset_images,
    )

    rng = random.Random(99)
    groups = ["a", "b", "c", None]
    old_rows = [
        (k, rng.choice(groups), rng.choice([None, rng.randint(-50, 50)]))
        for k in range(1, 201)
    ]
    new_rows = []
    for k, g, v in old_rows:
        roll = rng.random()
        if roll < 0.2:
            continue                                   # delete
        if roll < 0.5:                                 # update (often group-move)
            new_rows.append((k, rng.choice(groups + ["d"]),
                             rng.choice([None, rng.randint(-50, 50)])))
        else:
            new_rows.append((k, g, v))                 # unchanged
    new_rows += [
        (1000 + i, rng.choice(groups + ["e"]), rng.randint(0, 9))
        for i in range(30)
    ]                                                  # inserts
    schema = "k long, g string, v long"
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)

    changes = snapshot_changeset_images(old, new, ["k"])
    got = maintain_group_summary(
        build_group_summary(old, "g", ["v"]), changes, "g", ["v"]
    )
    exp = build_group_summary(new, "g", ["v"])
    key = lambda r: (str(r["g"]), r["n_rows"], r["sum_v"])  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(exp.collect(), key=key)

    # images format contract: 'I' rows carry NULL before-images,
    # 'D' rows NULL after-images, and no-op keys emit nothing
    for r in changes.collect():
        if r["op"] == "I":
            assert r["before_g"] is None and r["before_v"] is None
        if r["op"] == "D":
            assert r["after_g"] is None and r["after_v"] is None
    unchanged = {k for (k, g, v) in old_rows if (k, g, v) in set(new_rows)}
    assert unchanged.isdisjoint({r["k"] for r in changes.collect()})

    with pytest.raises(ValueError):
        maintain_group_summary(exp, changes.drop("op"), "g", ["v"])


def test_ivm_maintenance_never_scans_base(spark, tmp_path):
    """The refresh plan must read ONLY the persisted summary and the
    change batch — never the base fact table (the whole point at
    100 TB)."""
    from transe_pyspark_spark.operators.relational import (
        build_group_summary,
        maintain_group_summary,
        snapshot_changeset_images,
    )
    from transe_pyspark_spark.plans.contract import count_nodes, explain_text

    base = spark.range(0, 1000).selectExpr(
        "id AS k", "CAST(id % 7 AS STRING) AS g", "id % 13 AS v"
    )
    newb = base.filter("k % 5 <> 0").unionByName(
        spark.range(2000, 2050).selectExpr(
            "id AS k", "'x' AS g", "CAST(3 AS LONG) AS v"
        )
    )
    base.write.parquet(str(tmp_path / "base"))
    build_group_summary(base, "g", ["v"]).write.parquet(str(tmp_path / "summary"))
    snapshot_changeset_images(base, newb, ["k"]).write.parquet(
        str(tmp_path / "changes")
    )

    refreshed = maintain_group_summary(
        spark.read.parquet(str(tmp_path / "summary")),
        spark.read.parquet(str(tmp_path / "changes")),
        "g",
        ["v"],
    )
    plan = explain_text(refreshed)
    assert count_nodes(plan, "Scan parquet") == 2
    # and neither scan is the base table (the two are summary + changes)
    assert f"{os.sep}base" not in plan

    key = lambda r: (str(r["g"]), r["n_rows"], r["sum_v"])  # noqa: E731
    assert sorted(refreshed.collect(), key=key) == sorted(
        build_group_summary(newb, "g", ["v"]).collect(), key=key
    )


def test_stream_ivm_replay_idempotent_and_crash_safe(spark, tmp_path):
    """Versioned-state streaming IVM: replaying a batch (same id, same
    rows) leaves the committed generation byte-identical; a crashed
    generation write (no _SUCCESS) is invisible to the chain and gets
    overwritten; draining the stream lands on the batch recompute."""
    import os

    from transe_pyspark_spark.operators.incremental import (
        _ivm_gen_dir,
        _ivm_latest_gen,
        apply_ivm_batch,
        stream_ivm_summary,
    )
    from transe_pyspark_spark.operators.relational import (
        build_group_summary,
        snapshot_changeset_images,
    )

    base = spark.range(0, 300).selectExpr(
        "id AS k", "CAST(id % 5 AS STRING) AS g", "id % 11 AS v"
    )
    newb = base.filter("k % 3 <> 0").unionByName(
        spark.range(500, 540).selectExpr(
            "id AS k", "'z' AS g", "CAST(2 AS LONG) AS v"
        )
    )
    changes = snapshot_changeset_images(base, newb, ["k"])
    state = str(tmp_path / "state")
    build_group_summary(base, "g", ["v"]).write.parquet(_ivm_gen_dir(state, -1))

    w0 = changes.filter("k % 2 = 0")
    w1 = changes.filter("k % 2 = 1")
    apply_ivm_batch(spark, w0, 0, state, "g", ["v"])
    first = sorted(map(str, spark.read.parquet(_ivm_gen_dir(state, 0)).collect()))
    apply_ivm_batch(spark, w0, 0, state, "g", ["v"])  # replay
    assert sorted(map(str, spark.read.parquet(_ivm_gen_dir(state, 0)).collect())) == first

    # crashed write of gen=1: parquet dir without _SUCCESS is ignored
    os.makedirs(_ivm_gen_dir(state, 1))
    with open(os.path.join(_ivm_gen_dir(state, 1), "part-junk.parquet"), "w") as f:
        f.write("not parquet")
    assert _ivm_latest_gen(state) == 0
    apply_ivm_batch(spark, w1, 1, state, "g", ["v"])
    assert _ivm_latest_gen(state) == 1

    key = lambda r: (str(r["g"]), r["n_rows"], r["sum_v"])  # noqa: E731
    got = sorted(spark.read.parquet(_ivm_gen_dir(state, 1)).collect(), key=key)
    assert got == sorted(build_group_summary(newb, "g", ["v"]).collect(), key=key)

    # end-to-end: the streaming drain reproduces the same rollup
    chdir = str(tmp_path / "changes")
    os.makedirs(chdir)
    import shutil
    for i, w in enumerate((w0, w1)):
        tmp = str(tmp_path / f"w{i}")
        w.coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        shutil.move(os.path.join(tmp, part), os.path.join(chdir, f"wave{i}.parquet"))
    out = stream_ivm_summary(
        spark, chdir, str(tmp_path / "state2"), "g", ["v"],
        initial_summary=build_group_summary(base, "g", ["v"]),
    )
    assert sorted(out.collect(), key=key) == got


# ------------------------------------------------------------ discrete quantiles


def test_discrete_quantiles_match_duckdb_quantile_disc(spark):
    """The element-selection quantile must equal DuckDB's
    quantile_disc itself — ties, NULL values (ignored), a NULL group,
    a singleton group, and group sizes that make q*n an exact integer
    (the float-ceil off-by-one trap) all covered."""
    import random

    import duckdb
    import pandas as pd

    rng = random.Random(31)
    rows = []
    # group 'a': size 10 (0.9*10 exact multiple), with ties
    rows += [("a", rng.choice([5, 7, 7, 9, 12]), i) for i in range(10)]
    # group 'b': size 40 (0.25/0.5/0.75 all exact multiples)
    rows += [("b", rng.randint(-100, 100), 100 + i) for i in range(40)]
    # NULL group is a real group; NULL values are ignored
    rows += [(None, rng.randint(0, 9), 200 + i) for i in range(7)]
    rows += [("a", None, 300), (None, None, 301)]
    # singleton group: every quantile is its one element
    rows += [("solo", 42, 400)]
    df = spark.createDataFrame(rows, "g string, v long, id long")

    from transe_pyspark_spark.operators.relational import discrete_quantiles

    qs = [(1, 4), (1, 2), (3, 4), (9, 10), (1, 1), (0, 1)]
    got = {
        (r["g"], r["q_num"], r["q_den"]): r["v"]
        for r in discrete_quantiles(df, "g", "v", "id", qs).collect()
    }

    pdf = pd.DataFrame(rows, columns=["g", "v", "id"])
    con = duckdb.connect()
    con.register("t", pdf)
    for num, den in qs:
        q = num / den
        exp = con.sql(
            f"SELECT g, quantile_disc(v, {q}) AS qv FROM t GROUP BY g"
        ).fetchall()
        for g, qv in exp:
            if qv is None:  # all-NULL group emits nothing
                assert (g, num, den) not in got
            else:
                assert got[(g, num, den)] == qv, (g, num, den, qv)

    with pytest.raises(ValueError):
        discrete_quantiles(df, "g", "v", "id", [(3, 2)])
    with pytest.raises(ValueError):
        discrete_quantiles(df, "g", "v", "id", [(-1, 2)])


# ------------------------------------------------------------- interval islands


def test_interval_islands_matches_python_model(spark):
    """Random intervals (overlaps, nesting, exact touches, duplicates)
    must merge exactly like a sequential sweep; touching intervals
    merge; bad intervals raise; the whole plan rides ONE key shuffle."""
    import random

    from transe_pyspark_spark.operators.asof import interval_islands
    from transe_pyspark_spark.plans.contract import count_nodes, explain_text

    rng = random.Random(13)
    rows = []
    for k in ("u1", "u2", "u3"):
        for _ in range(60):
            s = rng.randint(0, 500)
            rows.append((k, s, s + rng.randint(0, 40)))
    rows += [("touch", 0, 10), ("touch", 10, 20), ("touch", 21, 30),
             ("dup", 5, 9), ("dup", 5, 9), ("nest", 0, 100), ("nest", 10, 20)]
    df = spark.createDataFrame(rows, "k string, s long, e long")

    def islands_py(iv):
        out = {}
        bykey: dict[str, list] = {}
        for k, s, e in iv:
            bykey.setdefault(k, []).append((s, e))
        for k, spans in bykey.items():
            spans.sort()
            cur = None
            for s, e in spans:
                if cur is None or s > cur[1]:
                    if cur:
                        out.setdefault(k, []).append(cur)
                    cur = [s, e, 1]
                else:
                    cur[1] = max(cur[1], e)
                    cur[2] += 1
            out.setdefault(k, []).append(cur)
        return {
            (k, a, b, n) for k, isls in out.items() for a, b, n in isls
        }

    got = {
        (r["k"], r["island_start"], r["island_end"], r["n_intervals"])
        for r in interval_islands(df, "k", "s", "e").collect()
    }
    assert got == islands_py(rows)
    assert ("touch", 0, 20, 2) in got and ("touch", 21, 30, 1) in got
    assert ("nest", 0, 100, 2) in got

    # single key shuffle: windows + rollup share the partitioning
    n_ex = count_nodes(explain_text(interval_islands(df, "k", "s", "e")), "Exchange")
    assert n_ex == 1, f"expected one Exchange, saw {n_ex}"

    bad = spark.createDataFrame([("u", 10, 5)], "k string, s long, e long")
    with pytest.raises(Exception, match="bad interval"):
        interval_islands(bad, "k", "s", "e").collect()
