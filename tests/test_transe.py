"""TransE pipeline tests (SURVEY §5.2-§5.4): ETL determinism, trainer
invariants + loss decrease, evaluator equivalence with the relational
flagship plan, checkpoint round-trip."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from transe_pyspark_spark.sources.readers import load_table
from transe_pyspark_spark.transe.data import build_vocab, encode_triples, filter_seen
from transe_pyspark_spark.transe.evaluate import evaluate_link_prediction, rank_triples
from transe_pyspark_spark.transe.model import TransEModel, l2_normalize_rows
from transe_pyspark_spark.transe.train import TransETrainer


@pytest.fixture(scope="module")
def toy_triples(spark, tmp_path_factory):
    """Small deterministic KG as a TSV → exercises the real ingestion."""
    rng = np.random.default_rng(0)
    lines = []
    for _ in range(400):
        h, l, t = rng.integers(0, 40), rng.integers(0, 5), rng.integers(0, 40)
        lines.append(f"e{h}\tr{l}\te{t}")
    p = tmp_path_factory.mktemp("kg") / "train.tsv"
    p.write_text("\n".join(sorted(set(lines))) + "\n")
    return str(p)


def test_etl_vocab_and_encode(spark, toy_triples):
    from transe_pyspark_spark.transe.data import load_triples

    raw = load_triples(spark, toy_triples)
    ev, lv = build_vocab(raw)
    enc = encode_triples(raw, ev, lv)
    n_ent, n_lab = ev.count(), lv.count()
    assert enc.count() == raw.count()  # no rows lost in encoding joins
    stats = enc.agg(
        F.min("h"), F.max("h"), F.min("l"), F.max("l"), F.min("t"), F.max("t")
    ).collect()[0]
    assert stats[0] >= 0 and stats[1] < n_ent
    assert stats[2] >= 0 and stats[3] < n_lab
    # determinism: same ids on re-run
    ev2, _ = build_vocab(raw)
    assert ev.collect() == ev2.collect()


def test_filter_seen_semantics(spark, toy_triples):
    from transe_pyspark_spark.transe.data import load_triples

    raw = load_triples(spark, toy_triples)
    ev, lv = build_vocab(raw)
    test_df = spark.createDataFrame(
        [("e1", "r0", "e2"), ("unseen", "r0", "e2"), ("e1", "runseen", "e2")],
        ["head", "label", "tail"],
    )
    kept = filter_seen(test_df, ev, lv).collect()
    assert len(kept) == 1 and kept[0].head == "e1"


def test_model_init_invariants(spark):
    m = TransEModel.init_random(30, 5, k=16, seed=1)
    bound = 6.0 / np.sqrt(16)
    assert m.entity.shape == (30, 16) and m.label.shape == (5, 16)
    assert np.all(np.abs(m.entity) <= bound)
    np.testing.assert_allclose(np.linalg.norm(m.label, axis=1), 1.0, atol=1e-12)


def test_checkpoint_roundtrip(spark, tmp_path):
    """Bit-identical round trip; the files carry ``EMBEDDING_SCHEMA``;
    restore puts rows back by id whatever files and order they come in,
    and rejects a checkpoint with an id missing."""
    import glob
    import json

    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from transe_pyspark_spark.transe.model import EMBEDDING_SCHEMA

    m = TransEModel.init_random(20, 4, k=8, seed=3)
    path = str(tmp_path / "ckpt")
    m.checkpoint(spark, path)
    m2 = TransEModel.restore(spark, path)
    np.testing.assert_array_equal(m.entity, m2.entity)
    np.testing.assert_array_equal(m.label, m2.label)
    files = glob.glob(f"{path}/*.parquet")
    assert files
    for f in files:
        written = pq.read_schema(f).metadata[b"org.apache.spark.sql.parquet.row.metadata"]
        assert T.StructType.fromJson(json.loads(written)) == EMBEDDING_SCHEMA

    scattered = str(tmp_path / "scattered")
    (m.to_df(spark).repartition(3, "id").sortWithinPartitions(F.desc("id"))
     .write.parquet(scattered))
    assert len(glob.glob(f"{scattered}/*.parquet")) > 1
    m3 = TransEModel.restore(spark, scattered)
    np.testing.assert_array_equal(m.entity, m3.entity)
    np.testing.assert_array_equal(m.label, m3.label)
    with pytest.raises(ValueError, match="entity ids"):
        TransEModel.from_df(m.to_df(spark).where("kind != 'entity' OR id != 3"))


@pytest.mark.parametrize("distance", ["L1", "L2"])
def test_trainer_loss_decreases(spark, toy_triples, distance):
    from transe_pyspark_spark.transe.data import load_triples

    raw = load_triples(spark, toy_triples)
    ev, lv = build_vocab(raw)
    enc = encode_triples(raw, ev, lv)
    n_ent, n_lab = ev.count(), lv.count()
    tr = TransETrainer(k=16, n_epochs=12, n_batches=1, learning_rate=0.05,
                       distance=distance, seed=7)
    model = tr.fit(spark, enc, n_ent, n_lab)
    head, tail = np.mean(tr.loss_history[:3]), np.mean(tr.loss_history[-3:])
    assert tail < head, f"loss did not decrease: {tr.loss_history}"
    # mean-merge averages unit vectors from different partitions, so
    # norms are ≤ 1 (convexity) but not exactly 1; must stay bounded.
    norms = np.linalg.norm(model.entity, axis=1)
    assert np.all(norms <= 1.0 + 1e-9) and np.all(norms > 0.5), norms


def test_trainer_faithful_kernel(spark, toy_triples):
    """kernel='faithful' (sequential per-row updates with the evolving
    local cache — the reference's exact semantics, TransE.py:172-218)
    must also learn; vectorized and faithful should land in the same
    loss regime."""
    from transe_pyspark_spark.transe.data import load_triples

    raw = load_triples(spark, toy_triples)
    ev, lv = build_vocab(raw)
    enc = encode_triples(raw, ev, lv)
    n_ent, n_lab = ev.count(), lv.count()
    losses = {}
    for kern in ("faithful", "vectorized"):
        tr = TransETrainer(k=16, n_epochs=8, n_batches=1, learning_rate=0.05,
                           seed=7, kernel=kern)
        tr.fit(spark, enc, n_ent, n_lab)
        assert np.mean(tr.loss_history[-2:]) < np.mean(tr.loss_history[:2]), (kern, tr.loss_history)
        losses[kern] = tr.loss_history[-1]
    # same regime: within 2x of each other after 8 epochs
    lo, hi = sorted(losses.values())
    assert hi < 2 * lo, losses


def test_trainer_last_writer_unit_norms(spark, toy_triples):
    """merge='last' (the reference's last-writer-wins, TransE.py:159-170)
    preserves the per-touch renorm exactly → unit entity norms."""
    from transe_pyspark_spark.transe.data import load_triples

    raw = load_triples(spark, toy_triples)
    ev, lv = build_vocab(raw)
    enc = encode_triples(raw, ev, lv)
    tr = TransETrainer(k=16, n_epochs=3, n_batches=1, learning_rate=0.05,
                       distance="L2", seed=7, merge="last")
    model = tr.fit(spark, enc, ev.count(), lv.count())
    np.testing.assert_allclose(np.linalg.norm(model.entity, axis=1), 1.0, atol=1e-9)


def test_evaluator_matches_relational_flagship(spark, sf_dir):
    """The mapInPandas evaluator must agree with the declarative
    transe_rank_eval plan on the same synthetic KG (SURVEY §7 M2)."""
    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.orderBy("vec_id").collect()
    rel_rows = [r for r in rows if r.vec_id < 10]
    ent_rows = [r for r in rows if r.vec_id >= 10]
    ent_ids = [r.vec_id for r in ent_rows]
    id_of = {v: i for i, v in enumerate(ent_ids)}
    entity = np.array([r.embedding for r in ent_rows], dtype=np.float64)
    label = np.array([r.embedding for r in rel_rows], dtype=np.float64)
    model = TransEModel(entity, label)
    V = len(ent_ids)
    triples = [
        (id_of[r.vec_id], r.vec_id % 10, id_of[10 + (r.vec_id * 7) % V])
        for r in ent_rows
        if r.vec_id < 60
    ]
    tdf = spark.createDataFrame(triples, ["h", "l", "t"])
    ranks = rank_triples(spark, model, tdf, distance="L2")
    got = ranks.agg(
        F.count(F.lit(1)).alias("n_test"),
        F.avg("rank_tail").alias("mean_rank"),
        F.avg(F.when(F.col("rank_tail") <= 10, 1.0).otherwise(0.0)).alias("hits_at_10"),
    ).collect()[0]

    from transe_pyspark_spark.plans.queries import REGISTRY

    want = REGISTRY["transe_rank_eval"].fn(spark, sf_dir).collect()[0]
    assert got.n_test == want.n_test
    assert got.mean_rank == pytest.approx(want.mean_rank, abs=1e-9)
    assert got.hits_at_10 == pytest.approx(want.hits_at_10, abs=1e-12)


def test_train_then_eval_quality_band(spark, toy_triples):
    """End-to-end quality: after training, link-prediction Mean Rank on
    the training KG must beat the random-guess expectation (V/2) by a
    wide margin — the small-scale analogue of BASELINE.md's metric
    parity (SURVEY §5.3)."""
    from transe_pyspark_spark.transe.data import load_triples

    raw = load_triples(spark, toy_triples)
    ev, lv = build_vocab(raw)
    enc = encode_triples(raw, ev, lv).cache()
    n_ent, n_lab = ev.count(), lv.count()
    tr = TransETrainer(k=24, n_epochs=30, n_batches=1, learning_rate=0.05, seed=3)
    model = tr.fit(spark, enc, n_ent, n_lab)
    metrics = evaluate_link_prediction(spark, model, enc)
    random_expectation = n_ent / 2
    assert metrics["mean_rank"] < random_expectation * 0.7, metrics
    assert metrics["hits_at_10"] > 0.3, metrics


def test_overlap_trainer_quality_band(spark, toy_triples):
    """Overlapped (pipelined) trainer: pairs of batches run their
    kernels concurrently against one snapshot — a documented deviation
    from strict batch order. The end-to-end quality band must hold
    exactly as for the sequential trainer, and loss must decrease."""
    from transe_pyspark_spark.transe.data import load_triples

    raw = load_triples(spark, toy_triples)
    ev, lv = build_vocab(raw)
    enc = encode_triples(raw, ev, lv).cache()
    n_ent, n_lab = ev.count(), lv.count()
    tr = TransETrainer(k=24, n_epochs=30, n_batches=2, learning_rate=0.05, seed=3,
                       overlap=True)
    model = tr.fit(spark, enc, n_ent, n_lab)
    head, tail = np.mean(tr.loss_history[:3]), np.mean(tr.loss_history[-3:])
    assert tail < head, f"overlap trainer loss did not decrease: {tr.loss_history}"
    metrics = evaluate_link_prediction(spark, model, enc)
    random_expectation = n_ent / 2
    assert metrics["mean_rank"] < random_expectation * 0.7, metrics
    assert metrics["hits_at_10"] > 0.3, metrics


def test_relational_trainer_converges(spark, toy_triples):
    """The beyond-broadcastable-model path (train_relational): model
    state stays distributed; loss must decrease and per-touch entity
    renorm must hold."""
    from transe_pyspark_spark.transe.data import load_triples
    from transe_pyspark_spark.transe.train_relational import RelationalTransETrainer

    raw = load_triples(spark, toy_triples)
    ev, lv = build_vocab(raw)
    enc = encode_triples(raw, ev, lv)
    tr = RelationalTransETrainer(k=16, n_epochs=6, n_batches=1, learning_rate=0.01, seed=7)
    ent, lab = tr.fit(spark, enc, ev.count(), lv.count())
    head, tail = np.mean(tr.loss_history[:2]), np.mean(tr.loss_history[-2:])
    assert tail < head, f"relational trainer loss did not decrease: {tr.loss_history}"
    model = RelationalTransETrainer.to_local(ent, lab)
    np.testing.assert_allclose(np.linalg.norm(model.entity, axis=1), 1.0, atol=1e-9)
    assert model.k == 16


def test_relational_trainer_converges_beyond_broadcast_shape(spark):
    """r07 (VERDICT r06 ask #1): convergence at a shape where the SIZE
    CHECK ITSELF picks the shuffled regime — V=3,000, k=8 puts the
    entity table at 192 KB against a 100 KB broadcast-model limit, so
    nothing is force-enabled (broadcast_model_limit=0 was the old
    regime-forcing trick; this is the honest auto-selection the big
    V=2M bench shape exercises at full size)."""
    import pandas as pd

    from transe_pyspark_spark.transe.train_relational import RelationalTransETrainer

    V, L, N = 3000, 10, 6000
    rng = np.random.default_rng(23)
    h = rng.integers(0, V, N)
    l = rng.integers(0, L, N)
    t = (h * 3 + l * 101 + 7) % V  # deterministic structure → learnable
    enc = spark.createDataFrame(
        pd.DataFrame({"h": h, "l": l, "t": t}), schema="h long, l long, t long"
    )
    tr = RelationalTransETrainer(
        k=8, n_epochs=5, n_batches=1, learning_rate=0.01, seed=13,
        broadcast_model_limit=100_000,
    )
    ent, lab = tr.fit(spark, enc, V, L)
    assert not tr._broadcast_model, "192 KB model under a 100 KB limit must auto-shuffle"
    head, tail = np.mean(tr.loss_history[:2]), np.mean(tr.loss_history[-2:])
    assert tail < head, f"beyond-broadcast trainer loss did not decrease: {tr.loss_history}"
    # per-touch entity renorm holds in the shuffled regime too
    sample = ent.limit(50).collect()
    norms = [float(np.linalg.norm(r["vec"])) for r in sample]
    assert all(abs(n - 1.0) < 1e-9 for n in norms)


def test_relational_broadcast_and_shuffled_regimes_agree(spark, toy_triples):
    """The broadcast-model gather (map-side probe, no rid reassembly)
    and the beyond-broadcast shuffled plan must be the SAME trainer:
    identical loss history and final entity table, differing only in
    physical join strategy (the broadcast run at the FB15k bench shape
    reproduced the shuffled run's loss history bit-for-bit)."""
    from transe_pyspark_spark.transe.data import load_triples
    from transe_pyspark_spark.transe.train_relational import RelationalTransETrainer

    raw = load_triples(spark, toy_triples)
    ev, lv = build_vocab(raw)
    enc = encode_triples(raw, ev, lv)
    results = {}
    for name, limit in (("broadcast", 128 * 1024 * 1024), ("shuffled", 0)):
        tr = RelationalTransETrainer(
            k=8, n_epochs=3, n_batches=2, learning_rate=0.01, seed=11,
            broadcast_model_limit=limit,
        )
        ent, lab = tr.fit(spark, enc, ev.count(), lv.count())
        results[name] = (tr.loss_history, RelationalTransETrainer.to_local(ent, lab))
        assert tr._broadcast_model == (name == "broadcast")
    lb, mb = results["broadcast"]
    ls, ms = results["shuffled"]
    np.testing.assert_allclose(lb, ls, rtol=1e-12)
    np.testing.assert_allclose(mb.entity, ms.entity, rtol=1e-12)
    np.testing.assert_allclose(mb.label, ms.label, rtol=1e-12)


def test_relational_regimes_agree_big_v_reduced_shape(spark):
    """r08 (VERDICT r07 ask #6): the broadcast≡shuffled agreement was
    pinned only at the FB15k toy shape; after the r08 entity-state
    change (repartition+cache pinning + periodic lazy-checkpoint
    lineage truncation in the shuffled regime) pin a REDUCED
    beyond-broadcast shape too — V=200,000 at k=8 is a 12.8 MB entity
    table, so a 10 MB broadcast_model_limit makes the SIZE CHECK
    itself select the shuffled regime (nothing force-enabled), while
    the broadcast run keeps the default limit. Loss histories and the
    final model must agree to 1e-12, and the shuffled run is driven
    through >lineage_truncate_every batches so the truncation path is
    exercised, not just the steady-state pin."""
    import pandas as pd

    from transe_pyspark_spark.transe.train_relational import RelationalTransETrainer

    V, L, N = 200_000, 12, 8_000
    rng = np.random.default_rng(31)
    h = rng.integers(0, V, N)
    l = rng.integers(0, L, N)
    t = (h * 3 + l * 1009 + 11) % V
    enc = spark.createDataFrame(
        pd.DataFrame({"h": h, "l": l, "t": t}), schema="h long, l long, t long"
    )
    results = {}
    for name, limit in (("broadcast", 128 * 1024 * 1024), ("shuffled", 10 * 1024 * 1024)):
        tr = RelationalTransETrainer(
            k=8, n_epochs=3, n_batches=2, learning_rate=0.01, seed=17,
            broadcast_model_limit=limit, lineage_truncate_every=2,
        )
        ent, lab = tr.fit(spark, enc, V, L)
        assert tr._broadcast_model == (name == "broadcast"), (
            f"{name}: size check picked the wrong regime"
        )
        results[name] = (tr.loss_history, RelationalTransETrainer.to_local(ent, lab))
    lb, mb = results["broadcast"]
    ls, ms = results["shuffled"]
    np.testing.assert_allclose(lb, ls, rtol=1e-12)
    np.testing.assert_allclose(mb.entity, ms.entity, rtol=1e-12)
    np.testing.assert_allclose(mb.label, ms.label, rtol=1e-12)


def test_relational_init_deterministic(spark):
    """The distributed init is a pure function of (seed, id): the same
    seed yields bit-identical vectors under different partitioning
    (task retries / executor counts reroute rows but can't change the
    draw), and a different seed yields a different table."""
    from transe_pyspark_spark.transe.train_relational import RelationalTransETrainer

    tr = RelationalTransETrainer(k=8, seed=5)
    a = tr._init_embeddings(spark, 64, 8, seed=5, normalize=True)
    b = tr._init_embeddings(spark, 64, 8, seed=5, normalize=True).repartition(3)
    rows_a = {r.id: r.vec for r in a.collect()}
    rows_b = {r.id: r.vec for r in b.collect()}
    assert rows_a == rows_b
    # pure-function check against a driver-side reproduction (through
    # l2_normalize_rows — np.linalg.norm on a bare 1-D vector rounds
    # differently than the axis-1 matrix reduction)
    from transe_pyspark_spark.transe.model import l2_normalize_rows

    bound = 6.0 / np.sqrt(8)
    for ident in (0, 17, 63):
        vec = np.random.default_rng([5, ident]).uniform(-bound, bound, 8)
        vec = l2_normalize_rows(vec[None, :])[0]
        np.testing.assert_allclose(rows_a[ident], vec, rtol=0, atol=0)
    c = {r.id: r.vec for r in tr._init_embeddings(spark, 64, 8, seed=6, normalize=True).collect()}
    assert c != rows_a


def test_filtered_protocol_dominates_raw(spark, toy_triples):
    """Filtered evaluation can only improve metrics: every filtered
    rank ≤ its raw rank (known-true corruptions are excluded), and the
    test triple itself is never filtered out."""
    from transe_pyspark_spark.transe.data import load_triples
    from transe_pyspark_spark.transe.evaluate import rank_triples

    raw_df = load_triples(spark, toy_triples)
    ev, lv = build_vocab(raw_df)
    enc = encode_triples(raw_df, ev, lv).cache()
    model = TransEModel.init_random(ev.count(), lv.count(), k=16, seed=2)
    raw = {(r.h, r.l, r.t): (r.rank_head, r.rank_tail)
           for r in rank_triples(spark, model, enc).collect()}
    filt = {(r.h, r.l, r.t): (r.rank_head, r.rank_tail)
            for r in rank_triples(spark, model, enc, known_triples=enc).collect()}
    assert raw.keys() == filt.keys()
    strictly_better = 0
    for k in raw:
        assert filt[k][0] <= raw[k][0] and filt[k][1] <= raw[k][1], (k, raw[k], filt[k])
        strictly_better += int(filt[k] != raw[k])
    assert strictly_better > 0  # the toy KG has colliding (h,l) pairs


def test_eval_metrics_shape(spark, sf_dir):
    m = TransEModel.init_random(50, 5, k=8, seed=11)
    tdf = spark.createDataFrame([(1, 0, 2), (3, 1, 4), (5, 2, 6)], ["h", "l", "t"])
    out = evaluate_link_prediction(spark, m, tdf)
    assert 0 <= out["mean_rank"] < 50
    assert 0.0 <= out["hits_at_10"] <= 1.0


def _bruteforce_ranks(E, L, triples, known, l1):
    """The documented rank rule, candidate by candidate: a candidate
    counts if it is strictly closer than the true entity, or equally
    close with a smaller id; known-true candidates other than the true
    one never count. Returns (h, l, t, rank_head, rank_tail) rows."""
    known = set(known)
    dist = (lambda x: np.abs(x).sum()) if l1 else (lambda x: (x * x).sum())

    def rank(d, true, excluded):
        return sum(1 for c in range(len(d)) if c != true and c not in excluded
                   and (d[c] < d[true] or (d[c] == d[true] and c < true)))

    out = []
    for h, l, t in triples:
        d_tail = [dist(E[h] + L[l] - E[c]) for c in range(len(E))]
        d_head = [dist(E[c] + L[l] - E[t]) for c in range(len(E))]
        other_tails = {c for a, b, c in known if (a, b) == (h, l)}
        other_heads = {a for a, b, c in known if (b, c) == (l, t)}
        out.append((h, l, t, rank(d_head, h, other_heads), rank(d_tail, t, other_tails)))
    return out


def test_ranks_match_bruteforce_on_exact_ties(spark):
    """Raw and filtered ranks equal a brute force of the rank rule
    exactly, for both distances. Small-integer embeddings make every L1
    and L2 distance an exact integer, so ties are common and any
    rounding or tie-break slip would change a rank. ``known`` holds
    duplicate rows; one test triple is absent from it and one test row
    appears twice."""
    rng = np.random.default_rng(5)
    V, n_lab = 12, 2
    E = rng.integers(-1, 2, size=(V, 3)).astype(np.float64)
    L = rng.integers(-1, 2, size=(n_lab, 3)).astype(np.float64)
    model = TransEModel(E, L)
    known = sorted({(int(rng.integers(V)), int(rng.integers(n_lab)), int(rng.integers(V)))
                    for _ in range(60)})
    absent = next((h, l, t) for h in range(V) for l in range(n_lab) for t in range(V)
                  if (h, l, t) not in set(known))
    test = known[::4] + [absent, known[0]]
    known_df = spark.createDataFrame(known + known[:10], ["h", "l", "t"])
    test_df = spark.createDataFrame(test, ["h", "l", "t"])
    n_filtered = 0
    for distance in ("L1", "L2"):
        l1 = distance == "L1"
        raw = sorted(tuple(r) for r in rank_triples(spark, model, test_df, distance).collect())
        assert raw == sorted(_bruteforce_ranks(E, L, test, [], l1)), distance
        filt = sorted(tuple(r) for r in rank_triples(spark, model, test_df, distance,
                                                     known_triples=known_df).collect())
        assert filt == sorted(_bruteforce_ranks(E, L, test, known, l1)), distance
        n_filtered += sum(a != b for a, b in zip(raw, filt))
    assert n_filtered > 0  # the known set does move some ranks


def test_metrics_run_ranking_kernel_once(spark, toy_triples):
    """The metrics aggregation reads the ranks once: its executed plan
    holds one ranking ``MapInPandas``, raw and filtered alike."""
    from transe_pyspark_spark.transe.data import load_triples
    from transe_pyspark_spark.transe.evaluate import rank_metrics

    raw_df = load_triples(spark, toy_triples)
    ev, lv = build_vocab(raw_df)
    enc = encode_triples(raw_df, ev, lv).cache()
    model = TransEModel.init_random(ev.count(), lv.count(), k=8, seed=4)
    for known in (None, enc):
        metrics = rank_metrics(rank_triples(spark, model, enc, known_triples=known))
        metrics.collect()
        plan = metrics._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
        assert "isFinalPlan=true" in plan
        assert plan.count("MapInPandas") == 1, plan


def test_bloom_rejection_no_false_negatives(spark, toy_triples):
    """The Bloom rejection filter must contain every train triple (no
    false negatives — a true triple is never accepted as a negative)
    and reject few non-members (false-positive rate within design)."""
    import numpy as np
    from transe_pyspark_spark.transe.data import load_triples
    from transe_pyspark_spark.transe.train import BloomRejection

    raw_df = load_triples(spark, toy_triples)
    ev, lv = build_vocab(raw_df)
    enc = encode_triples(raw_df, ev, lv).cache()
    n = enc.count()
    bloom = BloomRejection.build(enc, n)
    rows = enc.collect()
    h = np.array([r.h for r in rows], np.int64)
    l = np.array([r.l for r in rows], np.int64)
    t = np.array([r.t for r in rows], np.int64)
    assert bloom.contains(h, l, t).all()
    rng = np.random.default_rng(0)
    fh = rng.integers(10_000, 20_000, size=5000).astype(np.int64)
    fl = rng.integers(10_000, 20_000, size=5000).astype(np.int64)
    ft = rng.integers(10_000, 20_000, size=5000).astype(np.int64)
    fp_rate = bloom.contains(fh, fl, ft).mean()
    assert fp_rate < 0.05, fp_rate


def test_trainer_bloom_rejection_converges(spark, toy_triples):
    """fit() with rejection="bloom" never collects the trainset and
    still trains (loss decreases, unit norms hold)."""
    import numpy as np
    from transe_pyspark_spark.transe.data import load_triples
    from transe_pyspark_spark.transe.train import TransETrainer

    raw_df = load_triples(spark, toy_triples)
    ev, lv = build_vocab(raw_df)
    enc = encode_triples(raw_df, ev, lv).cache()
    tr = TransETrainer(k=16, n_epochs=6, n_batches=1, learning_rate=0.05,
                       margin=1.0, seed=3, rejection="bloom", merge="last",
                       train_partitions=2)
    model = tr.fit(spark, enc, ev.count(), lv.count())
    head = sum(tr.loss_history[:2]) / 2
    tail = sum(tr.loss_history[-2:]) / 2
    assert tail < head, tr.loss_history
    np.testing.assert_allclose(np.linalg.norm(model.entity, axis=1), 1.0, atol=1e-9)


def test_pickle_checkpoint_roundtrip_and_reference_compat(spark, tmp_path):
    """backup_pickle/restore_pickle roundtrip, plus loading a pickle
    written by the REFERENCE's Embedding class (utils.py:44-59) —
    simulated with an identically-shaped class in a foreign module, so
    the module-remapping unpickler is exercised."""
    import pickle
    import sys
    import types

    m = TransEModel.init_random(12, 3, k=6, seed=7)
    m.backup_pickle(str(tmp_path), 999)
    m2 = TransEModel.restore_pickle(
        str(tmp_path / "entity_embedding_999.pkl"), str(tmp_path / "label_embedding_999.pkl")
    )
    np.testing.assert_array_equal(m.entity, m2.entity)
    np.testing.assert_array_equal(m.label, m2.label)

    # fabricate "TransEmodule.Embedding" with its own Embedding class
    mod = types.ModuleType("TransEmodule.Embedding")

    class Embedding:
        def __init__(self, vector):
            self._vector = np.asarray(vector)

        @property
        def vector(self):
            return self._vector

    Embedding.__module__ = "TransEmodule.Embedding"
    Embedding.__qualname__ = "Embedding"
    mod.Embedding = Embedding
    parent = types.ModuleType("TransEmodule")
    parent.Embedding = mod
    sys.modules["TransEmodule"] = parent
    sys.modules["TransEmodule.Embedding"] = mod
    try:
        for name, mat in (("entity", m.entity), ("label", m.label)):
            with open(tmp_path / f"{name}_embedding_7.pkl", "wb") as out:
                pickle.dump(Embedding(mat), out, pickle.HIGHEST_PROTOCOL)
    finally:
        del sys.modules["TransEmodule.Embedding"]
        del sys.modules["TransEmodule"]
    # the writer's module is gone — plain pickle.load would fail here
    m3 = TransEModel.restore_pickle(
        str(tmp_path / "entity_embedding_7.pkl"), str(tmp_path / "label_embedding_7.pkl")
    )
    np.testing.assert_array_equal(m.entity, m3.entity)
    np.testing.assert_array_equal(m.label, m3.label)


def test_eval_progress_replay(spark, toy_triples):
    """progress_every reproduces the reference's running-metric prints
    (test.py:64-68) and the progress path's final metrics equal the
    default aggregation path's."""
    from transe_pyspark_spark.transe.data import load_triples
    from transe_pyspark_spark.transe.evaluate import evaluate_link_prediction

    raw = load_triples(spark, toy_triples)
    ev, lv = build_vocab(raw)
    enc = encode_triples(raw, ev, lv).cache()
    n_ent, n_lab = ev.count(), lv.count()
    m = TransEModel.init_random(n_ent, n_lab, k=8, seed=11)
    lines: list[str] = []
    got = evaluate_link_prediction(spark, m, enc, progress_every=3, progress_fn=lines.append)
    want = evaluate_link_prediction(spark, m, enc)
    assert got == pytest.approx(want)
    n_emits = len(range(0, enc.count(), 3))
    assert len(lines) == 3 * n_emits
    assert lines[0].startswith("Mean: ") and lines[1].startswith("Hit: ") and lines[2] == "0"


def test_relational_corrupt_regimes_identical(spark, toy_triples):
    """The exchange-free earliest-survivor pick (broadcast-rejection
    regime, r06) must train IDENTICALLY to the shuffled min_by
    reduction (beyond-broadcast regime, forced via
    broadcast_rejection_limit=0): same corruption choices → the same
    loss history to the last bit."""
    from transe_pyspark_spark.transe.data import load_triples
    from transe_pyspark_spark.transe.train_relational import RelationalTransETrainer

    raw = load_triples(spark, toy_triples)
    ev, lv = build_vocab(raw)
    enc = encode_triples(raw, ev, lv)
    hist = {}
    for name, limit in (("narrow", 100_000_000), ("shuffled", 0)):
        tr = RelationalTransETrainer(
            k=8, n_epochs=2, n_batches=2, learning_rate=0.01, seed=7,
            broadcast_rejection_limit=limit,
        )
        tr.fit(spark, enc, ev.count(), lv.count())
        hist[name] = tr.loss_history
    assert hist["narrow"] == hist["shuffled"], hist
