"""r14 additions: the multi-partition X3 merge faces (VERDICT r13 asks
#2/#5) and the whole-frame-as-one-batch kernel contract (ADVICE r13).

The oracle harness hash-checks the faces' VALUES against DuckDB; the
tests here pin the semantic claims the oracles cannot state —
mean-merge actually differs from last-writer on the shared fixture
(proving the duplicate-id averaging path executes), the chunked Arrow
transport cannot change results, and the chained two-step face equals
the hand-rolled sequential composition.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def _fixture(spark, n_triples=30, V=40, Lb=10, D=8, seed=7):
    rng = np.random.default_rng(seed)
    E0 = np.round(rng.uniform(-1, 1, (V, D)) * 1e6)
    L0 = np.round(rng.uniform(-1, 1, (Lb, D)) * 1e6)
    triples = spark.range(n_triples).select(
        F.col("id").alias("h"),
        (F.col("id") % Lb).alias("l"),
        ((F.col("id") * 7 + 3) % V).alias("t"),
    )
    return E0, L0, triples


def test_merged_mean_differs_from_lastwriter(spark):
    """VERDICT r13 ask #2's 'done' bar: the mean-merge result DIFFERS
    from last-writer on the same fixture — the parity split produces
    overlapping touched ids and the two kernels disagree on them, so
    the cross-kernel averaging path is genuinely exercised (a fixture
    where the modes coincide would pin nothing)."""
    from transe_pyspark_spark.transe.train import sgd_step_deterministic

    E0, L0, triples = _fixture(spark)
    e_m, _, ei_m, _ = sgd_step_deterministic(
        spark, triples, E0, L0, 10_000.0, 100_000.0, parts=2, merge="mean"
    )
    e_l, _, ei_l, _ = sgd_step_deterministic(
        spark, triples, E0, L0, 10_000.0, 100_000.0, parts=2, merge="last"
    )
    assert set(map(int, ei_m)) == set(map(int, ei_l))
    differing = [int(i) for i in ei_m if not np.array_equal(e_m[i], e_l[i])]
    assert differing, "mean and last-writer coincide — no overlapping disagreement"


def test_merged_mean_differs_from_single_batch(spark):
    """The 2-partition mean is NOT the single-batch step (each kernel
    renorms against its own accumulator before the merge averages), so
    the face covers state the single-partition transe_sgd_step face
    cannot: a merge regression changing either path breaks exactly one
    of the two oracles."""
    from transe_pyspark_spark.transe.train import sgd_step_deterministic

    E0, L0, triples = _fixture(spark)
    e_m, _, ei_m, _ = sgd_step_deterministic(
        spark, triples, E0, L0, 10_000.0, 100_000.0, parts=2, merge="mean"
    )
    e_1, _, ei_1, _ = sgd_step_deterministic(
        spark, triples, E0, L0, 10_000.0, 100_000.0
    )
    assert set(map(int, ei_m)) == set(map(int, ei_1))  # same touched set
    assert any(not np.array_equal(e_m[i], e_1[i]) for i in map(int, ei_m))


def test_partition_overlap_exists(spark):
    """The parity fixture guarantees cross-partition touched-id overlap
    (e.g. an even h's tail is an odd head) — the precondition for asks
    #2/#5a to test anything. Verified structurally: the union of both
    kernels' shipped id lists contains duplicates."""
    import pandas as pd

    from transe_pyspark_spark.transe.train import sgd_step_deterministic

    E0, L0, triples = _fixture(spark)
    # run the two kernel jobs exactly as the partitioned step does and
    # inspect the per-kernel id lists before the merge dedups them
    per_part_ids = []
    for p in range(2):
        _, _, ids, _ = sgd_step_deterministic(
            spark,
            triples.filter((F.col("h") % 2) == p),
            E0,
            L0,
            10_000.0,
            100_000.0,
            reject_triples=triples,
        )
        per_part_ids.append(set(map(int, ids)))
    overlap = per_part_ids[0] & per_part_ids[1]
    assert overlap, "parity split produced no overlapping touched entities"


def test_kernel_result_independent_of_arrow_chunking(spark):
    """ADVICE r13: the kernel must concatenate incoming Arrow chunks
    before stepping — per-chunk stepping renorms between chunks and
    gives chunk-dependent results. Forcing 7-row record batches over a
    30-triple partition (5 chunks) must reproduce the default-batch
    result bit for bit."""
    from transe_pyspark_spark.transe.train import sgd_step_deterministic

    E0, L0, triples = _fixture(spark)
    base_e, base_l, base_ei, base_li = sgd_step_deterministic(
        spark, triples, E0, L0, 10_000.0, 100_000.0
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, "10000")
    spark.conf.set(key, "7")
    try:
        chunk_e, chunk_l, chunk_ei, chunk_li = sgd_step_deterministic(
            spark, triples, E0, L0, 10_000.0, 100_000.0
        )
    finally:
        spark.conf.set(key, old)
    assert np.array_equal(base_ei, chunk_ei)
    assert np.array_equal(base_li, chunk_li)
    assert np.array_equal(base_e, chunk_e)
    assert np.array_equal(base_l, chunk_l)


def test_two_steps_equals_sequential_composition(spark):
    """The chained face is exactly step(A) → requantize → step(B): the
    wrapper must match the hand-rolled composition (guards refactors of
    the chain helper against silently changing the inter-step
    discipline)."""
    from transe_pyspark_spark.transe.train import (
        quantize_touched_micro,
        sgd_step_deterministic,
        sgd_two_steps_deterministic,
    )

    E0, L0, triples = _fixture(spark)
    tr_a = triples.filter(F.col("h") < 15)
    tr_b = triples.filter(F.col("h") >= 15)
    e2, l2, ei, li = sgd_two_steps_deterministic(
        spark, tr_a, tr_b, E0, L0, 10_000.0, 100_000.0, reject_triples=triples
    )
    m_e1, m_l1, m_ei1, m_li1 = sgd_step_deterministic(
        spark, tr_a, E0, L0, 10_000.0, 100_000.0, reject_triples=triples
    )
    quantize_touched_micro(m_e1, m_ei1)
    m_e2, m_l2, m_ei2, m_li2 = sgd_step_deterministic(
        spark, tr_b, m_e1, m_l1, 10_000.0, 100_000.0, reject_triples=triples
    )
    quantize_touched_micro(m_e2, m_ei2)
    assert set(map(int, ei)) == set(map(int, m_ei1)) | set(map(int, m_ei2))
    assert set(map(int, li)) == set(map(int, m_li1)) | set(map(int, m_li2))
    assert np.array_equal(e2, m_e2)
    assert np.array_equal(l2, m_l2)


def test_two_steps_second_step_sees_first(spark):
    """The inter-batch snapshot discipline is live: running step B
    against the ORIGINAL snapshot gives a different result than the
    chained run (if it didn't, the chain would pin nothing)."""
    from transe_pyspark_spark.transe.train import (
        sgd_step_deterministic,
        sgd_two_steps_deterministic,
    )

    E0, L0, triples = _fixture(spark)
    tr_a = triples.filter(F.col("h") < 15)
    tr_b = triples.filter(F.col("h") >= 15)
    e2, _, ei, _ = sgd_two_steps_deterministic(
        spark, tr_a, tr_b, E0, L0, 10_000.0, 100_000.0, reject_triples=triples
    )
    eb, _, eib, _ = sgd_step_deterministic(
        spark, tr_b, E0, L0, 10_000.0, 100_000.0, reject_triples=triples
    )
    common = set(map(int, ei)) & set(map(int, eib))
    assert any(not np.array_equal(e2[i], eb[i]) for i in common)


def test_merged_hinge_split_has_signal(spark, sf_dir):
    """Both kernels of the registered merged face carry BOTH hinge
    branches (violations and non-violations) on the real fixture — the
    margin keeps carrying signal after the parity split, so the oracle
    checks live gradient math in each partition, not a degenerate
    all-pass batch."""
    from transe_pyspark_spark.plans.queries import _sgd_face_fixture
    from transe_pyspark_spark.transe.train import (
        ExactRejection,
        _distances,
        deterministic_corrupt,
    )

    E0, L0, triples = _sgd_face_fixture(spark, sf_dir)
    tp = triples.toPandas()
    h = tp["h"].to_numpy(np.int64)
    l = tp["l"].to_numpy(np.int64)
    t = tp["t"].to_numpy(np.int64)
    rej = ExactRejection(h, l, t, E0.shape[0], L0.shape[0])
    ch, ct, _ = deterministic_corrupt(h, t, l, E0.shape[0], rej)
    d_pos = _distances(E0[h] + L0[l] - E0[t], "L1")
    d_neg = _distances(E0[ch] + L0[l] - E0[ct], "L1")
    viol = 100_000.0 + d_pos - d_neg > 0
    for p in range(2):
        mask = (h % 2) == p
        assert viol[mask].any(), f"partition {p}: no violations"
        assert (~viol[mask]).any(), f"partition {p}: all violations"


def test_two_steps_second_hinge_has_signal(spark, sf_dir):
    """Step 2 of the registered chain face carries BOTH hinge branches
    against the EVOLVED (step-1) snapshot — the margin keeps carrying
    signal after the chain, so the oracle checks live gradient math in
    the second step, not a degenerate all-pass batch."""
    import numpy as np

    from transe_pyspark_spark.plans.queries import _sgd_face_fixture
    from transe_pyspark_spark.transe.train import (
        ExactRejection,
        _distances,
        deterministic_corrupt,
        quantize_touched_micro,
        sgd_step_deterministic,
    )

    E0, L0, triples = _sgd_face_fixture(spark, sf_dir)
    tp = triples.toPandas()
    h, l, t = (tp[c].to_numpy(np.int64) for c in ("h", "l", "t"))
    rej = ExactRejection(h, l, t, E0.shape[0], L0.shape[0])
    e1, l1, ei1, _ = sgd_step_deterministic(
        spark, triples.filter("h < 25"), E0, L0, 10_000.0, 100_000.0,
        reject_triples=triples,
    )
    quantize_touched_micro(e1, ei1)
    mask = h >= 25
    hb, lb, tb = h[mask], l[mask], t[mask]
    ch, ct, _ = deterministic_corrupt(hb, tb, lb, E0.shape[0], rej)
    d_pos = _distances(e1[hb] + l1[lb] - e1[tb], "L1")
    d_neg = _distances(e1[ch] + l1[lb] - e1[ct], "L1")
    viol = 100_000.0 + d_pos - d_neg > 0
    assert viol.any() and (~viol).any()
