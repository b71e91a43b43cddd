"""r16 (second optimization round) tests: invariants the optimized
paths rely on."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest


def _capture_update_frames(spark, kernel: str) -> list[pd.DataFrame]:
    """Run a tiny real fit with the given kernel and capture every
    collected updates frame through a merge shim (restored in a
    finally, per the ADVICE r15 ab_merge_trainer note)."""
    import transe_pyspark_spark.transe.train as T

    captured: list[pd.DataFrame] = []
    real_merge = T._merge_updates

    def capturing(updates, entity, label, merge):
        captured.append(updates)
        return real_merge(updates, entity, label, merge)

    V, L, N, K = 60, 5, 400, 8
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {"h": rng.integers(0, V, N), "l": rng.integers(0, L, N), "t": rng.integers(0, V, N)}
    )
    triples = spark.createDataFrame(pdf)
    T._merge_updates = capturing
    try:
        tr = T.TransETrainer(
            k=K, n_epochs=1, n_batches=2, learning_rate=0.01, seed=3,
            kernel=kernel, train_partitions=3,
        )
        tr.fit(spark, triples, n_entities=V, n_labels=L)
    finally:
        T._merge_updates = real_merge
    return captured


@pytest.mark.parametrize("kernel", ["vectorized", "faithful"])
def test_update_frame_ids_unique_within_frame(spark, kernel):
    """ADVICE r15: the mean-merge's per-frame fancy-index ``+=`` (and
    the last-writer per-frame assignment) are only bitwise-correct when
    each update frame's ids are unique WITHIN the frame — a duplicate
    id would collapse to one add where the old ``np.add.at`` performed
    both. Both producers guarantee it by construction (`_pack_dense`
    packs ``np.nonzero`` of a touched mask; the faithful kernel packs
    dict keys); this pins the invariant on REAL kernel output from both
    kernels so a future producer that violates it fails loudly here
    instead of corrupting training silently."""
    frames = _capture_update_frames(spark, kernel)
    assert frames, "fit produced no update frames"
    checked = 0
    for updates in frames:
        for _, row in updates.iterrows():
            if row["kind"] == "__loss__":
                continue
            ids = np.asarray(row["ids"], dtype=np.int64)
            assert len(np.unique(ids)) == len(ids), (
                f"duplicate ids within one {row['kind']} update frame "
                f"({kernel} kernel) — _merge_updates' per-frame scatter "
                "requires within-frame uniqueness"
            )
            checked += 1
    assert checked > 0


def test_pack_dense_ids_unique():
    """`_pack_dense` (the vectorized kernel's packer) emits
    ``np.nonzero`` of a boolean mask — unique and sorted by
    construction; pinned directly."""
    from transe_pyspark_spark.transe.train import _pack_dense

    acc = np.arange(12.0).reshape(4, 3)
    touched = np.array([True, False, True, True])
    kind, ids, blob = _pack_dense(acc, touched, "entity")
    assert ids == [0, 2, 3]
    assert len(set(ids)) == len(ids)
    assert np.array_equal(
        np.frombuffer(blob, dtype=np.float64).reshape(-1, 3), acc[[0, 2, 3]]
    )
