"""Time the relational TransE trainer epoch at the reference's
published scale (FB15k-237 shape: 483,142 triples, V=14,541, L=237,
k=50, 2 batches) — the same shape bench.py times for the broadcast
path (VERDICT r03 item 2: 'convergence-tested but never timed').

Usage: python scripts/bench_relational_epoch.py [n_epochs] [shuffled|big]
Prints per-epoch wall seconds; the bench.py section records the median.
``shuffled`` forces broadcast_model_limit=0 — the beyond-broadcast
regime (shuffled gather + rid reassembly + shuffled update join), so
the bench records BOTH regimes honestly.
``big`` (r07, VERDICT r06 ask #1) is the shape that actually NEEDS the
relational path: V=2,000,000, k=50 → an ~800 MB entity table, 6.25×
the 128 MB broadcast-model limit, so the SIZE CHECK ITSELF picks the
shuffled regime — nothing is force-enabled. N=500,000 triples in one
batch, L=100. The script asserts the auto-selected regime really is
beyond-broadcast.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd

from transe_pyspark_spark.session import get_spark
from transe_pyspark_spark.transe.train_relational import RelationalTransETrainer


def main() -> None:
    n_epochs = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    mode = sys.argv[2] if len(sys.argv) > 2 else "auto"
    if mode == "big":
        V, L, N, K, n_batches = 2_000_000, 100, 500_000, 50, 1
    else:
        V, L, N, K, n_batches = 14541, 237, 483142, 50, 2
    spark = get_spark("bench-relational")
    rng = np.random.default_rng(42)
    pdf = pd.DataFrame(
        {"h": rng.integers(0, V, N), "l": rng.integers(0, L, N), "t": rng.integers(0, V, N)}
    )
    triples = spark.createDataFrame(pdf).repartition(32)

    tr = RelationalTransETrainer(
        k=K, n_epochs=n_epochs, n_batches=n_batches, learning_rate=0.01, seed=1,
        broadcast_model_limit=0 if mode == "shuffled" else 128 * 1024 * 1024,
    )
    t0 = time.time()
    ent, lab = tr.fit(spark, triples, n_entities=V, n_labels=L)
    total = time.time() - t0
    if mode == "big":
        model_mb = V * K * 8 / 1024 / 1024
        assert not tr._broadcast_model, "big shape must auto-select the shuffled regime"
        print(f"regime: shuffled (entity table {model_mb:.0f} MB > 128 MB limit, auto)")
    times = getattr(tr, "epoch_times", [])
    print(f"total {total:.2f}s for {n_epochs} epochs")
    for i, t in enumerate(times):
        print(f"epoch {i}: {t:.2f}s")
    if times:
        later = sorted(times[1:]) or times
        print(f"median(after-first): {later[len(later) // 2]:.2f}s")
    print("loss history:", [round(x, 1) for x in tr.loss_history])
    # one line per phase so bench.py's regex can lift the breakdown
    # into BENCH_r{N}.json (cumulative seconds across all epochs)
    for name, v in getattr(tr, "phase_times", {}).items():
        print(f"phase {name}: {v:.2f}s")
    # per-EPOCH deltas (r09, VERDICT r08 ask #7): epoch 0 carries the
    # init/warmup cost, so the cumulative totals above hide the
    # steady-state gather-vs-corrupt ratio; these rows expose it
    for i, d in enumerate(getattr(tr, "epoch_phase_times", [])):
        parts = " ".join(f"{n}={v:.2f}" for n, v in d.items())
        print(f"epochphases {i}: {parts}")
    # Stop the JVM and wait for it: its CPU, and that of the Python
    # workers it reaped, then counts as this process's reaped children,
    # which is how bench.py charges the row's cpu_s. Left to exit on its
    # own after this process, the JVM is reparented and its CPU is
    # counted nowhere.
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.proc.stdin.close()
    gateway.proc.wait()


if __name__ == "__main__":
    main()
