"""Link-prediction evaluator (SURVEY §2B R22) — the reference's
``test.py`` rebuilt: Mean Rank & Hits@10 under the paper's *raw*
protocol, plus the *filtered* protocol of Bordes et al. §4.

Semantics parity (SURVEY §4 quirks 4-5): ranks are **0-based** (the
position in the distance argsort — so ``hits@10`` effectively counts
top-11). Both head and tail are ranked per triple (``test.py:49-62``).

Execution: the entity/label matrices are broadcast once (vs 6
broadcasts in the reference, ``test.py:79-84``); test triples stream
through ``mapInPandas`` where a whole Arrow batch of triples is scored
against all V candidates in one BLAS call — the reference scores one
triple at a time (``test.py:49-58``). Filtered ranking is an input of
the same kernel: a join on integer keys hands each test row the ids of
its other known-true candidates, whose distances are set to +inf before
ranks are counted. Metrics are one aggregation over both rank columns
(SURVEY §2A A2/A3), so every evaluation runs the kernel once.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from transe_pyspark_spark.transe.model import TransEModel

_RANK_SCHEMA = "h long, l long, t long, rank_head long, rank_tail long"
_KEYS = ["h", "l", "t"]


def rank_triples(
    spark: SparkSession,
    model: TransEModel,
    test_triples: DataFrame,
    distance: str = "L2",
    known_triples: DataFrame | None = None,
) -> DataFrame:
    """Per-triple 0-based head/tail ranks against the full entity vocab,
    one output row per test row.

    A candidate counts towards a rank if it is strictly closer than the
    true entity, or equally close with a smaller id (the stable-argsort
    order of the reference).

    ``known_triples`` switches to the paper's **filtered** protocol
    (Bordes et al. §4, not implemented by the reference — it is
    raw-only, ``test.py:49-62``): candidate corruptions that are
    themselves known-true triples never count, so a model isn't
    penalized for ranking another correct answer above the test one.
    Pass the union of train+valid+test triples; duplicates are harmless.
    The exclusion is exact — it applies to the kernel's own distances —
    and ``known_triples`` is only joined on its integer keys, never
    collected, however large the KG.
    """
    sc = spark.sparkContext
    b_ent = sc.broadcast(model.entity)
    b_lab = sc.broadcast(model.label)
    use_l1 = distance == "L1"
    filtered = known_triples is not None
    rows_in = test_triples.select(*_KEYS)
    if filtered:
        rows_in = _with_known_candidates(rows_in, known_triples)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        E = b_ent.value  # (V, k)
        L = b_lab.value
        e_sq = (E * E).sum(axis=1)
        # bound peak memory: the B×V distance matrix (B×V×k for L1)
        # must stay ~hundreds of MB however large V or the Arrow batch
        V = E.shape[0]
        budget = 30_000_000 if not use_l1 else max(1, 30_000_000 // E.shape[1])
        rows_per_chunk = max(1, budget // max(V, 1))
        for whole in batches:
          for start in range(0, len(whole), rows_per_chunk):
            pdf = whole.iloc[start : start + rows_per_chunk]
            h = pdf["h"].to_numpy(np.int64)
            l = pdf["l"].to_numpy(np.int64)
            t = pdf["t"].to_numpy(np.int64)
            # tail ranking: d(h + l, e) for every candidate e
            q_tail = E[h] + L[l]  # (B, k)
            # head ranking: d(e + l, t) = d(e, t - l)
            q_head = E[t] - L[l]
            if use_l1:
                d_tail = np.abs(q_tail[:, None, :] - E[None, :, :]).sum(axis=2)
                d_head = np.abs(E[None, :, :] - q_head[:, None, :]).sum(axis=2)
            else:
                d_tail = _sq_dists(q_tail, E, e_sq)
                d_head = _sq_dists(q_head, E, e_sq)
            if filtered:
                # known-true corruptions (the true entity is never among
                # them) are pushed past every real candidate
                _exclude(d_tail, pdf["excl_tail"].to_numpy())
                _exclude(d_head, pdf["excl_head"].to_numpy())
            # 0-based rank = #candidates strictly closer (ties: stable
            # argsort order == candidate id order, so count equal-dist
            # candidates with smaller id)
            rows = np.arange(len(h))
            dt_true = d_tail[rows, t]
            dh_true = d_head[rows, h]
            rank_tail = (d_tail < dt_true[:, None]).sum(axis=1) + (
                (d_tail == dt_true[:, None]) & (np.arange(E.shape[0])[None, :] < t[:, None])
            ).sum(axis=1)
            rank_head = (d_head < dh_true[:, None]).sum(axis=1) + (
                (d_head == dh_true[:, None]) & (np.arange(E.shape[0])[None, :] < h[:, None])
            ).sum(axis=1)
            yield pd.DataFrame(
                {"h": h, "l": l, "t": t, "rank_head": rank_head, "rank_tail": rank_tail}
            )

    # a test set small enough to sit in one partition would otherwise
    # be ranked on one core; the round-robin shuffle moves only ids
    return rows_in.repartition(sc.defaultParallelism).mapInPandas(score, schema=_RANK_SCHEMA)


def _sq_dists(q: np.ndarray, E: np.ndarray, e_sq: np.ndarray) -> np.ndarray:
    """Squared L2 distance of each row of ``q`` to every entity, as
    ‖q‖² − 2qEᵀ + ‖e‖² (no sqrt — ``TransE.py:304-309``). Built in place
    on the BLAS product: one B×V array instead of four, with the same
    bits as the expression form (−2x + a is a − 2x exactly)."""
    d = q @ E.T
    d *= -2.0
    d += (q * q).sum(axis=1)[:, None]
    d += e_sq
    return d


def _with_known_candidates(test: DataFrame, known_triples: DataFrame) -> DataFrame:
    """``test`` plus ``excl_tail`` / ``excl_head``: the other known-true
    tails of each row's (h, l) and heads of its (l, t), as ``array<long>``
    of distinct entity ids (so at most V long; null when there is none).
    The known triples are only joined on integer keys; one shuffle per
    side, on the join output."""
    known = known_triples.select(*_KEYS)
    out = test
    for side, true in (("tail", "t"), ("head", "h")):
        cands = (
            test.join(known.withColumnRenamed(true, "__c"), [k for k in _KEYS if k != true])
            .where(F.col("__c") != F.col(true))
            .groupBy(*_KEYS)
            .agg(F.collect_set("__c").alias(f"excl_{side}"))
        )
        out = out.join(cands, _KEYS, "left")
    return out


def _exclude(d: np.ndarray, cands: np.ndarray) -> None:
    """``d[i, c] = +inf`` for every id ``c`` in ``cands[i]`` (an array
    of ids, or None for none)."""
    lens = np.fromiter((0 if c is None else len(c) for c in cands), np.int64, len(cands))
    if lens.any():
        cols = np.concatenate([c for c in cands if c is not None])
        d[np.repeat(np.arange(len(cands)), lens), cols] = np.inf


def rank_metrics(ranks: DataFrame, hits_k: int = 10) -> DataFrame:
    """One-row frame of Mean Rank, Hits@``hits_k``, MRR, Hits@1 and
    Hits@3 over the ``rank_head`` and ``rank_tail`` columns of ``ranks``
    taken together — one aggregation, so the plan reads ``ranks`` once.
    Each metric is the mean of a per-rank term; the mean over both
    columns is half the mean of the per-row sum of the two terms."""
    def both(term) -> Column:
        return F.avg(term(F.col("rank_head")) + term(F.col("rank_tail"))) / 2

    def hit(k: int):
        return lambda r: F.when(r <= k, 1.0).otherwise(0.0)

    return ranks.agg(
        both(lambda r: r).alias("mean_rank"),
        both(hit(hits_k)).alias(f"hits_at_{hits_k}"),
        # standard KG-completion extras (beyond the reference's two):
        # MRR over 1-based ranks, hits@1/@3 with the same 0-based quirk
        both(lambda r: 1.0 / (r + 1)).alias("mrr"),
        both(hit(1)).alias("hits_at_1"),
        both(hit(3)).alias("hits_at_3"),
    )


def _replay_progress(ranks: DataFrame, every: int, hits_k: int, emit) -> np.ndarray:
    """Driver-side replay of the reference's progress loop
    (``test.py:64-68``): per test triple append head then tail rank;
    after triples 1, ``every``+1, 2·``every``+1, … print the running
    mean, hits·100, and the 0-based triple index. Returns the full
    flat rank array (head, tail interleaved) for final metrics."""
    # test-set-sized by CONTRACT (r12 verdict watch item): the link-
    # prediction protocol evaluates a held-out test set, which is
    # thousands-to-millions of (h,l,t) rows — two doubles each — never
    # corpus-sized. If a caller ever feeds a corpus-scale frame here,
    # the right fix is aggregating the running means distributively,
    # not raising this collect's ceiling.
    rows = ranks.orderBy("h", "l", "t").collect()
    flat = np.empty(2 * len(rows), dtype=np.float64)
    for i, r in enumerate(rows):
        flat[2 * i] = r.rank_head
        flat[2 * i + 1] = r.rank_tail
        if i % every == 0:
            so_far = flat[: 2 * (i + 1)]
            emit(f"Mean: {so_far.mean()}")
            emit(f"Hit: {(so_far <= hits_k).mean() * 100}")
            emit(f"{i}")
    return flat


def evaluate_link_prediction(
    spark: SparkSession,
    model: TransEModel,
    test_triples: DataFrame,
    distance: str = "L2",
    hits_k: int = 10,
    known_triples: DataFrame | None = None,
    progress_every: int | None = None,
    progress_fn=None,
) -> dict[str, float]:
    """Mean Rank + Hits@k over head and tail ranks combined — the
    reference's ``calculate_rankings`` (``test.py:14-25``) as one
    aggregation (``rank <= k``: the 0-based top-(k+1) quirk, preserved).
    ``known_triples`` selects the paper's filtered protocol.

    ``progress_every`` reproduces the reference's live running metrics
    (``test.py:64-68``: running Mean / Hit·100 / triple index every 50
    triples). Ranks are still computed distributed; the replay is a
    driver-side pass over the (test-set-sized) result in deterministic
    (h, l, t) order — the reference's sequential-scan UX without
    serializing the scoring. ``progress_fn`` overrides ``print``."""
    ranks = rank_triples(spark, model, test_triples, distance, known_triples)
    if progress_every:
        # the replay collects the ranks anyway, so final metrics come
        # from the same collected array instead of re-running the kernel
        r = _replay_progress(ranks, progress_every, hits_k, progress_fn or print)
        return {
            "mean_rank": float(r.mean()),
            f"hits_at_{hits_k}": float((r <= hits_k).mean()),
            "mrr": float((1.0 / (r + 1)).mean()),
            "hits_at_1": float((r <= 1).mean()),
            "hits_at_3": float((r <= 3).mean()),
        }
    row = rank_metrics(ranks, hits_k).collect()[0]
    return {name: float(value) for name, value in row.asDict().items()}
