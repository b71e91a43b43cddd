"""The ``kg_pipeline`` workload: the paper's dataflow, end to end.

One step reads the training TSV, builds the vocabularies, encodes the
triples, trains TransE with the broadcast trainer (the driver is the
parameter server), checkpoints and restores the model, drops test
triples with unseen tokens, and ranks the rest raw and filtered.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

import kgdata

#: k, batches and distance follow the reference's FB15k-237 run. The
#: entity and relation counts are FB15k-237's; the training set is an
#: eighth of its 483,142 triples so that the warm-up passes and a timed
#: step fit in one run's share of the benchmark's time.
K, N_BATCHES, N_EPOCHS, DISTANCE = 50, 2, 2, "L2"
N_TRAIN, N_TEST, N_UNSEEN = 60_000, 1_000, 20
#: untimed passes over the same KG, without the NumPy rank check,
#: before the first timed step. On 4 cores the first pass takes about
#: 2x the first timed step and the second about 1.1x; later timed steps
#: are at most about 8% faster than the first (README.md, "Warm-up")
WARMUP_PASSES = 2
#: test triples whose ranks are checked one by one
RANK_SAMPLE = 64
#: distances this close to the true triple's may be ordered either way
#: by rounding (the kernel uses the expanded BLAS form)
TIE_EPS = 1e-8


@dataclass(frozen=True)
class KG:
    train: str
    test: str
    n_entities: int
    n_relations: int
    n_train: int
    n_test_seen: int


def write_kg(out_dir: str, seed: int, n_entities: int, n_relations: int,
             n_train: int, n_test: int, n_unseen: int) -> KG:
    os.makedirs(out_dir, exist_ok=True)
    train, test = kgdata.make_triples(seed, n_entities, n_relations, n_train, n_test)
    paths = os.path.join(out_dir, "train.tsv"), os.path.join(out_dir, "test.tsv")
    kgdata.write_kg_tsv(*paths, train, test, n_unseen, seed)
    return KG(*paths, n_entities, n_relations, n_train, n_test - n_unseen)


def reference_ranks(E, L, h, l, t, known_tails=None, known_heads=None, eps=TIE_EPS):
    """Brute-force 0-based (lo, hi) bounds on each test triple's tail and
    head rank against every entity: a correct rank lies in ``[lo, hi]``,
    the width being the candidates within ``eps`` of the true distance.
    With ``known_*`` given, other known-true candidates are left out
    (the filtered protocol)."""
    e_sq = (E * E).sum(axis=1)
    lo = np.empty((2, len(h)), dtype=np.int64)
    hi = np.empty_like(lo)
    for start in range(0, len(h), 256):
        rows = slice(start, start + 256)
        hh, ll, tt = h[rows], l[rows], t[rows]
        for side, (q, true_id, keys, known) in enumerate((
            (E[hh] + L[ll], tt, zip(hh.tolist(), ll.tolist()), known_tails),
            (E[tt] - L[ll], hh, zip(ll.tolist(), tt.tolist()), known_heads),
        )):
            d = (q * q).sum(axis=1)[:, None] - 2.0 * (q @ E.T) + e_sq[None, :]
            if known is not None:
                for i, key in enumerate(keys):
                    excl = known.get(key)
                    if excl is not None:
                        d[i, excl[excl != true_id[i]]] = np.inf
            dt = d[np.arange(len(true_id)), true_id][:, None]
            lo[side, rows] = np.count_nonzero(d < dt - eps, axis=1)
            hi[side, rows] = np.count_nonzero(d < dt + eps, axis=1) - 1
    return lo, hi


def _known(h: np.ndarray, l: np.ndarray, t: np.ndarray):
    tails: dict[tuple[int, int], list[int]] = {}
    heads: dict[tuple[int, int], list[int]] = {}
    for a, b, c in zip(h.tolist(), l.tolist(), t.tolist()):
        tails.setdefault((a, b), []).append(c)
        heads.setdefault((b, c), []).append(a)
    as_arr = lambda m: {k: np.asarray(v, np.int64) for k, v in m.items()}  # noqa: E731
    return as_arr(tails), as_arr(heads)


def _metric_bounds(lo: np.ndarray, hi: np.ndarray, hits_k: int = 10):
    """Bounds on (mean rank, hits@k) over head and tail ranks together."""
    return (lo.mean(), hi.mean()), ((hi <= hits_k).mean(), (lo <= hits_k).mean())


class KgPipeline:
    name = "kg_pipeline"

    def __init__(self, spark, run_dir: str, seed: int, tracer, ledger):
        self.spark, self.run_dir, self.seed = spark, run_dir, seed
        self.tracer, self.ledger = tracer, ledger
        self.kg: KG | None = None
        self._last = None
        self.setup_values: dict[str, float] = {}

    def setup(self) -> None:
        self.kg = write_kg(os.path.join(self.run_dir, "kg"), self.seed, kgdata.FB15K_ENTITIES,
                           kgdata.FB15K_RELATIONS, N_TRAIN, N_TEST, N_UNSEEN)
        for _ in range(WARMUP_PASSES):
            with self.tracer.span("warmup"):
                self.run(self.kg)
            self._release()

    def step(self):
        return self.run(self.kg)

    def run(self, kg: KG):
        """One pass of the pipeline. Returns the layer values the spans
        do not carry; keeps what ``check`` needs."""
        from transe_pyspark_spark.sources.readers import read_triples_tsv
        from transe_pyspark_spark.transe.data import build_vocab, encode_triples, filter_seen
        from transe_pyspark_spark.transe.evaluate import evaluate_link_prediction
        from transe_pyspark_spark.transe.model import TransEModel
        from transe_pyspark_spark.transe.train import TransETrainer

        sp, led, span = self.spark, self.ledger, self.tracer.span
        cached = []

        def keep(df):
            cached.append(df.cache())
            return cached[-1]

        try:
            with led.op("sources.read_triples") as rec, span("sources.read_triples"):
                raw = keep(read_triples_tsv(sp, kg.train))
                n_read = raw.count()
            led.expect(rec, n_read == kg.n_train, f"read {n_read} triples, wrote {kg.n_train}")
            with led.op("data.build_vocab") as rec, span("data.build_vocab"):
                ev, lv = build_vocab(raw)
                ev, lv = keep(ev), keep(lv)
                n_ent, n_lab = ev.count(), lv.count()
            led.expect(rec, (n_ent, n_lab) == (kg.n_entities, kg.n_relations),
                       f"vocab sizes {(n_ent, n_lab)}, expected {(kg.n_entities, kg.n_relations)}")
            with led.op("data.encode") as rec, span("data.encode"):
                enc = keep(encode_triples(raw, ev, lv))
                n_enc = enc.count()
            led.expect(rec, n_enc == kg.n_train, f"encoded {n_enc} of {kg.n_train} triples")
            with led.op("train.fit") as rec, span("train.fit"):
                trainer = TransETrainer(k=K, n_epochs=N_EPOCHS, n_batches=N_BATCHES,
                                        distance=DISTANCE, seed=self.seed)
                model = trainer.fit(sp, enc, n_ent, n_lab)
            led.expect(rec, bool(np.isfinite(trainer.loss_history).all()
                                 and np.isfinite(model.entity).all()),
                       f"non-finite training loss or embedding: {trainer.loss_history}")
            path = os.path.join(self.run_dir, "model_ckpt")
            with led.op("model.checkpoint"), span("model.checkpoint"):
                model.checkpoint(sp, path)
            with led.op("model.restore") as rec, span("model.restore"):
                restored = TransEModel.restore(sp, path)
            led.expect(rec, np.array_equal(restored.entity, model.entity)
                       and np.array_equal(restored.label, model.label),
                       "restored model differs from the checkpointed one")
            with led.op("data.filter_seen") as rec, span("data.filter_seen"):
                test = keep(encode_triples(filter_seen(read_triples_tsv(sp, kg.test), ev, lv), ev, lv))
                n_test = test.count()
            led.expect(rec, n_test == kg.n_test_seen,
                       f"{n_test} test triples kept, expected {kg.n_test_seen}")
            with led.op("evaluate.raw") as rec_raw, span("evaluate.raw"):
                m_raw = evaluate_link_prediction(sp, restored, test, distance=DISTANCE)
            known = enc.unionByName(test)
            with led.op("evaluate.filtered") as rec_filt, span("evaluate.filtered"):
                m_filt = evaluate_link_prediction(sp, restored, test, distance=DISTANCE,
                                                  known_triples=known)
            self._last = dict(model=restored, enc=enc, test=test, m_raw=m_raw, m_filt=m_filt,
                              rec_raw=rec_raw, rec_filt=rec_filt, cached=cached)
            cached = []
            return {
                "sources.triples_read": n_read,
                "data.vocab_entities": n_ent,
                "train.epoch_s": float(np.median(trainer.epoch_times)),
                "train.first_epoch_s": trainer.epoch_times[0],
                "train.broadcast_s": trainer.phase_times["broadcast"],
                "train.kernel_collect_s": trainer.phase_times["kernel_collect"],
                "train.merge_s": trainer.phase_times["merge"],
                "train.final_loss": trainer.loss_history[-1],
                "train.triples": n_enc * N_EPOCHS,
                "evaluate.mean_rank": m_raw["mean_rank"],
                "evaluate.hits_at_10": m_raw["hits_at_10"],
                "evaluate.triples": n_test,
            }
        finally:
            for df in cached:
                df.unpersist()

    def check(self) -> None:
        """Untimed: ranks against a NumPy brute-force reference on the
        same restored model, raw and filtered, then release the step's
        cached frames."""
        from transe_pyspark_spark.transe.evaluate import rank_triples

        last = self._last
        if last is None:
            return
        try:
            E, L = last["model"].entity, last["model"].label
            tp = last["test"].select("h", "l", "t").toPandas()
            h, l, t = (tp[c].to_numpy(np.int64) for c in ("h", "l", "t"))
            lo, hi = reference_ranks(E, L, h, l, t)
            self._expect_metrics(last["rec_raw"], last["m_raw"], lo, hi, "raw")
            kp = last["enc"].select("h", "l", "t").toPandas()
            tails, heads = _known(*(np.concatenate([kp[c].to_numpy(np.int64), tp[c].to_numpy(np.int64)])
                                    for c in ("h", "l", "t")))
            lo_f, hi_f = reference_ranks(E, L, h, l, t, tails, heads)
            self._expect_metrics(last["rec_filt"], last["m_filt"], lo_f, hi_f, "filtered")
            # per-triple ranks on a seeded sample, through the public ranker
            pick = np.random.default_rng(self.seed).choice(len(h), min(RANK_SAMPLE, len(h)), replace=False)
            sample = self.spark.createDataFrame(tp.iloc[np.sort(pick)])
            got = rank_triples(self.spark, last["model"], sample, DISTANCE).toPandas()
            got = got.set_index(["h", "l", "t"]).loc[list(zip(h[pick], l[pick], t[pick]))]
            bad = [
                int(i) for j, i in enumerate(pick)
                if not (lo[0, i] <= got["rank_tail"].iat[j] <= hi[0, i]
                        and lo[1, i] <= got["rank_head"].iat[j] <= hi[1, i])
            ]
            self.ledger.expect(last["rec_raw"], not bad, f"ranks outside the NumPy reference for test rows {bad[:5]}")
        finally:
            self._release()

    def _release(self) -> None:
        """Drop the last pass's results and unpersist its cached frames."""
        last, self._last = self._last, None
        for df in last["cached"] if last else ():
            df.unpersist()

    def verify(self) -> None:
        """Every check already ran after its step."""

    def _expect_metrics(self, rec, got: dict, lo, hi, label: str) -> None:
        (mr_lo, mr_hi), (h_lo, h_hi) = _metric_bounds(lo, hi)
        ok = mr_lo - 1e-9 <= got["mean_rank"] <= mr_hi + 1e-9 and h_lo - 1e-12 <= got["hits_at_10"] <= h_hi + 1e-12
        self.ledger.expect(rec, ok, f"{label} metrics {got['mean_rank']:.4f}/{got['hits_at_10']:.4f} outside "
                                    f"NumPy bounds [{mr_lo:.4f}, {mr_hi:.4f}]/[{h_lo:.4f}, {h_hi:.4f}]")

    @staticmethod
    def derived(values: dict[str, float], spans: dict[str, float]) -> dict[str, float]:
        """Throughputs from a step's counts and span times."""
        return {
            "train.triples_per_s": values["train.triples"] / spans["train.fit"],
            "evaluate.triples_per_s": values["evaluate.triples"] / spans["evaluate.raw"],
        }
