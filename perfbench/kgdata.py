"""Seeded synthetic knowledge graphs shaped like FB15k-237.

The same seed gives the same triples, byte for byte. Entity and relation
popularity follow a Zipf-like law, so a few hubs carry many triples while
every entity still appears at least once (the entity vocabulary size is
exact, which the benchmark checks).
"""

from __future__ import annotations

import numpy as np

FB15K_ENTITIES = 14_541
FB15K_RELATIONS = 237
FB15K_TRAIN = 483_142


def entity_token(i: np.ndarray) -> np.ndarray:
    """Freebase-mid-style tokens (``/m/0<base-36 id>``)."""
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"
    out = []
    for v in i.tolist():
        s = ""
        while True:
            v, r = divmod(v, 36)
            s = digits[r] + s
            if v == 0:
                break
        out.append("/m/0" + s)
    return np.asarray(out, dtype=object)


def relation_token(i: np.ndarray) -> np.ndarray:
    return np.asarray([f"/rel/r{v:03d}/p" for v in i.tolist()], dtype=object)


def _zipf_weights(n: int, rng: np.random.Generator, s: float) -> np.ndarray:
    w = 1.0 / np.power(np.arange(n) + 5.0, s)
    return rng.permutation(w / w.sum())


def make_triples(seed: int, n_entities: int, n_relations: int, n_train: int, n_test: int):
    """Integer triples ``(train, test)``, each an ``(n, 3)`` int64 array
    of ``(head, relation, tail)``. ``train`` has no duplicate triple and
    uses every entity and every relation; ``test`` triples are absent
    from ``train``."""
    rng = np.random.default_rng(seed)
    pe = _zipf_weights(n_entities, rng, 0.8)
    pr = _zipf_weights(n_relations, rng, 0.9)

    def draw(n: int) -> np.ndarray:
        h = rng.choice(n_entities, n, p=pe)
        t = rng.choice(n_entities, n, p=pe)
        r = rng.choice(n_relations, n, p=pr)
        return np.stack([h, r, t], axis=1)

    # coverage rows: every entity is a head once, every relation used once
    cover = draw(n_entities)
    cover[:, 0] = rng.permutation(n_entities)
    cover[:n_relations, 1] = np.arange(n_relations)
    loops = cover[:, 0] == cover[:, 2]
    cover[loops, 2] = (cover[loops, 0] + 1) % n_entities

    def key(tr: np.ndarray) -> np.ndarray:
        return (tr[:, 0] * n_relations + tr[:, 1]) * n_entities + tr[:, 2]

    rows = cover
    while True:
        _, first = np.unique(key(rows), return_index=True)
        rows = rows[np.sort(first)]
        if len(rows) >= n_train + n_test:
            break
        extra = draw(int((n_train + n_test - len(rows)) * 1.1) + 16)
        rows = np.concatenate([rows, extra[extra[:, 0] != extra[:, 2]]])
    # coverage rows stay in train: they come first in `rows`
    test_idx = len(cover) + rng.choice(len(rows) - len(cover), n_test, replace=False)
    mask = np.ones(len(rows), dtype=bool)
    mask[test_idx] = False
    train = rows[mask][:n_train]
    return train, rows[test_idx]


def write_tsv(path: str, heads, labels, tails) -> None:
    with open(path, "w", encoding="ascii") as f:
        f.write("\n".join(f"{h}\t{l}\t{t}" for h, l, t in zip(heads, labels, tails)))
        f.write("\n")


def write_kg_tsv(train_path: str, test_path: str, train: np.ndarray, test: np.ndarray,
                 n_unseen: int, seed: int) -> None:
    """String-token TSVs in the reference's ``train2.tsv`` layout. The
    first ``n_unseen`` test rows get a token that never occurs in train,
    so the skip-unseen filter has work to do."""
    ent_tok = entity_token(np.arange(int(max(train[:, [0, 2]].max(), test[:, [0, 2]].max())) + 1))
    rel_tok = relation_token(np.arange(int(max(train[:, 1].max(), test[:, 1].max())) + 1))
    write_tsv(train_path, ent_tok[train[:, 0]], rel_tok[train[:, 1]], ent_tok[train[:, 2]])
    h, l, t = ent_tok[test[:, 0]].copy(), rel_tok[test[:, 1]].copy(), ent_tok[test[:, 2]].copy()
    rng = np.random.default_rng(seed + 1)
    for i in range(n_unseen):
        which = rng.integers(3)
        tok = f"/unseen/{seed}/{i}"
        (h if which == 0 else l if which == 1 else t)[i] = tok
    write_tsv(test_path, h, l, t)
