"""Model state: entity/label embedding matrices.

The reference wraps a dense float64 ndarray in an ``Embedding`` class
(``TransEmodule/Embedding.py:3-27``) held on the driver (parameter-
server pattern, ``TransE.py:30-39``). We keep the driver-held ndarray —
it is the correct representation while V×k doubles fit in memory
(FB15k-237: ~6 MB) — plus Parquet (de)serialization to a
``[id, kind, vec]`` DataFrame for checkpoints (replacing the pickle
sink at ``utils.py:44-49``) and for the relational scale-out path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

EMBEDDING_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("vec", T.ArrayType(T.DoubleType()), False),
    ]
)


def xavier_uniform(n: int, k: int, rng: np.random.Generator) -> np.ndarray:
    """U(−6/√k, +6/√k) init per the TransE paper (reference
    ``Embedding.py:9``, bounds at ``TransE.py:45-57``)."""
    bound = 6.0 / np.sqrt(k)
    return rng.uniform(-bound, bound, size=(n, k))


def l2_normalize_rows(mat: np.ndarray) -> np.ndarray:
    """Row-wise v/‖v‖₂ (reference ``Embedding.py:21-27``)."""
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return mat / norms


class _EmbeddingShim:
    """Attribute-compatible stand-in for the reference's ``Embedding``
    (``Embedding.py:3-19``): holds ``_vector``, exposes ``.vector``.
    Unpickling never calls ``__init__``, so restoring a reference
    pickle just repopulates ``__dict__``."""

    def __init__(self, vector=None):
        self._vector = np.asarray(vector, dtype=np.float64)

    @property
    def vector(self):
        return self._vector


def _load_pickled_matrix(path: str) -> np.ndarray:
    """Unpickle one embedding file, remapping any class named
    ``Embedding`` (whatever module the writer had it in) to
    ``_EmbeddingShim`` so reference checkpoints load standalone."""
    import pickle

    class _RefUnpickler(pickle.Unpickler):
        def find_class(self, module, name):  # noqa: A003
            if name == "Embedding":
                return _EmbeddingShim
            return super().find_class(module, name)

    with open(path, "rb") as f:
        obj = _RefUnpickler(f).load()
    vec = obj.vector if hasattr(obj, "vector") else obj
    mat = np.asarray(vec, dtype=np.float64)
    if mat.ndim != 2:
        raise ValueError(f"{path}: expected a 2-D embedding matrix, got shape {mat.shape}")
    return mat


def _rows_by_id(pdf: pd.DataFrame, kind: str) -> np.ndarray:
    """The ``kind`` rows of a checkpoint frame as a matrix whose row i
    is id i, whatever order the rows were read in."""
    part = pdf[pdf["kind"] == kind]
    order = np.argsort(part["id"].to_numpy(), kind="stable")
    ids = part["id"].to_numpy()[order]
    if not np.array_equal(ids, np.arange(len(ids))):
        raise ValueError(f"checkpoint {kind} ids are not 0..{len(ids) - 1}")
    return np.array(list(part["vec"].to_numpy()[order]), dtype=np.float64)


class TransEModel:
    """Driver-held embedding matrices + checkpoint IO.

    Renorm schedule parity (SURVEY §4 quirk 3): labels are L2-normalized
    exactly once at init (``TransE.py:60``); entities are renormalized
    on every touch during training and once pre-loop (``TransE.py:97,
    214-217``).
    """

    def __init__(self, entity: np.ndarray, label: np.ndarray):
        self.entity = entity
        self.label = label

    @classmethod
    def init_random(cls, n_entities: int, n_labels: int, k: int, seed: int = 42) -> "TransEModel":
        rng = np.random.default_rng(seed)
        entity = xavier_uniform(n_entities, k, rng)
        label = l2_normalize_rows(xavier_uniform(n_labels, k, rng))
        return cls(entity, label)

    @property
    def k(self) -> int:
        return self.entity.shape[1]

    def to_df(self, spark: SparkSession) -> DataFrame:
        n_ent, n_lab = len(self.entity), len(self.label)
        pdf = pd.DataFrame({
            "id": np.concatenate([np.arange(n_ent), np.arange(n_lab)]).astype(np.int64),
            "kind": ["entity"] * n_ent + ["label"] * n_lab,
            "vec": list(self.entity) + list(self.label),
        })
        return spark.createDataFrame(pdf, EMBEDDING_SCHEMA)

    @classmethod
    def from_df(cls, df: DataFrame) -> "TransEModel":
        pdf = df.select("id", "kind", "vec").toPandas()  # model-sized by contract
        return cls(_rows_by_id(pdf, "entity"), _rows_by_id(pdf, "label"))

    def checkpoint(self, spark: SparkSession, path: str) -> None:
        """Parquet checkpoint (replaces pickle backup, ``utils.py:44-49``)."""
        self.to_df(spark).write.mode("overwrite").parquet(path)

    @classmethod
    def restore(cls, spark: SparkSession, path: str) -> "TransEModel":
        """Warm start (reference ``utils.py:52-59``, ``TransE.py:73-76``)."""
        return cls.from_df(spark.read.parquet(path))

    def backup_pickle(self, path: str, checkpoint_id: int | str) -> None:
        """Pickle checkpoint with the reference's exact file layout
        (``utils.py:44-49``): ``{path}/entity_embedding_{id}.pkl`` +
        ``{path}/label_embedding_{id}.pkl``, each holding one object
        exposing ``.vector`` (the reference ``Embedding`` attribute
        surface, ``Embedding.py:13-15``)."""
        import pickle

        for name, mat in (("entity", self.entity), ("label", self.label)):
            with open(f"{path}/{name}_embedding_{checkpoint_id}.pkl", "wb") as out:
                pickle.dump(_EmbeddingShim(mat), out, pickle.HIGHEST_PROTOCOL)

    @classmethod
    def restore_pickle(cls, entity_path: str, label_path: str) -> "TransEModel":
        """Restore from the reference's pickle checkpoints
        (``utils.py:52-59``) — the migration path for a user with
        existing ``.pkl`` files. Pickles of the reference's
        ``TransEmodule.Embedding.Embedding`` load WITHOUT the reference
        installed: any class named ``Embedding`` is remapped to a local
        attribute-compatible shim at unpickle time. Raw ndarray pickles
        are accepted too."""
        return cls(_load_pickled_matrix(entity_path), _load_pickled_matrix(label_path))
