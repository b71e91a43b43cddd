"""The ``query_mix`` workload: the operator library across its families.

One step is one pass over ``bench.py``'s 13 headline queries, in an
order shuffled by the seed, each forced with ``count()``. Results are
checked against the DuckDB oracles on the same parquet files.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

import numpy as np

import qdata

#: query → the layer (module family) it exercises
FAMILIES = {
    "pricing_summary": "ops.relational",
    "top_revenue_orders": "ops.relational",
    "region_revenue": "ops.relational",
    "window_order_seq": "ops.relational",
    "asof_purchase_click": "ops.asof",
    "minhash_pairs_raw": "ops.dedup",
    "jaccard3_near_pairs": "ops.dedup",
    "knn_brute_force": "ops.similarity",
    "text_stats": "functions.text",
    "doc_chunks": "functions.text",
    "gopher_quality_docs": "functions.text",
    "stream_tumbling_counts": "streaming.windows",
    "transe_rank_eval": "transe.rank_eval",
}
QUERIES = tuple(FAMILIES)
#: fixture scale: the sf0.01 row counts (60,000 lineitems, 500 documents)
SF = 0.01
#: untimed passes before the first timed one. On 4 cores the first
#: pass takes about 2.5x the first timed pass, the second about 1.1x
#: and the third about 1.04x; later timed passes are no faster than
#: the first (README.md, "Warm-up")
WARMUP_PASSES = 3
#: The registry's ``jaccard3_near_pairs`` oracle compares every pair of
#: shingle lists and takes ~13 s in DuckDB at 500 documents. This one
#: computes the same pairs through a shingle inverted index: same
#: shingling, same double division, same rounding.
JACCARD3_ORACLE = """
WITH w AS (SELECT doc_id,
                  list_filter(string_split_regex(trim(text), ' +'), x -> x <> '') AS ws
           FROM documents),
     g AS (SELECT doc_id,
                  list_distinct(list_transform(range(1, len(ws) - 1),
                                               i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS sh
           FROM w WHERE len(ws) >= 3),
     s AS (SELECT doc_id, unnest(sh) AS shingle FROM g),
     i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
     j AS (SELECT doc_a, doc_b,
                  CAST(inter AS DOUBLE) / CAST(len(ga.sh) + len(gb.sh) - inter AS DOUBLE) AS jaccard
           FROM i JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b)
SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM j WHERE jaccard >= 0.6
"""
ORACLES = {"jaccard3_near_pairs": JACCARD3_ORACLE}


def _canon_value(v):
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, datetime.datetime):
        return int(v.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon_value(x) for x in v)
    return v


def canonical(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Rows with columns in name order, values normalized (doubles to 9
    places, timestamps to epoch micros), sorted: equal results from two
    engines canonicalize equal."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_canon_value(r[i]) for i in order) for r in rows), key=repr)


def run_oracle(sql: str, table_dir: str) -> tuple[list[str], list[tuple]]:
    import duckdb

    from transe_pyspark_spark.sources.readers import TABLES

    con = duckdb.connect()
    try:
        for name in TABLES:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{table_dir}/{name}.parquet'")
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()


class QueryMix:
    name = "query_mix"

    def __init__(self, spark, run_dir: str, seed: int, tracer, ledger):
        self.spark, self.seed = spark, seed
        self.tracer, self.ledger = tracer, ledger
        self.table_dir = os.path.join(run_dir, "tables")
        self.rng = np.random.default_rng(seed)
        self.setup_values: dict[str, float] = {}
        self.warm: dict[str, tuple] = {}  # query → (op record, canonical rows)
        self.counted: list[tuple] = []  # (op record, query, count) of counted passes

    def setup(self) -> None:
        """Write the tables, read each once, then the untimed warm-up
        passes. The first keeps every result for the oracle comparison;
        the others are counted and checked like timed passes."""
        from transe_pyspark_spark.sources.readers import load_all

        qdata.write_tables(self.table_dir, qdata.make_tables(self.seed, SF))
        with self.ledger.op("sources.load_tables"), self.tracer.span("sources.load_tables") as s:
            for df in load_all(self.spark, self.table_dir).values():
                df.count()
        self.setup_values["sources.load_tables_s"] = s.duration
        for i in range(WARMUP_PASSES):
            with self.tracer.span("warmup"):
                self.run_pass(collect=i == 0)

    def run_pass(self, collect: bool = False) -> None:
        from transe_pyspark_spark.plans.queries import REGISTRY

        for q in self.order():
            with self.ledger.op(f"q.{q}") as rec, self.tracer.span(f"q.{q}"):
                df = REGISTRY[q].fn(self.spark, self.table_dir)
                if collect:
                    self.warm[q] = (rec, canonical(df.columns, [tuple(r) for r in df.collect()]))
                else:
                    n = df.count()
            if not collect:
                self.counted.append((rec, q, n))

    def order(self) -> list[str]:
        return [QUERIES[i] for i in self.rng.permutation(len(QUERIES))]

    def step(self) -> dict[str, float]:
        self.run_pass()
        return {}

    def check(self) -> None:
        """Checked once, in ``verify``: oracle results are computed after
        the timed passes so that set-up time stays the program's own."""

    def verify(self) -> None:
        from transe_pyspark_spark.plans.queries import REGISTRY

        expected_rows: dict[str, int] = {}
        for q, (rec, rows) in self.warm.items():
            sql = ORACLES.get(q, REGISTRY[q].oracle)
            if sql is None:
                continue
            cols, o_rows = run_oracle(sql, self.table_dir)
            expected_rows[q] = len(o_rows)
            self.ledger.expect(rec, canonical(cols, o_rows) == rows,
                               f"result differs from the DuckDB oracle ({len(rows)} vs {len(o_rows)} rows)")
        # MinHash-LSH has no oracle of its own: its verified pairs must
        # be exact 3-gram Jaccard pairs (no false positives)
        if "minhash_pairs_raw" in self.warm and "jaccard3_near_pairs" in self.warm:
            rec, lsh = self.warm["minhash_pairs_raw"]
            exact = {r[:2] for r in self.warm["jaccard3_near_pairs"][1]}  # (doc_a, doc_b, jaccard)
            found = {r[:2] for r in lsh}
            self.ledger.expect(rec, found <= exact, f"{len(found - exact)} LSH pairs are not exact pairs")
            expected_rows["minhash_pairs_raw"] = len(lsh)
        for rec, q, n in self.counted:
            if q in expected_rows:
                self.ledger.expect(rec, n == expected_rows[q],
                                   f"count {n}, expected {expected_rows[q]}")

    @staticmethod
    def derived(values: dict[str, float], spans: dict[str, float]) -> dict[str, float]:
        out = {f"{fam}_s": 0.0 for fam in set(FAMILIES.values())}
        for q, fam in FAMILIES.items():
            out[f"{fam}_s"] += spans.get(f"q.{q}", 0.0)
        return out
