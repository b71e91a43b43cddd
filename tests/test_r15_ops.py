"""Round-15 invariants: the relational-trainer oracle face machinery
(VERDICT r14 ask #3)."""

def test_relational_step_bit_identical_on_touched_intersection(spark, sf_dir):
    """VERDICT r14 ask #3's cross-regime claim, pinned: the relational
    (melt-gather / fold / update-join) deterministic step and the
    broadcast-kernel step are BIT-IDENTICAL where they claim to be —
    on the relational touched set (violating triples' entities/labels,
    a subset of the broadcast step's batch-wide touched set, which
    also renorms zero-delta entities)."""
    import numpy as np

    from transe_pyspark_spark.plans.queries import _sgd_face_fixture
    from transe_pyspark_spark.transe.train import sgd_step_deterministic
    from transe_pyspark_spark.transe.train_relational import (
        relational_sgd_step_deterministic,
    )

    E0, L0, triples = _sgd_face_fixture(spark, sf_dir)
    eb, lb, eb_ids, lb_ids = sgd_step_deterministic(
        spark, triples, E0, L0, lr=10_000.0, margin=100_000.0, distance="L1"
    )
    er, lr_, er_ids, lr_ids = relational_sgd_step_deterministic(
        spark, triples, E0, L0, lr=10_000.0, margin=100_000.0, distance="L1"
    )
    # the relational touched set is the violating subset
    assert set(er_ids) <= set(eb_ids)
    assert set(lr_ids) <= set(lb_ids)
    assert 0 < len(er_ids) < len(eb_ids), (
        "fixture must exercise the fork: some batch entities non-violating"
    )
    # bit-identity on the intersection (same integer delta sums, same
    # correctly-rounded renorm)
    assert np.array_equal(er[er_ids], eb[eb_ids[np.isin(eb_ids, er_ids)]])
    assert np.array_equal(lr_[lr_ids], lb[lb_ids[np.isin(lb_ids, lr_ids)]])
    # untouched-by-relational rows passed through unchanged
    untouched = np.setdiff1d(np.arange(E0.shape[0]), er_ids)
    assert np.array_equal(er[untouched], E0[untouched])


def test_stratified_split_laws(spark, sf_dir):
    """The two laws of stratified_leakage_safe_split (VERDICT r14 ask
    #5c): exact per-stratum quotas over duplicate GROUPS, and the
    leakage guarantee (identical normalized text always co-assigns)."""
    from pyspark.sql import functions as F

    from transe_pyspark_spark.operators.relational import (
        stratified_leakage_safe_split,
    )
    from transe_pyspark_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = stratified_leakage_safe_split(docs)
    # law 1: exact quotas per stratum, counted over GROUPS
    g = (
        out.select("canonical_id", "lang", "split")
        .distinct()
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("tr"),
            F.sum(F.when(F.col("split") == "val", 1).otherwise(0)).alias("va"),
        )
        .collect()
    )
    assert g, "no strata"
    for r in g:
        n = r["n"]
        assert r["tr"] == (n * 80) // 100, f"lang {r['lang']}: train {r['tr']} != quota"
        assert r["va"] == (n * 90) // 100 - (n * 80) // 100, f"lang {r['lang']}: val"
    # law 2: leakage guarantee — one split per duplicate group
    multi = (
        out.groupBy("canonical_id")
        .agg(F.count_distinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert multi == 0


def test_stratified_split_coassigns_duplicates(spark):
    """Leakage guarantee exercised on a constructed corpus WITH
    duplicates (the sf0.001 documents table has none): normalized-
    identical texts co-assign even across strata (the canonical row's
    stratum wins), and quotas stay exact per stratum."""
    from pyspark.sql import functions as F

    from transe_pyspark_spark.operators.relational import (
        stratified_leakage_safe_split,
    )

    rows = [(i, "en" if i % 2 == 0 else "zh", f"unique text {i}") for i in range(40)]
    # 3 duplicate groups: ids 100/101 identical modulo case+whitespace,
    # 102/103 cross-strata duplicates, 104/105/106 a triple
    rows += [
        (100, "en", "Dup One"), (101, "en", "dup   one"),
        (102, "en", "Dup Two"), (103, "zh", "dup two"),
        (104, "zh", "Dup Three"), (105, "zh", "dup three"), (106, "zh", "DUP THREE"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = stratified_leakage_safe_split(df)
    got = {r["doc_id"]: r for r in out.collect()}
    assert len(got) == 47
    for a, b in ((100, 101), (102, 103), (104, 105), (105, 106)):
        assert got[a]["split"] == got[b]["split"], (a, b)
        assert got[a]["canonical_id"] == got[b]["canonical_id"]
    # cross-strata group took the canonical (min-id) row's stratum
    assert got[103]["canonical_id"] == 102
    assert got[104]["group_size"] == 3
    # exact quotas per stratum over groups
    g = (
        out.select("canonical_id", "lang", "split").distinct()
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("tr"),
        )
        .collect()
    )
    for r in g:
        assert r["tr"] == (r["n"] * 80) // 100, r


def test_spread_docs_parallelizes_kernel_input(spark, sf_dir):
    """r15 optimization C1: per-document Arrow kernels must not run on
    a single scan split (documents.parquet is one sub-MB file at the
    bench SFs). `_spread_docs` round-robins the kernel input up to
    spark.sql.shuffle.partitions — and is a NO-OP when the input
    already has at least that many partitions (the cluster-scale
    case). Signatures are pure per-doc functions, so results are
    IDENTICAL under both paths."""
    from transe_pyspark_spark.operators import dedup as D
    from transe_pyspark_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))

    spread = D._spread_docs(docs.select("doc_id", "text"))
    assert spread.rdd.getNumPartitions() == n_part

    wide = docs.select("doc_id", "text").repartition(n_part + 3)
    assert D._spread_docs(wide).rdd.getNumPartitions() == n_part + 3

    sigs_spread = {
        r["doc_id"]: tuple(r["signature"])
        for r in D.minhash_signatures_arrow(docs).collect()
    }
    sigs_serial = {
        r["doc_id"]: tuple(r["signature"])
        for r in D.minhash_signatures_arrow(docs.coalesce(1).repartition(n_part + 3)).collect()
    }
    assert sigs_spread == sigs_serial
