"""Session defaults that keep a warm loop's per-step cost flat: the
PySpark daemon and the generated-code cache."""

from __future__ import annotations

import importlib.machinery
import random
import sys
import zipfile
import zipimport

from pyspark.sql import functions as F

from transe_pyspark_spark._daemon import drop_zip_importers


def test_drop_zip_importers_keeps_other_finders(tmp_path):
    archive = tmp_path / "pkg.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("mod.py", "X = 1\n")
    zip_key, dir_key = str(archive), str(tmp_path)
    calls = []

    def stub(infile, outfile):
        calls.append((infile, outfile))
        return 7

    infile, outfile = object(), object()
    cache = sys.path_importer_cache
    saved = dict(cache)
    try:
        cache[zip_key] = zipimport.zipimporter(zip_key)
        cache[dir_key] = importlib.machinery.FileFinder(dir_key)
        assert drop_zip_importers(stub)(infile, outfile) == 7
        kept = {p for p, f in saved.items() if not isinstance(f, zipimport.zipimporter)}
        assert set(cache) == kept | {dir_key}
        assert isinstance(cache[dir_key], importlib.machinery.FileFinder)
        assert calls == [(infile, outfile)]
    finally:
        cache.clear()
        cache.update(saved)


def test_python_tasks_start_without_zip_importers(spark):
    assert spark.conf.get("spark.python.daemon.module") == "transe_pyspark_spark._daemon"

    def probe(_):
        import sys
        import zipimport

        yield sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())

    rdd = spark.sparkContext.parallelize(range(8), 8)
    # twice: the second job runs on reused workers, where the cache has filled
    for _ in range(2):
        assert rdd.mapPartitions(probe).collect() == [0] * 8


def _compiles(spark) -> int:
    """Whole-stage and expression classes Janino has compiled in this JVM."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_cycle_of_120_plans(spark):
    # Spark's default of 100 entries is an LRU cliff: a loop over more
    # distinct classes than that misses on every lookup.
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    plans = [spark.range(10).select((F.col("id") + i).alias("x")) for i in range(120)]
    for df in plans:  # each literal is inlined, so each plan is its own class
        df.collect()
    before = _compiles(spark)
    for df in plans:
        df.collect()
    assert _compiles(spark) - before == 0


def test_warm_kg_pipeline_compiles_nothing_new(spark, tmp_path):
    """The paper's dataflow, run twice: nothing on the KG path may put a
    per-call literal into generated code, or every loop step recompiles."""
    from transe_pyspark_spark.sources.readers import read_triples_tsv
    from transe_pyspark_spark.transe.data import build_vocab, encode_triples
    from transe_pyspark_spark.transe.evaluate import evaluate_link_prediction
    from transe_pyspark_spark.transe.train import TransETrainer

    rng = random.Random(5)
    triples = sorted({(f"e{rng.randrange(60)}", f"r{rng.randrange(5)}", f"e{rng.randrange(60)}")
                      for _ in range(700)})
    train, test = tmp_path / "train.tsv", tmp_path / "test.tsv"
    train.write_text("".join("\t".join(t) + "\n" for t in triples))
    # a file, not a limit(): Spark names each LimitExec's counter from a
    # global sequence, so every limit() plan is a class of its own
    test.write_text("".join("\t".join(t) + "\n" for t in triples[::17]))

    def run():
        raw = read_triples_tsv(spark, str(train))
        ev, lv = build_vocab(raw)
        enc = encode_triples(raw, ev, lv).cache()
        test_enc = encode_triples(read_triples_tsv(spark, str(test)), ev, lv)
        trainer = TransETrainer(k=8, n_epochs=1, n_batches=2, seed=11, train_partitions=2)
        model = trainer.fit(spark, enc, ev.count(), lv.count())
        raw_m = evaluate_link_prediction(spark, model, test_enc)
        filt_m = evaluate_link_prediction(spark, model, test_enc,
                                          known_triples=enc.unionByName(test_enc))
        enc.unpersist()
        return trainer.loss_history, raw_m, filt_m

    # Adaptive execution re-plans as query stages finish, in an order that
    # depends on timing; the variants it picks (join strategy, stage ids in
    # class names) added 0-16 compiles to a repeat run. Static plans leave
    # only what the code itself puts into generated classes.
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        first = run()
        before = _compiles(spark)
        assert run() == first
        assert _compiles(spark) - before == 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
