"""Every metric the benchmark reports, with its unit.

``BENCHMARK.json`` lists the same names; a test keeps the two equal.
A per-layer metric of a layer the workload does not run reads 0.
"""

from __future__ import annotations

from qmix import FAMILIES

END_TO_END = {
    "setup_s": "s",
    "step_s": "s",
    "cpu_s_per_step": "core-s",
}

_KG = {
    "sources.read_triples_s": "s",
    "sources.triples_read": "count",
    "data.build_vocab_s": "s",
    "data.encode_s": "s",
    "data.filter_seen_s": "s",
    "data.vocab_entities": "count",
    "train.fit_s": "s",
    "train.epoch_s": "s",
    "train.first_epoch_s": "s",
    "train.broadcast_s": "s",
    "train.kernel_collect_s": "s",
    "train.merge_s": "s",
    "train.final_loss": "loss",
    "train.triples_per_s": "1/s",
    "train.result_bytes": "bytes",
    "model.checkpoint_s": "s",
    "model.restore_s": "s",
    "evaluate.raw_s": "s",
    "evaluate.filtered_s": "s",
    "evaluate.mean_rank": "rank",
    "evaluate.hits_at_10": "ratio",
    "evaluate.triples_per_s": "1/s",
}

_QMIX = {
    "sources.load_tables_s": "s",
    **{f"q.{q}_s": "s" for q in FAMILIES},
    **{f"{family}_s": "s" for family in dict.fromkeys(FAMILIES.values())},
    "q.p50_s": "s",
}

_COMMON = {
    "session.start_s": "s",
    "trace.step_s": "s",
    "error_rate": "ratio",
    "proc.nproc": "count",
    "proc.driver_cpu_s": "core-s",
    "proc.jvm_cpu_s": "core-s",
    "proc.python_worker_cpu_s": "core-s",
    "proc.steal_s": "core-s",
    "spark.executor_cpu_s": "core-s",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.result_bytes": "bytes",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_failures": "count",
}

PER_LAYER = {**_COMMON, **_KG, **_QMIX}

#: metrics left out of the benchmark, and why
DROPPED = {
    "kg_relational workload and the transe.train_relational layer (rel.*)": (
        "the benchmark is sized so that 4 + 22 runs per workload finish in 3420 s: 71 s "
        "a run with two workloads and 49 s with three, margin not counted. On 4 cores one "
        "RelationalTransETrainer.fit past the 128 MiB broadcast-model limit (V=340,000, "
        "k=50, 60,000 triples, 1 epoch) took 24 s cold and 10-16 s warm, and the "
        "registry's transe_sgd_step_relational face took 12.4 s cold and 7.9 s warm, "
        "while kg_pipeline and query_mix runs, with their warm-up passes, already take "
        "54-71 s; neither a third workload nor a 14th query in query_mix fits"
    ),
    "query_p90_s": (
        "a run times 13 queries a pass for one or two passes, far fewer than the 100 "
        "samples that put 10 beyond p90; a traced run reports q.p90_s only when they do"
    ),
    "train_triples_per_s, eval_triples_per_s, query_p50_s, error_rate as end-to-end metrics": (
        "the end-to-end metrics are the ones every workload has and none can read 0; "
        "these are per-layer metrics here (train.triples_per_s, evaluate.triples_per_s, "
        "q.p50_s, error_rate), and failures are the result's attempted/failed counts"
    ),
}
