"""Which program functions are traced, and the per-layer metrics built
from their spans and from the Spark status store.

Layer names are the package's module names. Each metric should move the
named end-to-end metrics below, which ``run.py`` prints per workload and
which all feed the gated ``cycle_s`` of that workload:

- ``catalog.*``, ``parquet_store.read_ms``, ``filters.translate_ms``,
  ``operators.build_ms``, ``engine.self_ms``: ``search_p50_ms`` and
  ``query_p50_ms`` on ``vdb_read``; not ``batch_s``.
- ``spark.jobs/stages/tasks_per_op``: ``search_p50_ms`` and
  ``text_p50_ms`` on ``vdb_read``.
- ``spark.exec_*``, ``spark.shuffle_*``: ``text_p50_ms`` on ``vdb_read``
  and ``batch_s`` on ``batch_pipeline``.
- ``parquet_store.write_ms``, ``bytes_written_per_user_byte``,
  ``files_written``: ``write_p50_ms``/``write_p90_ms``/``space_amp`` on
  ``vdb_rw``; nothing on ``vdb_read``.
- ``qfam.*``, ``spark.py_worker_s``: ``batch_s`` on ``batch_pipeline``.
- ``streaming.sink_self_ms``, ``epochlog.*``: ``epoch_p50_ms`` and
  ``epoch_p90_ms`` on ``stream_ingest``.
"""

from __future__ import annotations

import importlib
import statistics

import counters
from batch import NAMES as BATCH_QUERIES

PKG = "aiotcvectordb_spark"

# (module, function, layer) patched wherever the package binds them
FUNCTIONS = [
    ("functions.filters", "translate", "filters"),
    ("operators.knn", "knn_search", "operators"),
    ("operators.knn", "search_by_id", "operators"),
    ("operators.ann", "ivf_search", "operators"),
    ("operators.fulltext", "fulltext_search_df", "operators"),
    ("operators.hybrid", "hybrid_search_df", "operators"),
] + [
    ("streaming.epochlog", fn, "epochlog")
    for fn in ("epoch_ids", "delete_epoch", "generation_watermark", "mark_generation",
               "summed_epoch_paths", "compact_summed_index", "read_epoch_log")
] + [
    # each sink's standing-index read
    ("streaming.linededup", "_read_line_index", "epochlog.read"),
    ("streaming.novelty", "_read_gram_index", "epochlog.read"),
    ("streaming.decontam", "_read_shingle_index", "epochlog.read"),
    ("streaming.substrdedup", "_read_gram_index", "epochlog.read"),
]

SPARK_ACTIONS = ("collect", "count", "toPandas", "first", "take")

METRICS = {  # name -> unit
    "engine.self_ms": "ms",
    "catalog.calls_per_op": "count",
    "catalog.ms_per_op": "ms",
    "parquet_store.read_ms": "ms",
    "parquet_store.write_ms": "ms",
    "parquet_store.bytes_written_per_user_byte": "ratio",
    "parquet_store.files_written": "count",
    "filters.translate_ms": "ms",
    "operators.build_ms": "ms",
    "spark.action_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.build_jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.exec_run_s": "s",
    "spark.exec_cpu_s": "s",
    "spark.py_worker_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "streaming.sink_self_ms": "ms",
    "epochlog.epochs_read_per_epoch": "count",
    "epochlog.read_ms": "ms",
    "epochlog.compact_s": "s",
    "epochlog.bytes_written": "bytes",
    "trace.op_mean_ms": "ms",
    **{f"qfam.build_s.{q}": "s" for q in BATCH_QUERIES},
    **{f"qfam.build_jobs.{q}": "count" for q in BATCH_QUERIES},
    **{f"qfam.exec_s.{q}": "s" for q in BATCH_QUERIES},
}


def install(tracer, spark) -> None:
    """Wrap every traced function of the program and Spark's actions."""
    from pyspark.sql.readwriter import DataFrameReader

    from aiotcvectordb_spark.catalog import Catalog
    from aiotcvectordb_spark.sources.parquet_store import ParquetStore

    for mod in {m for m, _, _ in FUNCTIONS} | {"engine", "queries"}:
        importlib.import_module(f"{PKG}.{mod}")
    tracer.patch_method(Catalog, "get_collection", "catalog.get_collection", "catalog")
    tracer.patch_method(Catalog, "put_collection", "catalog.put_collection", "catalog")
    tracer.patch_method(ParquetStore, "read", "parquet_store.read", "parquet_store.read")
    tracer.patch_method(ParquetStore, "write", "parquet_store.write", "parquet_store.write")
    for mod, fn, layer in FUNCTIONS:
        tracer.patch_function(f"{PKG}.{mod}", fn, f"{layer}.{fn}", layer)
    df_cls = type(spark.range(1))
    for action in SPARK_ACTIONS:
        tracer.patch_method(df_cls, action, f"spark.{action}", "spark")

    def count_epochs(tr, args, kwargs):
        tr.count("epochs_read", sum("/epoch=" in str(p) for p in args[1:]))

    tracer.patch_method(DataFrameReader, "parquet", "spark.read_parquet", "spark",
                        on_call=count_epochs)


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def metrics(tracer, spark, rec, extra: dict) -> tuple[dict[str, float], dict]:
    """Every per-layer metric for the timed operations of ``rec``, and
    the Spark counters of each operation."""
    counters.wait_idle(spark)
    ops = range(rec.attempted)
    totals = tracer.layer_totals()
    cnt = {i: counters.op_counters(spark, i) for i in ops}

    def layer(i, name, key):
        return totals.get(i, {}).get(name, {}).get(key, 0.0)

    def per_op(name, key, scale=1e3, only=None):
        sel = [i for i in ops if only is None or layer(i, only, "calls")]
        return _mean(layer(i, name, key) * scale for i in sel)

    out = dict.fromkeys(METRICS, 0.0)
    out.update({
        "engine.self_ms": per_op("engine", "self"),
        "catalog.calls_per_op": per_op("catalog", "calls", 1),
        "catalog.ms_per_op": per_op("catalog", "incl"),
        "parquet_store.read_ms": per_op("parquet_store.read", "incl"),
        "parquet_store.write_ms": per_op("parquet_store.write", "incl",
                                         only="parquet_store.write"),
        "filters.translate_ms": per_op("filters", "incl"),
        "operators.build_ms": per_op("operators", "self"),
        "spark.action_ms": per_op("spark", "self"),
        "streaming.sink_self_ms": per_op("streaming", "self"),
        "epochlog.epochs_read_per_epoch": (
            _mean(tracer.counts[i]["epochs_read"] for i in ops)
            if rec.layer == "streaming" else 0.0
        ),
        "epochlog.read_ms": per_op("epochlog.read", "incl"),
        "epochlog.compact_s": per_op("epochlog.compact", "incl", 1,
                                     only="epochlog.compact"),
        "trace.op_mean_ms": _mean(s.latency_s * 1e3 for s in rec.samples),
    })
    for field, name in [
        ("jobs", "spark.jobs_per_op"), ("build_jobs", "spark.build_jobs_per_op"),
        ("stages", "spark.stages_per_op"), ("tasks", "spark.tasks_per_op"),
        ("exec_run_s", "spark.exec_run_s"), ("exec_cpu_s", "spark.exec_cpu_s"),
        ("py_worker_s", "spark.py_worker_s"),
        ("shuffle_read_bytes", "spark.shuffle_read_bytes"),
        ("shuffle_write_bytes", "spark.shuffle_write_bytes"),
    ]:
        out[name] = _mean(cnt[i][field] for i in ops)
    if rec.layer == "batch":
        for q in BATCH_QUERIES:
            sel = [i for i in ops if rec.samples[i].kind == q]
            out[f"qfam.build_s.{q}"] = _mean(layer(i, "qfam", "incl") for i in sel)
            out[f"qfam.build_jobs.{q}"] = _mean(cnt[i]["build_jobs"] for i in sel)
            out[f"qfam.exec_s.{q}"] = _mean(layer(i, "qfam.exec", "incl") for i in sel)
    out.update(extra)
    return out, cnt
