"""``stream_ingest``: the four epoch-index ingest twins, epoch by epoch.

The seeded ``documents`` table is cut by ``doc_id`` into epochs and fed
to the ``linededup``, ``novelty``, ``decontam`` and ``substrdedup``
``foreachBatch`` sinks, one epoch of each sink in turn. Every sink's
index is compacted every ``COMPACT_EVERY`` epochs, inside the epoch
that triggers it. The last epoch of each sink holds exactly the slice
its ``incremental_*`` batch twin treats as the new batch, with every
other document already ingested, so the sink's final-epoch output must
equal the batch query's result. Set-up ends with a warm-up: the first
epoch of every sink, in a state directory the timed streams do not use.
``space_amp`` is the sinks' bytes on disk (indexes and results) per
user byte of the documents table.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import datagen
from harness import SETUP_REPS, Recorder, dir_bytes, file_sizes, run_cycles

COMPACT_EVERY = 2


@dataclass(frozen=True)
class StreamSizes:
    documents: int
    epochs: int  # per sink, the final (twin) epoch included


SIZES = {
    "full": StreamSizes(documents=1000, epochs=4),
    "smoke": StreamSizes(documents=100, epochs=3),
}


@dataclass
class Twin:
    name: str
    make_sink: object
    compact: object
    read_results: object
    batch_query: str
    batch_pred: object  # (doc_id Column, max doc_id) -> the twin's new batch
    pages: bool = False  # feed boilerplate pages, not raw text


def twins() -> list[Twin]:
    from aiotcvectordb_spark import queries as Q
    from aiotcvectordb_spark.streaming import decontam, linededup, novelty, substrdedup

    def every_tenth(c, max_id):
        return c % 10 == 0

    def last_tenth(c, max_id):
        return c >= max_id * 9 // 10

    return [
        Twin("linededup",
             lambda i, r: linededup.stream_line_dedup_sink(
                 i, r, min_count=Q._LINE_DEDUP_MIN_COUNT),
             linededup.compact_line_index, linededup.read_clean_results,
             "incremental_line_dedup", every_tenth, pages=True),
        Twin("novelty", novelty.stream_gram_novelty_sink, novelty.compact_gram_index,
             novelty.read_novelty_results, "incremental_gram_novelty", last_tenth),
        Twin("decontam", decontam.stream_decontaminate_sink,
             decontam.compact_shingle_index, decontam.read_decontam_results,
             "incremental_decontaminate_fraction", last_tenth),
        Twin("substrdedup", substrdedup.stream_substring_dedup_sink,
             substrdedup.compact_gram_index, substrdedup.read_clean_docs,
             "incremental_substring_dedup", every_tenth),
    ]


def epoch_frames(spark, twin: Twin, docs_path: str, n_docs: int, epochs: int):
    """Input frame of every epoch: standing documents in ``epochs - 1``
    contiguous ``doc_id`` ranges, then the twin's batch slice."""
    from pyspark.sql import functions as F

    from aiotcvectordb_spark import queries as Q

    docs = spark.read.parquet(docs_path).filter(F.length("text") > 0)
    is_batch = twin.batch_pred(F.col("doc_id"), n_docs - 1)
    bounds = [n_docs * k // (epochs - 1) for k in range(epochs)]
    frames = [
        docs.filter(~is_batch & (F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        for lo, hi in zip(bounds, bounds[1:])
    ] + [docs.filter(is_batch)]
    if twin.pages:
        frames = [Q._boiler_pages(f).withColumnRenamed("page", "text") for f in frames]
    return frames


def same_rows(got, want) -> bool:
    """Equal non-empty row sets over the batch twin's columns (the sink
    adds only its bookkeeping columns, such as ``lane``)."""
    cols = sorted(want.columns)
    rows = [sorted(tuple(r) for r in df.select(*cols).collect()) for df in (got, want)]
    return rows[0] == rows[1] and len(rows[0]) > 0


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from aiotcvectordb_spark import queries as Q

    sizes = SIZES[ctx.scale]
    spark = ctx.spark
    twin_list = twins()
    reps = []
    for r in range(SETUP_REPS):
        t0 = time.perf_counter()
        data_dir = os.path.join(ctx.run_dir, f"tables{r}")
        user_bytes = datagen.write_tables(
            ctx.seed, data_dir, datagen.TableSizes(sizes.documents, 1, 1)
        )["documents"]
        docs_path = os.path.join(data_dir, "documents.parquet")
        frames = {
            t.name: epoch_frames(spark, t, docs_path, sizes.documents, sizes.epochs)
            for t in twin_list
        }
        reps.append(time.perf_counter() - t0)

    rec = Recorder(tracer=ctx.tracer, layer="streaming")
    untimed = Recorder()
    tracer = ctx.tracer
    layer_extra = {"epochlog.bytes_written": 0.0}
    last = {}  # directories of the latest stream

    def one_stream(name, recorder, epochs):
        state_root = os.path.join(ctx.run_dir, name)
        dirs = {t.name: (os.path.join(state_root, t.name, "index"),
                         os.path.join(state_root, t.name, "results")) for t in twin_list}
        last.update(root=state_root, dirs=dirs)
        sinks = {t.name: t.make_sink(*dirs[t.name]) for t in twin_list}
        for e in range(epochs):
            for t in twin_list:
                index_dir = dirs[t.name][0]
                before = file_sizes(index_dir) if tracer else None
                recorder.run(t.name,
                             lambda t=t, e=e: _epoch(spark, t, sinks[t.name],
                                                     frames[t.name][e], e, index_dir,
                                                     sizes.epochs, tracer),
                             lambda out: True)
                if tracer and recorder is rec:
                    after = file_sizes(index_dir)
                    layer_extra["epochlog.bytes_written"] += sum(
                        v for p, v in after.items() if before.get(p) != v
                    )

    # warm-up: the first epoch of every sink, in a state root of its own
    warm_s = run_cycles(0, lambda i: one_stream("warmup", untimed, 1))
    wall = run_cycles(ctx.seconds, lambda i: one_stream(f"stream{i}", rec, sizes.epochs))
    layer_extra["epochlog.bytes_written"] /= max(rec.attempted, 1)

    # final epoch of the last stream against each batch twin
    for t in twin_list:
        results_dir = last["dirs"][t.name][1]

        def final_epoch(t=t, results_dir=results_dir):
            got = t.read_results(spark, results_dir).filter(
                F.col("epoch") == sizes.epochs - 1).drop("epoch")
            return same_rows(got, Q.QUERIES[t.batch_query](spark, data_dir))

        untimed.run(f"{t.name}_twin", final_epoch, bool)
    return {
        "rec": rec, "untimed": untimed, "wall_s": wall, "setup_reps": reps,
        "warm_s": warm_s, "space_amp": dir_bytes(last["root"]) / user_bytes,
        "classes": {"epoch_p50_ms": (None, 50), "epoch_p90_ms": (None, 90)},
        "cycle": [t.name for t in twin_list] * sizes.epochs,
        "layer_extra": layer_extra,
    }


def _epoch(spark, twin: Twin, sink, frame, epoch: int, index_dir: str,
           epochs: int, tracer) -> None:
    sink(frame, epoch)
    if (epoch + 1) % COMPACT_EVERY == 0 and epoch + 1 < epochs:
        if tracer is None:
            twin.compact(spark, index_dir)
        else:
            with tracer.span(f"epochlog.compact.{twin.name}", "epochlog.compact"):
                twin.compact(spark, index_dir)
