"""``batch_pipeline``: registry queries over seeded tables.

Set-up writes the seeded ``documents``/``embeddings``/``orders`` tables,
then warms up by building every query's DataFrame once without running
it: the first build pays fixture encoding into the package's payload
store, build-time Spark jobs and Python-worker start. The timed run is
one pass in which each query builds its DataFrame again and collects
it. After the pass every result is checked: a query with a DuckDB entry
in ``ORACLES`` must hash-equal the oracle under the repository's parity
rule (``tools/parity_check.norm_hash``), the others must return the
expected row count. ``space_amp`` is the payload store's bytes on disk
per user byte of the input tables.
"""

from __future__ import annotations

import os
import time

import datagen
from harness import SETUP_REPS, Recorder, dir_bytes
from parity_check import norm_hash

NAMES = (
    "ngram_jaccard_pairs", "bpe_token_count", "equidepth_histogram",
    "ann_ivf_cosine", "dedup_components", "semantic_dedup",
    "curate_corpus_v2", "embedding_near_dup", "audio_mp3_probe",
    "jpeg_progressive_probe", "pdf_extract", "minhash_lsh_candidates",
    "fulltext_bm25", "hybrid_rrf", "incremental_line_dedup",
)

# ``hybrid_rrf`` scores BM25 over all documents but its oracle over the
# documents that have an embedding, so the two tables keep one size.
SIZES = {
    "full": datagen.TableSizes(documents=300, embeddings=300, orders=10000),
    "smoke": datagen.TableSizes(documents=100, embeddings=100, orders=1000),
}


def expected_rows(name: str, sizes: datagen.TableSizes) -> int:
    """Row count of the queries that have no oracle entry: the IVF top-10,
    and one row per document for the BPE count and the MP3 probe."""
    return {
        "ann_ivf_cosine": 10,
        "bpe_token_count": sizes.documents,
        "audio_mp3_probe": sizes.documents,
    }[name]


def check_results(results: dict, data_dir: str, sizes) -> dict[str, bool]:
    import duckdb

    from aiotcvectordb_spark import queries as Q

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings", "orders"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        ok = {}
        for name, got in results.items():
            if name in Q.ORACLES:
                want = con.sql(Q.ORACLES[name]).df()
                ok[name] = (
                    len(got) == len(want)
                    and sorted(got.columns) == sorted(want.columns)
                    and norm_hash(got) == norm_hash(want)
                )
            else:
                ok[name] = len(got) == expected_rows(name, sizes)
        return ok
    finally:
        con.close()


def run(ctx) -> dict:
    from aiotcvectordb_spark import queries as Q

    sizes = SIZES[ctx.scale]
    reps = []
    for r in range(SETUP_REPS):
        t0 = time.perf_counter()
        data_dir = os.path.join(ctx.run_dir, f"tables{r}")
        user_bytes = sum(datagen.write_tables(ctx.seed, data_dir, sizes).values())
        reps.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    for name in NAMES:
        Q.QUERIES[name](ctx.spark, data_dir)
    warm_s = time.perf_counter() - t0

    rec = Recorder(tracer=ctx.tracer, layer="batch")
    results = {}
    t0 = time.perf_counter()
    for name in NAMES:
        results[name] = rec.run(
            name, lambda n=name: _build_and_collect(ctx.spark, Q, n, data_dir, ctx.tracer),
            lambda out: out is not None,
        )
    wall = time.perf_counter() - t0
    checked = check_results(
        {n: df for n, df in results.items() if df is not None}, data_dir, sizes
    )
    for name, good in checked.items():
        if not good:
            rec.errors.append(f"{name}: result differs from its oracle")
            rec.samples[NAMES.index(name)].ok = False
    return {
        "rec": rec, "untimed": Recorder(), "wall_s": wall, "setup_reps": reps,
        "warm_s": warm_s,
        "space_amp": dir_bytes(os.environ["SPARK_GRAFT_PAYLOAD_STORE"]) / user_bytes,
        "classes": {}, "batch_s": wall, "layer_extra": {}, "cycle": NAMES,
    }


def _build_and_collect(spark, Q, name: str, data_dir: str, tracer):
    if tracer is None:
        return Q.QUERIES[name](spark, data_dir).toPandas()
    with tracer.span(f"qfam.{name}", "qfam"):
        df = Q.QUERIES[name](spark, data_dir)
    with tracer.span(f"qfam.exec.{name}", "qfam.exec"):
        return df.toPandas()
