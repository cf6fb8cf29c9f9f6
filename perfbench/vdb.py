"""``vdb_read`` and ``vdb_rw``: the ``VectorDBEngine`` facade as a
single closed-loop client sees it.

Both workloads build a seeded collection of clustered 128-d COSINE
vectors with ``label``/``lang``/``text`` fields through the engine's
bulk ingest path, then cycle through a fixed sequence of operation
kinds whose arguments are drawn from the seed. Query vectors come from
a Zipf-skewed pool, so popular vectors repeat. The benchmark keeps its
own model of the collection and checks every answer against it:

- exact kNN and ``search_by_id`` equal a numpy top-k (ties within 1e-6
  may swap);
- IVF hits meet a recall floor against the exact top-k;
- ``query``/``count`` equal the model; ``fulltext_search`` and
  ``hybrid_search`` equal a numpy BM25 / RRF over the model;
- in ``vdb_rw`` every write is followed by ``count`` and ``query`` by
  ids that must observe it.
"""

from __future__ import annotations

import math
import os
import time
from collections import Counter
from dataclasses import dataclass

import numpy as np

import datagen
from harness import SETUP_REPS, Recorder, dir_bytes, file_sizes, run_cycles

DB = "bench"
DIM = 128
LIMIT = 10
IVF_NLIST = 16
IVF_NPROBE = 4
IVF_RECALL_FLOOR = 0.6
RRF_K = 60
BM25_K1, BM25_B = 1.2, 0.75
POOL = 64  # distinct query vectors in the Zipf pool


@dataclass(frozen=True)
class VdbSizes:
    docs: int
    upsert_batch: int
    delete_batch: int


SIZES = {
    "full": VdbSizes(docs=2000, upsert_batch=100, delete_batch=20),
    "smoke": VdbSizes(docs=300, upsert_batch=10, delete_batch=4),
}

READ_CYCLE = (
    "search", "search_filter", "ivf_search", "search_by_id",
    "query", "count", "fulltext", "hybrid",
)
RW_CYCLE = (
    "upsert", "count", "query_ids", "search",
    "update", "count", "query_ids", "search_filter",
    "delete", "count", "query_ids", "search_by_id",
)
WRITES = {"upsert", "update", "delete"}
SEARCHES = {"search", "search_filter", "ivf_search", "search_by_id"}
LOOKUPS = {"query", "count", "query_ids"}
TEXT = {"fulltext", "hybrid"}


# -- the benchmark's model of the collection ----------------------------------


class Model:
    """Live documents by id, with numpy views rebuilt after writes."""

    def __init__(self, coll: datagen.Collection) -> None:
        self.docs = {coll.ids[i]: coll.doc(i) for i in range(len(coll.ids))}
        self._cache: dict | None = None

    def _view(self) -> dict:
        if self._cache is None:
            ids = sorted(self.docs)
            docs = [self.docs[i] for i in ids]
            vec = np.array([d["vector"] for d in docs], dtype=np.float64)
            self._cache = {
                "ids": ids,
                "vec": vec / np.linalg.norm(vec, axis=1, keepdims=True),
                "label": np.array([d["label"] for d in docs]),
                "lang": np.array([d["lang"] for d in docs]),
                "tokens": [d["text"].split() for d in docs],
            }
        return self._cache

    def invalidate(self) -> None:
        self._cache = None

    def user_bytes(self) -> int:
        return datagen.user_bytes(self.docs.values())

    def mask(self, lang: str | None = None, label_lt: int | None = None) -> np.ndarray:
        v = self._view()
        m = np.ones(len(v["ids"]), dtype=bool)
        if lang is not None:
            m &= v["lang"] == lang
        if label_lt is not None:
            m &= v["label"] < label_lt
        return m

    def cosine(self, q, mask=None) -> dict[str, float]:
        v = self._view()
        q = np.asarray(q, dtype=np.float64)
        s = v["vec"] @ (q / np.linalg.norm(q))
        idx = np.flatnonzero(mask) if mask is not None else range(len(s))
        return {v["ids"][i]: float(s[i]) for i in idx}

    def bm25(self, text: str) -> dict[str, float]:
        v = self._view()
        q = set(text.split())
        toks = v["tokens"]
        n = len(toks)
        dl = np.array([len(t) for t in toks], dtype=np.float64)
        avgdl = dl.mean()
        tf = {t: np.array([ts.count(t) for ts in toks], dtype=np.float64) for t in q}
        score = np.zeros(n)
        for t in q:
            df = float((tf[t] > 0).sum())
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            score += idf * tf[t] * (BM25_K1 + 1) / (
                tf[t] + BM25_K1 * (1 - BM25_B + BM25_B * dl / avgdl)
            )
        hit = np.zeros(n, dtype=bool)
        for t in q:
            hit |= tf[t] > 0
        return {v["ids"][i]: float(score[i]) for i in np.flatnonzero(hit)}

    def rrf(self, q, text: str, fetch_k: int) -> dict[str, float]:
        fused: Counter = Counter()
        for leg in (self.cosine(q), self.bm25(text)):
            ranked = sorted(leg.items(), key=lambda kv: (-kv[1], kv[0]))[:fetch_k]
            for r, (i, _) in enumerate(ranked, start=1):
                fused[i] += 1.0 / (RRF_K + r)
        return dict(fused)


def topk_ok(hits: list[tuple[str, float]], ref: dict[str, float], k: int,
            tol: float = 1e-6) -> bool:
    """``hits`` is a correct top-``k`` of ``ref``: right length, distinct
    ids with their reference scores, non-increasing, and no unreturned
    id scores better than the worst returned one (beyond ``tol``)."""
    if len(hits) != min(k, len(ref)):
        return False
    ids = [i for i, _ in hits]
    if len(set(ids)) != len(ids):
        return False
    for i, s in hits:
        if i not in ref or abs(ref[i] - s) > tol:
            return False
    scores = [s for _, s in hits]
    if any(b > a + tol for a, b in zip(scores, scores[1:])):
        return False
    chosen = set(ids)
    best_other = max((s for i, s in ref.items() if i not in chosen), default=-math.inf)
    return not hits or best_other <= min(ref[i] for i in ids) + tol


def _hits(rows) -> list[tuple[str, float]]:
    return [(r["id"], float(r["score"])) for r in rows]


# -- collection build ----------------------------------------------------------


def _indexes(index_type: str):
    from aiotcvectordb_spark.catalog import IndexField

    params = {"nlist": IVF_NLIST} if index_type.startswith("IVF") else {}
    return [
        IndexField(name="id", kind="primary_key", field_type="string"),
        IndexField(
            name="vector", kind="vector", field_type="vector",
            metric_type="COSINE", index_type=index_type, dimension=DIM,
            params=params,
        ),
        IndexField(name="label", kind="filter", field_type="uint64"),
        IndexField(name="lang", kind="filter", field_type="string"),
        IndexField(name="text", kind="filter", field_type="string"),
    ]


def build(spark, root: str, coll: datagen.Collection, names: dict[str, str],
          engine=None):
    """Create one collection per ``name -> index_type`` and bulk-load
    ``coll`` into each through the engine (a new one over ``root`` unless
    given); returns the engine."""
    import pandas as pd

    from aiotcvectordb_spark.engine import VectorDBEngine
    from aiotcvectordb_spark.sources.ingest import ingest_dataframe

    if engine is None:
        engine = VectorDBEngine(spark, root)
        engine.create_database(DB)
    pdf = pd.DataFrame(
        {
            "id": coll.ids,
            "vector": list(coll.vectors),
            "label": coll.label,
            "lang": coll.lang,
            "text": coll.text,
        }
    )
    for name, index_type in names.items():
        engine.create_collection(DB, name, indexes=_indexes(index_type))
        ingest_dataframe(engine, DB, name, spark.createDataFrame(pdf))
        if index_type.startswith("IVF"):
            engine.rebuild_index(DB, name)
    return engine


# -- operations -----------------------------------------------------------------


class Ops:
    """Seeded operation arguments and their checks against the model."""

    def __init__(self, engine, model: Model, rng: np.random.Generator,
                 sizes: VdbSizes, flat: str, ivf: str | None) -> None:
        self.engine, self.model, self.rng, self.sizes = engine, model, rng, sizes
        self.flat, self.ivf = flat, ivf
        base = np.array([d["vector"] for d in list(model.docs.values())[:POOL]])
        self.pool = base + 0.05 * rng.standard_normal(base.shape)
        self.pool_draws = iter(datagen.zipf_pool(rng, POOL, 1_000_000))
        self.new_ids = 0
        self.last_written: list[str] = []
        self.last_user_bytes = 0  # user bytes the last write submitted

    def qvec(self) -> list[float]:
        return self.pool[next(self.pool_draws)].tolist()

    def some_ids(self, n: int) -> list[str]:
        ids = sorted(self.model.docs)
        return [ids[i] for i in self.rng.choice(len(ids), n, replace=False)]

    def make(self, kind: str):
        """Return ``(call, check)`` for one operation of ``kind``."""
        e, m, rng = self.engine, self.model, self.rng
        if kind == "search":
            q = self.qvec()
            return (lambda: e.search(DB, self.flat, [q], limit=LIMIT),
                    lambda out: topk_ok(_hits(out[0]), m.cosine(q), LIMIT))
        if kind == "search_filter":
            q, lang, lt = self.qvec(), str(rng.choice(datagen.LANGS)), int(rng.integers(3, 8))
            flt = f'lang = "{lang}" and label < {lt}'
            return (lambda: e.search(DB, self.flat, [q], limit=LIMIT, filter=flt),
                    lambda out: topk_ok(_hits(out[0]),
                                        m.cosine(q, m.mask(lang=lang, label_lt=lt)), LIMIT))
        if kind == "ivf_search":
            q = self.qvec()

            def ivf_ok(out):
                exact = sorted(m.cosine(q).items(), key=lambda kv: -kv[1])[:LIMIT]
                got = {i for i, _ in _hits(out[0])}
                return len(got & {i for i, _ in exact}) / LIMIT >= IVF_RECALL_FLOOR

            return (lambda: e.search(DB, self.ivf, [q], limit=LIMIT,
                                     params={"nprobe": IVF_NPROBE}), ivf_ok)
        if kind == "search_by_id":
            (doc_id,) = self.some_ids(1)
            vec = m.docs[doc_id]["vector"]
            return (lambda: e.search_by_id(DB, self.flat, [doc_id], limit=LIMIT),
                    lambda out: topk_ok(_hits(out[0]), m.cosine(vec), LIMIT))
        if kind == "query":
            lang, offset = str(rng.choice(datagen.LANGS)), int(rng.integers(0, 20))

            def query_ok(out):
                want = sorted(
                    (d for d in m.docs.values() if d["lang"] == lang),
                    key=lambda d: (-d["label"], d["id"]),
                )[offset:offset + LIMIT]
                got = [(r["id"], r["label"], r["lang"]) for r in out]
                return got == [(d["id"], d["label"], d["lang"]) for d in want]

            return (lambda: e.query(DB, self.flat, filter=f'lang = "{lang}"',
                                    sort={"fieldName": "label", "direction": "desc"},
                                    offset=offset, limit=LIMIT,
                                    output_fields=["label", "lang"]), query_ok)
        if kind == "count":
            lt = int(rng.integers(1, 10))
            return (lambda: e.count(DB, self.flat, filter=f"label < {lt}"),
                    lambda out: out == int(m.mask(label_lt=lt).sum()))
        if kind == "query_ids":
            ids = self.last_written or self.some_ids(LIMIT)

            def ids_ok(out):
                want = {i: m.docs[i] for i in ids if i in m.docs}
                got = {r["id"]: r for r in out}
                return got.keys() == want.keys() and all(
                    (got[i]["label"], got[i]["lang"], got[i]["text"])
                    == (d["label"], d["lang"], d["text"])
                    for i, d in want.items()
                )

            return (lambda: e.query(DB, self.flat, document_ids=ids), ids_ok)
        if kind == "fulltext":
            text = datagen.query_text(rng)
            return (lambda: e.fulltext_search(DB, self.flat, text, text_col="text",
                                              limit=LIMIT),
                    lambda out: topk_ok(_hits(out), m.bm25(text), LIMIT))
        if kind == "hybrid":
            q, text = self.qvec(), datagen.query_text(rng)
            fetch_k = max(LIMIT * 4, 40)
            return (lambda: e.hybrid_search(DB, self.flat, ann_vectors=[q],
                                            match_text=text, text_col="text",
                                            limit=LIMIT),
                    lambda out: topk_ok(_hits(out[0]), m.rrf(q, text, fetch_k), LIMIT))
        if kind == "upsert":
            return self._upsert()
        if kind == "update":
            return self._update()
        if kind == "delete":
            return self._delete()
        raise ValueError(f"unknown operation kind {kind!r}")

    # writes apply to the model only once the engine call returned

    def _upsert(self):
        n = self.sizes.upsert_batch
        fresh = datagen.make_collection(self.rng, n, DIM, id_prefix="x")
        old_ids = self.some_ids(n // 2)
        new_ids = [f"n{self.new_ids + i:06d}" for i in range(n - n // 2)]
        self.new_ids += len(new_ids)
        docs = []
        for j, doc_id in enumerate(old_ids + new_ids):
            d = fresh.doc(j)
            d["id"] = doc_id
            docs.append(d)

        def check(out):
            ok = out["affectedCount"] == len(docs)
            for d in docs:
                self.model.docs[d["id"]] = d
            self.model.invalidate()
            self.last_written = [d["id"] for d in docs[:: max(len(docs) // LIMIT, 1)]]
            self.last_user_bytes = datagen.user_bytes(docs)
            return ok

        return lambda: self.engine.upsert(DB, self.flat, docs, build_index=False), check

    def _update(self):
        lab, new_lab = (int(x) for x in self.rng.choice(10, 2, replace=False))
        lang = str(self.rng.choice(datagen.LANGS))
        flt = f'label = {lab} and lang = "{lang}"'
        hit = [i for i, d in self.model.docs.items() if d["label"] == lab and d["lang"] == lang]

        def check(out):
            for i in hit:
                self.model.docs[i] = dict(self.model.docs[i], label=new_lab)
            self.model.invalidate()
            self.last_written = hit[:LIMIT]
            self.last_user_bytes = 8 * len(hit)
            return out["affectedCount"] == len(hit)

        return (lambda: self.engine.update(DB, self.flat, {"label": new_lab}, filter=flt),
                check)

    def _delete(self):
        ids = self.some_ids(self.sizes.delete_batch)

        def check(out):
            for i in ids:
                self.model.docs.pop(i, None)
            self.model.invalidate()
            self.last_written = ids[:LIMIT]
            self.last_user_bytes = 0
            return out["affectedCount"] == len(ids)

        return lambda: self.engine.delete(DB, self.flat, document_ids=ids), check


# -- workloads ------------------------------------------------------------------


def _setup(ctx, ivf: bool):
    """Generate the collection and build its FLAT copy ``SETUP_REPS``
    times in fresh engine roots (the last build serves the run), then
    build the IVF_FLAT copy once when ``ivf``. Returns the set-up time of
    each FLAT build with the IVF build time added to each."""
    sizes = SIZES[ctx.scale]
    reps = []
    for r in range(SETUP_REPS):
        t0 = time.perf_counter()
        rng = np.random.default_rng(ctx.seed)
        coll = datagen.make_collection(rng, sizes.docs, DIM)
        root = os.path.join(ctx.run_dir, f"vdb{r}")
        engine = build(ctx.spark, root, coll, {"flat": "FLAT"})
        reps.append(time.perf_counter() - t0)
    if ivf:
        t0 = time.perf_counter()
        build(ctx.spark, root, coll, {"ivf": "IVF_FLAT"}, engine)
        reps = [r + time.perf_counter() - t0 for r in reps]
    return engine, coll, rng, root, reps, sizes


def _cycle(ops: Ops, cycle, rec: Recorder, on_write=None) -> None:
    for kind in cycle:
        call, check = ops.make(kind)
        if on_write is not None and kind in WRITES:
            on_write(kind, call, check)
        else:
            rec.run(kind, call, check)


def run_read(ctx) -> dict:
    engine, coll, rng, root, reps, sizes = _setup(ctx, ivf=True)
    model = Model(coll)
    ops = Ops(engine, model, rng, sizes, "flat", "ivf")
    untimed = Recorder()
    warm_s = run_cycles(0, lambda i: _cycle(ops, READ_CYCLE, untimed))
    rec = Recorder(tracer=ctx.tracer)
    wall = run_cycles(ctx.seconds, lambda i: _cycle(ops, READ_CYCLE, rec))
    live = 2 * model.user_bytes()  # two copies: FLAT and IVF_FLAT
    return {
        "rec": rec, "untimed": untimed, "wall_s": wall, "setup_reps": reps,
        "warm_s": warm_s, "space_amp": dir_bytes(root) / live, "cycle": READ_CYCLE,
        "classes": {
            "search_p50_ms": (SEARCHES, 50), "query_p50_ms": (LOOKUPS, 50),
            "text_p50_ms": (TEXT, 50), "read_p90_ms": (set(READ_CYCLE), 90),
        },
        "layer_extra": {},
    }


def run_rw(ctx) -> dict:
    engine, coll, rng, root, reps, sizes = _setup(ctx, ivf=False)
    model = Model(coll)
    ops = Ops(engine, model, rng, sizes, "flat", None)
    untimed = Recorder()
    # one operation of each kind, in cycle order
    warm_s = run_cycles(0, lambda i: _cycle(ops, tuple(dict.fromkeys(RW_CYCLE)), untimed))
    rec = Recorder(tracer=ctx.tracer)
    coll_dir = os.path.join(root, DB, "flat")
    # traced runs list the collection's files around each write; user
    # bytes are what the write submitted (whole upserted documents, the
    # changed field of updated rows, nothing for a delete)
    writes = {"bytes": 0, "files": 0, "user_bytes": 0, "n": 0}

    def on_write(kind, call, check):
        before = file_sizes(coll_dir)
        rec.run(kind, call, check)
        after = file_sizes(coll_dir)
        new = [p for p in after if p not in before]
        writes["files"] += len(new)
        writes["bytes"] += sum(after[p] for p in new)
        writes["user_bytes"] += ops.last_user_bytes
        writes["n"] += 1

    wall = run_cycles(ctx.seconds, lambda i: _cycle(
        ops, RW_CYCLE, rec, on_write if ctx.tracer else None))
    extra = {}
    if writes["n"]:
        extra = {
            "parquet_store.bytes_written_per_user_byte":
                writes["bytes"] / max(writes["user_bytes"], 1),
            "parquet_store.files_written": writes["files"] / writes["n"],
        }
    return {
        "rec": rec, "untimed": untimed, "wall_s": wall, "setup_reps": reps,
        "warm_s": warm_s, "space_amp": dir_bytes(root) / model.user_bytes(),
        "cycle": RW_CYCLE,
        "classes": {
            "search_p50_ms": (SEARCHES, 50), "query_p50_ms": (LOOKUPS, 50),
            "read_p90_ms": (SEARCHES | LOOKUPS, 90),
            "write_p50_ms": (WRITES, 50), "write_p90_ms": (WRITES, 90),
        },
        "layer_extra": extra,
    }
