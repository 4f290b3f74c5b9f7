"""The workloads. Each runs a fixed number of operations through the
engine's public functions in a closed loop (the next operation starts
when the previous one returns), checks every output, and returns its
timings, its counts and the facts the per-layer metrics divide by.

Engine functions are looked up on their modules at call time
(``delta_sync.sync_products``), so the traced run's wrappers see them.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pipebench import gen
from pipebench.backend import CountingEmbedder
from pipebench.trace import NullTracer, store_footprint

K = 10  # neighbours per kNN query

# Sizes at --scale 1, and the nominal seconds one operation takes on a
# 4-core host at local[2]: --seconds / op_s gives the operation count,
# but never fewer than min_ops. A tick changes ``changes`` products (1 %
# of the catalog; see gen.KINDS) and is followed by at least
# ``queries_per_tick`` searches; ``warmup_queries`` run untimed before
# the first tick. The initial build is split into
# ``build_batches`` syncs of new products, which run the tick's code path
# and so also serve as its warm-up. A curation pass probes one of the
# ``probe_batches`` query batches, in turn.
SYNC_CHURN = {"products": 500, "changes": 5, "build_batches": 2, "queries_per_tick": 5, "warmup_queries": 10, "op_s": 6.0, "min_ops": 3}
CURATION_BATCH = {
    "base_docs": 600,
    "index_vectors": 2000,
    "query_vectors": 64,
    "probe_batches": 4,
    "warmup_passes": 2,
    "op_s": 3.0,
    "min_ops": 3,
}


@dataclass
class Outcome:
    setup: dict[str, float] = field(default_factory=dict)
    op_s: list[float] = field(default_factory=list)
    query_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    facts: dict[str, float] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.errors.append(what)

    def attempt(self, what: str, fn):
        """Run one operation; an exception counts it as failed."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 — a failed operation is a result
            self.failed += 1
            self.errors.append(f"{what}: {type(e).__name__}: {e}"[:500])
            return None

    def add(self, key: str, n: float) -> None:
        self.facts[key] = self.facts.get(key, 0) + n


# (parquet column types, Spark schema) of each input file
PRODUCTS = ({"product_id": pa.int64(), "text": pa.string()}, "product_id long, text string")
DOCS = ({"doc_id": pa.int64(), "text": pa.string()}, "doc_id long, text string")
VECTORS = ({"vec_id": pa.int64(), "embedding": pa.list_(pa.float32())}, "vec_id long, embedding array<float>")


def _frame(spark, path: str, rows: list[tuple], kind: tuple):
    """Write ``rows`` to one parquet file and read it back, so the engine
    reads its inputs from a file as it would in production (a frame
    built from Python objects would run a Python worker under every
    scan of it)."""
    types, ddl = kind
    cols = list(zip(*rows))
    pq.write_table(pa.table({n: pa.array(c, t) for (n, t), c in zip(types.items(), cols)}), path)
    return spark.read.schema(ddl).parquet(path)


def n_ops(seconds: int, sizes: dict) -> int:
    return max(sizes["min_ops"], round(seconds / sizes["op_s"]))


def _topk(ids: list, m: np.ndarray, q: np.ndarray, k: int) -> list[tuple]:
    """Brute-force cosine top-k, ties broken by ascending id: the
    reference every kNN result is checked against. ``ids`` must be
    sorted ascending; rows of ``m`` follow them."""
    norms = np.linalg.norm(m, axis=1)
    qn = float(np.linalg.norm(q))
    s = (m @ q) / np.where(norms * qn == 0.0, 1.0, norms * qn)
    order = np.lexsort((np.arange(len(ids)), -s))[:k]
    return [(ids[i], float(s[i])) for i in order]


def _same_ranking(got: list, want: list) -> bool:
    """Id lists equal, or differing only where the scores tie."""
    if [g[0] for g in got] == [w[0] for w in want]:
        return True
    return len(got) == len(want) and all(abs(g[1] - w[1]) < 1e-9 for g, w in zip(got, want))


# -- sync_churn ---------------------------------------------------------------


def sync_churn(spark, tracer, work: str, seed: int, seconds: int, scale: float) -> Outcome:
    from wc_vector_indexing_spark.config import EngineConfig
    from wc_vector_indexing_spark.operators import delta_sync, indexer, similarity
    from wc_vector_indexing_spark.state.store import sync_state_store, vector_index_store

    p = SYNC_CHURN
    n_products = max(20, round(p["products"] * scale))
    ticks = n_ops(seconds, p)
    out = Outcome()
    # the engine's default chunking (800 tokens, 100 overlap)
    config = EngineConfig(model="fake-deterministic-64")
    backend = CountingEmbedder(spark.sparkContext)
    inputs = f"{work}/inputs"
    os.makedirs(inputs)

    # set-up: generate the catalog and build the index from it in several
    # syncs, which warm the tick's code path (JIT): after a build in one
    # sync, tick time kept falling for several ticks
    t0 = time.perf_counter()
    catalog = gen.Catalog(seed, n_products, p["changes"])
    state = sync_state_store(spark, f"{work}/state")
    index = vector_index_store(spark, f"{work}/index")
    rows = catalog.rows()
    nb = p["build_batches"]
    upserted = 0
    for b in range(nb):
        products = _frame(spark, f"{inputs}/catalog{b}.parquet", rows[b::nb], PRODUCTS)
        upserted += delta_sync.sync_products(products, state, index, config, backend, text_col="text")["local"].upserted
    out.setup["build_s"] = time.perf_counter() - t0
    out.check(upserted == catalog.n_chunks(), f"initial build: upserted {upserted} != {catalog.n_chunks()}")

    vectors: dict[str, np.ndarray] = {}

    def vec(text: str) -> np.ndarray:
        if text not in vectors:
            vectors[text] = backend.vector(text)
        return vectors[text]

    def search(queries: list[tuple[str, str]], timed: bool) -> None:
        """kNN queries, each with the vector of a live chunk: the top-k
        must equal a brute-force top-k and the top-1 must be that chunk."""
        tr = tracer if timed else NullTracer()
        live = catalog.chunks()
        ids = sorted(live)
        m = np.stack([vec(live[i][2]) for i in ids]).astype(np.float64)
        for vid, text in queries:
            q = vec(text)

            def run():
                with tr.op("query", "similarity.query"):
                    t0 = time.perf_counter()
                    rows = similarity.knn_exact(
                        index.read(), q.tolist(), k=K, vec_col="values", id_col="vector_id"
                    ).collect()
                    dt = time.perf_counter() - t0
                if timed:
                    out.query_s.append(dt)
                return rows

            rows = out.attempt("knn_exact", run)
            if rows is not None:
                got = [(r.vector_id, r.score) for r in rows]
                want = _topk(ids, m, q.astype(np.float64), K)
                out.check(_same_ranking(got, want), f"tick {catalog.ticks}: top-{K} {got[:3]}... != {want[:3]}...")
                out.check(bool(got) and got[0][0] == vid, f"tick {catalog.ticks}: top-1 is not the queried chunk {vid}")

    def one_tick() -> None:
        tick = catalog.tick()
        df = _frame(spark, f"{inputs}/tick{catalog.ticks:04d}.parquet", tick.rows, PRODUCTS)

        # the tick is the sync of the batch and the delete that follows it
        def sync_and_delete():
            with tracer.op("tick"):
                t0 = time.perf_counter()
                s = delta_sync.sync_products(df, state, index, config, backend, text_col="text")["local"]
                n = delta_sync.delete_products(tick.deletes, state, index)
                dt = time.perf_counter() - t0
            out.op_s.append(dt)
            return s, n

        res = out.attempt("sync_products+delete_products", sync_and_delete)
        if res is not None:
            s, n = res
            got = (s.upserted, s.deleted, s.skipped_products, s.errored)
            want = (tick.upserted, tick.deleted, tick.skipped, 0)
            out.check(got == want, f"tick {catalog.ticks}: (upserted, deleted, skipped, errored) {got} != {want}")
            out.check(n == tick.delete_rows, f"tick {catalog.ticks}: delete_products removed {n} != {tick.delete_rows}")
        # every chunk the tick wrote, repeated in turn up to queries_per_tick
        nq = max(p["queries_per_tick"], len(tick.queries))
        search((tick.queries * nq)[:nq], timed=True)
        out.add("ticks", 1)
        out.add("queries", nq)
        out.add("batch_products", len(tick.rows))
        out.add("chunks_built", tick.built)
        out.add("upserted", tick.upserted)
        out.add("stale_deleted", tick.deleted)
        out.add("delete_rows", tick.delete_rows)
        out.add("skipped", tick.skipped)
        # rows the stores must change: index and ledger both take the
        # upserts and deletes; the ledger also touches skipped rows
        out.add("rows_changed", 2 * (tick.upserted + tick.deleted + tick.delete_rows) + tick.touched)

    tracer.add_counter("embed.texts", lambda: backend.texts.value)
    tracer.add_counter("embed.batches", lambda: backend.batches.value)
    tracer.add_counter("embed.backend_s", lambda: backend.seconds.value)
    # the build runs no query, and the first queries took about twice as
    # long as later ones: warm the query path up on chunks spread over
    # the catalog
    t0 = time.perf_counter()
    live = catalog.chunks()
    ids = sorted(live)
    step = len(ids) // p["warmup_queries"]
    search([(i, live[i][2]) for i in ids[::step][: p["warmup_queries"]]], timed=False)
    out.setup["warmup_s"] = time.perf_counter() - t0
    for _ in range(ticks):
        one_tick()

    # final state: ledger and index keys equal a from-scratch build of
    # the final catalog, texts and vectors match, deleted products are gone
    final = _frame(spark, f"{inputs}/final.parquet", catalog.rows(), PRODUCTS)
    want_keys = {
        (r.product_id, r.chunk_index, r.chunk_sha)
        for r in indexer.build_chunks(final, config, text_col="text")
        .select("product_id", "chunk_index", "chunk_sha")
        .collect()
    }
    idx_rows = index.read().select("product_id", "chunk_index", "chunk_sha", "chunk_text", "values").collect()
    led_keys = {
        (r.product_id, r.chunk_index, r.chunk_sha)
        for r in state.read().select("product_id", "chunk_index", "chunk_sha").collect()
    }
    idx_keys = {(r.product_id, r.chunk_index, r.chunk_sha) for r in idx_rows}
    out.check(len(idx_keys) == len(idx_rows), "index holds duplicate keys")
    out.check(idx_keys == want_keys, f"index keys differ from a rebuild: {len(idx_keys ^ want_keys)} keys")
    out.check(led_keys == want_keys, f"ledger keys differ from a rebuild: {len(led_keys ^ want_keys)} keys")
    bad_text = bad_vec = 0
    for r in idx_rows:
        ts = catalog.chunked.get(r.product_id)
        text = ts[r.chunk_index] if ts and r.chunk_index < len(ts) else None
        bad_text += r.chunk_text != text
        bad_vec += text is None or not np.array_equal(np.asarray(r.values, dtype=np.float32), vec(text))
    out.check(bad_text == 0, f"{bad_text} index rows hold a wrong chunk text")
    out.check(bad_vec == 0, f"{bad_vec} index rows hold a vector the backend would not return")
    stored_products = {k[0] for k in idx_keys | led_keys}
    out.check(stored_products == set(catalog.chunked), "stored products differ from the catalog (deleted products left rows)")

    out.facts["live_files"], out.facts["disk_mb"] = store_footprint([state.root, index.root])
    return out


# -- curation_batch -----------------------------------------------------------------


def curation_batch(spark, tracer, work: str, seed: int, seconds: int, scale: float) -> Outcome:
    from wc_vector_indexing_spark.operators import curation, similarity

    p = CURATION_BATCH
    passes = n_ops(seconds, p)
    out = Outcome()

    t0 = time.perf_counter()
    corpus = gen.make_corpus(seed, max(40, round(p["base_docs"] * scale)))
    index_rows, query_rows = gen.make_vectors(
        seed, max(50, round(p["index_vectors"] * scale)), p["query_vectors"]
    )
    inputs = f"{work}/inputs"
    os.makedirs(inputs)
    docs = _frame(spark, f"{inputs}/docs.parquet", corpus.rows, DOCS)
    index = _frame(spark, f"{inputs}/index.parquet", index_rows, VECTORS)
    nb = p["probe_batches"]
    probe_rows = [query_rows[b::nb] for b in range(nb)]
    probes = [_frame(spark, f"{inputs}/probe{b}.parquet", rows, VECTORS) for b, rows in enumerate(probe_rows)]
    out.setup["inputs_s"] = time.perf_counter() - t0

    ids = [i for i, _ in index_rows]
    m = np.asarray([v for _, v in index_rows], dtype=np.float64)
    want_join = {qid: _topk(ids, m, np.asarray(v, dtype=np.float64), K) for qid, v in query_rows}
    probe_queries = [{qid for qid, _ in rows} for rows in probe_rows]
    reasons = {"exact_duplicate": corpus.exact_dropped, "near_duplicate": corpus.near_dropped}

    def one_pass(b: int, timed: bool) -> None:
        tr = tracer if timed else NullTracer()

        def run():
            with tr.op("pass"):
                t0 = time.perf_counter()
                res = curation.curate(docs)
                with tr.span("curation.materialize"):
                    kept = [r.doc_id for r in res.curated.select("doc_id").collect()]
                    audit = res.audit.collect()
                res.unpersist()
                tq = time.perf_counter()
                rows = similarity.knn_similarity_join(probes[b], index, k=K)
                with tr.span("similarity.materialize"):
                    joined = rows.collect()
                t1 = time.perf_counter()
            if timed:
                out.op_s.append(t1 - t0)
                out.query_s.append(t1 - tq)
            return kept, audit, joined

        res = out.attempt("curate+knn_similarity_join", run)
        if res is None:
            return
        kept, audit, joined = res
        out.check(len(kept) == len(set(kept)), "curated output holds duplicate ids")
        out.check(set(kept) == corpus.survivors, f"survivors differ from the planted truth: {len(set(kept) ^ corpus.survivors)} ids")
        counts = {}
        for r in audit:
            counts[r.reject_reason] = counts.get(r.reject_reason, 0) + 1
        for reason, n in reasons.items():
            out.check(counts.get(reason, 0) == n, f"{reason}: dropped {counts.get(reason, 0)} != planted {n}")
        out.check(len(audit) == corpus.dropped, f"audit holds {len(audit)} rows != {corpus.dropped} dropped")
        got = {}
        for r in sorted(joined, key=lambda r: (r.query_id, r.rank)):
            got.setdefault(r.query_id, []).append((r.neighbor_id, r.score))
        sent = probe_queries[b]
        bad = [q for q in sent if not _same_ranking(got.get(q, []), want_join[q])]
        out.check(set(got) == set(sent), f"knn_similarity_join answered {len(got)} of {len(sent)} queries")
        out.check(not bad, f"knn_similarity_join differs from brute force on queries {bad[:5]}")
        if timed:
            out.add("passes", 1)
            out.add("joins", 1)
            out.add("exact_dup_dropped", counts.get("exact_duplicate", 0))
            out.add("near_dup_dropped", counts.get("near_duplicate", 0))
            out.add("dropped", len(audit))

    t0 = time.perf_counter()
    for i in range(p["warmup_passes"]):
        one_pass(i % nb, timed=False)
    out.setup["warmup_s"] = time.perf_counter() - t0
    for i in range(passes):
        one_pass(i % nb, timed=True)
    return out


WORKLOADS = {"sync_churn": sync_churn, "curation_batch": curation_batch}
