"""Metric definitions: the end-to-end metrics of the untraced run and
the per-layer metrics of the traced run, each with its unit. Names and
units must match BENCHMARK.json (the self-test checks that they do)."""

from __future__ import annotations

import statistics

from pipebench import trace

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "query_p50_s": "s",
    "retained_heap_mb": "MB",
}

_SPARK = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb")


def end_to_end(out, session_s: float, heap_mb: float) -> tuple[dict[str, float], dict]:
    """Metric values, and the sample counts behind the medians."""
    values = {
        "setup_s": session_s + sum(out.setup.values()),
        "op_p50_s": statistics.median(out.op_s),
        "query_p50_s": statistics.median(out.query_s),
        "retained_heap_mb": heap_mb,
    }
    return values, {"query_samples": len(out.query_s), "ops": len(out.op_s)}


def _unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "write_amp")):
        return "ratio"
    return "count"


def per_layer(tracer, jobs, groups, out, session_s: float, persisted_rdds: int) -> tuple[dict[str, float], dict]:
    """Per-layer metric values, and the per-span table behind them.

    Counts and times are per operation (tick or pass); the similarity
    metrics are per query (a knn_exact search, or one probe batch of
    knn_similarity_join); store.live_files, store.disk_mb,
    session.get_spark.s and spark.persisted_rdds are levels at the end
    of the run."""
    per = trace.attribute(tracer, jobs, groups)
    table = trace.span_table(tracer, per)
    timed = tracer.timed_spans()
    f = out.facts
    main = "tick" if "ticks" in f else "pass"
    ops = f.get("ticks") or f["passes"]
    queries = f.get("queries") or f["joins"]
    main_ops = [s for s in timed if s["op"] == main]
    main_ids = {s["id"] for s in main_ops}

    def tot(name: str, key: str = "s") -> float:
        return table.get(name, {}).get(key, 0)

    def layer(prefix: str, key: str) -> float:
        return sum(row.get(key, 0) for name, row in table.items() if name.startswith(prefix + "."))

    def counter(name: str) -> float:
        return sum(s["counters"].get(name, 0) for s in main_ops)

    writes = [s["store"] for s in timed if "store" in s]
    spark = dict.fromkeys(_SPARK, 0)
    for s in timed:
        if s["op_id"] in main_ids:
            for k in _SPARK:
                spark[k] += per[s["id"]][k]
    texts = counter("embed.texts")
    v = {
        "delta_sync.sync_products.s": tot("delta_sync.sync_products") / ops,
        "delta_sync.apply_sync.self_s": tot("delta_sync.apply_sync", "self_s") / ops,
        "delta_sync.delete_products.s": tot("delta_sync.delete_products") / ops,
        "delta_sync.jobs": layer("delta_sync", "jobs") / ops,
        "delta_sync.upserted_chunks": f.get("upserted", 0) / ops,
        "delta_sync.deleted_chunks": (f.get("stale_deleted", 0) + f.get("delete_rows", 0)) / ops,
        "delta_sync.skip_ratio": f.get("skipped", 0) / f["batch_products"] if f.get("batch_products") else 0.0,
        "store.merge.s": tot("store.merge") / ops,
        "store.merge.calls": tot("store.merge", "calls") / ops,
        "store.delete_keys.s": tot("store.delete_keys") / ops,
        "store.update_keys.s": tot("store.update_keys") / ops,
        "store.delete_where.s": tot("store.delete_where") / ops,
        "store.read.s": tot("store.read") / ops,
        "store.jobs": layer("store", "jobs") / ops,
        "store.buckets_rewritten": sum(w["buckets"] for w in writes) / ops,
        "store.bytes_written_mb": sum(w["bytes"] for w in writes) / 2**20 / ops,
        "store.write_amp": sum(w["rows"] for w in writes) / f["rows_changed"] if f.get("rows_changed") else 0.0,
        "store.versions_published": sum(w["versions"] for w in writes) / ops,
        "store.live_files": f.get("live_files", 0),
        "store.disk_mb": f.get("disk_mb", 0.0),
        "embed.texts": texts / ops,
        "embed.batches": counter("embed.batches") / ops,
        "embed.backend_s": counter("embed.backend_s") / ops,
        # every upserted text is new (revision tags), so upserts are the
        # novel texts; re-embedding a text lowers the ratio
        "embed.novel_ratio": f.get("upserted", 0) / texts if texts else 0.0,
        "indexer.build_chunks.s": tot("indexer.build_chunks") / ops,
        "indexer.chunks": f.get("chunks_built", 0) / ops,
        "similarity.knn_exact.s": tot("similarity.knn_exact") / queries,
        "similarity.jobs": layer("similarity", "jobs") / queries,
        "similarity.rows_scanned": layer("similarity", "records_read") / queries,
        "similarity.knn_similarity_join.s": tot("similarity.knn_similarity_join") / ops,
        "curation.curate.s": tot("curation.curate") / ops,
        "curation.jobs": layer("curation", "jobs") / ops,
        "curation.exact_dup_dropped": f.get("exact_dup_dropped", 0) / ops,
        "curation.near_dup_dropped": f.get("near_dup_dropped", 0) / ops,
        "curation.dropped": f.get("dropped", 0) / ops,
        "dedup.minhash_near_dup_drops.s": tot("dedup.minhash_near_dup_drops") / ops,
        "dedup.pairs": counter("dedup.pairs") / ops,
        "partitioning.fan_out.calls": tot("partitioning.fan_out", "calls") / ops,
        "session.get_spark.s": session_s,
    }
    for k in _SPARK:
        v[f"spark.{k}"] = spark[k] / ops
    v["spark.driver_only_s"] = sum(trace.driver_only_s(s, jobs) for s in main_ops) / ops
    v["spark.persisted_rdds"] = persisted_rdds
    return v, table


def render(values: dict[str, float], units: dict[str, str] | None = None) -> dict[str, dict]:
    return {
        name: {"value": float(x), "unit": (units or {}).get(name) or _unit(name)}
        for name, x in values.items()
    }
