"""Delta sync — the heart of the engine (SURVEY §2.7 J3-J6, §3.1 step 4).

Given a fresh chunk build (indexer.build_chunks — shas computed, NOTHING
embedded yet) and the sync-state ledger, classify work per product:

  J6 rebuild       any existing state row carries a different model or
                   dimension → every chunk of that product re-embeds
                   (class-indexer.php:320-327)
  J5 unchanged     existing product_sha == new product_sha AND the stored
                   chunk-index set equals the new chunk-index set AND no
                   error rows → ZERO embedding/upsert work; only
                   timestamps are touched (class-indexer.php:329-360 —
                   the 'SHA skip', the reference's #1 cost optimization)
  J4 to_upsert     chunk is new, or its chunk_sha differs, or the product
                   is in rebuild/force → embed + upsert
                   (class-indexer.php:373-388)
  J3 to_delete     stored chunk_index absent from the new build → delete
                   from index + state (class-indexer.php:363-371)

The reference runs this per product in a PHP loop; here it is ONE
shuffle over the whole corpus: batch chunks and ledger rows, tagged by
side, hash-partitioned on product_id once, with J3-J6 as windows over
product_id and (product_id, chunk_index). The embed stage (the only
expensive part) runs over exactly the changed rows.

Apply order mirrors the reference (class-indexer.php:391-476) as ONE
MERGE per store per tick — the index takes its stale deletes and
upserts, the ledger its deletes, synced and error rows and the touch of
unchanged products (Delta MERGE INTO clauses on a real cluster) — and
every count and bucket both need comes from one action.

A tick writes its two stores at once: the index write and the ledger
write each stage (the Spark job that writes the touched buckets' files)
on their own thread, and once both stages are done they publish (the
manifest + ``_LATEST`` flip) in the reference's order, index first. So
after any failure the published versions are a prefix of that order:
a failed index stage publishes nothing, a failed ledger stage leaves
the index published and the ledger not — a torn state the next diff
repairs, since the ledger still holds the old shas. ``delete_products``
writes its two stores the same way.
"""

from __future__ import annotations

import functools
import threading
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wc_vector_indexing_spark.config import EngineConfig, VALID_TARGETS
from wc_vector_indexing_spark.functions.proxies import releases_proxies
from wc_vector_indexing_spark.functions.threads import run_concurrently
from wc_vector_indexing_spark.operators.embed import EmbeddingBackend, embed_texts
from wc_vector_indexing_spark.operators.indexer import attach_payload
from wc_vector_indexing_spark.state.store import ParquetMergeStore


@dataclass
class DeltaPlan:
    """Lazy classification of sync work. All DataFrames; nothing runs
    until apply_sync (or a caller) forces them. Each is a filter of
    ``rows``, the one classified frame."""

    to_upsert: DataFrame  # chunk rows needing embed + upsert
    to_delete: DataFrame  # state keys (product_id, chunk_index) gone stale
    unchanged: DataFrame  # product_ids to touch only
    rebuild: DataFrame  # batch product_ids forced by model/dim change (⊆ to_upsert's products)
    # batch + ledger rows, ``__kind`` upsert/delete/touch (NULL: no work),
    # ``__nkey`` the batch's row count for the row's (product_id, chunk_index)
    rows: DataFrame


def diff(
    new_chunks: DataFrame,
    existing_state: DataFrame,
    config: EngineConfig,
    force: bool = False,
) -> DeltaPlan:
    """Classify chunk-level work. ``new_chunks`` must carry product_id,
    chunk_index, chunk_sha, product_sha (+ text cols for the embed
    stage); ``existing_state`` is the ledger filtered to one target.
    One shuffle: every rule is a window over product_id or (product_id,
    chunk_index), both satisfied by the one hash partitioning."""
    c = F.col
    old = existing_state.select(
        "product_id", "chunk_index",
        c("chunk_sha").alias("__old_chunk_sha"), c("product_sha").alias("__old_product_sha"),
        # J6 marker; a NULL model/dimension compares as not stale
        ((c("model") != config.model) | (c("dimension") != config.dimension)).alias("__stale"),
        (c("status") == "error").alias("__error"),
        F.lit(False).alias("__new"),
    )
    rows = (
        new_chunks.withColumn("__new", F.lit(True))
        .unionByName(old, allowMissingColumns=True)
        .repartition("product_id")
    )
    product, key = Window.partitionBy("product_id"), Window.partitionBy("product_id", "chunk_index")
    new, idx = c("__new"), c("chunk_index")
    rows = rows.select(
        "*",
        F.max(new).over(product).alias("__in_batch"),
        F.coalesce(F.max("__stale").over(product), F.lit(False)).alias("__rebuild"),
        F.coalesce(F.max("__error").over(product), F.lit(False)).alias("__has_error"),
        F.max(F.when(new, c("product_sha"))).over(product).alias("__new_sha"),
        F.max("__old_product_sha").over(product).alias("__old_sha"),
        # sorted index-array equality == set equality: both sides are
        # unique per (product, chunk_index)
        F.sort_array(F.collect_list(F.when(new, idx)).over(product)).alias("__new_idx"),
        F.sort_array(F.collect_list(F.when(~new, idx)).over(product)).alias("__old_idx"),
        F.max("__old_chunk_sha").over(key).alias("__key_old_sha"),
        # > 1 only if the batch repeats a key: apply_sync's uniqueness check
        F.count(F.when(new, 1)).over(key).alias("__nkey"),
    )
    # J5: product_sha stable AND chunk-index sets identical AND nothing
    # in error AND no J6 rebuild
    unchanged = F.coalesce(
        F.lit(not force)
        & (c("__new_sha") == c("__old_sha"))
        & (c("__new_idx") == c("__old_idx"))
        & ~c("__has_error")
        & ~c("__rebuild"),
        F.lit(False),
    )
    first_chunk = new & (idx == c("__new_idx")[0])  # one row per product
    # J4: new chunk, or its sha differs (a NULL old sha is an error row),
    # or the product is in rebuild/force
    stale_chunk = c("__key_old_sha").isNull() | (c("__key_old_sha") != c("chunk_sha"))
    kind = (
        F.when(new & ~unchanged & (F.lit(force) | c("__rebuild") | stale_chunk), "upsert")
        # J3: stored keys absent from the new build, for products in the
        # batch (products absent entirely are deletes, handled by the
        # delete flow, not the sync diff)
        .when(~new & c("__in_batch") & (c("__nkey") == 0), "delete")
        .when(first_chunk & unchanged, "touch")
    )
    rows = rows.withColumn("__kind", kind)
    kind = c("__kind")
    return DeltaPlan(
        to_upsert=rows.filter(kind == "upsert").select(*new_chunks.columns),
        to_delete=rows.filter(kind == "delete").select("product_id", "chunk_index"),
        unchanged=rows.filter(kind == "touch").select("product_id"),
        rebuild=rows.filter(first_chunk & c("__rebuild")).select("product_id"),
        rows=rows.select(*new_chunks.columns, "__kind", "__nkey"),
    )


@dataclass
class SyncSummary:
    target: str
    upserted: int
    deleted: int
    skipped_products: int
    errored: int = 0


def _write_together(spark: SparkSession, *writes: Callable[..., int]) -> None:
    """Stage the store ``writes`` at once, then publish them in argument
    order. Each ``write(before_publish=...)`` is one store write call
    (``merge`` / ``delete_keys``) and runs on its own thread; it
    publishes once every write has staged or failed and the write before
    it has published. After any failure the published versions are thus
    a prefix of the argument order. Raises the first failure in order."""
    cv = threading.Condition()
    staged = [False] * len(writes)
    done: list[bool | None] = [None] * len(writes)  # published, or failed

    def run(i: int, write) -> None:
        def before_publish() -> None:
            with cv:
                staged[i] = True
                cv.notify_all()
                cv.wait_for(lambda: all(staged) and (i == 0 or done[i - 1] is not None))
                if i and not done[i - 1]:
                    raise RuntimeError("not published: an earlier store write failed")

        ok = False
        try:
            write(before_publish=before_publish)
            ok = True
        finally:
            with cv:
                staged[i], done[i] = True, ok
                cv.notify_all()

    run_concurrently(spark, *(functools.partial(run, i, w) for i, w in enumerate(writes)))


def apply_sync(
    plan: DeltaPlan,
    state: ParquetMergeStore,
    index: ParquetMergeStore,
    config: EngineConfig,
    backend: EmbeddingBackend,
    target: str = "local",
    product_cols: list[str] | None = None,
) -> SyncSummary:
    """Execute a DeltaPlan against the state ledger + vector index
    (apply order: class-indexer.php:391-476) as one MERGE per store.
    Every row the tick writes lands in one locally checkpointed frame
    tagged upsert, error (embed failed), delete (stale chunk) or touch
    (unchanged product), so both MERGE plans start from a leaf instead
    of the diff's lineage. One aggregate over it yields every count,
    each store's touched buckets and the MERGE keys' uniqueness check
    (``__nkey``, from the diff). The two MERGEs stage concurrently and
    publish index first (module docstring): a failure leaves nothing or
    the index alone published."""
    if target not in VALID_TARGETS:
        raise ValueError(f"invalid target {target!r}")
    now, tag = F.current_timestamp(), F.col("__tag")

    # embed ONLY the changed chunks with per-batch failure isolation (W8)
    embedded = embed_texts(
        plan.rows.filter(F.col("__kind") == "upsert").drop("__kind"),
        text_col="chunk_text",
        out_col="values",
        backend=backend,
        batch_size=config.embed_batch,
        on_error="mark",
    )
    rest = plan.rows.filter(F.col("__kind").isin("delete", "touch"))
    tagged = (
        attach_payload(embedded, config, product_cols or [])
        .withColumn("__tag", F.when(F.col("embed_error").isNull(), "upsert").otherwise("error"))
        .unionByName(
            rest.select("product_id", "chunk_index", "__nkey", F.col("__kind").alias("__tag")),
            allowMissingColumns=True,
        )
        .withColumn("target", F.lit(target))
        .withColumn("__bi", index._bucket_expr())
        .withColumn("__bs", state._bucket_expr())
        .localCheckpoint(eager=False)
    )
    try:
        stats = tagged.groupBy("__tag", "__bi", "__bs").agg(
            F.count("*").alias("n"), F.max("__nkey").alias("nkey")
        )
        stats = stats.collect()
        if any(r["nkey"] > 1 for r in stats):
            raise ValueError("merge updates not unique on (product_id, chunk_index)")
        tags = ("upsert", "error", "delete", "touch")
        n = {t: sum(r["n"] for r in stats if r["__tag"] == t) for t in tags}

        def buckets(col: str, *tags: str) -> set[int]:
            return {int(r[col]) for r in stats if r["__tag"] in tags}

        dels = tagged.filter(tag == "delete").select("target", "product_id", "chunk_index")
        dels = dels if n["delete"] else None
        writes = []
        # 1) the index: stale chunks out, embedded payloads in (W2, W5)
        if n["upsert"] or n["delete"]:
            upserts = tagged.filter(tag == "upsert").select(
                "target", "vector_id", "product_id", "chunk_index",
                "chunk_text", "values", "product_sha", "chunk_sha", "metadata",
            )
            upserts = upserts if n["upsert"] else None
            touched = buckets("__bi", "upsert", "delete")
            writes.append(functools.partial(index.merge, upserts, delete=dels, buckets=touched))
        # 2) the ledger: stale rows out; synced rows and failed chunks
        # (status='error', re-queued at priority 1 on the next scan: W3,
        # T8) in (W1, created_at immutable); unchanged products get a
        # timestamp touch (W4, zero remote work)
        if stats:
            ok = tag == "upsert"
            ledger = tagged.filter(tag.isin("upsert", "error")).select(
                F.lit(config.site_id).cast("long").alias("site_id"),
                "product_id", "target", "chunk_index", "vector_id", "product_sha",
                # an error row's chunk_sha stays NULL so the next diff
                # re-selects the chunk for embedding (a recorded sha
                # would read as 'already synced' and never retry)
                F.when(ok, F.col("chunk_sha")).alias("chunk_sha"),
                F.lit(config.model).alias("model"),
                F.lit(config.dimension).alias("dimension"),
                F.when(ok, "synced").otherwise("error").alias("status"),
                F.when(~ok, "embed_failed").alias("error_code"),
                F.col("embed_error").alias("error_msg"),
                F.when(ok, now).alias("last_synced_at"),
                now.alias("created_at"),
                now.alias("updated_at"),
            )
            touch = tagged.filter(tag == "touch").select("target", "product_id")
            writes.append(functools.partial(
                state.merge,
                ledger if n["upsert"] or n["error"] else None,
                delete=dels,
                touch=(touch, {"last_synced_at": now, "updated_at": now}) if n["touch"] else None,
                buckets=buckets("__bs", *n),
            ))
        _write_together(tagged.sparkSession, *writes)
    finally:
        # the lazy local checkpoint persists its RDD on first use
        tagged._jdf.queryExecution().logical().rdd().unpersist(False)
    return SyncSummary(
        target, upserted=n["upsert"], deleted=n["delete"], skipped_products=n["touch"], errored=n["error"]
    )


@releases_proxies
def delete_products(
    product_ids: list[int],
    state: ParquetMergeStore,
    index: ParquetMergeStore,
    targets: tuple[str, ...] = ("local",),
) -> int:
    """Product-delete flow (class-job-delete-product.php:45-90): remove
    all vectors + state rows for the products, per target — the W6
    metadata-filter delete as a keyed delete on (target, product_id).
    One aggregate over both stores gives the deleted index-row count and
    each store's buckets: a store rewrites only the buckets holding the
    products, and publishes nothing if it holds none of their rows. The
    two deletes stage concurrently and publish index first (module
    docstring): a failed ledger delete leaves ledger rows whose vectors
    are gone, which a replay of the same delete removes."""
    hit = F.col("target").isin(*targets) & F.col("product_id").isin(*product_ids)
    rows = [s.read().filter(hit).select(F.lit(i).alias("store"), s._bucket_expr().alias("__b"))
            for i, s in enumerate((index, state))]
    stats = rows[0].unionByName(rows[1]).groupBy("store", "__b").count().collect()
    keys = index.spark.createDataFrame(
        [(t, int(p)) for t in targets for p in product_ids], "target string, product_id long"
    )
    writes = []
    for i, store in enumerate((index, state)):
        touched = {int(r["__b"]) for r in stats if r["store"] == i}
        if touched:
            key_cols = ["target", "product_id"]
            writes.append(functools.partial(store.delete_keys, keys, key_cols, buckets=touched))
    _write_together(index.spark, *writes)
    return sum(r["count"] for r in stats if r["store"] == 0)


def purge_site(
    site_id: int,
    state: ParquetMergeStore,
    index: ParquetMergeStore,
) -> int:
    """Site-wide purge (class-job-purge-site.php:39-85): predicate delete
    on metadata.site_id across all targets + full state wipe for site."""
    cond = F.col("metadata.site_id") == site_id
    n = index.read().filter(cond).count()
    index.delete_where(cond)
    state.delete_where(F.col("site_id") == site_id)
    return n


@releases_proxies
def sync_products(
    products: DataFrame,
    state: ParquetMergeStore,
    index: ParquetMergeStore,
    config: EngineConfig,
    backend: EmbeddingBackend,
    text_col: str | None = None,
    force: bool = False,
    event_log=None,
) -> dict[str, SyncSummary]:
    """End-to-end incremental sync of a product batch to every configured
    target (SURVEY §3.1): build chunks once, then per-target diff+apply.
    Pass an ``logs.EventLog`` to record per-target telemetry rows (U5,
    class-job-index-product.php:108-128 outcome events)."""
    import time as _time

    from wc_vector_indexing_spark.operators.indexer import build_chunks

    chunks = build_chunks(products, config, text_col=text_col).cache()
    summaries: dict[str, SyncSummary] = {}
    try:
        for target in config.targets:
            t0 = _time.time()
            existing = state.read().filter(F.col("target") == target)
            plan = diff(chunks, existing, config, force=force)
            s = apply_sync(
                plan, state, index, config, backend, target=target, product_cols=products.columns
            )
            # the plan's lazy reads of the diff-time snapshot are dead now —
            # release the version leases so vacuum can reclaim the dirs
            state.release_leases()
            index.release_leases()
            summaries[target] = s
            if event_log is not None:
                event_log.append(
                    [
                        {
                            "site_id": config.site_id,
                            "target": target,
                            "action": "sync_batch",
                            "outcome": "error" if s.errored else "success",
                            "message": f"upserted={s.upserted} deleted={s.deleted} "
                            f"skipped={s.skipped_products} errored={s.errored}",
                            "duration_ms": int((_time.time() - t0) * 1000),
                            "count": s.upserted,
                        }
                    ]
                )
    finally:
        chunks.unpersist()
    return summaries
