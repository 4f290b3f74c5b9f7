"""Corpus curation pipeline — the end-to-end training-data-preparation
composition (north-star surface): quality gate → language filter →
exact dedup → near-dup removal → curated corpus + audit trail.

Each stage that runs tags rejected rows with a reason instead of
dropping them silently, so the pipeline emits BOTH the curated corpus
and a per-reason audit (at 100 TB you need to know what the filters ate
— silent truncation is how corpora go bad). The plan is lazy but for two
stage boundaries, each materialized once: the exact-dedup aggregate
(eager local checkpoint) and the near-dup drop list (lazy).

Stage order is the cheap-first rule: pure-projection filters (quality,
language) run before anything that shuffles (dedup), so the shuffled
volume is already reduced.

Dedup policy: exact dups collapse to the min-id canonical row; near-dup
pairs (MinHash+LSH verified by exact Jaccard) are clustered with
connected components (operators/components.py) and each cluster keeps
its min-id representative — transitively consistent: pairs (1,3) and
(2,3) drop BOTH 2 and 3, where a pair-local rule would leave 2 behind.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wc_vector_indexing_spark.functions.hashing import sha_text
from wc_vector_indexing_spark.functions.proxies import releases_proxies
from wc_vector_indexing_spark.functions.threads import run_concurrently
from wc_vector_indexing_spark.operators import dedup, textstats


@dataclass
class CurationConfig:
    min_quality: float = 0.5
    languages: tuple[str, ...] | None = ("en",)  # None = keep all
    near_dup_threshold: float = 0.5
    minhash_hashes: int = 64
    minhash_bands: int = 16
    shingle_k: int = 4
    # minhash shingle hash family: crc32 (production default) or md5
    # (cross-engine reproducible — lets an external oracle replay the
    # near-dup stage exactly; see dedup._shingle_hasher)
    minhash_token_hash: str = "crc32"
    # None = stage off; {} = Gopher defaults; partial dicts override
    # individual thresholds (operators/repetition.DEFAULT_THRESHOLDS)
    repetition_thresholds: dict | None = None
    # heuristic gate stage (operators/heuristics.py): any subset of
    # ("c4", "gopher"); None/() = stage off. Pure column predicates,
    # evaluated right after quality/language (cheap-first ordering).
    heuristics: tuple[str, ...] | None = None
    # compressibility gate (operators/compressibility.py): None = off;
    # (min_ratio, max_ratio) = drop docs whose zlib deflate ratio falls
    # outside the band (boilerplate/template low tail, binary-garbage
    # high tail). Arrow-batched map pass, placed with the other
    # per-row gates — before anything that shuffles.
    compress_band: tuple[float, float] | None = None
    # unicode hygiene (operators/unicode_clean.py): repair text IN
    # PLACE (mojibake → NFC → zero-width/control strip) before any
    # scoring or hashing — content hashes and shingles computed on
    # un-normalized text silently miss duplicates. A repair, not a
    # filter: no audit branch.
    unicode_fix: bool = False
    # C4 page-level blocklist (operators/heuristics.blocklist_gate):
    # None/() = stage off; a word tuple = drop any doc containing one.
    # Pure per-row predicate, runs with the other codegen gates.
    blocklist: tuple[str, ...] | None = None
    # per-language percentile gate (CCNet-style): None = off; a float
    # keeps that top fraction of each predicted language BY SCORE —
    # replaces one-size-fits-all min_quality bias against low-scoring
    # languages. Fit = one small per-group quantile agg over survivors;
    # apply = pure map-literal filter (no corpus shuffle).
    lang_percentile: float | None = None
    # language router feeding predicted_lang (the column the language
    # filter and per-language percentile gate key on): 'stopwords' =
    # the 4-Latin-language stopword-ratio argmax (textstats, the
    # default); 'ngram' = the 14-language/7-script char-n-gram router
    # (operators/langid.py) for corpora with CJK/Cyrillic/Arabic
    # content. Both are pure codegen column expressions.
    lang_router: str = "stopwords"


class CurationResult:
    """(curated, audit) plus a handle on the pipeline's persisted
    intermediates (cached frames and local checkpoints). Unpacks like
    the 2-tuple it replaced; call ``unpersist()`` once the outputs are
    materialized — a long-lived session that curates many corpora
    without releasing these accumulates executor storage until every
    later job pays for it."""

    def __init__(self, curated: DataFrame, audit: DataFrame, cached: tuple = ()):
        self.curated = curated
        self.audit = audit
        self._cached = cached

    def __iter__(self):
        return iter((self.curated, self.audit))

    def __getitem__(self, i):
        return (self.curated, self.audit)[i]

    def unpersist(self) -> None:
        # blocking: the blocks are gone when this returns, not whenever
        # Spark's cleaner gets to them after a later GC
        for df in self._cached:
            if df.is_cached:
                df.unpersist(blocking=True)
            else:  # a local checkpoint: release the RDD it scans
                df._jdf.queryExecution().logical().rdd().unpersist(True)
        self._cached = ()


@releases_proxies
def curate(
    docs: DataFrame,
    config: CurationConfig | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    host_prior: DataFrame | None = None,
    host_col: str = "source",
    mirror_clusters: DataFrame | None = None,
) -> CurationResult:
    """Returns a :class:`CurationResult` (unpacks as ``curated, audit``):

      curated — the surviving rows of ``docs`` (all original columns,
                in their order and with their types)
      audit   — (doc_id, reject_reason) for every dropped row, reason ∈
                {mirror_host, blocked_host, low_quality, wrong_language,
                c4_boilerplate, gopher_rules, blocklisted,
                below_lang_percentile, compress_outlier, repetitive,
                exact_duplicate, near_duplicate}

    ``id_col`` must be unique in ``docs`` (the audit is keyed on it).

    ``mirror_clusters`` (optional) is the output of
    :func:`~wc_vector_indexing_spark.operators.mirrors.mirror_host_clusters`
    — (host, cluster_host) rows; every document on a NON-canonical
    mirror host (host != cluster_host) drops wholesale with reason
    ``mirror_host`` before any per-row work (the RefinedWeb-style
    frontier-level dedup: recognize the mirrored HOST once instead of
    re-discovering its pages one by one in content dedup). The
    cluster table is host-bounded, so the gate is a broadcast
    anti-join — the corpus never shuffles for it.

    ``host_prior`` (optional) is the CCNet/RefinedWeb-style host-level
    prior — a bounded table with a ``host`` column plus optionally
    ``blocked`` (boolean: the whole host drops wholesale, the cheapest
    gate so it runs FIRST, before any per-row scoring) and/or
    ``host_rank`` (e.g. link-graph PageRank: documents' quality is
    re-weighted by ``0.8 + 0.4·rank/max(rank)``, so a top-ranked host
    boosts borderline pages 1.2x while an unranked/bottom host damps
    them 0.8x, BEFORE the min_quality gate). Hosts are a bounded
    vocabulary, so both the gate and the re-weight join broadcast —
    the corpus never shuffles for this stage.

    A document with no score (NULL or empty text) is ``low_quality``.

    The scored corpus is cached; the exact-dedup aggregate (read by the
    survivors and the ``exact_duplicate`` branch) and the near-dup drop
    list are local checkpoints. ``unpersist()`` releases all of them.

    The audit branches are DISJOINT subsets of ``docs`` (each stage
    only examines the previous stage's survivors), so
    ``|curated| = |docs| - |audit|`` — curation_report relies on this.
    """
    config = config or CurationConfig()
    orig_cols = list(docs.columns)
    dropped: list[tuple[str, DataFrame]] = []  # (reason, ids) per stage run
    held: list[DataFrame] = []  # released by CurationResult.unpersist

    # quality and language are pure column expressions over each row —
    # appended in place, NOT computed as separate frames joined back
    # (two shuffles of the corpus for values derivable in the scan
    # projection). base feeds the gate audit branches + the survivor
    # chain — persist it once instead of re-scoring the corpus per branch.
    from wc_vector_indexing_spark.functions.partitioning import fan_out

    if config.unicode_fix:
        from wc_vector_indexing_spark.operators.unicode_clean import unicode_clean

        docs = unicode_clean(docs, text_col).drop("was_dirty")

    if mirror_clusters is not None:
        # mirror gate first: an entire non-canonical mirror host drops
        # for the cost of one broadcast anti-join, before any scoring.
        # The cluster table is host-bounded but its LINEAGE is the whole
        # detection chain (digest join + components) — materialize the
        # non-canonical host list once so the semi/anti broadcast builds
        # (separate actions: audit branch vs survivor chain) read a
        # dims-sized local table instead of each replaying the chain
        mirrors = (
            mirror_clusters
            .filter(F.col("host") != F.col("cluster_host"))
            .select("host")
            .localCheckpoint(eager=True)
        )
        held.append(mirrors)
        m_on = docs[host_col] == mirrors["host"]
        dropped.append(("mirror_host", docs.join(F.broadcast(mirrors), m_on, "left_semi")))
        docs = docs.join(F.broadcast(mirrors), m_on, "left_anti")

    rank_mult = None
    if host_prior is not None:
        # host gate first: dropping a blocklisted host costs one
        # broadcast anti-join — cheaper than scoring its pages. The
        # prior table is bounded (hosts, not pages): broadcast both
        # uses; the corpus never shuffles. Materialize the prior ONCE —
        # its lineage is typically a link-graph PageRank + reputation
        # aggregate, and the gate/re-weight/max-rank consumers run in
        # separate actions that would each replay that whole chain
        host_prior = host_prior.localCheckpoint(eager=True)
        held.append(host_prior)
        if "blocked" in host_prior.columns:
            blocked = host_prior.filter(F.col("blocked")).select("host")
            on = docs[host_col] == blocked["host"]
            dropped.append(("blocked_host", docs.join(F.broadcast(blocked), on, "left_semi")))
            docs = docs.join(F.broadcast(blocked), on, "left_anti")
        if "host_rank" in host_prior.columns:
            # normalize on the driver: the prior is a bounded table
            # and the scalar keeps the multiplier a pure literal
            # expression instead of a second corpus-wide join
            mx = host_prior.agg(F.max("host_rank")).first()[0]
            rank_norm = (
                F.col("host_rank") / F.lit(float(mx))
                if mx else F.lit(1.0)
            )
            # alias the prior side's host column before joining: a bare
            # .drop("host") would also remove the corpus's own column
            # when host_col == "host" (ADVICE r12)
            pr = host_prior.select(
                F.col("host").alias("_prior_host"),
                rank_norm.alias("_rank_norm"))
            docs = docs.join(
                F.broadcast(pr), docs[host_col] == pr["_prior_host"],
                "left",
            ).drop("_prior_host")
            # unranked hosts (no in/out links) sit at the neutral 1.0x
            rank_mult = 0.8 + 0.4 * F.coalesce(
                F.col("_rank_norm"), F.lit(0.5))

    quality = F.round(textstats.quality_score_col(F.col(text_col)), 4)
    if rank_mult is not None:
        quality = F.round(quality * rank_mult, 4)
    scored = fan_out(docs).withColumn("quality_score", quality)
    if config.lang_router == "ngram":
        # staged two-projection form — the single-Column router
        # re-inlines every marker score into each argmax branch
        # (~9x slower per row; see langid.with_predicted_lang)
        from wc_vector_indexing_spark.operators.langid import (
            with_predicted_lang,
        )

        scored = with_predicted_lang(scored, text_col)
    elif config.lang_router == "stopwords":
        scored = scored.withColumn(
            "predicted_lang", textstats.predicted_lang_col(F.col(text_col))
        )
    else:
        raise ValueError(
            f"lang_router must be 'stopwords' or 'ngram', got "
            f"{config.lang_router!r}")
    base = scored.persist()
    held.append(base)

    kept = base

    def gate(reason: str, keep: F.Column) -> None:
        nonlocal kept
        dropped.append((reason, kept.filter(~keep)))
        kept = kept.filter(keep)

    # a NULL score (NULL or empty text) fails the gate
    gate("low_quality", F.coalesce(F.col("quality_score") >= config.min_quality, F.lit(False)))
    if config.languages is not None:
        gate("wrong_language", F.col("predicted_lang").isin(*config.languages))

    # heuristic gates: still pure per-row predicates, so they run before
    # anything that shuffles; each is its own disjoint audit branch
    if config.heuristics and "c4" in config.heuristics:
        from wc_vector_indexing_spark.operators.heuristics import c4_keep_col

        gate("c4_boilerplate", c4_keep_col(text_col))
    if config.heuristics and "gopher" in config.heuristics:
        from wc_vector_indexing_spark.operators.heuristics import gopher_pass_col

        gate("gopher_rules", gopher_pass_col(text_col))

    if config.blocklist:
        from wc_vector_indexing_spark.operators.heuristics import blocklist_hits

        gate("blocklisted", blocklist_hits(text_col, config.blocklist) <= 0)

    # per-language percentile gate: fit is ONE bounded per-group
    # quantile aggregate over the current survivors (languages number
    # in the handfuls); apply is a pure map-literal predicate — the
    # corpus itself never shuffles for this stage
    if config.lang_percentile is not None:
        from wc_vector_indexing_spark.operators.textstats import (
            fit_quality_thresholds,
            quality_gate_col,
        )

        try:
            thresholds = fit_quality_thresholds(
                kept,
                keep_frac=config.lang_percentile,
                group_col="predicted_lang",
                score_col="quality_score",
            )
        except ValueError:
            # nothing survived the earlier gates — no distribution to
            # fit a percentile on; the stage is a no-op, not an error
            thresholds = None
        if thresholds:
            gate("below_lang_percentile", quality_gate_col(
                thresholds, group_col="predicted_lang", score_col="quality_score"
            ))

    # compressibility gate: still per-row, but it crosses into Python
    # (Arrow-batched zlib) — so it runs AFTER the pure-codegen gates
    # have already shrunk the row stream
    if config.compress_band is not None:
        from wc_vector_indexing_spark.operators.compressibility import (
            deflate_size_col,
        )

        lo, hi = config.compress_band
        ratio = deflate_size_col(text_col) / F.greatest(
            F.octet_length(F.col(text_col)), F.lit(1)
        )
        gate("compress_outlier", ratio.between(lo, hi))

    # repetition gate (Gopher filters) — after the pure-projection gates
    # (it shuffles on doc-keyed aggregations), before anything corpus-wide
    if config.repetition_thresholds is not None:
        from wc_vector_indexing_spark.operators.repetition import (
            DEFAULT_THRESHOLDS,
            repetition_signals,
        )

        th = {**DEFAULT_THRESHOLDS, **config.repetition_thresholds}
        sig = repetition_signals(kept, text_col=text_col, id_col=id_col)
        over = None
        for col, bound in th.items():
            cond = F.col(col) > bound
            over = cond if over is None else (over | cond)
        rep_dropped = sig.filter(over).select(id_col)
        dropped.append(("repetitive", rep_dropped))
        kept = kept.join(rep_dropped, id_col, "left_anti")

    # exact dedup: ONE aggregate per distinct text keeps the min-id row
    # whole and lists every id. It combines map-side below its one
    # exchange, so a hot text's copies collapse before the shuffle (a
    # window over the hash would ship every copy, full row, to one
    # reducer). Its eager checkpoint serves the survivor chain and the
    # exact_duplicate branch, and cuts the lineage the near-dup stage's
    # many actions would each re-plan on the driver — the cluster
    # analogue is writing the filtered corpus between stages.
    groups = (
        kept.groupBy(sha_text(text_col).alias("_sha"))
        .agg(
            F.min_by(F.struct(*orig_cols), F.col(id_col)).alias("_row"),
            F.collect_list(id_col).alias("_ids"),
        )
        .localCheckpoint(eager=True)
    )
    held.append(groups)
    kept = groups.select("_row.*")
    dropped.append(("exact_duplicate", groups.select(
        F.explode(F.array_remove("_ids", F.col(f"_row.{id_col}"))).alias(id_col))))

    # near-dup removal on the survivors only: pair generation, pair
    # clustering and keep-min representative selection as ONE operator
    # (fused into a single grouped-map task when the survivor set fits
    # one — see dedup.minhash_near_dup_drops). Lazy-checkpoint the drop
    # list: its two consumers (audit branch, anti-join) run in separate
    # actions and would otherwise each re-run the chain.
    near_dropped = dedup.minhash_near_dup_drops(
        kept,
        num_hashes=config.minhash_hashes,
        bands=config.minhash_bands,
        k=config.shingle_k,
        threshold=config.near_dup_threshold,
        text_col=text_col,
        id_col=id_col,
        token_hash=config.minhash_token_hash,
    ).localCheckpoint(eager=False)
    held.append(near_dropped)
    dropped.append(("near_duplicate", near_dropped))
    kept = kept.join(near_dropped, id_col, "left_anti")

    audit = functools.reduce(DataFrame.unionByName, (
        ids.select(id_col).withColumn("reject_reason", F.lit(reason))
        for reason, ids in dropped
    ))
    return CurationResult(kept.select(*orig_cols), audit, cached=tuple(held))


def curation_report(docs: DataFrame, audit: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-reason counts + survivor count — the audit summary.

    Eager, and evaluates the audit chain exactly ONCE: the per-reason
    aggregate is collected (≤4 rows) and the survivor count is derived
    as |docs| - Σ rejected — valid because the audit branches are
    disjoint subsets of docs (see ``curate``). The previous
    formulation's second action (a left_anti count against the audit)
    re-ran the whole MinHash/LSH chain. The two remaining actions are
    independent, so they run overlapped on two threads that keep the
    caller's job group."""
    reason_rows, n_docs = run_concurrently(
        docs.sparkSession,
        lambda: audit.groupBy("reject_reason").agg(F.count("*").alias("n")).collect(),
        docs.count,
    )
    survivors = n_docs - sum(r.n for r in reason_rows)
    rows = sorted([(r.reject_reason, r.n) for r in reason_rows] + [("kept", survivors)])
    return docs.sparkSession.createDataFrame(rows, "reject_reason string, n long")
