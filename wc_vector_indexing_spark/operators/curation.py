"""Corpus curation pipeline — the end-to-end training-data-preparation
composition (north-star surface): quality gate → language filter →
exact dedup → near-dup removal → curated corpus + audit trail.

One lazy plan start to finish; each stage tags rejected rows with a
reason instead of dropping them silently, so the pipeline emits BOTH the
curated corpus and a per-reason audit (at 100 TB you need to know what
the filters ate — silent truncation is how corpora go bad).

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

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
    intermediates. Unpacks like the 2-tuple it replaced; call
    ``unpersist()`` once the outputs are materialized — a long-lived
    session that curates many corpora without releasing these
    accumulates executor storage until every later job pays for it."""

    def __init__(self, curated: DataFrame, audit: DataFrame, cached: tuple = ()):
        self.curated = curated
        self.audit = audit
        self._cached = cached

    def __iter__(self):
        return iter((self.curated, self.audit))

    def __getitem__(self, i):
        return (self.curated, self.audit)[i]

    def unpersist(self) -> None:
        for df in self._cached:
            df.unpersist()


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

      curated — the surviving rows of ``docs`` (all original columns)
      audit   — (doc_id, reject_reason) for every dropped row, reason ∈
                {mirror_host, blocked_host, low_quality, wrong_language,
                c4_boilerplate, gopher_rules, blocklisted,
                below_lang_percentile, compress_outlier, repetitive,
                exact_duplicate, near_duplicate}

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

    The audit branches are DISJOINT subsets of ``docs`` (each stage
    only examines the previous stage's survivors), so
    ``|curated| = |docs| - |audit|`` — curation_report relies on this.
    """
    config = config or CurationConfig()
    orig_cols = list(docs.columns)

    # quality and language are pure column expressions over each row —
    # appended in place, NOT computed as separate frames joined back
    # (two shuffles of the corpus for values derivable in the scan
    # projection). base feeds four audit branches + the survivor chain —
    # persist it once instead of re-scoring the corpus per branch.
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
        m_on = docs[host_col] == mirrors["host"]
        mirror_dropped = docs.join(
            F.broadcast(mirrors), m_on, "left_semi").select(id_col)
        docs = docs.join(F.broadcast(mirrors), m_on, "left_anti")
    else:
        mirror_dropped = docs.limit(0).select(id_col)

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
        if "blocked" in host_prior.columns:
            blocked = host_prior.filter(F.col("blocked")).select("host")
            on = docs[host_col] == blocked["host"]
            host_dropped = docs.join(
                F.broadcast(blocked), on, "left_semi").select(id_col)
            docs = docs.join(F.broadcast(blocked), on, "left_anti")
        else:
            host_dropped = docs.limit(0).select(id_col)
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
    else:
        host_dropped = docs.limit(0).select(id_col)

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

    low_q = base.filter(F.col("quality_score") < config.min_quality)
    kept = base.filter(F.col("quality_score") >= config.min_quality)

    if config.languages is not None:
        wrong_lang = kept.filter(~F.col("predicted_lang").isin(*config.languages))
        kept = kept.filter(F.col("predicted_lang").isin(*config.languages))
    else:
        wrong_lang = kept.limit(0)

    # heuristic gates: still pure per-row predicates, so they run before
    # anything that shuffles; each is its own disjoint audit branch
    if config.heuristics and "c4" in config.heuristics:
        from wc_vector_indexing_spark.operators.heuristics import c4_keep_col

        c4_dropped = kept.filter(~c4_keep_col(text_col)).select(id_col)
        kept = kept.filter(c4_keep_col(text_col))
    else:
        c4_dropped = kept.limit(0).select(id_col)
    if config.heuristics and "gopher" in config.heuristics:
        from wc_vector_indexing_spark.operators.heuristics import gopher_pass_col

        gopher_dropped = kept.filter(~gopher_pass_col(text_col)).select(id_col)
        kept = kept.filter(gopher_pass_col(text_col))
    else:
        gopher_dropped = kept.limit(0).select(id_col)

    if config.blocklist:
        from wc_vector_indexing_spark.operators.heuristics import blocklist_hits

        hits = blocklist_hits(text_col, config.blocklist)
        block_dropped = kept.filter(hits > 0).select(id_col)
        kept = kept.filter(hits <= 0)
    else:
        block_dropped = kept.limit(0).select(id_col)

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
            gate = quality_gate_col(
                thresholds, group_col="predicted_lang", score_col="quality_score"
            )
            pct_dropped = kept.filter(~gate).select(id_col)
            kept = kept.filter(gate)
        else:
            pct_dropped = kept.limit(0).select(id_col)
    else:
        pct_dropped = kept.limit(0).select(id_col)

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
        compress_dropped = kept.filter(~ratio.between(lo, hi)).select(id_col)
        kept = kept.filter(ratio.between(lo, hi))
    else:
        compress_dropped = kept.limit(0).select(id_col)

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
        kept = kept.join(rep_dropped, id_col, "left_anti")
    else:
        rep_dropped = kept.limit(0).select(id_col)

    kept = kept.persist()
    filtered = kept  # the persisted post-filter survivors (for cleanup)
    # exact dedup: keep the canonical (min-id) row per distinct text
    groups = dedup.exact_duplicates(kept, text_col=text_col, id_col=id_col)
    canon = groups.select(F.col("canonical_id").alias(id_col))
    exact_dropped = kept.join(canon, id_col, "left_anti").select(id_col)
    # Stage boundary: truncate lineage before the near-dup stage. The
    # minhash chain references this frame from several branches (band
    # UDF, jaccard verify, final anti-join) and the component iteration
    # runs many actions over it — each would otherwise re-plan the whole
    # scan→score→filter→dedup DAG on the driver (seconds of Catalyst
    # work per action, independent of data size). The cluster-scale
    # analogue is writing the filtered corpus between pipeline stages,
    # which every real curation pipeline does anyway.
    kept = kept.join(canon, id_col, "left_semi").localCheckpoint(eager=True)

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
    kept = kept.join(near_dropped, id_col, "left_anti")

    audit = (
        mirror_dropped.withColumn("reject_reason", F.lit("mirror_host"))
        .unionByName(host_dropped.withColumn("reject_reason", F.lit("blocked_host")))
        .unionByName(low_q.select(id_col).withColumn("reject_reason", F.lit("low_quality")))
        .unionByName(wrong_lang.select(id_col).withColumn("reject_reason", F.lit("wrong_language")))
        .unionByName(c4_dropped.withColumn("reject_reason", F.lit("c4_boilerplate")))
        .unionByName(gopher_dropped.withColumn("reject_reason", F.lit("gopher_rules")))
        .unionByName(block_dropped.withColumn("reject_reason", F.lit("blocklisted")))
        .unionByName(pct_dropped.withColumn("reject_reason", F.lit("below_lang_percentile")))
        .unionByName(compress_dropped.withColumn("reject_reason", F.lit("compress_outlier")))
        .unionByName(rep_dropped.withColumn("reject_reason", F.lit("repetitive")))
        .unionByName(exact_dropped.withColumn("reject_reason", F.lit("exact_duplicate")))
        .unionByName(near_dropped.withColumn("reject_reason", F.lit("near_duplicate")))
    )
    return CurationResult(kept.select(*orig_cols), audit, cached=(base, filtered))


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
