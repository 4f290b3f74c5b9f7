"""BM25 lexical retrieval — scored full-text search over a corpus.

The Okapi BM25 ranking function, the standard lexical-retrieval
baseline every training-data / RAG pipeline needs next to the vector
paths (`operators/similarity.py`, `operators/ivf.py`). Reference
parity note: the reference delegates retrieval entirely to its remote
vector store (class-pinecone-adapter.php query plane); a lexical
scorer is north-star surface the brief asks for, not a port.

Scale design (100 TB corpus):
  * One corpus tokenize → tf aggregate keyed by (doc, tok) — the single
    unavoidable corpus shuffle. Everything else DERIVES from that table:
    doc length dl = per-doc sum of tf, df = per-tok row count over the
    query-term slice, so the token stream is never re-shuffled.
  * Query terms filter the tf table BEFORE the df aggregate and the
    score join — at real scale the scored slice is ~|terms| posting
    lists, not the corpus. df computed on the filtered slice is exact
    (a doc contains the term iff it has a tf row for it).
  * N and avgdl flow in as 1-row broadcast cross joins — no driver
    collect, no second corpus pass (avgdl derives from dl which derives
    from tf).
  * Final top-k is (score desc, id asc) + limit → TakeOrderedAndProject,
    no global sort.
  * For repeated queries against a static corpus, persist `bm25_index`
    once (bucketed by tok — posting-list locality) and pass it in; the
    corpus tokenize then happens exactly once per corpus version.

Determinism: scores are rounded to 4dp and the ordering is total
((rounded score) desc, doc_id asc), so any engine — including the
DuckDB oracle — reproduces the exact top-k set and order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wc_vector_indexing_spark.operators.lm_score import _tokens


def bm25_index(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, tok, tf, dl): one row per distinct (doc, token) with the
    in-doc term frequency and the doc's total token length. This is the
    persistable artifact — write it bucketed by ``tok`` and every query
    becomes posting-list lookups with zero corpus work."""
    toks = docs.select(F.col(id_col), F.explode(_tokens(text_col)).alias("tok"))
    tf = toks.groupBy(id_col, "tok").agg(F.count("*").alias("tf"))
    # dl derives from tf (sum of per-term counts == token count) — no
    # second pass over the raw token stream
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    return tf.join(dl, id_col)


def _bm25_query_index(
    docs: DataFrame, terms: list[str], text_col: str, id_col: str
) -> DataFrame:
    """The QUERY-TERM slice of :func:`bm25_index`, built without ever
    aggregating the full (doc, token) stream: row-identical to
    ``bm25_index(docs).filter(tok IN terms)`` — tf over matching tokens
    only, dl as the per-id total token count (== sum of all tf, because
    every token occurrence lands in exactly one tf group). The full
    index shuffles one row per DISTINCT corpus token; a query touches a
    handful of terms, so slicing before the exchange shuffles orders of
    magnitude fewer (and narrower) rows. The persisted-``index`` fast
    path is unchanged — this is the ad-hoc path's twin."""
    ts = _tokens(text_col)
    tf = (
        docs.select(
            F.col(id_col),
            F.explode(
                F.filter(ts, lambda t: t.isin(terms))
            ).alias("tok"),
        )
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("tf"))
    )
    # groupBy (not a plain projection): callers may carry several rows
    # per id (the anchor zone does) and bm25_index folds them together
    dl = docs.select(F.col(id_col), F.size(ts).alias("_n")).groupBy(
        id_col
    ).agg(F.sum("_n").alias("dl"))
    return tf.join(dl, id_col)


def bm25_search(
    docs: DataFrame,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    index: DataFrame | None = None,
) -> DataFrame:
    """Top-k documents for ``query`` under Okapi BM25:

        idf(t)    = ln(1 + (N - df + 0.5) / (df + 0.5))
        score(d)  = Σ_{t ∈ q} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    ``index`` takes a precomputed `bm25_index` frame (the static-corpus
    fast path); otherwise it is built from ``docs``. N and avgdl are
    always corpus-wide (from the full index), df is computed on the
    query-term slice (exact — see module docstring)."""
    terms = sorted({t for t in _py_tokens(query)})
    if not terms:
        raise ValueError("query has no indexable terms")
    idx = (
        index
        if index is not None
        else _bm25_query_index(docs, terms, text_col, id_col)
    )
    if index is None:
        # N/avgdl straight off the doc scan: dl == the doc's token count,
        # so a codegen size(tokens) aggregate gives the same numbers as
        # re-deriving them from the index — without re-running the
        # (doc, tok) explode-aggregate a second time (the lazy idx
        # lineage would otherwise tokenize the corpus twice per query)
        ntok = F.size(_tokens(text_col))
        stats = docs.select(ntok.alias("_dl")).filter(F.col("_dl") > 0).agg(
            F.count("*").cast("double").alias("n_docs"),
            F.avg("_dl").alias("avgdl"),
        )
    else:
        stats = idx.groupBy(id_col).agg(F.first("dl").alias("_dl")).agg(
            F.count("*").cast("double").alias("n_docs"),
            F.avg("_dl").alias("avgdl"),
        )
    scored = _bm25_raw(idx, stats, terms, k1, b, id_col)
    return (
        scored.select(id_col, F.round("score_raw", 4).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col)).limit(k)
    )


def _bm25_raw(idx: DataFrame, stats: DataFrame, terms: list[str],
              k1: float, b: float, id_col: str) -> DataFrame:
    """(id, score_raw): the UNROUNDED per-doc BM25 sum over the query
    slice of an index frame — the shared core of bm25_search and the
    anchor-boosted zone combiner (which must weight raw sums before
    any rounding)."""
    hits = idx.filter(F.col("tok").isin(terms))
    df_tbl = hits.groupBy("tok").agg(F.count("*").alias("df"))
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    part = idf * (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf")
        + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return (
        hits.join(F.broadcast(df_tbl), "tok")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.sum(part).alias("score_raw"))
    )


def bm25_anchor_search(
    docs: DataFrame,
    anchors: DataFrame,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    w_body: float = 1.0,
    w_anchor: float = 2.0,
    text_col: str = "text",
    anchor_text_col: str = "anchor",
    id_col: str = "doc_id",
) -> DataFrame:
    """Anchor-boosted lexical retrieval — weighted zone scoring over
    two fields (the original web-search insight: incoming anchor text
    describes the TARGET better than its own body; zone scoring per
    Manning et al., IR ch. 6):

        score(d) = w_body·BM25_body(d) + w_anchor·BM25_anchor(d)

    Each zone gets its OWN length normalization and df statistics (the
    anchor zone's corpus is the targets that have anchors). ``anchors``
    carries one row per incoming anchor string (id_col,
    anchor_text_col) — e.g. link_edges' resolved targets, or
    anchor_text_index exploded; token counts are row-order-insensitive
    so no concatenation step is needed. Zones score independently and
    outer-join on id (a doc may hit in one zone only); top-k by
    (score desc, id asc)."""
    terms = sorted({t for t in _py_tokens(query)})
    if not terms:
        raise ValueError("query has no indexable terms")
    body_idx = _bm25_query_index(docs, terms, text_col, id_col)
    ntok = F.size(_tokens(text_col))
    body_stats = docs.select(ntok.alias("_dl")).filter(F.col("_dl") > 0).agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("_dl").alias("avgdl"),
    )
    a_rel = anchors.select(id_col, F.col(anchor_text_col).alias("text"))
    a_idx = _bm25_query_index(a_rel, terms, "text", id_col)
    # zone stats off the scan, not the index: per-id dl is the summed
    # token count across the id's anchor rows. The _dl > 0 filter is
    # what makes this identical to the groupBy-first over bm25_index —
    # an id whose anchors tokenize to NOTHING (numeric/punctuation-only
    # text) has no (doc, tok) rows in the index and so no dl row
    # either; without the filter it would inflate n_docs and deflate
    # avgdl (r13 ADVICE). Same rule as body_stats above.
    a_stats = (
        a_rel.select(F.col(id_col), F.size(_tokens("text")).alias("_n"))
        .groupBy(id_col)
        .agg(F.sum("_n").alias("_dl"))
        .filter(F.col("_dl") > 0)
        .agg(
            F.count("*").cast("double").alias("n_docs"),
            F.avg("_dl").alias("avgdl"),
        )
    )
    body = _bm25_raw(body_idx, body_stats, terms, k1, b, id_col).select(
        id_col, F.col("score_raw").alias("_s_body"))
    anchor = _bm25_raw(a_idx, a_stats, terms, k1, b, id_col).select(
        id_col, F.col("score_raw").alias("_s_anchor"))
    combined = (
        body.join(anchor, id_col, "full_outer")
        .select(
            id_col,
            F.round(
                w_body * F.coalesce("_s_body", F.lit(0.0))
                + w_anchor * F.coalesce("_s_anchor", F.lit(0.0)),
                4,
            ).alias("score"),
        )
    )
    return combined.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def _py_tokens(text: str) -> list[str]:
    """Driver-side twin of lm_score._tokens for query strings."""
    import re

    return [t for t in re.split(r"[^a-z]+", text.lower()) if t]


def rrf_fuse(
    ranked: list[DataFrame],
    id_col: str = "doc_id",
    k: int = 10,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N ranked lists:

        rrf(d) = Σ_lists 1 / (rrf_k + rank_list(d))

    the standard lexical+vector hybrid-retrieval combiner. Each input
    must be a TOP-N SLICE carrying (id_col, score) — rank is assigned
    here by (score desc, id asc) with an unpartitioned window, which is
    fine precisely because the inputs are already limit()-ed candidate
    lists (tens of rows), not corpora. The corpus-sized work happens
    inside the upstream retrievers (bm25_search / knn paths); fusion
    itself is O(Σ|lists|) and joins tiny frames.

    Output: (id_col, rrf round 6, rank_0..rank_{N-1} — null where a
    list missed the doc), top-``k`` by (rrf desc, id asc)."""
    from pyspark.sql import Window

    if not ranked:
        raise ValueError("need at least one ranked list")
    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    fused = None
    for i, lst in enumerate(ranked):
        r = lst.select(
            F.col(id_col),
            F.row_number().over(w).cast("long").alias(f"rank_{i}"),
        )
        fused = r if fused is None else fused.join(r, id_col, "full_outer")
    contrib = [
        F.coalesce(1.0 / (F.lit(rrf_k) + F.col(f"rank_{i}")), F.lit(0.0))
        for i in range(len(ranked))
    ]
    total = contrib[0]
    for c in contrib[1:]:
        total = total + c
    return (
        fused.withColumn("rrf", F.round(total, 6))
        .select(id_col, "rrf", *[f"rank_{i}" for i in range(len(ranked))])
        .orderBy(F.desc("rrf"), F.asc(id_col))
        .limit(k)
    )


def mmr_rerank(
    index: DataFrame,
    query_vec: list[float],
    k: int = 10,
    fetch: int = 50,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal-marginal-relevance rerank (Carbonell & Goldstein 1998):
    greedily build a top-``k`` that trades query relevance against
    redundancy with what's already selected,

        mmr(d) = λ·cos(q, d) − (1−λ)·max_{s ∈ selected} cos(d, s)

    The DISTRIBUTED stage is the candidate fetch — an exact cosine
    top-``fetch`` (scan → TakeOrderedAndProject, zero shuffle, same
    plan as knn_exact). The greedy loop is inherently sequential and
    runs driver-side over the fetched candidates — bounded by
    ``fetch`` (a knob, not data volume), the same contract as the kNN
    probe batch. Math in float64 for engine-portable scores (4dp).

    Output: (id_col, position 1..k, relevance, mmr) in selection order.
    """
    import numpy as np

    from wc_vector_indexing_spark.functions.vectors import cosine_to

    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    q = np.asarray(query_vec, dtype=np.float64)
    q /= np.linalg.norm(q)
    cands = (
        index.select(id_col, vec_col)
        .withColumn("relevance", cosine_to(vec_col, q.tolist()))
        .orderBy(F.desc("relevance"), F.asc(id_col))
        .limit(fetch)
        .collect()
    )
    ids = np.array([r[0] for r in cands], dtype=np.int64)
    m = np.array([r[1] for r in cands], dtype=np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    rel = m @ q
    sims = m @ m.T
    selected: list[int] = []
    scores: list[float] = []
    avail = np.ones(len(ids), dtype=bool)
    for _ in range(min(k, len(ids))):
        if selected:
            penalty = sims[:, selected].max(axis=1)
        else:
            penalty = np.zeros(len(ids))
        mmr = lam * rel - (1.0 - lam) * penalty
        mmr[~avail] = -np.inf
        # ties → lowest candidate position (stable argmax), matching
        # the deterministic (relevance desc, id asc) candidate order
        pick = int(mmr.argmax())
        selected.append(pick)
        scores.append(float(mmr[pick]))
        avail[pick] = False
    spark = index.sparkSession
    out = [
        (int(ids[p]), i + 1, round(float(rel[p]), 4), round(s, 4))
        for i, (p, s) in enumerate(zip(selected, scores))
    ]
    return spark.createDataFrame(
        out, schema=f"{id_col} long, position int, relevance double, mmr double"
    )


def retrieval_metrics(
    results: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> DataFrame:
    """(query_id, n_retrieved, n_relevant, recall_at_k, mrr, ndcg):
    per-query retrieval quality under the standard definitions
    (TREC-style; public literature):

        recall@k = |top-k ∩ relevant| / |relevant|
        MRR@k    = 1 / rank of the first relevant hit (0 if none)
        nDCG@k   = Σ_{hits} (2^rel − 1)/log2(rank+1), normalized by
                   the ideal DCG over that query's relevance grades

    ``results`` carries (query, doc, rank) with rank 1-based —
    whatever retriever produced it (BM25, ANN, hybrid RRF); ``qrels``
    carries (query, doc, graded rel ≥ 1). Shapes: one broadcast-or-
    shuffled join on (query, doc) + per-query aggregates; the ideal
    DCG is a window over qrels (rel desc) — both sides key on the
    query, so everything co-partitions after one exchange. Queries
    with no qrels are dropped (no denominator); queries with qrels but
    no results row still appear via the qrels side with zero metrics."""
    from pyspark.sql import Window

    r = results.select(
        F.col(query_col).alias("q"), F.col(id_col).alias("d"),
        F.col(rank_col).cast("long").alias("rank"),
    ).filter(F.col("rank") <= k)
    g = qrels.select(
        F.col(query_col).alias("q"), F.col(id_col).alias("d"),
        F.col(rel_col).cast("double").alias("rel"),
    ).filter(F.col("rel") > 0)
    hits = r.join(g, ["q", "d"])
    per_hit = hits.select(
        "q", "rank", "rel",
        ((F.pow(F.lit(2.0), F.col("rel")) - 1.0)
         / F.log2(F.col("rank") + 1.0)).alias("dcg_term"),
    )
    agg_hits = per_hit.groupBy("q").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.min("rank").alias("first_rank"),
        F.sum("dcg_term").alias("dcg"),
    )
    # ideal DCG: the query's grades sorted descending, capped at k
    w = Window.partitionBy("q").orderBy(F.desc("rel"), F.asc("d"))
    ideal = (
        g.withColumn("irank", F.row_number().over(w))
        .filter(F.col("irank") <= k)
        .groupBy("q")
        .agg(
            F.sum((F.pow(F.lit(2.0), F.col("rel")) - 1.0)
                  / F.log2(F.col("irank") + 1.0)).alias("idcg"))
    )
    n_rel = g.groupBy("q").agg(F.count(F.lit(1)).alias("n_relevant"))
    n_ret = r.groupBy("q").agg(F.count(F.lit(1)).alias("n_retrieved"))
    return (
        n_rel.join(ideal, "q")
        .join(n_ret, "q", "left")
        .join(agg_hits, "q", "left")
        .select(
            F.col("q").alias(query_col),
            F.coalesce("n_retrieved", F.lit(0)).alias("n_retrieved"),
            "n_relevant",
            F.round(
                F.coalesce("n_hits", F.lit(0)) / F.col("n_relevant"), 4
            ).alias("recall_at_k"),
            F.round(
                F.coalesce(1.0 / F.col("first_rank"), F.lit(0.0)), 4
            ).alias("mrr"),
            F.round(
                F.coalesce(F.col("dcg") / F.col("idcg"), F.lit(0.0)), 4
            ).alias("ndcg"),
        )
    )
