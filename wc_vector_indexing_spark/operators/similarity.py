"""Similarity search over an ``array<float>`` embedding column.

The reference delegates ANN entirely to its remote stores (Pinecone
query plane); the engine makes the vector index a local columnar table,
so kNN becomes a Spark plan:

  * knn_exact          — brute-force cosine top-k: one scan, no shuffle
                         beyond the final TakeOrderedAndProject. The
                         100 TB baseline (scan is embarrassingly
                         parallel; top-k is a per-partition heap + driver
                         merge of k rows per partition).
  * probe_topk         — the one batched exact kernel: a bounded probe
                         batch of queries (probe_batch), one gemm per
                         index partition, local top-k, per-query window
                         merge. knn_similarity_join, matryoshka_topk,
                         hard_negatives(_batched) and ivf.search_batch
                         are thin callers of it.
  * LSH bucketed ANN   — random-hyperplane (sign) LSH: probe only the
                         bucket(s) matching the query signature. At scale
                         the index table is *partitioned by bucket*, so a
                         probe prunes to ~1/2^bits of the data before any
                         scan (the IVF-style scale path).

Outside probe_topk's Arrow gemm stage, all vector math is JVM-side
(functions/vectors.py) — zip_with/aggregate inside codegen, no Python
in the scan loop. A score against a constant vector (the kNN query, an
LSH hyperplane, an IVF centroid) is built as ONE SQL expression
(vectors.cosine_to / dot_to) that Spark parses on the JVM, so a query's
driver-side set-up is a handful of py4j round trips, not one per
dimension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wc_vector_indexing_spark.functions.vectors import cosine_to, dot_to

DEFAULT_LSH_BITS = 8


def knn_exact(
    index: DataFrame,
    query_vector: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k rows by cosine similarity to a constant query vector.

    Deterministic tiebreak on id so results are stable across runs.
    Plan shape: Scan → Project(score) → TakeOrderedAndProject(k).
    The score is one SQL expression (``vectors.cosine_to``) that Spark
    parses on the JVM: building it per literal, cast and lambda from
    Python cost about 150 py4j round trips, most of a warm query's
    driver time. A zero query scores every row 0 without reading the
    vectors.
    """
    zero = not any(float(x) * float(x) for x in query_vector)
    score = F.lit(0.0) if zero else cosine_to(vec_col, query_vector)
    return (
        index.select(id_col, score.alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def probe_batch(
    queries: DataFrame, cols: list[str], max_probe_rows: int, error: str
) -> list:
    """Collect the probe batch: ``cols`` of at most ``max_probe_rows``
    query rows. More rows raise ``ValueError(error)`` instead of
    silently OOMing the driver: the query side is collected by design."""
    # limit(max+1): the driver fetch itself is bounded even when the
    # caller hands us an unboundedly large query frame
    rows = queries.select(*cols).limit(max_probe_rows + 1).collect()
    if len(rows) > max_probe_rows:
        raise ValueError(error)
    return rows


def _unit_rows(M):
    """Rows scaled to unit L2 norm; zero-norm rows stay zero, so they
    score 0 against everything instead of NaN."""
    import numpy as np

    n = np.linalg.norm(M, axis=1)
    n[n == 0.0] = 1.0
    return M / n[:, None]


def probe_topk(
    index: DataFrame,
    qrows: list,
    k: int,
    qid_type,
    i_id: str = "vec_id",
    i_vec: str = "embedding",
    dims: list[int] | None = None,
    mask_col: str | None = None,
    keep=None,
) -> DataFrame:
    """The one exact batched cosine top-k: for each query row ``(id,
    vector, ...)`` of ``qrows`` and each prefix dimension ``d``, the
    ``k`` nearest index rows as ``(dim, query_id, neighbor_id, score,
    rank)``.

    The probe batch ships into an Arrow stage where each index
    partition scores its rows against the whole query matrix with one
    gemm per ``d`` and emits only its LOCAL top-k per (dim, query). The
    global reduction is a per-(dim, query) window over partitions ×
    |dims| × |queries| × k candidate rows: the index scan stays fully
    parallel, shuffle volume is independent of index size and no cross
    join ever materializes (REPOSE-style local top-k / global merge).
    Local and global top-k use the same total order (score desc, id
    asc), so the merge is exact.

    ``dims`` are the prefix dimensions (Matryoshka truncation: cosine
    over the first d components); None means the whole vector.
    ``keep(qi, mask)`` takes query ``qi`` and the partition's
    ``mask_col`` values and returns which rows that query may match;
    the rest are excluded BEFORE the local top-k, so the merge stays
    exact (a post-hoc filter would lose candidates). ``query_id`` has
    type ``qid_type``; ``neighbor_id`` keeps the index id's type.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    from wc_vector_indexing_spark.functions.partitioning import fan_out

    cand_schema = T.StructType(
        [
            T.StructField("dim", T.IntegerType(), True),
            T.StructField("query_id", qid_type, True),
            T.StructField("neighbor_id", index.schema[i_id].dataType, True),
            T.StructField("score", T.DoubleType(), True),
        ]
    )
    if not qrows:  # rank is row_number's non-nullable int, as below
        return index.sparkSession.createDataFrame(
            [], cand_schema.add("rank", T.IntegerType(), False)
        )
    qids = [r[0] for r in qrows]
    Q = np.stack([np.asarray(r[1], dtype="float64") for r in qrows])
    dims = [Q.shape[1]] if dims is None else sorted(int(d) for d in dims)
    Qn = {d: _unit_rows(Q[:, :d]) for d in dims}

    def local_topk(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["_id"].to_numpy()
            V = np.stack(pdf["_v"].to_numpy()).astype("float64")
            # pre-sort rows by id so a stable sort on -score breaks ties
            # id-ascending — works for any orderable id type (long, str)
            base = np.argsort(ids, kind="stable")
            ids, V = ids[base], V[base]
            mask = pdf["_m"].to_numpy()[base] if keep is not None else None
            out = []
            kk = min(k, len(ids))
            for d in dims:
                S = _unit_rows(V[:, :d]) @ Qn[d].T  # (rows × queries)
                for qi, qid in enumerate(qids):
                    col = S[:, qi]
                    if keep is not None:
                        col = np.where(keep(qi, mask), col, -np.inf)
                    # total order (score desc, id asc) — same as the global
                    # merge, so tie-breaking at the local k boundary is exact
                    sel = np.argsort(-col, kind="stable")[:kk]
                    out.extend(
                        (d, qid, ids[r], float(col[r]))
                        for r in sel
                        if col[r] != -np.inf
                    )
            yield pd.DataFrame(
                out, columns=["dim", "query_id", "neighbor_id", "score"]
            )

    cols = [F.col(i_id).alias("_id"), F.col(i_vec).alias("_v")]
    if keep is not None:
        cols.append(F.col(mask_col).alias("_m"))
    cand = fan_out(index).select(*cols).mapInPandas(local_topk, schema=cand_schema)
    w = Window.partitionBy("dim", "query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


_PAIR_COLS = ["query_id", "neighbor_id", "score", "rank"]


def knn_similarity_join(
    queries: DataFrame,
    index: DataFrame,
    k: int = 5,
    q_vec: str = "embedding",
    q_id: str = "vec_id",
    i_vec: str = "embedding",
    i_id: str = "vec_id",
    max_probe_rows: int = 4096,
) -> DataFrame:
    """For each query row, its k nearest index rows (cosine). EXACT.

    The query side is the PROBE BATCH, bounded and ENFORCED: more than
    ``max_probe_rows`` query rows raises instead of silently OOMing the
    driver. Scoring is `probe_topk` over the whole vector.

    Id columns keep their input types (long, string, …) — the output
    schema is derived from the input schemas, not hardcoded.

    For probe sets beyond ``max_probe_rows`` use the distributed paths:
    ``lsh_cosine_pairs``/``dedup.embedding_cosine_pairs`` for all-pairs
    shapes, or the IVF index (operators/ivf.py) for repeated lookups.
    """
    qrows = probe_batch(
        queries, [q_id, q_vec], max_probe_rows,
        f"knn_similarity_join probe batch exceeds max_probe_rows="
        f"{max_probe_rows}: the query side is collected to the driver "
        "by design (gemm probe batch). For large probe sets use the "
        "distributed paths instead: similarity.lsh_signature bucketed "
        "join / dedup.lsh_cosine_pairs for all-pairs, or the IVF index "
        "(operators/ivf.py) for repeated lookups; or raise "
        "max_probe_rows explicitly if the driver can hold the batch.",
    )
    return probe_topk(
        index, qrows, k, queries.schema[q_id].dataType, i_id, i_vec
    ).select(*_PAIR_COLS)


def matryoshka_topk(
    queries: DataFrame,
    index: DataFrame,
    dims: list[int],
    k: int = 10,
    q_vec: str = "embedding",
    q_id: str = "vec_id",
    i_vec: str = "embedding",
    i_id: str = "vec_id",
    max_probe_rows: int = 4096,
) -> DataFrame:
    """Per-dimension-prefix exact top-k: for each query row and each
    ``d`` in ``dims``, the k nearest index rows by cosine over the
    FIRST d vector components (Matryoshka truncation eval, Kusupati et
    al. 2022). `probe_topk` with ``dims``: one gemm PER DIM per index
    partition against the prefix-sliced, prefix-normalized query
    matrix, merged by a per-(dim, query) window. No cross join ever
    materializes (replaces the expression-fold crossJoin form the r6
    verdict flagged as the costliest catalog query)."""
    qrows = probe_batch(
        queries, [q_id, q_vec], max_probe_rows,
        f"matryoshka_topk probe batch exceeds max_probe_rows={max_probe_rows}",
    )
    return probe_topk(
        index, qrows, k, queries.schema[q_id].dataType, i_id, i_vec, dims=dims
    )


def hard_negatives(
    queries: DataFrame,
    index: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    max_probe_rows: int = 4096,
) -> DataFrame:
    """Per query: the ``k`` most-similar index rows with a DIFFERENT
    label — hard-negative mining for contrastive/embedding training
    (the negatives that sit closest to the anchor are the informative
    ones; see e.g. SimCLR / DPR training setups, public). EXACT.

    `probe_topk` with a per-query LABEL MASK: index rows sharing the
    query's label are excluded inside the Arrow stage, before the local
    top-k. Shuffle volume is partitions × |queries| × k, independent of
    index size.
    """
    qrows = probe_batch(
        queries, [id_col, vec_col, label_col], max_probe_rows,
        f"hard_negatives probe batch exceeds max_probe_rows={max_probe_rows}; "
        "mine negatives in bounded probe batches (the anchor set of one "
        "training step), not corpus-at-once — or use "
        "hard_negatives_batched, which streams anchors in bounded "
        "batches itself.",
    )
    return _hard_negatives(queries, qrows, index, k, vec_col, id_col, label_col)


def hard_negatives_batched(
    queries: DataFrame,
    index: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    batch_rows: int = 4096,
) -> DataFrame:
    """Scale form of :func:`hard_negatives` for a DATA-DEPENDENT anchor
    set (found by the r8 full-catalog sf1 rehearsal: training_triplets'
    anchors grew past the 4096 probe guard at 10x data). Anchors stream
    to the driver via ``toLocalIterator`` — one partition in memory at
    a time, never the whole set — in ``batch_rows``-size probe batches;
    each batch runs the identical broadcast-gemm → local-top-k →
    window-merge shape, and results union. Every query lands in exactly
    one batch, so the union equals the unbatched answer exactly; driver
    memory stays bounded no matter how many anchors upstream produces."""
    import functools
    import itertools

    it = queries.select(id_col, vec_col, label_col).toLocalIterator()
    parts = []
    while batch := list(itertools.islice(it, batch_rows)):
        parts.append(
            _hard_negatives(queries, batch, index, k, vec_col, id_col, label_col)
        )
    if not parts:  # no anchors: the kernel's empty result keeps the schema
        parts = [_hard_negatives(queries, [], index, k, vec_col, id_col, label_col)]
    return functools.reduce(DataFrame.unionByName, parts)


def _hard_negatives(queries, qrows, index, k, vec_col, id_col, label_col):
    """One probe batch of collected (id, vec, label) rows → the exact
    label-masked top-k for those queries."""
    import numpy as np

    qlabels = np.array([r[2] for r in qrows])
    return probe_topk(
        index, qrows, k, queries.schema[id_col].dataType, id_col, vec_col,
        mask_col=label_col, keep=lambda qi, labels: labels != qlabels[qi],
    ).select(*_PAIR_COLS)


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (fixed seed → same
    signature function on every run/executor)."""
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.standard_normal((bits, dim)).astype("float64").tolist()


def lsh_signature(
    df: DataFrame, vec_col: str, dim: int, bits: int = DEFAULT_LSH_BITS, seed: int = 42
) -> DataFrame:
    """Append an integer sign-LSH ``bucket`` column: bit b = sign(v·h_b).

    Pure column expressions — the hyperplanes fold into the plan as array
    literals. Partitioning/bucketing the index table by this column makes
    a probe prune to one bucket before any vector math.
    """
    planes = _hyperplanes(dim, bits, seed)
    sig = F.lit(0).cast("long")
    for b, plane in enumerate(planes):
        bit = (dot_to(vec_col, plane) > 0).cast("long")
        sig = sig + F.shiftleft(bit, b)
    return df.withColumn("bucket", sig)


def knn_lsh(
    index: DataFrame,
    query_vector: list[float],
    dim: int,
    k: int = 10,
    bits: int = DEFAULT_LSH_BITS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_probe_bits: int = 0,
    seed: int = 42,
) -> DataFrame:
    """ANN: restrict the exact scan to the query's LSH bucket (plus
    optional multi-probe: buckets at Hamming distance 1 on the lowest
    ``n_probe_bits`` bits).

    Recall/latency tradeoff is (bits, n_probe_bits); the exact scorer is
    reused on the pruned set, so results are exact *within* the probed
    buckets. At scale the bucket column is a partition key → partition
    pruning replaces the filter with file skipping.
    """
    import numpy as np

    planes = np.array(_hyperplanes(dim, bits, seed))
    qv = np.array(query_vector, dtype="float64")
    sig = 0
    for b in range(bits):
        if float(planes[b] @ qv) > 0:
            sig |= 1 << b
    probes = {sig} | {sig ^ (1 << b) for b in range(min(n_probe_bits, bits))}

    bucketed = lsh_signature(index, vec_col, dim, bits, seed)
    pruned = bucketed.filter(F.col("bucket").isin([int(p) for p in probes]))
    return knn_exact(pruned, query_vector, k, vec_col, id_col)
