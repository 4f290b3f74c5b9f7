"""Eval-set decontamination — find training documents that share long
word n-grams with an evaluation set, the standard pre-training hygiene
step (e.g. GPT-3's 13-gram overlap filter, Brown et al. 2020 §C —
public): a training corpus contaminated with eval text inflates
benchmark numbers, so contaminated docs are flagged/dropped before
training.

Scale shape: the eval side is SMALL by construction (benchmarks are
thousands of docs, the corpus is billions), so its distinct n-gram set
broadcasts — the 100 TB training side is scanned once, its grams
stream through a broadcast hash join, and ONLY matching (train, eval)
gram hits shuffle into the per-pair count. No corpus-side shuffle, no
skew key (gram joins hit the broadcast map, not a partitioner).

At real scale hash the gram strings to 8 bytes before the join
(xxhash64) to shrink the broadcast; the string form here keeps the
operator oracle-exact (the DuckDB mirror joins the same strings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wc_vector_indexing_spark.operators.repetition import _word_ngrams
from wc_vector_indexing_spark.operators.textstats import tokens_col


def _gram_rows(docs: DataFrame, n: int, text_col: str, id_col: str) -> DataFrame:
    from wc_vector_indexing_spark.functions.partitioning import fan_out

    # the n-gram explode emits ~n× the text volume; a single-partition
    # input would serialize it onto one core
    docs = fan_out(docs)
    return docs.select(
        F.col(id_col),
        F.explode_outer(F.array_distinct(_word_ngrams(tokens_col(text_col), n))).alias(
            "gram"
        ),
    ).where(F.col("gram").isNotNull())


def contamination_pairs(
    train: DataFrame,
    evals: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_hits: int = 1,
) -> DataFrame:
    """(train_id, eval_id, n_hits): per (train doc, eval doc) pair, the
    number of DISTINCT eval n-grams appearing in the train doc; pairs
    below ``min_hits`` drop. n=13 is the published default; shorter n
    trades precision for recall."""
    ev = _gram_rows(evals, n, text_col, id_col).select(
        F.col(id_col).alias("eval_id"), "gram"
    )
    tr = _gram_rows(train, n, text_col, id_col).select(
        F.col(id_col).alias("train_id"), "gram"
    )
    return (
        tr.join(F.broadcast(ev), "gram")
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").alias("n_hits"))
        .filter(F.col("n_hits") >= min_hits)
    )


def bloom_contaminated(
    train: DataFrame,
    evals: DataFrame,
    n: int = 13,
    m_bits: int = 1 << 20,
    n_hashes: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(train_id, n_hits): train docs with ≥1 n-gram whose Bloom-filter
    probe over the eval gram set is positive. The constant-size
    alternative to the exact broadcast set: the filter is
    ``m_bits/8`` bytes (128 KB at the default) REGARDLESS of eval-set
    size, so the broadcast never grows — the trade is a bounded
    false-positive rate (~(q/m · k)ᵏ with q set bits), which for
    decontamination errs on the safe side (FPs drop extra docs, FNs are
    impossible: every true eval gram sets its bits).

    Hash family: position_i = md5(i || '|' || gram) mod m_bits — pure
    codegen on both sides, and engine-portable (the DuckDB oracle
    reproduces md5 bit-for-bit; production would swap in xxhash64 for
    speed, same semantics). The membership test itself is a semi-join
    of train positions against the eval position set, i.e. the Bloom
    probe expressed relationally — which keeps it ANSI-expressible for
    the oracle. At 100 TB, materialize the eval side once as the m-bit
    bitmap and swap the semi-join for a broadcast-bitmap Arrow UDF;
    semantics (and this operator's output) are identical because the
    join IS the bitmap probe."""

    def bit_col(seed: int):
        h = F.md5(F.concat(F.lit(f"{seed}|"), F.col("gram")))
        return F.pmod(F.conv(F.substring(h, 1, 15), 16, 10).cast("long"), F.lit(m_bits))

    def positions(df: DataFrame, out_id: str) -> DataFrame:
        grams = _gram_rows(df, n, text_col, id_col).select(
            F.col(id_col).alias(out_id), "gram"
        )
        return grams.select(
            out_id, "gram", F.array(*[bit_col(s) for s in range(n_hashes)]).alias("pos")
        )

    ev_bits = (
        positions(evals, "eval_id")
        .select(F.explode("pos").alias("bit"))
        .distinct()
    )
    # grams are array_distinct per doc, so (train_id, gram) is a unique
    # key — the per-gram bit count groups on it directly
    tr_bits = positions(train, "train_id").select(
        "train_id", "gram", F.explode("pos").alias("bit")
    )
    hits = (
        tr_bits.join(F.broadcast(ev_bits), "bit")
        .groupBy("train_id", "gram")
        .agg(F.count("*").alias("k_set"))
        .filter(F.col("k_set") >= n_hashes)
    )
    return hits.groupBy("train_id").agg(F.count("*").alias("n_hits"))


def bloom_decontaminate(
    train: DataFrame,
    evals: DataFrame,
    n: int = 13,
    m_bits: int = 1 << 20,
    n_hashes: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``train`` minus every bloom-positive doc. Superset of the exact
    `decontaminate` drop set (Bloom filters have no false negatives)."""
    bad = bloom_contaminated(
        train, evals, n, m_bits, n_hashes, text_col, id_col
    ).select(F.col("train_id").alias(id_col))
    return train.join(bad, id_col, "left_anti")


def decontaminate(
    train: DataFrame,
    evals: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_hits: int = 1,
) -> DataFrame:
    """``train`` minus every doc contaminated by any eval doc."""
    bad = contamination_pairs(train, evals, n, text_col, id_col, min_hits).select(
        F.col("train_id").alias(id_col)
    )
    return train.join(bad, id_col, "left_anti")


def semantic_contamination(
    train: DataFrame,
    evals: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_eval_rows: int = 65536,
) -> DataFrame:
    """(train_id, eval_id, max_cos): embedding-space contamination —
    the semantic complement of the n-gram filter above (paraphrased
    eval leakage that shares no 13-gram still lands nearby in embedding
    space). For each train vector whose best eval cosine ≥ ``threshold``,
    emit that best match (ties broken by lowest eval id).

    Scale shape mirrors the n-gram path exactly: the eval side is small
    by construction and rides along as a broadcast (here: a collected
    float64 matrix inside an Arrow-batched gemm — the same build-side
    contract as a broadcast hash join), the 100 TB train side streams
    through ONE map pass with no shuffle at all: per Arrow batch, one
    (batch × eval) matrix multiply, a row-wise argmax, a threshold
    filter. Math runs in float64 so the DuckDB oracle (DOUBLE cosine)
    reproduces values bit-for-bit at 4dp.
    """
    import numpy as np
    import pandas as pd

    from wc_vector_indexing_spark.functions.partitioning import fan_out

    # eval-side collect == broadcast-join build side; bounded and
    # ENFORCED (same contract as knn_similarity_join's probe batch):
    # an oversized eval set raises instead of silently OOMing the driver
    rows = evals.select(id_col, vec_col).limit(max_eval_rows + 1).collect()
    if len(rows) > max_eval_rows:
        raise ValueError(
            f"semantic_contamination eval set exceeds max_eval_rows="
            f"{max_eval_rows}: the eval side broadcasts as a dense matrix "
            "by design (benchmarks are small by construction). For "
            "corpus-vs-corpus shapes use dedup.embedding_cosine_pairs / "
            "lsh_cosine_pairs instead, or raise max_eval_rows explicitly."
        )
    rows = sorted(rows, key=lambda r: r[0])
    if not rows:
        raise ValueError("empty eval set")
    eval_ids = np.array([r[0] for r in rows], dtype=np.int64)
    m = np.array([r[1] for r in rows], dtype=np.float64)
    en = np.linalg.norm(m, axis=1, keepdims=True)
    en[en == 0.0] = 1.0  # zero-norm guard: a 0-vector scores cos=0, never NaN
    mt = (m / en).T  # (dim, n_eval)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            vn = np.linalg.norm(v, axis=1, keepdims=True)
            vn[vn == 0.0] = 1.0  # same guard as similarity.probe_topk: fail-closed, not NaN
            v /= vn
            sims = v @ mt  # (batch, n_eval)
            best = sims.argmax(axis=1)  # first max == lowest eval id (rows sorted)
            mc = sims[np.arange(len(pdf)), best]
            keep = mc >= threshold
            if keep.any():
                yield pd.DataFrame(
                    {
                        "train_id": pdf[id_col].to_numpy()[keep],
                        "eval_id": eval_ids[best[keep]],
                        "max_cos": np.round(mc[keep], 4),
                    }
                )

    return fan_out(train.select(id_col, vec_col)).mapInPandas(
        score, schema="train_id long, eval_id long, max_cos double"
    )
