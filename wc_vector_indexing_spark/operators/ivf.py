"""IVF (inverted-file) approximate nearest neighbor — the cluster-scale
similarity-search path.

Structure, mirroring the classic IVF design (coarse quantizer + inverted
lists), built entirely from Spark parts:

  train     KMeans (pyspark.ml, fixed seed) over a sample → nlist
            centroids (the coarse quantizer)
  index     assign every vector to its nearest centroid (one broadcast
            of the centroid matrix + a JVM-side argmin) → at scale the
            table is PARTITIONED BY list_id, so a probe reads only the
            probed partitions (file skipping, no full scan)
  search    score the query against centroids driver-side, take the
            nprobe nearest lists, exact-rank only those lists

Recall/latency knob: (nlist, nprobe). nprobe = nlist degenerates to the
exact scan. Compared to sign-LSH (similarity.knn_lsh), IVF adapts to the
data distribution — clustered corpora get balanced lists where LSH
buckets skew.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wc_vector_indexing_spark.functions.vectors import dot_to
from wc_vector_indexing_spark.operators.similarity import knn_exact, probe_topk


class IVFIndex:
    def __init__(self, centroids: list[list[float]], seed: int = 42):
        self.centroids = centroids
        self.nlist = len(centroids)
        self.seed = seed

    # -- persistence -------------------------------------------------------
    #
    # The coarse quantizer is a train-once artifact: at 100 TB you fit
    # KMeans on a sample during index build and every subsequent search
    # loads the (tiny — nlist × dim floats) centroid matrix. Query-time
    # training would bill minutes of ML fit to every lookup.

    def save(self, path: str) -> None:
        """Persist the centroid matrix (atomic rename so a concurrent
        reader never sees a torn file)."""
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump({"seed": self.seed, "centroids": self.centroids}, f)
        os.replace(tmp, path)

    @classmethod
    def load(cls, path: str) -> "IVFIndex":
        with open(path) as f:
            d = json.load(f)
        return cls(d["centroids"], seed=d.get("seed", 42))

    @classmethod
    def train_or_load(
        cls,
        vectors: DataFrame,
        path: str,
        nlist: int = 16,
        vec_col: str = "embedding",
        seed: int = 42,
        sample_fraction: float | None = None,
    ) -> "IVFIndex":
        """Load the persisted quantizer if ``path`` exists, else train and
        persist it — the search path never pays the KMeans fit twice."""
        if os.path.exists(path):
            return cls.load(path)
        idx = cls.train(
            vectors, nlist=nlist, vec_col=vec_col, seed=seed,
            sample_fraction=sample_fraction,
        )
        idx.save(path)
        return idx

    @staticmethod
    def train(
        vectors: DataFrame,
        nlist: int = 16,
        vec_col: str = "embedding",
        seed: int = 42,
        sample_fraction: float | None = None,
    ) -> "IVFIndex":
        """Fit the coarse quantizer. Deterministic: fixed seed, fixed
        init. At 100 TB train on a sample (sample_fraction) — KMeans
        quality needs ~1000×nlist points, not the corpus."""
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        df = vectors
        if sample_fraction:
            df = df.sample(fraction=sample_fraction, seed=seed)
        feat = df.select(array_to_vector(F.col(vec_col)).alias("features"))
        km = KMeans(k=nlist, seed=seed, maxIter=20, initMode="k-means||")
        model = km.fit(feat)
        return IVFIndex([c.tolist() for c in model.clusterCenters()], seed=seed)

    # -- assignment --------------------------------------------------------

    def assign(self, vectors: DataFrame, vec_col: str = "embedding") -> DataFrame:
        """Append ``list_id`` = argmin centroid distance. Pure column
        expressions: the centroid matrix folds into the plan; per row it
        is nlist dot-products inside codegen — no python."""
        # ||v - c||² = ||v||² - 2 v·c + ||c||²; rank by (||c||² - 2 v·c).
        # One (score, i) struct per centroid gathered into a single array
        # and reduced with array_min: each dot-product fold appears ONCE
        # in the expression tree (linear in nlist). The previous nested
        # when/least chain re-inlined every prior score into each step —
        # an O(nlist²) tree that cost more in analysis + interpreted
        # evaluation than the data itself. array_min on struct compares
        # lexicographically: min score first, then min i on ties — the
        # same strict-less/keep-earlier semantics as the fold it replaces.
        return vectors.withColumn("list_id", F.array_min(self._scored(vec_col))["i"])

    def _scored(self, vec_col: str):
        """The (score, i) struct array over all centroids; min = nearest.
        score = ||c||² − 2 v·c, i.e. squared distance minus the row's
        own ||v||² (constant within a row, so the argmin is unchanged)."""
        return F.array(
            *[
                F.struct(
                    (F.lit(float(np.dot(c, c))) - 2.0 * dot_to(vec_col, c)).alias("s"),
                    F.lit(i).alias("i"),
                )
                for i, c in enumerate(self.centroids)
            ]
        )

    # -- search ------------------------------------------------------------

    def probe_lists(self, query_vector: list[float], nprobe: int) -> list[int]:
        q = np.array(query_vector, dtype="float64")
        cents = np.array(self.centroids, dtype="float64")
        d2 = (cents * cents).sum(axis=1) - 2.0 * (cents @ q)
        return [int(i) for i in np.argsort(d2)[:nprobe]]

    def search(
        self,
        indexed: DataFrame,
        query_vector: list[float],
        k: int = 10,
        nprobe: int = 4,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> DataFrame:
        """Exact cosine top-k within the nprobe nearest lists.
        ``indexed`` must carry list_id (from assign); when the table is
        written partitioned by list_id the isin filter becomes partition
        pruning."""
        pruned = indexed.filter(F.col("list_id").isin(self.probe_lists(query_vector, nprobe)))
        return knn_exact(pruned, query_vector, k, vec_col, id_col)


def search_batch(
    ivf: "IVFIndex",
    indexed: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Batched IVF search: top-k for MANY query vectors in ONE job.

    Per-query probing (`IVFIndex.search`) launches a pruned scan per
    query — right for online lookups, wasteful for offline batches
    (eval sweeps, bulk retrieval). Here the probe assignments are
    computed driver-side (centroid table is tiny), the index is pruned
    ONCE to the union of probed lists (still partition pruning on
    list_id), and `similarity.probe_topk` scores the whole query batch,
    masking each query to the rows whose list is in its probe set.
    Shuffle is partitions × |queries| × k.
    """
    from pyspark.sql import types as T

    if not queries:
        raise ValueError("empty query batch")
    probe = [ivf.probe_lists(v, nprobe) for _, v in queries]
    union_lists = sorted(set().union(*probe))
    return probe_topk(
        indexed.filter(F.col("list_id").isin(union_lists)),
        [(int(qid), v) for qid, v in queries], k, T.LongType(), id_col, vec_col,
        mask_col="list_id", keep=lambda qi, lists: np.isin(lists, probe[qi]),
    ).select("query_id", "neighbor_id", "score", "rank")


def list_stats(
    vectors: DataFrame, index: IVFIndex, vec_col: str = "embedding"
) -> DataFrame:
    """Per-list health aggregate for a vector set under the PERSISTED
    quantizer: (list_id, n, share, mean_sq_dist). One scan + one tiny
    (≤ nlist rows) hash agg — cost independent of index size. Persist
    the build-time result next to the centroid artifact; it is the
    baseline `quantizer_drift` compares against."""
    from pyspark.sql import Window

    best = F.array_min(index._scored(vec_col))
    # full squared distance = score + ||v||² (the row constant the
    # argmin dropped)
    d2 = best["s"] + F.aggregate(
        F.transform(F.col(vec_col), lambda x: x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    )
    assigned = vectors.select(best["i"].alias("list_id"), d2.alias("d2"))
    stats = assigned.groupBy("list_id").agg(
        F.count("*").alias("n"),
        F.round(F.avg("d2"), 6).alias("mean_sq_dist"),
    )
    w = Window.partitionBy()  # ≤ nlist rows: a driver-trivial window
    return stats.select(
        "list_id",
        "n",
        F.round(F.col("n") / F.sum("n").over(w), 6).alias("share"),
        "mean_sq_dist",
    )


def quantizer_drift(
    batch: DataFrame,
    index: IVFIndex,
    baseline: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Index-staleness monitor: the retrain-or-not signal an
    incrementally-grown vector index needs. The embedding distribution
    moves as the corpus grows; a quantizer fitted last month funnels
    new mass into few lists and nprobe recall decays silently — this
    measures exactly that, without ever touching the stored index.

    Assigns the incoming batch to the persisted quantizer, aggregates
    per-list stats (`list_stats`), and joins the build-time baseline:

        share_ratio = batch share / baseline share  (hot-list signal)
        dist_ratio  = batch mean_sq_dist / baseline (fit-quality signal)

    A list no batch vector hits keeps n=0 (baseline outer-joined), a
    list the baseline never saw reports null baseline columns — both
    are themselves drift evidence. Retrain policy stays with the
    caller (e.g. retrain when max(share_ratio) > 3 or overall
    dist_ratio > 1.5). Plan: one batch scan + two ≤ nlist-row frames
    full-outer-joined (full outer can't broadcast, so this is a
    sort-merge of two ~nlist-row frames — trivially cheap); nothing
    corpus-sized shuffles."""
    cur = list_stats(batch, index, vec_col=vec_col)
    base = baseline.select(
        "list_id",
        F.col("n").alias("n_baseline"),
        F.col("share").alias("share_baseline"),
        F.col("mean_sq_dist").alias("dist_baseline"),
    )
    return (
        base.join(cur, "list_id", "full_outer")
        .select(
            "list_id",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("share", F.lit(0.0)).alias("share"),
            "mean_sq_dist",
            "share_baseline",
            F.round(
                F.coalesce("share", F.lit(0.0)) / F.col("share_baseline"), 4
            ).alias("share_ratio"),
            F.round(F.col("mean_sq_dist") / F.col("dist_baseline"), 4).alias(
                "dist_ratio"
            ),
        )
        .orderBy("list_id")
    )
