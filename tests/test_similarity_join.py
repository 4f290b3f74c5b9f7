"""knn_similarity_join: exactness vs brute force, the probe-batch
guard, and schema derivation for non-long id types."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from wc_vector_indexing_spark.operators.similarity import knn_similarity_join


def _emb(spark, n, dim=6, seed=3, id_fn=None):
    rng = np.random.Generator(np.random.PCG64(seed))
    rows = [
        Row(
            vec_id=id_fn(i) if id_fn else i,
            embedding=[float(x) for x in rng.standard_normal(dim)],
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows)


def test_knn_join_matches_bruteforce(spark):
    queries = _emb(spark, 7, seed=1)
    index = _emb(spark, 60, seed=2)
    got = knn_similarity_join(queries, index, k=4).collect()
    qv = {r.vec_id: np.array(r.embedding) for r in queries.collect()}
    iv = {r.vec_id: np.array(r.embedding) for r in index.collect()}
    for qid, q in qv.items():
        scores = sorted(
            (
                (-float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v))), i)
                for i, v in iv.items()
            )
        )[:4]
        want = [i for _, i in scores]
        have = [r.neighbor_id for r in sorted(got, key=lambda r: r.rank) if r.query_id == qid]
        assert have == want, qid


def test_probe_batch_guard_raises(spark):
    queries = _emb(spark, 12, seed=1)
    index = _emb(spark, 20, seed=2)
    with pytest.raises(ValueError, match="max_probe_rows"):
        knn_similarity_join(queries, index, k=2, max_probe_rows=10)
    # the error message routes to the distributed alternatives
    with pytest.raises(ValueError, match="lsh_cosine_pairs|ivf"):
        knn_similarity_join(queries, index, k=2, max_probe_rows=10)
    # raising the cap restores the path
    assert knn_similarity_join(queries, index, k=2, max_probe_rows=12).count() == 24


def test_hard_negatives_batched_equals_unbatched(spark):
    """hard_negatives_batched (r8: the scale form for data-dependent
    anchor sets, found by the sf1 rehearsal) must select exactly the
    same (query, neighbor, rank) triples as the single-batch form —
    scores may differ by BLAS 1-ulp noise across batch shapes, so
    compare ids exactly and scores to 1e-9."""
    from wc_vector_indexing_spark.operators.similarity import (
        hard_negatives,
        hard_negatives_batched,
    )

    emb = _emb(spark, 40, seed=5).withColumn(
        "label", (F.col("vec_id") % 3).cast("int")
    )
    a = hard_negatives(emb, emb, k=3).orderBy("query_id", "rank").collect()
    b = (
        hard_negatives_batched(emb, emb, k=3, batch_rows=7)
        .orderBy("query_id", "rank")
        .collect()
    )
    assert [(r.query_id, r.neighbor_id, r.rank) for r in a] == [
        (r.query_id, r.neighbor_id, r.rank) for r in b
    ]
    assert max(abs(x.score - y.score) for x, y in zip(a, b)) < 1e-9
    # over-cap anchor sets are exactly what the batched form is for
    with pytest.raises(ValueError, match="hard_negatives_batched"):
        hard_negatives(emb, emb, k=1, max_probe_rows=10)
    assert (
        hard_negatives_batched(emb, emb, k=1, batch_rows=10)
        .select("query_id").distinct().count()
        == 40
    )


def test_string_ids_schema_derived(spark):
    queries = _emb(spark, 3, seed=1, id_fn=lambda i: f"q{i:02d}")
    index = _emb(spark, 15, seed=2, id_fn=lambda i: f"doc{i:03d}")
    out = knn_similarity_join(queries, index, k=3, max_probe_rows=100)
    schema = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert schema["query_id"] == "string" and schema["neighbor_id"] == "string"
    rows = out.collect()
    assert len(rows) == 9
    assert all(r.neighbor_id.startswith("doc") for r in rows)
    # id-ascending tiebreak holds for string ids too: duplicate vectors
    dup = spark.createDataFrame(
        [Row(vec_id=name, embedding=[1.0, 0.0]) for name in ["b", "a", "c"]]
    )
    q = spark.createDataFrame([Row(vec_id="q", embedding=[1.0, 0.0])])
    top = knn_similarity_join(q, dup, k=2, max_probe_rows=10).collect()
    assert [r.neighbor_id for r in sorted(top, key=lambda r: r.rank)] == ["a", "b"]


def test_empty_query_frame_keeps_schema(spark):
    """Every probe-batch caller returns its non-empty schema (rank
    included) when the query side has no rows; search_batch, whose
    queries are a driver list, rejects an empty batch instead."""
    from wc_vector_indexing_spark.operators.ivf import IVFIndex, search_batch
    from wc_vector_indexing_spark.operators.similarity import (
        hard_negatives,
        hard_negatives_batched,
        matryoshka_topk,
    )

    index = _emb(spark, 10, seed=2).withColumn("label", F.lit(0))
    queries = index.filter("vec_id < 0")
    out = knn_similarity_join(queries, index, k=3)
    assert out.columns == ["query_id", "neighbor_id", "score", "rank"]
    calls = {
        "knn_similarity_join": lambda q: knn_similarity_join(q, index, k=3),
        "matryoshka_topk": lambda q: matryoshka_topk(q, index, dims=[3, 6], k=3),
        "hard_negatives": lambda q: hard_negatives(q, index, k=3),
        "hard_negatives_batched": lambda q: hard_negatives_batched(q, index, k=3),
    }
    for name, call in calls.items():
        full = call(index.filter("vec_id < 2")).schema
        empty = call(queries)
        assert empty.schema == full, name
        assert empty.count() == 0, name
    ivf = IVFIndex([[1.0] * 6, [-1.0] * 6])
    with pytest.raises(ValueError, match="empty query batch"):
        search_batch(ivf, ivf.assign(index), [], k=3)


def test_matryoshka_topk_matches_bruteforce(spark):
    """Per-dim prefix top-k equals brute force (score desc, id asc) for
    every dim — incl. a zero-norm prefix case (vector whose first 3
    components are zero scores 0 at dim=3, nonzero at dim=6)."""
    from wc_vector_indexing_spark.operators.similarity import matryoshka_topk

    queries = _emb(spark, 4, dim=6, seed=11)
    index = _emb(spark, 40, dim=6, seed=12)
    zero_prefix = spark.createDataFrame(
        [Row(vec_id=1000, embedding=[0.0, 0.0, 0.0, 0.5, -0.2, 0.9])]
    )
    index = index.unionByName(zero_prefix)
    dims = [3, 6]
    got = matryoshka_topk(queries, index, dims=dims, k=5).collect()
    qv = {r.vec_id: np.array(r.embedding) for r in queries.collect()}
    iv = {r.vec_id: np.array(r.embedding) for r in index.collect()}

    def cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        return 0.0 if na == 0.0 or nb == 0.0 else float(a @ b / (na * nb))

    for d in dims:
        for qid, q in qv.items():
            want = [
                i
                for _, i in sorted(
                    ((-cos(q[:d], v[:d]), i) for i, v in iv.items())
                )[:5]
            ]
            have = [
                r.neighbor_id
                for r in sorted(got, key=lambda r: r.rank)
                if r.query_id == qid and r.dim == d
            ]
            assert have == want, (d, qid)


def test_probe_topk_callers_match_bruteforce(spark):
    """Each probe_topk caller equals a plain-numpy brute force under
    (score desc, id asc) on an index spread over 3 partitions that
    holds exact-duplicate vectors (score ties), a zero-norm row, and a
    zero-norm query — with the hard-negative label mask and the IVF
    probe-list mask applied. matryoshka_topk at the full dimension is
    knn_similarity_join plus ``dim``.

    Partition 0 holds, out of id order, row 3's duplicates, three
    near-copies scaled by 5 (label 0, IVF list 1) and one noisier
    near-copy (label 1, list 0): for query 100 (row 3's vector, label
    0, probing list 0 only) the masked rows fill that partition's
    unmasked top-k, so a mask applied after the local top-k loses
    row 10."""
    from wc_vector_indexing_spark.operators.ivf import IVFIndex, search_batch
    from wc_vector_indexing_spark.operators.similarity import (
        hard_negatives_batched,
        matryoshka_topk,
    )

    D, K = 4, 5
    rng = np.random.Generator(np.random.PCG64(17))
    vecs = rng.standard_normal((30, D))
    vecs[[7, 15, 23]] = vecs[3]  # exact duplicates: score ties
    vecs[[6, 9, 12]] = 5 * vecs[3] + 0.01 * rng.standard_normal((3, D))
    vecs[10] = vecs[3] + 0.05 * rng.standard_normal(D)
    vecs[11] = 0.0  # zero-norm index row
    qvecs = np.vstack([vecs[3], rng.standard_normal((3, D)), np.zeros(D)])
    ivf = IVFIndex(
        [vecs[3].tolist(), (5 * vecs[3]).tolist(), rng.standard_normal(D).tolist()]
    )
    near = [15, 3, 10, 7, 12, 6, 9]
    order = near + [int(i) for i in rng.permutation(30) if i not in near]
    rows = [(i, vecs[i].tolist(), i % 3) for i in order]
    schema = "vec_id long, embedding array<double>, label int"
    index = ivf.assign(
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    )
    assert index.rdd.getNumPartitions() == 3
    queries = spark.createDataFrame(
        [(100 + j, q.tolist(), j % 3) for j, q in enumerate(qvecs)], schema
    )
    lists = {r.vec_id: r.list_id for r in index.collect()}
    assert [lists[i] for i in (3, 10, 6)] == [0, 0, 1]

    def cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        return 0.0 if na == 0.0 or nb == 0.0 else float(a @ b / (na * nb))

    def brute(d=D, keep=lambda j, i: True):
        return {
            (100 + j, rank + 1): i
            for j, q in enumerate(qvecs)
            for rank, (_, i) in enumerate(
                sorted(
                    (-cos(q[:d], vecs[i][:d]), i)
                    for i in range(30)
                    if keep(j, i)
                )[:K]
            )
        }

    def got(df, **match):
        out = {}
        for r in df.collect():
            if all(r[c] == v for c, v in match.items()):
                out[(r.query_id, r.rank)] = r.neighbor_id
        return out

    knn = knn_similarity_join(queries, index, k=K)
    assert got(knn) == brute()
    mat = matryoshka_topk(queries, index, dims=[2, D], k=K)
    assert got(mat, dim=2) == brute(d=2)
    assert got(mat, dim=D) == brute()
    assert sorted(matryoshka_topk(queries, index, dims=[D], k=K).collect()) == sorted(
        knn.withColumn("dim", F.lit(D))
        .select("dim", "query_id", "neighbor_id", "score", "rank")
        .collect()
    )
    other_label = lambda j, i: i % 3 != j % 3  # noqa: E731
    assert got(hard_negatives_batched(queries, index, k=K, batch_rows=2)) == brute(
        keep=other_label
    )
    probed = [set(ivf.probe_lists(q.tolist(), 1)) for q in qvecs]
    assert got(
        search_batch(ivf, index, [(100 + j, q.tolist()) for j, q in enumerate(qvecs)],
                     k=K, nprobe=1)
    ) == brute(keep=lambda j, i: lists[i] in probed[j])
