"""Deduplication operators over a document corpus — the training-data-
pipeline extension surface (engine north star; the reference has only
identity-level dedup of work items, SURVEY T4/J7).

Five strategies, cheapest first:

  * exact_duplicates        — sha256 hash-groupBy. One shuffle on the
                              hash; at 100 TB this is the canonical
                              map-side-combine aggregation.
  * ngram_jaccard_pairs     — word n-gram shingles → inverted-index
                              self-join → exact Jaccard. The shingle join
                              only pairs docs sharing a shingle, so the
                              cross product never materializes.
  * minhash_lsh_pairs       — MinHash signatures + banded LSH: candidate
                              pairs from band-bucket join, verified with
                              exact Jaccard. The scale path: candidate
                              generation is linear in corpus size.
  * simhash64               — 64-bit SimHash fingerprint per doc; near-dups
                              are fingerprints at small Hamming distance.
  * embedding_cosine_pairs  — semantic near-dup via cosine over an
                              embedding column, blocked on a key to bound
                              the pair count.

Python appears only as Arrow-batched stages where it beats the
expression engine: the MinHash signature and shingle hashing (per-doc
set construction), the per-block cosine gemm (`_gemm_block_pairs` —
numpy matmul vs interpreted higher-order folds), and SimHash's bit-vote
reduction (doc-local numpy over JVM-computed token hashes). Everything
else — including every shuffle-side aggregation — is built-in Catalyst.
"""

from __future__ import annotations

import zlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from wc_vector_indexing_spark.functions.hashing import sha_text
from wc_vector_indexing_spark.functions.partitioning import fan_out


def _tokens(text_col: str) -> F.Column:
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")



def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text with its
    duplicate count and canonical (minimum) id."""
    return (
        docs.select(sha_text(text_col).alias("text_sha"), F.col(id_col))
        .groupBy("text_sha")
        .agg(F.count("*").alias("dup_count"), F.min(id_col).alias("canonical_id"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    k: int = 4,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard, via an inverted shingle
    index grouped by shingle (docs sharing zero shingles never pair up;
    the corpus-wide shingle UDF is evaluated exactly once).

    |J(A,B)| = shared / (|A| + |B| - shared) over *distinct* shingles.
    Output: doc_a, doc_b (doc_a < doc_b), jaccard — rounded to 4.
    ``max_df``: drop shingles appearing in more than this many docs
    (boilerplate; see _jaccard_from_shingles).
    """
    sh = shingle_table(docs, k, text_col, id_col)
    return _jaccard_from_shingles(sh, threshold, max_df=max_df)


def ngram_containment_pairs(
    docs: DataFrame,
    k: int = 4,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs by n-gram CONTAINMENT: shared / |smaller doc's
    shingle set| — the asymmetric complement to Jaccard. A short doc
    quoted inside a long one scores ~1.0 here but near 0 on Jaccard
    (the union is dominated by the long doc), which is exactly the
    snippet-reuse case corpus dedup needs to catch.

    Same inverted-index plan as :func:`ngram_jaccard_pairs` (one
    shuffle, posting-list pair generation, ``max_df`` hot-shingle cap);
    only the final ratio differs. Output: doc_a, doc_b (doc_a < doc_b),
    containment — rounded to 4.
    """
    sh = shingle_table(docs, k, text_col, id_col)
    grouped = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list(F.struct("doc", "n"))).alias("ds")
    )
    grouped = grouped.filter(F.size("ds") > 1)
    if max_df is not None:
        grouped = grouped.filter(F.size("ds") <= max_df)
    pairs = (
        grouped.select(_pairs_in_group("ds").alias("p"))
        .select("p.*")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"), F.min("na").alias("na"), F.min("nb").alias("nb"))
    )
    cont = F.col("shared") / F.least("na", "nb")
    return (
        pairs.withColumn("containment", F.round(cont, 4))
        .filter(cont >= threshold)
        .select("doc_a", "doc_b", "containment")
    )


def _h64(s: str) -> int:
    """64-bit signed blake2b of a shingle string — the ONE verify-hash
    definition shared by the shingle UDF and the single-task minhash
    twin, so the two paths can never drift."""
    import hashlib

    return (
        int.from_bytes(
            hashlib.blake2b(s.encode("utf-8"), digest_size=8).digest(), "big"
        )
        - (1 << 63)
    )


def _doc_shingles(text: str, k: int) -> set[str]:
    """A document's shingle universe WITH the short-doc unigram
    fallback — the exact universe the minhash band UDF signs (and the
    verify path scores when ``short_doc_unigrams=True``)."""
    toks = (text or "").lower().split()
    if len(toks) < k:
        return set(toks) or {""}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def _shingle_hash_udf(k: int, short_doc_unigrams: bool = False):
    """Distinct word k-gram shingles → 64-bit blake2b hashes, computed
    in one Arrow-batched pass. Python string slicing beats the
    equivalent Catalyst higher-order chain (transform+slice+array_join
    is interpreted per element, ~40µs/shingle; this is ~1µs) — and the
    hash function doesn't matter for Jaccard as long as it's
    collision-free at corpus scale (64 bits: P≈n²/2⁶⁴).

    ``short_doc_unigrams``: docs with fewer than k tokens fall back to
    their distinct-unigram universe instead of the empty set — the SAME
    fallback the minhash band UDF uses, so LSH candidates involving
    short docs are verifiable rather than silently dropped. Off by
    default: the exact ngram path (and its oracle) defines short docs
    as out of scope."""

    @pandas_udf(T.ArrayType(T.LongType()))
    def sh(texts: pd.Series) -> pd.Series:
        def one(t: str) -> list[int]:
            toks = (t or "").lower().split()
            if len(toks) < k:
                if not short_doc_unigrams:
                    return []
                return [_h64(s) for s in (set(toks) or {""})]
            return list({_h64(" ".join(toks[i : i + k])) for i in range(len(toks) - k + 1)})

        return texts.map(one)

    return sh


def shingle_table(
    docs: DataFrame, k: int, text_col: str = "text", id_col: str = "doc_id",
    short_doc_unigrams: bool = False,
) -> DataFrame:
    """(doc, n, shingle) inverted index over distinct word k-grams,
    shingles as 8-byte hashes (small shuffle keys, branchless compares)."""
    docs = fan_out(docs)  # shingle UDF cost >> scan cost; don't run it on 1 core
    hashed = docs.select(
        F.col(id_col).alias("doc"),
        _shingle_hash_udf(k, short_doc_unigrams)(F.col(text_col)).alias("hs"),
    ).filter(F.size("hs") > 0)
    return hashed.select("doc", F.size("hs").alias("n"), F.explode("hs").alias("shingle"))


def _pairs_in_group(ds: str) -> F.Column:
    """All ordered pairs (x before y in the sorted array) within one
    posting-list array of struct(doc, n) — the in-group substitute for
    an inverted-index self-join."""
    return F.explode(
        F.expr(
            f"flatten(transform({ds}, (x, i) -> "
            f"transform(slice({ds}, i + 2, size({ds}) - i - 1), "
            "y -> struct(x.doc AS doc_a, x.n AS na, y.doc AS doc_b, y.n AS nb))))"
        )
    )


def _jaccard_from_shingles(
    sh: DataFrame, threshold: float, max_df: int | None = None
) -> DataFrame:
    """Exact Jaccard from an inverted shingle index, WITHOUT a
    self-join: group the index by shingle (ONE shuffle, and the UDF
    feeding ``sh`` is evaluated once — a self-join would re-run the
    whole upstream on both sides) and generate the co-occurring pairs
    inside each posting list.

    ``max_df`` is the hot-shingle cap (SCALE.md §Skew): a boilerplate
    shingle shared by d docs contributes d²/2 pairs while carrying no
    near-dup signal; capping document frequency bounds the worst group
    AND the skew of the subsequent pair aggregation. None = exact
    (the oracle-matched default at test scale)."""
    grouped = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list(F.struct("doc", "n"))).alias("ds")
    )
    grouped = grouped.filter(F.size("ds") > 1)
    if max_df is not None:
        grouped = grouped.filter(F.size("ds") <= max_df)
    pairs = (
        grouped.select(_pairs_in_group("ds").alias("p"))
        .select("p.*")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"), F.min("na").alias("na"), F.min("nb").alias("nb"))
    )
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    return (
        pairs.withColumn("jaccard", F.round(jac, 4))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _shingle_hasher(token_hash: str, p: int):
    """shingle string → int in [0, p): ``crc32`` (production default —
    fastest) or ``md5`` (15-hex-digit prefix mod p — cross-engine
    reproducible, so the DuckDB oracle can recompute the exact
    signatures; the same oracle-mode convention as ``simhash64`` and
    ``doc_fingerprint``)."""
    if token_hash == "crc32":
        return lambda s: zlib.crc32(s.encode("utf-8")) % p
    if token_hash == "md5":
        import hashlib

        return lambda s: int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16) % p
    raise ValueError(f"unknown token_hash {token_hash!r}")


_M31 = (1 << 31) - 1


def _minhash_ab(num_hashes: int):
    """The (a_i, b_i) permutation family as (num_hashes × 1) int64
    column vectors — Mersenne-31 modulus: a,b,h < 2³¹ so a*h+b < 2⁶²,
    making the whole (num_hashes × shingles) permutation matrix ONE
    int64 numpy op per document. One definition for every consumer
    (band UDF, store UDF, single-task twin)."""
    import numpy as np

    a = np.array(
        [((2 * i + 1) * 2654435761) % _M31 or 1 for i in range(num_hashes)],
        dtype=np.int64,
    ).reshape(-1, 1)
    b = np.array(
        [((i * 40503 + 12345) * 2246822519) % _M31 for i in range(num_hashes)],
        dtype=np.int64,
    ).reshape(-1, 1)
    return a, b


def _doc_sig_bands(shingles: set[str], shash, a, b, bands: int, rows: int):
    """(mins, band_hashes) for one document's ``_doc_shingles`` set —
    the shared signature + band-bucket arithmetic. Band bucket =
    blake2b of the band's signature rows (+ band index so bands never
    cross-match)."""
    import hashlib

    import numpy as np

    hs = np.fromiter(
        (shash(s) for s in shingles), dtype=np.int64, count=len(shingles)
    )
    mins = ((a * hs + b) % _M31).min(axis=1)
    out = []
    for band in range(bands):
        key = f"{band}:" + ",".join(map(str, mins[band * rows : (band + 1) * rows]))
        h = hashlib.blake2b(key.encode(), digest_size=8).digest()
        out.append(int.from_bytes(h, "big") - (1 << 63))
    return mins, out


def _band_bucket_udf(num_hashes: int, bands: int, k: int, token_hash: str = "crc32"):
    """MinHash signature + banded bucketing in ONE Arrow pass: returns
    the array of ``bands`` bucket hashes per document.

    Hash family: h_i(s) = (a_i * hash(s) + b_i) mod p — deterministic
    (no process-seeded state), cheap, identical on every executor;
    ``token_hash`` picks the shingle hash (see _shingle_hasher).
    Vectorized with numpy: the (num_hashes × shingles) product is one
    broadcasted matrix op per document. Band bucket = blake2b of the
    band's signature rows (+ band index so bands never cross-match).
    """
    shash = _shingle_hasher(token_hash, _M31)
    rows = num_hashes // bands
    a, b = _minhash_ab(num_hashes)

    @pandas_udf(T.ArrayType(T.LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: _doc_sig_bands(_doc_shingles(t, k), shash, a, b, bands, rows)[1]
        )

    return sig


def sig_and_buckets_udf(
    num_hashes: int, bands: int, k: int, token_hash: str = "crc32"
):
    """Full minhash signature AND band buckets in one Arrow pass —
    struct(sig, buckets). Same hash family as ``_band_bucket_udf`` (the
    band hashes are byte-identical), so a store built with this matches
    candidates produced by ``minhash_lsh_pairs``."""
    shash = _shingle_hasher(token_hash, _M31)
    rows = num_hashes // bands
    a, b = _minhash_ab(num_hashes)

    out_type = T.StructType(
        [
            T.StructField("sig", T.ArrayType(T.LongType())),
            T.StructField("buckets", T.ArrayType(T.LongType())),
        ]
    )

    @pandas_udf(out_type)
    def both(texts: pd.Series) -> pd.DataFrame:
        sigs, bucks = [], []
        for text in texts:
            mins, band_hashes = _doc_sig_bands(
                _doc_shingles(text, k), shash, a, b, bands, rows)
            sigs.append([int(x) for x in mins])
            bucks.append(band_hashes)
        return pd.DataFrame({"sig": sigs, "buckets": bucks})

    return both


def _verified_pairs_task(
    num_hashes: int,
    bands: int,
    k: int,
    threshold: float,
    max_bucket: int | None,
    token_hash: str,
):
    """The in-task body of the single-task minhash paths: a pandas
    (_id, _text) frame → the verified near-dup pairs
    [(doc_a, doc_b, raw_jaccard)] with doc_a < doc_b — byte-exact twin
    of the distributed band/candidate/verify plan (see
    ``_single_task_minhash_pairs``). Each doc's shingle set is built
    once; the verify hashes are computed only for candidate docs."""
    shash = _shingle_hasher(token_hash, _M31)
    rows = num_hashes // bands
    a, b = _minhash_ab(num_hashes)
    mb = max_bucket

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        order = pdf.sort_values("_id", kind="mergesort")
        buckets: dict[int, list] = {}
        shingles: dict = {}
        for doc, text in zip(order["_id"], order["_text"]):
            shingles[doc] = _doc_shingles(text, k)
            _, band_hashes = _doc_sig_bands(shingles[doc], shash, a, b, bands, rows)
            for bh in band_hashes:
                buckets.setdefault(bh, []).append(doc)
        universe: dict = {}  # verify hashes, only for candidate docs

        def hashed(doc):
            if doc not in universe:
                universe[doc] = {_h64(s) for s in shingles[doc]}
            return universe[doc]

        cand = set()
        for ds in buckets.values():
            if len(ds) < 2 or (mb is not None and len(ds) > mb):
                continue
            # ds is in ascending doc order (sorted insertion), so
            # (ds[x], ds[y]) with x < y gives doc_a < doc_b — the same
            # pair orientation as sort_array(collect_set(doc))
            for x in range(len(ds)):
                for y in range(x + 1, len(ds)):
                    cand.add((ds[x], ds[y]))
        out = []
        for da, db in cand:
            sa, sb = hashed(da), hashed(db)
            shared = len(sa & sb)
            if shared == 0:
                continue  # no co-occurring shingle: the verify index
                # never generates this pair
            jac = shared / (len(sa) + len(sb) - shared)
            if jac >= threshold:
                out.append((da, db, jac))
        return pd.DataFrame(out, columns=["doc_a", "doc_b", "jaccard"])

    return run


def _single_task_minhash_pairs(
    docs: DataFrame,
    num_hashes: int,
    bands: int,
    k: int,
    threshold: float,
    text_col: str,
    id_col: str,
    max_bucket: int | None,
    token_hash: str,
) -> DataFrame:
    """The whole minhash→band-bucket→candidate→exact-verify chain in ONE
    grouped-map task — the small-corpus twin of the distributed
    ``minhash_lsh_pairs`` plan (same posture as the single-task paths in
    components.py / graph.py). Byte-exact by construction: the band
    buckets come from the SAME ``_doc_sig_bands`` the distributed UDF
    calls, the verify universe is the SAME ``_doc_shingles`` + ``_h64``
    set the shingle UDF hashes, and the Jaccard is the same
    shared/(na+nb-shared) double; the 4-dp rounding is applied by the
    same Spark ``round`` expression AFTER the task. Each shingle set is
    computed once per doc (the distributed plan computes it twice:
    band UDF + verify index)."""
    id_type = docs.schema[id_col].dataType.simpleString()
    run = _verified_pairs_task(
        num_hashes, bands, k, threshold, max_bucket, token_hash
    )

    pairs = (
        docs.select(
            F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
        )
        .withColumn("_g", F.lit(0))
        .groupBy("_g")
        .applyInPandas(
            lambda pdf: run(pdf),
            f"doc_a {id_type}, doc_b {id_type}, jaccard double",
        )
    )
    return pairs.select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 4,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 256,
    token_hash: str = "crc32",
    small_docs: int = 20_000,
    small_bytes: int = 64 << 20,
) -> DataFrame:
    """MinHash + banded LSH near-dup detection.

    signature(64) → 16 bands of 4 rows → group by band-hash bucket for
    candidates → candidates verified with exact n-gram Jaccard (so the
    output threshold is exact, LSH only affects recall). Pairs whose docs
    share no band-bucket are never scored — the property that makes this
    linear-ish at 100 TB (vs the quadratic exact join).

    ``max_bucket`` bounds skew: a band bucket hit by more than this many
    docs (corpus-wide boilerplate dominating all rows of a band) would
    contribute O(|bucket|²) candidate pairs on its own; such degenerate
    buckets are dropped, the same df-cap reasoning as ``max_df`` on the
    shingle index. Genuine near-dup pairs still collide in their other,
    more selective bands, so the recall cost is confined to pairs whose
    ONLY agreement is the boilerplate band — pairs below threshold
    anyway. The one real casualty is an exact-duplicate cluster larger
    than the cap (every band bucket saturates): run exact dedup FIRST —
    the curation pipeline does — so minhash only sees near-dups. None
    disables the cap.

    Adaptive small-corpus path (r14; the components/pagerank posture):
    when the corpus fits ONE task — at most ``small_docs`` documents
    AND ``small_bytes`` total text — the whole band/candidate/verify
    chain runs as a single grouped-map job instead of the ~10-stage
    distributed plan, whose per-stage scheduling latency dwarfs the
    work at that size. The dispatch is ONE count/bytes aggregate over
    ``docs`` (already-materialized survivor sets answer it from
    storage); corpora above either bound take the distributed plan
    unchanged, so at 100 TB the twin only ever fires for genuinely
    dims-sized survivor sets. ``small_docs=0`` forces the distributed
    path (the property tests pin the two paths equal).
    """
    if _fits_one_task(docs, text_col, small_docs, small_bytes):
        return _single_task_minhash_pairs(
            docs, num_hashes, bands, k, threshold, text_col, id_col,
            max_bucket, token_hash,
        )
    band_rows = fan_out(docs).select(
        F.col(id_col).alias("doc"),
        F.explode(
            _band_bucket_udf(num_hashes, bands, k, token_hash)(F.col(text_col))
        ).alias("bucket"),
    )
    # candidate pairs by grouping the bucket index (one shuffle, ONE
    # evaluation of the signature UDF — the former self-join re-ran the
    # minhash over the whole corpus for each side)
    buckets = band_rows.groupBy("bucket").agg(
        F.sort_array(F.collect_set("doc")).alias("ds")
    ).filter(F.size("ds") > 1)
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ds") <= max_bucket)
    candidates = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds) - i - 1), "
                    "y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.*")
        # candidate-pair-scale (near-dup rate, not corpus): materialize
        # once — THREE consumers (cand_docs + the verify join) would
        # otherwise each re-run the signature UDF over the corpus.
        # Multi-band duplicates stay in (no distinct shuffle): the
        # final LEFT SEMI against the exact-verified pairs emits each
        # pair once regardless of how many bands it collided in.
        .localCheckpoint(eager=False)
    )
    # verify ONLY the candidate pairs with exact jaccard: restrict the
    # shingle inverted index to candidate docs first, so verification
    # cost scales with the near-dup rate, not the corpus size
    cand_docs = candidates.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc")
    ).distinct()
    # short_doc_unigrams matches the band UDF's fallback universe, so
    # candidates involving sub-k-token docs verify instead of vanishing
    sh = shingle_table(docs, k, text_col, id_col, short_doc_unigrams=True).join(
        cand_docs, "doc", "left_semi"
    )
    exact = _jaccard_from_shingles(sh, threshold)
    return exact.join(
        candidates, ["doc_a", "doc_b"], "left_semi"
    ).select("doc_a", "doc_b", "jaccard")


def _fits_one_task(
    docs: DataFrame, text_col: str, small_docs: int, small_bytes: int
) -> bool:
    """The single-task dispatch probe: ONE count/bytes aggregate over
    ``docs`` (already-materialized survivor sets answer it from
    storage). ``small_docs=0`` disables — streaming frames always
    take the distributed plan."""
    if not small_docs or docs.isStreaming:
        return False
    stats = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.octet_length(F.col(text_col))).alias("nbytes"),
    ).head()
    return stats.n <= small_docs and (stats.nbytes or 0) <= small_bytes


def minhash_near_dup_drops(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 4,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 256,
    token_hash: str = "crc32",
    small_docs: int = 20_000,
    small_bytes: int = 64 << 20,
) -> DataFrame:
    """The ids to DROP under keep-min-representative near-dup policy:
    ``minhash_lsh_pairs`` → ``connected_components`` →
    ``cluster_representatives``, as one operator. Semantically exactly
    that composition (the property test pins them equal); the point is
    the small-corpus path, where the pair/cluster/representative chain
    — 3 more jobs of checkpoint/count/grouped-map latency on top of
    the pair task — FUSES into the same single grouped-map task as the
    pair generation (union-find over the verified pairs, in-task).
    Corpora above the one-task bound run the unfused composition
    unchanged."""
    from wc_vector_indexing_spark.operators.components import (
        cluster_representatives,
        connected_components,
    )

    if _fits_one_task(docs, text_col, small_docs, small_bytes):
        id_type = docs.schema[id_col].dataType.simpleString()
        pairs_of = _verified_pairs_task(
            num_hashes, bands, k, threshold, max_bucket, token_hash
        )

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            pairs = pairs_of(pdf)
            # union-find with attach-max-under-min: root == component
            # min, the exact labeling _single_task_components produces
            parent: dict = {}

            def find(x):
                root = x
                while parent.get(root, root) != root:
                    root = parent[root]
                while parent.get(x, x) != root:  # path compression
                    parent[x], x = root, parent[x]
                return root

            nodes = set()
            for a_, b_ in zip(pairs["doc_a"], pairs["doc_b"]):
                nodes.add(a_)
                nodes.add(b_)
                ra, rb = find(a_), find(b_)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            drops = sorted(n for n in nodes if find(n) != n)
            return pd.DataFrame({"doc": drops})

        return (
            docs.select(
                F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
            )
            .withColumn("_g", F.lit(0))
            .groupBy("_g")
            .applyInPandas(lambda pdf: run(pdf), f"doc {id_type}")
            .select(F.col("doc").alias(id_col))
        )
    pairs = minhash_lsh_pairs(
        docs, num_hashes=num_hashes, bands=bands, k=k, threshold=threshold,
        text_col=text_col, id_col=id_col, max_bucket=max_bucket,
        token_hash=token_hash, small_docs=0,
    )
    comp = connected_components(pairs, id_a="doc_a", id_b="doc_b")
    return cluster_representatives(comp).select(F.col("doc").alias(id_col))


def simhash64(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_hash: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash fingerprint per document: token hash → per-bit ±1
    votes → sign.

    The fingerprint is DOCUMENT-LOCAL, so the plan is a pure map with
    ZERO shuffles: token hashing stays a JVM in-row expression
    (``transform`` over the token array — xxhash64 or the md5-prefix
    oracle mode), and the 64-bit vote/sign reduction is one Arrow batch
    of numpy bit math per partition. The former explode → 64-column
    groupBy shuffled every token hash to regroup rows that were never
    apart. Docs with no non-empty tokens are absent (explode semantics
    preserved).

    Near-dups are rows with small Hamming distance; bucketing by the top
    16 bits gives a blocked join at scale (bit_count(a ^ b) <= d filter
    within buckets).
    """
    import numpy as np

    if token_hash == "md5":
        # 15 hex digits = 60 bits, always < 2^63 (a full 16-digit parse
        # can exceed LongType and null out under non-ANSI casts); bits
        # 60-63 then vote uniformly negative and never set — identical
        # in any engine with md5, which is what the oracle runs
        def hx(t):
            return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    else:
        def hx(t):
            return F.xxhash64(t)

    hashed = fan_out(docs).select(
        F.col(id_col).alias("_id"),
        F.transform(
            F.filter(_tokens(text_col), lambda x: x != ""), hx
        ).alias("_hs"),
    )

    def votes(batches):
        bitpos = np.arange(64, dtype=np.int64)
        for pdf in batches:
            out_ids, out_fp = [], []
            for _id, hs in zip(pdf["_id"], pdf["_hs"]):
                if hs is None or len(hs) == 0:
                    continue  # explode-drop semantics for empty docs
                h = np.asarray(hs, dtype=np.int64)[:, None]
                bits = (h >> bitpos) & 1  # arithmetic shift == Spark shiftright
                v = (2 * bits - 1).sum(axis=0)
                fp = int(((v > 0).astype(np.int64) << bitpos).sum())
                out_ids.append(_id)
                out_fp.append(fp)
            yield pd.DataFrame({id_col: out_ids, "simhash": out_fp})

    return hashed.mapInPandas(votes, schema=f"{id_col} long, simhash long")


def simhash_near_pairs(
    docs: DataFrame, max_hamming: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Candidate pairs with Hamming(simhash_a, simhash_b) <= max_hamming,
    blocked on the top-16-bit prefix to avoid the full cross join."""
    fps = simhash64(docs, text_col, id_col).withColumn(
        "block", F.shiftrightunsigned(F.col("simhash"), 48)
    )
    a = fps.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("ha"), "block")
    b = fps.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("hb"), "block")
    return (
        a.join(b, ["block"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def embedding_cosine_pairs(
    vectors: DataFrame,
    threshold: float = 0.3,
    block_col: str | None = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    lsh_bits: int = 4,
    lsh_tables: int = 8,
) -> DataFrame:
    """Semantic near-dup pairs: cosine >= threshold within a blocking key.
    Pass ``block_col=None`` when no natural key exists — blocking then
    falls back to multi-table sign-LSH buckets
    (:func:`lsh_cosine_pairs`), approximate but corpus-scale-safe.
    Output: id_a, id_b, block, cosine(4dp).

    Scoring is the shared per-block gemm (``_gemm_block_pairs``): one
    shuffle on the blocking key, then each block's cosine matrix is
    blocked numpy matmuls — the former expression self-join evaluated an
    INTERPRETED higher-order dot fold per candidate pair, ~10× slower
    at any scale. Rows with a NULL block never pair (join semantics of
    the expression form, kept explicitly here).
    """
    if block_col is None:
        return lsh_cosine_pairs(
            vectors, threshold, vec_col=vec_col, id_col=id_col,
            bits=lsh_bits, tables=lsh_tables,
        )

    block_type = dict(vectors.dtypes)[block_col]
    stacked = vectors.filter(F.col(block_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
        F.col(block_col).alias("block"),
    )
    return _gemm_block_pairs(stacked, threshold, block_type).withColumn(
        "cosine", F.round("cosine", 4)
    )


def _gemm_block_pairs(stacked: DataFrame, threshold: float, block_type: str) -> DataFrame:
    """Above-threshold cosine pairs within each block of a
    (_id, _v, block) frame. One applyInPandas per block: members sorted
    by id (so id_a < id_b), cosine matrix in 1024-row blocked matmuls —
    memory is row-block × block size, never block². Cosine is RAW
    double; callers round for presentation."""
    import numpy as np

    def score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id")
        ids = pdf["_id"].to_numpy()
        V = np.stack(pdf["_v"].to_numpy()).astype("float64")
        norms = np.linalg.norm(V, axis=1)
        norms[norms == 0.0] = 1.0  # zero vectors score 0 against everything
        Vn = V / norms[:, None]
        block = pdf["block"].iloc[0]
        out = []
        for lo in range(0, len(ids), 1024):
            hi = min(lo + 1024, len(ids))
            C = Vn[lo:hi] @ Vn.T
            for r in range(hi - lo):
                i = lo + r
                cols = np.nonzero(C[r, i + 1 :] >= threshold)[0] + i + 1
                for j in cols:
                    out.append((int(ids[i]), int(ids[j]), block, float(C[r, j])))
        return pd.DataFrame(out, columns=["id_a", "id_b", "block", "cosine"])

    return stacked.groupBy("block").applyInPandas(
        score_block, schema=f"id_a long, id_b long, block {block_type}, cosine double"
    )


def lsh_cosine_pairs(
    vectors: DataFrame,
    threshold: float = 0.3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 4,
    tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Cosine near-dup pairs with NO natural blocking key: block on
    multi-table sign-LSH buckets (similarity.lsh_signature, one
    independent hyperplane set per table).

    OR-amplification: a pair is a candidate if it shares a bucket in ANY
    of the ``tables`` signatures — recall ≈ 1 - (1 - p^bits)^tables with
    p = 1 - θ/π, so high-cosine pairs are found with near-certainty
    while each join only pairs rows inside a ~|corpus|/2^bits bucket.
    Approximate by design (the exact blocked path needs a natural key);
    the cosine reported per surviving pair IS exact.

    Plan: one stacked (table, bucket) index — signatures are pure column
    expressions, no UDF — then per-bucket scoring via applyInPandas: the
    whole bucket's cosine matrix is blocked numpy matmuls (one Arrow
    batch in, the above-threshold pairs out). An expression self-join
    would evaluate an INTERPRETED higher-order dot per candidate pair
    (~19M folds at sf0.1, ~30s); the gemm form is ~100 vectorized
    matmuls. Memory inside a group is bounded by the row-block size
    (1024 × bucket), not bucket² — pick ``bits`` so buckets stay ~1e4
    rows at your corpus size. Finally pairs are deduped across tables
    with a pair-level groupBy. Output: id_a, id_b, block (the winning
    table:bucket), cosine(4dp).
    """
    import numpy as np

    from wc_vector_indexing_spark.operators.similarity import _hyperplanes

    dim_row = vectors.select(F.size(F.col(vec_col)).alias("d")).head()
    if dim_row is None:
        return vectors.sparkSession.createDataFrame(
            [], "id_a long, id_b long, block string, cosine double"
        )
    dim = dim_row.d

    # all tables' hyperplanes as ONE (tables*bits × dim) matrix: every
    # signature bit of every table is a single gemm per Arrow batch
    # (the per-table lsh_signature expression chain evaluates tables*bits
    # interpreted folds per row — ~10× slower at corpus scale)
    planes = np.vstack(
        [np.array(_hyperplanes(dim, bits, seed + t)) for t in range(tables)]
    )  # (tables*bits, dim)
    weights = (1 << np.arange(bits)).astype("int64")

    def signatures(batches):
        for pdf in batches:
            V = np.stack(pdf["_v"].to_numpy()).astype("float64")
            bitmat = (V @ planes.T > 0).astype("int64")  # (n, tables*bits)
            buckets = bitmat.reshape(len(V), tables, bits) @ weights  # (n, tables)
            out = pd.DataFrame(
                {
                    "_id": np.repeat(pdf["_id"].to_numpy(), tables),
                    "_v": pdf["_v"].to_numpy().repeat(tables),
                    "block": [
                        f"{t}:{b}" for row in buckets for t, b in enumerate(row)
                    ],
                }
            )
            yield out

    stacked = fan_out(vectors).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).mapInPandas(signatures, schema="_id long, _v array<float>, block string")

    scored = _gemm_block_pairs(stacked, threshold, "string")
    # a close pair collides in several tables: keep one row per pair
    return (
        scored.groupBy("id_a", "id_b")
        .agg(F.min("block").alias("block"), F.round(F.first("cosine"), 4).alias("cosine"))
        .select("id_a", "id_b", "block", "cosine")
    )


def soft_dedup_weights(
    docs: DataFrame,
    alpha: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Soft deduplication — downweight duplicates instead of dropping
    them (the SlimPajama/SoftDeDup sampling treatment, public): every
    document keeps its row but its sampling weight becomes

        w = dup_count^(−alpha)      (alpha=1 ⇒ each duplicate CLUSTER
                                     carries total mass 1, however many
                                     copies exist)

    Dropping all-but-one copy loses the signal that a text was popular;
    keeping all copies lets boilerplate dominate the mixture. The soft
    weight keeps both properties — and ``log_weight`` composes
    additively with the DSIR importance score in the selection stage
    (gumbel_top_k ranks on summed log weights).

    Plan: ONE shuffle keyed by the 256-bit content hash (a window
    count over sha — no agg+join-back second shuffle); weights are
    in-row arithmetic on the counted frame. Skew-free by construction:
    the key is a cryptographic hash of full text, and a genuinely hot
    key (a million-copy boilerplate) is exactly the row this operator
    exists to downweight — its count is the output, not a blowup.

    Output: (id_col, dup_count, weight, log_weight) for EVERY input row.
    """
    from pyspark.sql import Window

    if alpha <= 0:
        raise ValueError(f"alpha must be positive, got {alpha}")
    n = F.count("*").over(Window.partitionBy(sha_text(text_col)))
    return docs.select(
        F.col(id_col),
        n.alias("dup_count"),
        F.round(F.pow(n.cast("double"), F.lit(-alpha)), 6).alias("weight"),
        # + 0.0 normalizes the -0.0 that -alpha*ln(1) produces
        (F.round(-alpha * F.log(n.cast("double")), 6) + F.lit(0.0)).alias(
            "log_weight"
        ),
    )
