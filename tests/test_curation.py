"""Curation pipeline: every drop is audited, survivors are clean, the
pipeline is deterministic."""

from __future__ import annotations

from pyspark.sql import Row

from wc_vector_indexing_spark.operators.curation import (
    CurationConfig,
    curate,
    curation_report,
)

GOOD = (
    "The quick brown fox jumps over the lazy dog and keeps going with many "
    "plain english words that score well on the quality gate today. "
) * 3


def mk_docs(spark):
    rows = [
        Row(doc_id=1, text=GOOD),
        Row(doc_id=2, text=GOOD),  # exact duplicate of 1
        Row(doc_id=3, text=GOOD + " A tiny extra tail sentence of filler."),  # near dup
        Row(doc_id=4, text="1234567890 " * 30),  # digits → low quality
        Row(doc_id=5, text="el la de los las que y en un una " * 12),  # spanish
        Row(doc_id=6, text="A totally different and unrelated document about the sea, "
                           "the tide, and a long walk on the shore in the morning. " * 3),
    ]
    return spark.createDataFrame(rows)


def test_curate_audit_and_survivors(spark):
    docs = mk_docs(spark)
    curated, audit = curate(docs, CurationConfig(near_dup_threshold=0.5))
    kept = {r.doc_id for r in curated.collect()}
    reasons = {r.doc_id: r.reject_reason for r in audit.collect()}

    assert kept == {1, 6}
    assert reasons[2] == "exact_duplicate"  # min-id canonical survives
    assert reasons[3] == "near_duplicate"
    assert reasons[4] == "low_quality"
    assert reasons[5] == "wrong_language"
    # audit covers exactly the dropped set, once each
    assert set(reasons) == {2, 3, 4, 5}
    assert curated.columns == docs.columns  # original shape preserved

    report = {r.reject_reason: r.n for r in curation_report(docs, audit).collect()}
    assert report["kept"] == 2 and report["exact_duplicate"] == 1


def test_curate_deterministic(spark):
    docs = mk_docs(spark)
    k1 = {r.doc_id for r in curate(docs)[0].collect()}
    k2 = {r.doc_id for r in curate(docs)[0].collect()}
    assert k1 == k2


def test_curate_keep_all_languages(spark):
    docs = mk_docs(spark)
    curated, _ = curate(docs, CurationConfig(languages=None, near_dup_threshold=0.5))
    assert {r.doc_id for r in curated.collect()} == {1, 5, 6}


def test_curate_repetition_stage(spark):
    clean = (
        "The quick brown fox jumps over the lazy dog while seventeen sailors "
        "watch from a distant pier in the calm morning light with coffee, maps, "
        "charts, and a very long list of singular unrepeated words nearby."
    )
    spam = "buy now " * 60  # every 5-gram is a duplicate
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=clean), Row(doc_id=2, text=spam)]
    )
    # languages=None isolates the repetition gate (spam has no stopwords
    # and would otherwise drop as wrong_language first)
    curated, audit = curate(
        docs, CurationConfig(languages=None, repetition_thresholds={})
    )
    assert [r.doc_id for r in curated.collect()] == [1]
    assert [(r.doc_id, r.reject_reason) for r in audit.collect()] == [(2, "repetitive")]


def test_curate_repetition_off_by_default(spark):
    docs = mk_docs(spark)
    _, audit = curate(docs, CurationConfig(near_dup_threshold=0.5))
    assert "repetitive" not in {r.reject_reason for r in audit.collect()}


def test_curate_heuristic_gates(spark):
    """The optional C4/Gopher stage drops docs with disjoint audit
    reasons, after quality/lang and before anything corpus-wide."""
    good = (
        "The steady captain watched the harbor as the evening settled in. "
        "The crew of the small vessel worked the lines with practiced care. "
        "The old pilot told a story about the northern passage and the ice. "
        "Every sailor in the tavern listened while the rain kept falling on "
        "the roof and the lamps burned low over the long wooden tables. "
        "Nobody interrupted the tale before the very end of the night."
    )
    no_punct = (
        "this long line is full of the words and the stopwords of english "
        "but it is never terminated so the c4 filter must reject the line"
    )
    bullets = "\n".join(
        ["- the bullet item with the words of a list."] * 6
    )
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=good),
            Row(doc_id=2, text=no_punct),
            Row(doc_id=3, text=bullets),
        ]
    )
    curated, audit = curate(
        docs,
        CurationConfig(
            languages=None, heuristics=("c4", "gopher"), near_dup_threshold=0.99
        ),
    )
    reasons = {r.doc_id: r.reject_reason for r in audit.collect()}
    assert [r.doc_id for r in curated.collect()] == [1]
    assert reasons[2] == "c4_boilerplate"
    # bullets pass c4 (terminal punct, >=5 words) but fail the Gopher
    # bullet-ratio rule
    assert reasons[3] == "gopher_rules"


def test_curate_heuristics_off_by_default(spark):
    docs = mk_docs(spark)
    _, audit = curate(docs, CurationConfig(near_dup_threshold=0.5))
    assert {"c4_boilerplate", "gopher_rules"}.isdisjoint(
        {r.reject_reason for r in audit.collect()}
    )


def test_curate_compress_band_stage(spark):
    """The optional compressibility gate drops the template tail with
    its own audit reason; off by default."""
    natural = (
        "The harbor master logged every arrival with a careful note about "
        "cargo, draft, and the weather over the outer banks that day. "
        "Seven vessels came in before noon and none required assistance. "
        "The afternoon brought a slow ferry and two fishing boats home."
    )
    template = "click here to subscribe now " * 60
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=natural), Row(doc_id=2, text=template)]
    )
    curated, audit = curate(
        docs,
        CurationConfig(min_quality=0.0, compress_band=(0.25, 1.1)),
    )
    assert [r.doc_id for r in curated.collect()] == [1]
    reasons = {r.doc_id: r.reject_reason for r in audit.collect()}
    assert reasons == {2: "compress_outlier"}
    # off by default
    _, audit2 = curate(docs, CurationConfig(min_quality=0.0))
    assert "compress_outlier" not in {r.reject_reason for r in audit2.collect()}


def test_curate_unicode_fix_stage(spark):
    """unicode_fix repairs text BEFORE hashing so a mojibake'd or
    zero-width-polluted duplicate is caught by exact dedup."""
    dirty_dup = GOOD[:-1] + "​ "  # ZWSP wedged into a duplicate
    rows = [
        Row(doc_id=1, text=GOOD),
        Row(doc_id=2, text=dirty_dup),
        Row(doc_id=6, text="A totally different and unrelated document about the sea, "
                           "the tide, and a long walk on the shore in the morning. " * 3),
    ]
    docs = spark.createDataFrame(rows)
    # without the fix the polluted duplicate hashes differently: exact
    # dedup misses it and only the (more expensive) near-dup stage nets it
    res_off = curate(docs, CurationConfig(unicode_fix=False))
    audit_off = {r.doc_id: r.reject_reason for r in res_off.audit.collect()}
    assert audit_off.get(2) == "near_duplicate"
    res_off.unpersist()
    # with the fix it is repaired to byte-equality and exact-deduped
    res_on = curate(docs, CurationConfig(unicode_fix=True))
    audit = {r.doc_id: r.reject_reason for r in res_on.audit.collect()}
    assert audit.get(2) == "exact_duplicate"
    assert "was_dirty" not in res_on.curated.columns
    res_on.unpersist()


def test_curate_blocklist_stage(spark):
    docs = mk_docs(spark).union(
        spark.createDataFrame(
            [Row(doc_id=7, text=GOOD + " gambling content appended here.")]
        )
    )
    curated, audit = curate(
        docs,
        CurationConfig(languages=None, blocklist=("gambling",), near_dup_threshold=0.5),
    )
    reasons = {r.doc_id: r.reject_reason for r in audit.collect()}
    assert reasons[7] == "blocklisted"
    assert 7 not in {r.doc_id for r in curated.collect()}
    # off by default: same corpus, no blocklisted rows
    _, audit2 = curate(docs, CurationConfig(languages=None, near_dup_threshold=0.5))
    assert "blocklisted" not in {r.reject_reason for r in audit2.collect()}


def test_curate_lang_percentile_stage(spark):
    # 6 english docs with stepped quality (longer = higher score), plus
    # spanish docs — per-language top-half keeps 3 en and ceil-half es
    rows = [
        Row(doc_id=i, text=f"the and of to in is that it for a tail{i} " * n)
        for i, n in [(1, 2), (2, 4), (3, 6), (4, 8), (5, 10), (6, 12)]
    ] + [
        Row(doc_id=10 + i, text=f"el la de los las que y en un una cola{i} " * n)
        for i, n in [(1, 3), (2, 9)]
    ]
    docs = spark.createDataFrame(rows)
    curated, audit = curate(
        docs,
        CurationConfig(
            min_quality=0.0,
            languages=None,
            lang_percentile=0.5,
            near_dup_threshold=0.99,
        ),
    )
    reasons = {r.doc_id: r.reject_reason for r in audit.collect()}
    dropped_pct = {d for d, r in reasons.items() if r == "below_lang_percentile"}
    kept_ids = {r.doc_id for r in curated.collect()}
    # the lowest-score english docs fall below their language's median;
    # the highest survive — and the spanish slice is judged on ITS OWN
    # median, not english's
    assert 1 in dropped_pct and 6 in kept_ids
    assert 12 in kept_ids  # top spanish doc survives its own percentile
    # disjoint audit invariant still holds
    assert docs.count() == curated.count() + audit.count()


def test_curate_lang_percentile_empty_survivors_is_noop(spark):
    # min_quality=2.0 drops everything before the percentile stage; the
    # fit has no distribution — stage must no-op, not raise
    docs = mk_docs(spark)
    curated, audit = curate(
        docs,
        CurationConfig(min_quality=2.0, languages=None, lang_percentile=0.5),
    )
    assert curated.count() == 0
    assert docs.count() == audit.count()
    assert {r.reject_reason for r in audit.collect()} == {"low_quality"}


def test_curate_host_prior_stage(spark):
    from pyspark.sql import Row

    docs = spark.createDataFrame([
        Row(doc_id=1, text=GOOD, source="hostA"),
        Row(doc_id=2, text="1234567890 " * 30, source="hostD"),  # low q
        # (hostD is absent from the prior: neutral 1.0x multiplier —
        # on hostA the 1.2x top-rank boost would push this past the
        # quality gate into the language gate)
        Row(doc_id=3, text=GOOD, source="hostB"),   # blocked host
        Row(doc_id=4, text=GOOD + " And a distinct closing line here.",
            source="hostC"),  # unranked host, distinct text (no dedup)
    ])
    prior = spark.createDataFrame([
        Row(host="hostA", blocked=False, host_rank=0.9),
        Row(host="hostB", blocked=True, host_rank=0.1),
    ])
    curated, audit = curate(
        docs, CurationConfig(near_dup_threshold=1.01), host_prior=prior)
    reasons = {r.doc_id: r.reject_reason for r in audit.collect()}
    assert reasons[3] == "blocked_host"
    assert reasons[2] == "low_quality"
    kept = {r.doc_id for r in curated.collect()}
    assert kept == {1, 4}
    assert curated.columns == ["doc_id", "text", "source"]


def test_curate_mirror_clusters_gate(spark):
    """mirror_clusters drops every doc on a NON-canonical mirror host
    wholesale (reason mirror_host) before per-row gates; the canonical
    member and unclustered hosts flow through untouched."""
    from pyspark.sql import Row

    docs = spark.createDataFrame([
        Row(doc_id=1, text=GOOD, source="hostA"),
        Row(doc_id=2, text=GOOD, source="hostB"),        # mirror of A
        Row(doc_id=3, text=GOOD + " And a distinct closing line here.",
            source="hostC"),                             # unclustered
    ])
    clusters = spark.createDataFrame([
        Row(host="hostA", cluster_host="hostA"),
        Row(host="hostB", cluster_host="hostA"),
    ])
    curated, audit = curate(
        docs, CurationConfig(near_dup_threshold=1.01),
        mirror_clusters=clusters)
    reasons = {r.doc_id: r.reject_reason for r in audit.collect()}
    assert reasons == {2: "mirror_host"}
    assert {r.doc_id for r in curated.collect()} == {1, 3}


def test_curate_host_prior_with_host_col_named_host(spark):
    """A corpus whose host column is literally named 'host' must keep
    that column through the rank-reweight join — the prior side's host
    column is aliased before joining so the post-join drop can't take
    the corpus's own column with it (ADVICE r12)."""
    from pyspark.sql import Row

    docs = spark.createDataFrame([
        Row(doc_id=1, text=GOOD, source="s1", host="hostA"),
        Row(doc_id=2, text=GOOD + " And a distinct closing line here.",
            source="s2", host="hostB"),
    ])
    prior = spark.createDataFrame([
        Row(host="hostA", blocked=False, host_rank=1.0),
        Row(host="hostB", blocked=True, host_rank=0.5),
    ])
    curated, audit = curate(
        docs, CurationConfig(near_dup_threshold=1.01),
        host_prior=prior, host_col="host")
    assert curated.columns == ["doc_id", "text", "source", "host"]
    assert [(r.doc_id, r.host) for r in curated.collect()] == [(1, "hostA")]
    reasons = {r.doc_id: r.reject_reason for r in audit.collect()}
    assert reasons == {2: "blocked_host"}


def test_curate_host_prior_reweights_quality(spark):
    from pyspark.sql import Row

    # a borderline doc (quality 0.5252 raw): a bottom-ranked host's
    # 0.8x multiplier pushes it under the 0.5 gate (0.42); a
    # top-ranked host's 1.2x keeps it comfortably above (0.63)
    borderline = "the and is to of " * 2 + "12345 " * 20
    docs = spark.createDataFrame([
        Row(doc_id=1, text=borderline, source="top"),
        Row(doc_id=2, text=borderline, source="bottom"),
    ])
    prior = spark.createDataFrame([
        Row(host="top", host_rank=1.0),
        Row(host="bottom", host_rank=0.0),
    ])
    curated, audit = curate(
        docs,
        CurationConfig(languages=None, near_dup_threshold=1.01),
        host_prior=prior,
    )
    reasons = {r.doc_id: r.reject_reason for r in audit.collect()}
    kept = {r.doc_id for r in curated.collect()}
    assert kept == {1} and reasons[2] == "low_quality"


def test_curate_empty_null_and_blank_texts(spark):
    """An empty or NULL text has no quality score and drops as
    low_quality: no DIVIDE_BY_ZERO under ANSI mode, and no row that is
    in neither output. A whitespace-only text is scored like any other."""
    docs = spark.createDataFrame(
        [(1, GOOD), (2, ""), (3, None), (4, "  \n\t "), (6, GOOD + " Other.")],
        "doc_id long, text string",
    )
    res = curate(docs, CurationConfig(near_dup_threshold=1.01))
    reasons = {r.doc_id: r.reject_reason for r in res.audit.collect()}
    kept = {r.doc_id for r in res.curated.collect()}
    assert reasons == {2: "low_quality", 3: "low_quality", 4: "wrong_language"}
    assert kept == {1, 6}
    report = {r.reject_reason: r.n for r in curation_report(docs, res.audit).collect()}
    assert report["kept"] == len(kept)
    res.unpersist()
    # with the language gate off the blank text is a document like any other
    res = curate(docs, CurationConfig(languages=None, near_dup_threshold=1.01))
    assert {r.doc_id for r in res.curated.collect()} == {1, 4, 6}
    res.unpersist()


def test_text_quality_of_empty_and_null_text_is_null(spark):
    from wc_vector_indexing_spark.operators.textstats import text_quality

    docs = spark.createDataFrame([(1, ""), (2, None)], "doc_id long, text string")
    rows = {r.doc_id: r for r in text_quality(docs).collect()}
    assert rows[1].n_chars == 0
    for r in rows.values():
        assert r.digit_ratio is None and r.quality_score is None


def _hosted_docs(spark):
    spam = "buy now " * 60
    rows = [
        (1, GOOD, "hostA"),
        (2, GOOD, "hostA"),  # exact duplicate of 1
        (3, GOOD + " A tiny extra tail sentence of filler.", "hostA"),  # near dup
        (4, "1234567890 " * 30, "hostA"),  # low quality
        (5, "el la de los las que y en un una " * 12, "hostA"),  # spanish
        (6, GOOD.replace("today", "gambling"), "hostA"),  # blocklisted
        (7, GOOD, "hostM"),  # on a non-canonical mirror host
        (8, GOOD, "hostB"),  # blocked host
        (9, spam, "hostA"),
        (10, "The harbor master logged every arrival with a careful note about "
             "cargo, draft, and the weather over the outer banks that day. " * 2, "hostC"),
        (11, "", "hostA"),
        (12, None, "hostC"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def _all_stages(spark):
    from pyspark.sql import Row

    prior = spark.createDataFrame([
        Row(host="hostA", blocked=False, host_rank=0.9),
        Row(host="hostB", blocked=True, host_rank=0.1),
    ])
    mirrors = spark.createDataFrame([
        Row(host="hostA", cluster_host="hostA"),
        Row(host="hostM", cluster_host="hostA"),
    ])
    config = CurationConfig(
        near_dup_threshold=0.5, repetition_thresholds={}, heuristics=("c4", "gopher"),
        compress_band=(0.05, 1.1), unicode_fix=True, blocklist=("gambling",),
        lang_percentile=0.99,
    )
    return config, dict(host_prior=prior, mirror_clusters=mirrors)


def test_curate_audit_and_curated_partition_docs_with_every_stage_on(spark):
    docs = _hosted_docs(spark)
    config, extra = _all_stages(spark)
    res = curate(docs, config, **extra)
    kept = [r.doc_id for r in res.curated.collect()]
    audit = [(r.doc_id, r.reject_reason) for r in res.audit.collect()]
    dropped = [d for d, _ in audit]
    assert len(dropped) == len(set(dropped)) and len(kept) == len(set(kept))
    assert set(kept).isdisjoint(dropped)
    assert set(kept) | set(dropped) == set(range(1, 13))
    # the host gates run first and an unscorable text drops at the
    # quality gate, whatever the later stages decide
    assert {7: "mirror_host", 8: "blocked_host", 11: "low_quality",
            12: "low_quality"}.items() <= dict(audit).items()
    assert res.curated.columns == docs.columns
    res.unpersist()


def test_curate_unpersist_releases_every_persisted_rdd(spark):
    """Three curate passes, each collected and released, leave no RDD
    registered as persisted: the cached scored corpus and every local
    checkpoint curate made are released by ``unpersist()``."""
    docs = _hosted_docs(spark).filter("doc_id <= 10")
    config, extra = _all_stages(spark)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    for _ in range(3):
        res = curate(docs, config, **extra)
        res.curated.collect()
        res.audit.collect()
        res.unpersist()
        res = curate(docs)
        res.curated.collect()
        res.audit.collect()
        res.unpersist()
    assert set(jsc.getPersistentRDDs().keySet()) <= before


def test_exact_stage_keeps_the_min_id_row_of_a_hot_cluster(spark):
    """Exact dedup against a plain-Python min-id rule: a hot text copied
    80 times over several input partitions, smaller clusters and
    singletons, with ids in shuffled order. The survivor is the whole
    min-id row, in docs' column order and types."""
    import random

    rnd = random.Random(7)
    texts = [GOOD] * 80 + [f"{GOOD} Variant {i % 5} with words {i % 5}." for i in range(20)]
    texts += [f"A singleton page number {w} about {w} harbors and ships." * 4
              for w in ("one", "two", "three", "four", "five")]
    ids = rnd.sample(range(1000, 5000), len(texts))
    rows = [(i, t, float(i) / 7.0) for i, t in zip(ids, texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, weight double").repartition(5)
    assert docs.rdd.getNumPartitions() == 5

    res = curate(docs, CurationConfig(languages=None, min_quality=0.0, near_dup_threshold=1.01))
    want_kept = {}
    for i, t, w in rows:
        if t not in want_kept or i < want_kept[t][0]:
            want_kept[t] = (i, t, w)
    kept = sorted(tuple(r) for r in res.curated.collect())
    assert kept == sorted(want_kept.values())
    audit = sorted((r.doc_id, r.reject_reason) for r in res.audit.collect())
    survivors = {v[0] for v in want_kept.values()}
    assert audit == sorted((i, "exact_duplicate") for i in ids if i not in survivors)
    assert res.curated.schema == docs.schema
    res.unpersist()


def test_exact_stage_combines_map_side_without_a_window(spark):
    """The exact stage is one aggregate on the text hash: a partial
    aggregate of min_by/collect_list directly below its one exchange,
    so copies of a hot text combine before the shuffle, and no window
    (which would ship every copy, full row, to one reducer)."""
    import re

    docs = spark.createDataFrame(
        [(i, GOOD) for i in range(12)], "doc_id long, text string"
    ).repartition(3)
    res = curate(docs, CurationConfig(near_dup_threshold=1.01))
    store = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = [store.apply(i).physicalPlanDescription() for i in range(store.size())]
    plan = [p for p in plans if "partial_min_by" in p][-1]
    final = plan.split("== Initial Plan ==")[0]
    below = re.search(r"Exchange \((\d+)\)\n\s*\+- ObjectHashAggregate \((\d+)\)", final)
    assert below, final
    agg = plan.split(f"({below.group(2)}) ObjectHashAggregate")[1].split("\n\n")[0]
    assert "partial_min_by" in agg and "partial_collect_list" in agg
    key = re.search(r"Keys \[1\]: \[(\S+)\]", agg).group(1)
    exchange = plan.split(f"({below.group(1)}) Exchange")[1].split("\n\n")[0]
    assert f"hashpartitioning({key}, " in exchange
    assert "Window" not in plan.split("\n\n")[0]  # the operator tree
    assert res.curated.count() == 1
    res.unpersist()


def test_curation_oracle_agrees_on_empty_and_null_texts(spark):
    """The DuckDB oracle of the curation entries counts an empty or NULL
    text as low_quality too, so parity holds on such a corpus."""
    import duckdb
    import pandas as pd

    from wc_vector_indexing_spark.plans.queries import _curation_sql

    rows = [
        (1, GOOD), (2, GOOD), (3, ""), (4, None), (5, "el la de los las que y en un una " * 12),
        (6, "1234567890 " * 30), (7, GOOD + " A tiny extra tail sentence of filler."),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    res = curate(docs, CurationConfig(min_quality=0.5, languages=("en",), minhash_token_hash="md5"))
    got = sorted((r.reject_reason, r.n) for r in curation_report(docs, res.audit).collect())
    res.unpersist()
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    assert got == sorted(con.sql(_curation_sql()).fetchall())
    assert dict(got)["low_quality"] == 3
