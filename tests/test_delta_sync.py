"""Delta cases A-E (dev-plan :1524-1531) — the engine's acceptance core:

  A first index      ⇒ upsert all, state rows 'synced'
  B no change        ⇒ ZERO chunks embedded/upserted, timestamps touched
  C one chunk changed⇒ only that chunk re-embedded/upserted
  D chunk count shrank⇒ stale chunk deleted from index + state
  E model changed    ⇒ full rebuild of affected product
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from wc_vector_indexing_spark.config import ChunkingConfig, EngineConfig
from wc_vector_indexing_spark.operators.delta_sync import (
    delete_products,
    diff,
    purge_site,
    sync_products,
)
from wc_vector_indexing_spark.operators.embed import DeterministicEmbedder
from wc_vector_indexing_spark.operators.indexer import build_chunks
from wc_vector_indexing_spark.state.store import sync_state_store, vector_index_store

def mklong(tag: int) -> str:
    return " ".join(f"Document {tag} sentence number {i} is here." for i in range(30))


def mk_products(spark, texts: dict[int, str]):
    return spark.createDataFrame(
        [Row(product_id=pid, text=t) for pid, t in sorted(texts.items())]
    )


@pytest.fixture()
def env(spark, tmp_path):
    config = EngineConfig(
        model="fake-deterministic-64", chunking=ChunkingConfig(size=25, overlap=4)
    )
    state = sync_state_store(spark, str(tmp_path / "state"))
    index = vector_index_store(spark, str(tmp_path / "index"))
    backend = DeterministicEmbedder()
    return config, state, index, backend


def run_sync(spark, env, texts, force=False):
    config, state, index, backend = env
    return sync_products(
        mk_products(spark, texts), state, index, config, backend, text_col="text", force=force
    )["local"]


def test_case_a_first_index(spark, env):
    config, state, index, _ = env
    s = run_sync(spark, env, {1: mklong(1), 2: "short doc one."})
    assert s.upserted > 0 and s.deleted == 0 and s.skipped_products == 0
    st = state.read().collect()
    assert st and all(r.status == "synced" for r in st)
    assert index.read().count() == s.upserted
    # vector ids deterministic
    ids = {r.vector_id for r in index.read().collect()}
    assert "site-1:product-2:chunk-0" in ids


def test_case_b_unchanged_zero_work(spark, env):
    config, state, index, backend = env
    texts = {1: mklong(1), 2: "short doc one."}
    run_sync(spark, env, texts)
    before = {(r.vector_id, r.chunk_sha) for r in index.read().collect()}
    ts_before = {r.vector_id: r.last_synced_at for r in state.read().collect()}

    # plan-level assertion: the diff classifies zero chunks for embedding
    chunks = build_chunks(mk_products(spark, texts), config, text_col="text")
    plan = diff(chunks, state.read().filter(F.col("target") == "local"), config)
    assert plan.to_upsert.count() == 0
    assert plan.to_delete.count() == 0
    assert plan.unchanged.count() == 2

    s = run_sync(spark, env, texts)
    assert s.upserted == 0 and s.deleted == 0 and s.skipped_products == 2
    after = {(r.vector_id, r.chunk_sha) for r in index.read().collect()}
    assert before == after  # index untouched
    ts_after = {r.vector_id: r.last_synced_at for r in state.read().collect()}
    assert all(ts_after[k] >= ts_before[k] for k in ts_before)  # touched


def test_case_c_one_chunk_changed(spark, env):
    config, state, index, _ = env
    texts = {1: mklong(1), 2: "short doc one."}
    run_sync(spark, env, texts)
    n_chunks_p1 = index.read().filter(F.col("product_id") == 1).count()
    assert n_chunks_p1 >= 3

    # change ONLY the last sentence of product 1 → only trailing chunk(s)
    # change; product 2 untouched
    texts2 = {1: mklong(1) + " A brand new ending sentence.", 2: "short doc one."}
    chunks = build_chunks(mk_products(spark, texts2), config, text_col="text")
    plan = diff(chunks, state.read().filter(F.col("target") == "local"), config)
    up = plan.to_upsert.select("product_id", "chunk_index").collect()
    assert all(r.product_id == 1 for r in up)
    assert 0 < len(up) < n_chunks_p1  # strictly fewer than all chunks

    s = run_sync(spark, env, texts2)
    assert s.upserted == len(up)
    assert s.skipped_products == 1  # product 2


def test_case_d_chunk_count_shrank(spark, env):
    config, state, index, _ = env
    run_sync(spark, env, {1: mklong(1)})
    n_before = index.read().count()
    s = run_sync(spark, env, {1: "now a tiny doc."})
    assert s.deleted > 0
    n_after = index.read().count()
    assert n_after < n_before
    # state has no rows beyond the new chunk set
    assert state.read().filter(F.col("product_id") == 1).count() == n_after


def test_case_e_model_change_rebuilds(spark, env):
    config, state, index, backend = env
    texts = {1: mklong(1)}
    run_sync(spark, env, texts)
    n = index.read().count()

    config2 = EngineConfig(
        model="fake-deterministic-256", chunking=ChunkingConfig(size=25, overlap=4)
    )
    chunks = build_chunks(mk_products(spark, texts), config2, text_col="text")
    plan = diff(chunks, state.read().filter(F.col("target") == "local"), config2)
    assert plan.rebuild.count() == 1
    assert plan.to_upsert.count() == n  # every chunk re-embeds
    assert plan.unchanged.count() == 0

    s2 = sync_products(
        mk_products(spark, texts), state, index,
        config2, DeterministicEmbedder("fake-deterministic-256"), text_col="text",
    )["local"]
    assert s2.upserted == n
    st = state.read().collect()
    assert all(r.model == "fake-deterministic-256" and r.dimension == 256 for r in st)
    dims = {len(r.values) for r in index.read().collect()}
    assert dims == {256}


def test_force_overrides_short_circuit(spark, env):
    texts = {1: "stable text."}
    run_sync(spark, env, texts)
    s = run_sync(spark, env, texts, force=True)
    assert s.upserted > 0 and s.skipped_products == 0


def test_created_at_immutable(spark, env):
    config, state, index, _ = env
    run_sync(spark, env, {1: "v one text."})
    created = {r.vector_id: r.created_at for r in state.read().collect()}
    run_sync(spark, env, {1: "v two text, changed."})
    after = {r.vector_id: r.created_at for r in state.read().collect()}
    for vid, ts in created.items():
        if vid in after:
            assert after[vid] == ts


def test_vacuum_respects_read_leases(spark, tmp_path):
    import os

    store = sync_state_store(spark, str(tmp_path / "st"))
    row = {f.name: None for f in store.schema.fields}
    row.update(site_id=1, product_id=1, target="local", chunk_index=0,
               vector_id="v1", status="synced")
    store.overwrite(spark.createDataFrame([Row(**row)], store.schema))  # v1
    lazy = store.read()  # leases v1
    for i in range(5):  # v2..v6 — without the lease, keep=3 would drop v1
        store.update_where(F.lit(True), {"error_code": F.lit(f"touch{i}")})
    assert os.path.isdir(store._version_dir(1))
    # the leased snapshot is still fully recomputable (not just cached)
    assert lazy.count() == 1
    store.release_leases()
    assert not os.path.isdir(store._version_dir(1))
    assert os.path.isdir(store._version_dir(store.current_version()))


def test_delete_products_and_purge(spark, env):
    config, state, index, _ = env
    run_sync(spark, env, {1: mklong(1), 2: "keep me."})
    n = delete_products([1], state, index)
    assert n > 0
    assert index.read().filter(F.col("product_id") == 1).count() == 0
    assert state.read().filter(F.col("product_id") == 1).count() == 0
    assert index.read().filter(F.col("product_id") == 2).count() > 0

    purged = purge_site(1, state, index)
    assert purged > 0
    assert index.read().count() == 0 and state.read().count() == 0


def test_multi_target_sync(spark, tmp_path):
    config = EngineConfig(
        model="fake-deterministic-64",
        chunking=ChunkingConfig(size=25, overlap=4),
        targets=("local", "pinecone"),
    )
    state = sync_state_store(spark, str(tmp_path / "state2"))
    index = vector_index_store(spark, str(tmp_path / "index2"))
    res = sync_products(
        mk_products(spark, {1: "two targets."}), state, index,
        config, DeterministicEmbedder(), text_col="text",
    )
    assert set(res) == {"local", "pinecone"}
    assert state.read().select("target").distinct().count() == 2


# -- the one-shuffle diff against a plain statement of J3-J6 ---------------


def _reference_plan(new_rows, old_rows, model, dimension, force):
    """J3-J6 per product in plain Python. ``new_rows`` are (product_id,
    chunk_index, chunk_sha, product_sha); ``old_rows`` are ledger rows
    (product_id, chunk_index, chunk_sha, product_sha, model, dimension,
    status). Returns (upsert keys, delete keys, unchanged ids, rebuild
    ids) as sorted lists."""
    from collections import defaultdict

    new_by, old_by = defaultdict(dict), defaultdict(dict)
    for pid, idx, csha, psha in new_rows:
        new_by[pid][idx] = (csha, psha)
    for pid, idx, csha, psha, m, d, status in old_rows:
        old_by[pid][idx] = (csha, psha, m, d, status)
    upsert, delete, unchanged, rebuild = [], [], [], []
    for pid, chunks in new_by.items():
        old = old_by.get(pid, {})
        # SQL: a NULL model/dimension never reads as different
        stale = any(
            (m is not None and m != model) or (d is not None and d != dimension)
            for _, _, m, d, _ in old.values()
        )
        if stale:
            rebuild.append(pid)
        old_shas = [o[1] for o in old.values() if o[1] is not None]
        new_sha = next(iter(chunks.values()))[1]
        if (
            not force
            and old_shas
            and max(old_shas) == new_sha
            and sorted(chunks) == sorted(old)
            and all(o[4] != "error" for o in old.values())
            and not stale
        ):
            unchanged.append(pid)
            continue
        for idx, (csha, _) in chunks.items():
            o = old.get(idx)
            if force or stale or o is None or o[0] is None or o[0] != csha:
                upsert.append((pid, idx))
        delete += [(pid, idx) for idx in old if idx not in chunks]
    return sorted(upsert), sorted(delete), sorted(unchanged), sorted(rebuild)


def _random_sync_case(seed, model, dimension):
    """A seeded ledger + batch covering every delta case."""
    import random

    rng = random.Random(seed)
    cases = ["new", "unchanged", "edited", "shrunk", "grown", "error",
             "stale_model", "stale_dim", "null_model", "resaved", "ledger_only"]
    new_rows, old_rows = [], []
    for pid in range(1, 41):
        case = rng.choice(cases)
        n_old = rng.randint(1, 4)
        n_new = {"shrunk": max(1, n_old - rng.randint(1, 2)), "grown": n_old + rng.randint(1, 2)}.get(
            case, n_old
        )
        psha_old, psha_new = f"p{pid}", f"p{pid}" if case in ("unchanged", "stale_model", "stale_dim", "null_model", "error") else f"p{pid}'"
        edited = rng.randrange(n_new) if case == "edited" else -1
        if case != "new":
            for i in range(n_old):
                m, d, status, csha = model, dimension, "synced", f"c{pid}.{i}"
                if case == "error" and i == n_old - 1:
                    status, csha = "error", None
                if case == "stale_model" and i == 0:
                    m = "some-other-model"
                if case == "stale_dim" and i == 0:
                    d = dimension * 2
                if case == "null_model":
                    m = d = None
                old_rows.append((pid, i, csha, psha_old, m, d, status))
        if case != "ledger_only":
            for i in range(n_new):
                new_rows.append((pid, i, f"c{pid}.{i}" + ("'" if i == edited else ""), psha_new))
    return new_rows, old_rows


def _plan_frames(spark, new_rows, old_rows):
    from wc_vector_indexing_spark.state.store import SYNC_STATE_SCHEMA

    chunks = spark.createDataFrame(
        [(p, i, c, s, f"text {p}.{i}") for p, i, c, s in new_rows],
        "product_id long, chunk_index int, chunk_sha string, product_sha string, chunk_text string",
    )
    ledger = spark.createDataFrame(
        [
            Row(site_id=1, product_id=p, target="local", chunk_index=i, vector_id=f"v{p}:{i}",
                product_sha=s, chunk_sha=c, model=m, dimension=d, remote_id=None, status=st,
                error_code=None, error_msg=None, last_synced_at=None, created_at=None, updated_at=None)
            for p, i, c, s, m, d, st in old_rows
        ],
        SYNC_STATE_SCHEMA,
    )
    return chunks, ledger


@pytest.mark.parametrize("seed,force", [(1, False), (2, False), (3, True)])
def test_diff_matches_reference_rules(spark, seed, force):
    config = EngineConfig(model="fake-deterministic-64")
    new_rows, old_rows = _random_sync_case(seed, config.model, config.dimension)
    chunks, ledger = _plan_frames(spark, new_rows, old_rows)
    plan = diff(chunks, ledger, config, force=force)
    no_idx = F.lit(None).cast("int").alias("chunk_index")
    got = (
        plan.to_upsert.select(F.lit("upsert").alias("kind"), "product_id", "chunk_index")
        .unionByName(plan.to_delete.select(F.lit("delete").alias("kind"), "product_id", "chunk_index"))
        .unionByName(plan.unchanged.select(F.lit("unchanged").alias("kind"), "product_id", no_idx))
        .unionByName(plan.rebuild.select(F.lit("rebuild").alias("kind"), "product_id", no_idx))
        .collect()
    )
    # lists, not sets: a duplicate row in any frame fails the comparison
    upsert = sorted((r.product_id, r.chunk_index) for r in got if r.kind == "upsert")
    delete = sorted((r.product_id, r.chunk_index) for r in got if r.kind == "delete")
    unchanged = sorted(r.product_id for r in got if r.kind == "unchanged")
    rebuild = sorted(r.product_id for r in got if r.kind == "rebuild")
    want = _reference_plan(new_rows, old_rows, config.model, config.dimension, force)
    assert (upsert, delete, unchanged, rebuild) == want
    # the seeded case really exercises every rule
    assert want[0] and want[2 if not force else 0] and want[3]
    assert force or want[1]


def test_diff_of_empty_batch_is_empty(spark):
    config = EngineConfig(model="fake-deterministic-64")
    _, old_rows = _random_sync_case(5, config.model, config.dimension)
    chunks, ledger = _plan_frames(spark, [], old_rows)
    plan = diff(chunks, ledger, config)
    assert plan.rows.filter(F.col("__kind").isNotNull()).count() == 0
    assert plan.rebuild.isEmpty()


# -- the write shape of a tick ------------------------------------------------


def _versions(state, index):
    return state.current_version(), index.current_version()


def test_one_target_sync_publishes_one_version_per_store(spark, env):
    config, state, index, _ = env
    texts = {p: f"Product {p} has a short body text." for p in range(1, 6)}
    texts[1] = mklong(1)
    run_sync(spark, env, texts)
    assert _versions(state, index) == (1, 1)

    # an edited, a shrunk and a new product: one MERGE per store
    texts2 = {**texts, 1: mklong(1) + " A new ending.", 2: "Two.", 6: "A new product."}
    s = run_sync(spark, env, texts2)
    assert s.upserted > 0 and s.skipped_products == 3
    assert _versions(state, index) == (2, 2)

    # every product unchanged: the ledger's touch is the only write
    s = run_sync(spark, env, texts2)
    assert s.upserted == 0 and s.deleted == 0 and s.skipped_products == 6
    assert _versions(state, index) == (3, 2)


def _bucket_files(store):
    import json

    with open(store._manifest_path(store.current_version())) as f:
        return json.load(f)["buckets"]


def test_delete_products_rewrites_only_their_buckets(spark, env):
    config, state, index, _ = env
    run_sync(spark, env, {p: f"Product {p} says hello." for p in range(1, 31)})
    before = {s: _bucket_files(s) for s in (state, index)}
    versions = _versions(state, index)
    n_rows = index.read().filter("product_id = 7").count()

    assert delete_products([7], state, index) == n_rows > 0
    assert _versions(state, index) == (versions[0] + 1, versions[1] + 1)
    for store in (state, index):
        after = _bucket_files(store)
        changed = [b for b in set(before[store]) | set(after) if before[store].get(b) != after.get(b)]
        assert len(changed) == 1  # the bucket of product 7 alone
        assert store.read().filter("product_id = 7").count() == 0
        assert store.read().count() > 0

    # ids with no rows: nothing to delete, nothing published
    versions = _versions(state, index)
    assert delete_products([7, 999], state, index) == 0
    assert _versions(state, index) == versions


def test_sync_path_releases_its_caches(spark, env):
    config, state, index, _ = env
    jsc = spark.sparkContext._jsc

    n = jsc.getPersistentRDDs().size()
    run_sync(spark, env, {1: mklong(1), 2: "Two."})
    assert jsc.getPersistentRDDs().size() == n
    run_sync(spark, env, {1: mklong(1) + " Edited.", 2: "Two.", 3: "Three."})
    assert jsc.getPersistentRDDs().size() == n
    delete_products([2], state, index)
    assert jsc.getPersistentRDDs().size() == n

    dup = state.read().limit(1)
    with pytest.raises(ValueError, match="not unique"):
        state.merge(dup.unionByName(dup))
    assert jsc.getPersistentRDDs().size() == n


# -- publish order under failure (stage concurrently, publish in order) --------


def _record_flips(monkeypatch, stores: dict) -> list[str]:
    flips: list[str] = []
    for name, store in stores.items():
        def flip(v, manifest, name=name, orig=store._flip):
            flips.append(name)
            return orig(v, manifest)

        monkeypatch.setattr(store, "_flip", flip)
    return flips


def _fail_stage(monkeypatch, store) -> None:
    def boom(*args, **kwargs):
        raise RuntimeError("injected stage failure")

    monkeypatch.setattr(store, "_write_buckets", boom)


def _contents(state, index):
    """Keys, chunk texts and vectors of the index; keys, shas and status
    of the ledger (timestamps differ between builds)."""
    idx = sorted(
        (r.product_id, r.chunk_index, r.chunk_text, tuple(r.values)) for r in index.read().collect()
    )
    led = sorted((r.product_id, r.chunk_index, r.chunk_sha, r.status) for r in state.read().collect())
    return idx, led


def _from_scratch(spark, env, tmp_path, texts):
    config, _, _, backend = env
    state = sync_state_store(spark, str(tmp_path / "fresh_state"))
    index = vector_index_store(spark, str(tmp_path / "fresh_index"))
    sync_products(mk_products(spark, texts), state, index, config, backend, text_col="text")
    return _contents(state, index)


# published stores per injected stage failure: a prefix of (index, ledger)
_PUBLISHED = {None: ["index", "ledger"], "index": [], "ledger": ["index"]}


@pytest.mark.parametrize("fail", [None, "index", "ledger"])
def test_sync_publishes_a_prefix_of_index_then_ledger(spark, env, tmp_path, monkeypatch, fail):
    config, state, index, backend = env
    texts = {1: mklong(1), 2: "Two is short.", 3: "Three is here."}
    run_sync(spark, env, texts)
    # an edited, an unchanged and a new product: both stores have work
    batch = {1: mklong(1) + " A new ending.", 2: "Two is short.", 4: "Four is new."}
    versions = _versions(state, index)
    stores = {"index": index, "ledger": state}
    flips = _record_flips(monkeypatch, stores)
    if fail:
        _fail_stage(monkeypatch, stores[fail])
        with pytest.raises(RuntimeError, match="injected stage failure"):
            run_sync(spark, env, batch)
    else:
        run_sync(spark, env, batch)
    assert flips == _PUBLISHED[fail]
    published = _PUBLISHED[fail]
    assert _versions(state, index) == (
        versions[0] + ("ledger" in published), versions[1] + ("index" in published)
    )

    monkeypatch.undo()
    run_sync(spark, env, batch)  # the replay
    assert _contents(state, index) == _from_scratch(spark, env, tmp_path, {**texts, **batch})


@pytest.mark.parametrize("fail", [None, "index", "ledger"])
def test_delete_products_publishes_a_prefix_of_index_then_ledger(
    spark, env, tmp_path, monkeypatch, fail
):
    config, state, index, backend = env
    texts = {p: f"Product {p} has a short body." for p in range(1, 5)}
    texts[2] = mklong(2)
    run_sync(spark, env, texts)
    versions = _versions(state, index)
    stores = {"index": index, "ledger": state}
    flips = _record_flips(monkeypatch, stores)
    if fail:
        _fail_stage(monkeypatch, stores[fail])
        with pytest.raises(RuntimeError, match="injected stage failure"):
            delete_products([2], state, index)
    else:
        delete_products([2], state, index)
    assert flips == _PUBLISHED[fail]
    published = _PUBLISHED[fail]
    assert _versions(state, index) == (
        versions[0] + ("ledger" in published), versions[1] + ("index" in published)
    )

    monkeypatch.undo()
    delete_products([2], state, index)  # the replay
    rest = {p: t for p, t in texts.items() if p != 2}
    assert _contents(state, index) == _from_scratch(spark, env, tmp_path, rest)


def test_sync_batch_repeating_a_product_raises_and_publishes_nothing(spark, env):
    config, state, index, backend = env
    run_sync(spark, env, {1: "One is short.", 2: "Two is short."})
    versions = _versions(state, index)
    batch = spark.createDataFrame(
        [Row(product_id=1, text="One is edited."), Row(product_id=1, text="One is edited again.")]
    )
    with pytest.raises(ValueError, match="not unique"):
        sync_products(batch, state, index, config, backend, text_col="text")
    assert _versions(state, index) == versions


def test_write_together_publishes_a_prefix_under_thread_stress(spark):
    """Eight writes (more than the host's cores) with random stage and
    publish failures and a short switch interval: every round publishes
    exactly the writes before the first failure, in order, and raises
    that failure."""
    import random
    import sys
    import threading
    import time

    from wc_vector_indexing_spark.operators.delta_sync import _write_together

    class Injected(Exception):
        pass

    def one_round(rng: random.Random) -> None:
        n = 8
        fail = {i: rng.choice(("stage", "publish")) for i in range(n) if rng.random() < 0.15}
        delay = [rng.random() * 0.002 for _ in range(n)]
        published: list[int] = []

        def write(i, before_publish):
            time.sleep(delay[i])
            if fail.get(i) == "stage":
                raise Injected(i)
            before_publish()
            if fail.get(i) == "publish":
                raise Injected(i)
            published.append(i)

        writes = [lambda before_publish, i=i: write(i, before_publish) for i in range(n)]
        first = min(fail, default=n)
        if fail:
            with pytest.raises(Injected) as err:
                _write_together(spark, *writes)
            assert err.value.args == (first,)
        else:
            _write_together(spark, *writes)
        assert published == list(range(first))

    errors: list[BaseException] = []

    def rounds() -> None:
        try:
            rng = random.Random(7)
            for _ in range(40):
                one_round(rng)
        except BaseException as e:  # re-raised in the test thread below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        t = threading.Thread(target=rounds, daemon=True)
        t.start()
        t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not t.is_alive(), "a round deadlocked"
    if errors:
        raise errors[0]
