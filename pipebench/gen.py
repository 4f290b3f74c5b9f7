"""Seeded input generators. Each one also predicts what the engine must
do with its inputs, so the workloads can check outputs against it.

Products are chunked by the engine's own chunker at its default setting
(800 tokens with 100 tokens of overlap), and every prediction of a sync
tick (upserts, stale deletes, SHA skips) comes from
``chunker.chunk_text`` applied to a product's old and new text. Every
sentence carries a unique revision tag, so no two chunks share a text
(or a vector).

The shares of the sync tick mix and of the curation corpus are
assumptions, not measurements: see NOTES.md ("Where the inputs come
from").
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import numpy as np

SITE_ID = 1

# English content words; none is an English, Spanish, German or French
# stopword of operators/textstats.py, so the stopword ratios below are
# set by the stopword lists alone.
WORDS = (
    "account active amber anchor answer apple arch autumn balance basket "
    "battery beacon bicycle blanket border bottle branch bridge bright "
    "budget cabin camera canvas carbon castle cedar chair channel chapter "
    "circle cliff cloud coast copper cotton credit crystal cushion dancer "
    "desert detail diamond dinner doctor donkey dragon drawer engine evening "
    "fabric falcon feather fence field finger forest fossil frame garden "
    "garlic ginger glass glove granite harbor harvest helmet hollow honey "
    "horizon island jacket jungle kettle kitchen ladder lantern leather "
    "lemon letter linen magnet maple market meadow mirror model monkey "
    "morning mountain needle number ocean olive orange orbit oven paddle "
    "paper pepper pencil pillow planet pocket pollen powder prairie puzzle "
    "quartz rabbit radio ribbon river rocket saddle salmon sandal season "
    "shadow shelf signal silver sketch socket spiral spring stable station "
    "summer sunset switch tablet temple thunder timber tunnel turtle valley "
    "velvet violet wagon walnut window winter wizard yellow zipper"
).split()
EN_STOP = ["the", "of", "and", "to", "is", "that", "it", "for"]
ES_STOP = ["el", "la", "los", "las", "que", "y", "un", "una"]


def _sentence(rng: random.Random, tag: str, lo: int, hi: int, stop: list[str]) -> str:
    target = rng.randrange(lo, hi)
    words = [tag]
    n = len(tag)
    while n < target:
        w = rng.choice(stop) if rng.random() < 0.3 else rng.choice(WORDS)
        words.append(w)
        n += len(w) + 1
    return " ".join(words)[: hi - 1].rstrip() + "."


def vector_id(product_id: int, chunk_index: int) -> str:
    return f"site-{SITE_ID}:product-{product_id}:chunk-{chunk_index}"


# -- sync_churn catalog -------------------------------------------------------

# One tick changes 1 % of the catalog, split equally over the five kinds
# of change the engine's sync and delete flows handle: the reference's
# delta cases (unchanged re-save, edited text, chunk count shrunk, new
# product) and the product-delete job. Equal shares are an assumption.
KINDS = ("edited", "unchanged", "shrunk", "new", "deleted")
# Product length in characters: 2-4 chunks at the default chunk size.
PRODUCT_CHARS = (4000, 10000)


@dataclass
class Tick:
    """One change batch and the engine's predicted response to it."""

    rows: list[tuple[int, str]]  # (product_id, full new text)
    deletes: list[int]  # removed with delete_products after the sync
    upserted: int  # chunks to embed and upsert
    deleted: int  # stale chunks of shrunk products
    skipped: int  # unchanged products (the SHA skip)
    touched: int  # ledger rows of the unchanged products (timestamp touch)
    built: int  # chunks build_chunks makes of the batch
    delete_rows: int  # index rows delete_products removes
    queries: list[tuple[str, str]]  # (vector_id, text) of every chunk written this tick


class Catalog:
    """The product catalog as paragraphs of sentences; ``tick()`` edits it
    in place and returns the batch that carries the edit to the engine."""

    def __init__(self, seed: int, n_products: int, changes: int):
        from wc_vector_indexing_spark.config import ChunkingConfig

        self.rng = random.Random(seed)
        self.per_kind = max(1, changes // len(KINDS))
        self.chunking = ChunkingConfig()
        self.rev = 0
        self.paras: dict[int, list[list[str]]] = {}
        self.chunked: dict[int, list[str]] = {}
        for pid in range(1, n_products + 1):
            self._set(pid, self._product())
        self.next_pid = n_products + 1
        self.ticks = 0

    def _sentence(self) -> str:
        self.rev += 1
        return _sentence(self.rng, f"Rev{self.rev}", 60, 200, EN_STOP)

    def _product(self) -> list[list[str]]:
        target = self.rng.randrange(*PRODUCT_CHARS)
        paras: list[list[str]] = []
        n = 0
        while n < target:
            paras.append([self._sentence() for _ in range(self.rng.randint(3, 7))])
            n += sum(len(x) + 1 for x in paras[-1]) + 1
        return paras

    def _set(self, pid: int, paras: list[list[str]]) -> None:
        from wc_vector_indexing_spark.operators.chunker import chunk_text

        self.paras[pid] = paras
        c = self.chunking
        self.chunked[pid] = [ch.text for ch in chunk_text(self.text(pid), size=c.size, overlap=c.overlap)]

    def text(self, pid: int) -> str:
        return "\n\n".join(" ".join(p) for p in self.paras[pid])

    def rows(self) -> list[tuple[int, str]]:
        return [(pid, self.text(pid)) for pid in sorted(self.paras)]

    def chunks(self) -> dict[str, tuple[int, int, str]]:
        """vector_id -> (product_id, chunk_index, text) of the live catalog."""
        return {
            vector_id(pid, j): (pid, j, t)
            for pid, ts in self.chunked.items()
            for j, t in enumerate(ts)
        }

    def n_chunks(self) -> int:
        return sum(len(ts) for ts in self.chunked.values())

    def _shrunk(self, pid: int) -> list[list[str]]:
        """The product with trailing sentences cut until it has fewer chunks."""
        from wc_vector_indexing_spark.operators.chunker import chunk_text

        paras = [list(p) for p in self.paras[pid]]
        want = self.rng.randint(1, len(self.chunked[pid]) - 1)
        c = self.chunking
        while True:
            paras[-1].pop()
            if not paras[-1]:
                paras.pop()
            text = "\n\n".join(" ".join(p) for p in paras)
            if len(chunk_text(text, size=c.size, overlap=c.overlap)) <= want:
                return paras

    def tick(self) -> Tick:
        rng = self.rng
        k = self.per_kind
        pids = sorted(self.paras)
        shrink = rng.sample([p for p in pids if len(self.chunked[p]) >= 2], k)
        rest = [p for p in pids if p not in shrink]
        picked = rng.sample(rest, 3 * k)
        edit, same, gone = picked[:k], picked[k : 2 * k], picked[2 * k :]
        new = list(range(self.next_pid, self.next_pid + k))
        self.next_pid += k
        upserted = deleted = 0
        fresh: list[tuple[int, int]] = []
        for pid in edit + shrink + new:
            old = self.chunked.get(pid, [])
            if pid in edit:
                paras = [list(p) for p in self.paras[pid]]
                i = rng.randrange(len(paras))
                paras[i][rng.randrange(len(paras[i]))] = self._sentence()
            elif pid in shrink:
                paras = self._shrunk(pid)
            else:
                paras = self._product()
            self._set(pid, paras)
            now = self.chunked[pid]
            changed = [j for j, t in enumerate(now) if j >= len(old) or old[j] != t]
            fresh.extend((pid, j) for j in changed)
            upserted += len(changed)
            deleted += max(0, len(old) - len(now))
        batch = edit + same + shrink + new
        rng.shuffle(batch)
        self.ticks += 1
        delete_rows = 0
        for pid in gone:
            delete_rows += len(self.chunked.pop(pid))
            del self.paras[pid]
        return Tick(
            rows=[(pid, self.text(pid)) for pid in batch],
            deletes=sorted(gone),
            upserted=upserted,
            deleted=deleted,
            skipped=len(same),
            touched=sum(len(self.chunked[p]) for p in same),
            built=sum(len(self.chunked[p]) for p in batch),
            delete_rows=delete_rows,
            queries=[(vector_id(pid, j), self.chunked[pid][j]) for pid, j in fresh],
        )


# -- curation_batch corpus ------------------------------------------------------

# Corpus mix, as shares of the base documents: one equal share for each
# way a document leaves the pipeline (exact copy, near copy, quality
# gate, language gate). Equal 5 % shares are an assumption.
CORPUS_MIX = {"exact_copies": 0.05, "near_copies": 0.05, "low_quality": 0.05, "wrong_language": 0.05}


@dataclass
class Corpus:
    rows: list[tuple[int, str]]  # (doc_id, text)
    survivors: set[int]
    exact_dropped: int
    near_dropped: int
    dropped: int


def make_corpus(seed: int, n_base: int) -> Corpus:
    """English-like documents with planted exact copies, one-word-edit
    near copies (word 4-shingle Jaccard about 0.93), low-quality digit
    soup and Spanish-stopword documents. Ids are a seeded permutation,
    so the member a cluster keeps (its minimum id) may be any of them."""
    rng = random.Random(seed)
    base = [_sentence(rng, "Doc", 700, 900, EN_STOP) for _ in range(n_base)]
    clusters: list[list[str]] = [[t] for t in base]
    n_exact = round(n_base * CORPUS_MIX["exact_copies"])
    n_near = round(n_base * CORPUS_MIX["near_copies"])
    for c in rng.sample(range(n_base), n_exact):
        clusters[c].append(base[c])
    for c in rng.sample(range(n_base), n_near):
        words = base[c].split(" ")
        i = rng.randrange(1, len(words) - 1)
        words[i] = rng.choice([w for w in WORDS if w != words[i]]) + "ly"
        clusters[c].append(" ".join(words))
    low = [
        " ".join(str(rng.randrange(10, 99999)) + rng.choice(";;#!?.") for _ in range(rng.randint(5, 12)))
        for _ in range(round(n_base * CORPUS_MIX["low_quality"]))
    ]
    foreign = [
        _sentence(rng, "Doc", 700, 900, ES_STOP)
        for _ in range(round(n_base * CORPUS_MIX["wrong_language"]))
    ]
    n = sum(len(c) for c in clusters) + len(low) + len(foreign)
    ids = rng.sample(range(1, 10 * n), n)
    rows: list[tuple[int, str]] = []
    survivors: set[int] = set()
    for c in clusters:
        members = [ids.pop() for _ in c]
        rows.extend(zip(members, c))
        survivors.add(min(members))
    rows.extend((ids.pop(), t) for t in low + foreign)
    rng.shuffle(rows)
    return Corpus(
        rows=rows,
        survivors=survivors,
        exact_dropped=n_exact,
        near_dropped=n_near,
        dropped=n - len(survivors),
    )


def make_vectors(seed: int, n_index: int, n_queries: int, dim: int = 64):
    """Gaussian float32 vectors for knn_similarity_join: (index, queries)
    as lists of (id, vector)."""
    g = np.random.default_rng(seed)
    index = g.standard_normal((n_index, dim)).astype(np.float32)
    queries = g.standard_normal((n_queries, dim)).astype(np.float32)
    return (
        [(i, v.tolist()) for i, v in enumerate(index)],
        [(i, v.tolist()) for i, v in enumerate(queries)],
    )
