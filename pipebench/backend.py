"""The benchmark's embedding backend: the engine's DeterministicEmbedder,
with texts, batches and time in the backend counted through Spark
accumulators. Texts and batches are the units a hosted embedding API
bills; the backend adds no latency of its own."""

from __future__ import annotations

import time

import numpy as np

from wc_vector_indexing_spark.operators.embed import DeterministicEmbedder


class CountingEmbedder:
    """``EmbeddingBackend`` that delegates to ``DeterministicEmbedder``.

    Instances are pickled into the engine's mapInPandas closure, so the
    counters must be accumulators: plain attributes would be updated on
    the worker's copy only."""

    def __init__(self, sc, model: str = "fake-deterministic-64"):
        self._inner = DeterministicEmbedder(model)
        self.model = self._inner.model
        self.dimension = self._inner.dimension
        self.texts = sc.accumulator(0)
        self.batches = sc.accumulator(0)
        self.seconds = sc.accumulator(0.0)

    def embed_batch(self, texts: list[str]) -> list[list[float]]:
        t0 = time.perf_counter()
        out = self._inner.embed_batch(texts)
        self.seconds.add(time.perf_counter() - t0)
        self.texts.add(len(texts))
        self.batches.add(1)
        return out

    def vector(self, text: str):
        """The float32 vector the backend returns for ``text`` (driver
        side, uncounted): the reference the correctness checks use."""
        return np.asarray(self._inner.embed_batch([text])[0], dtype=np.float32)
