"""Tracing for the traced run (``--trace 1``).

Spans are recorded from outside the engine: ``Tracer.install`` replaces
each layer's public functions with wrappers, at the name their callers
look up (``delta_sync.embed_texts``, not ``embed.embed_texts``;
``ParquetMergeStore`` methods on the class). Each wrapper records a span
(name, start, end, parent) and sets its own Spark job group, so every
Spark job, stage and task is attributed to the innermost span. Spans
stay in memory until the run ends.

Only spans inside an operation span (``Tracer.op``) count towards the
per-layer metrics; set-up and warm-up work is traced but left out. The
tracer's own work while spans are open (``Tracer.harness``) is left out
of their durations.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

_STORE_WRITES = ("merge", "delete_keys", "update_keys", "delete_where", "update_where", "overwrite")


class NullTracer:
    """Stands in for ``Tracer`` in the untraced run: no spans, no job
    groups, no wrappers."""

    def op(self, kind: str, name: str | None = None):
        return contextlib.nullcontext()

    def span(self, name: str):
        return contextlib.nullcontext()

    def add_counter(self, name: str, read) -> None:
        pass


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._counters: dict = {}
        self._patched: list[tuple] = []
        self.sc = None

    # -- spans -----------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self._set_group(parent)

    @contextlib.contextmanager
    def op(self, kind: str, name: str | None = None):
        """A timed operation: its subtree is what the per-layer metrics
        count. ``name`` puts the op's own span in a layer (a query's
        collect is similarity work). Counter readings are taken on entry
        and exit."""
        before = {k: read() for k, read in self._counters.items()}
        with self.span(name or f"op.{kind}", op=kind) as s:
            yield s
        s["counters"] = {k: read() - before[k] for k, read in self._counters.items()}

    def add_counter(self, name: str, read) -> None:
        self._counters[name] = read

    @contextlib.contextmanager
    def harness(self):
        """Tracer work done while spans are open: its time is recorded on
        every open span and taken out of their durations (``duration``)."""
        t0 = time.time()
        try:
            yield
        finally:
            dt = time.time() - t0
            for s in self._stack:
                s["harness_s"] = s.get("harness_s", 0.0) + dt

    def _set_group(self, s: dict | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"pb{s['id']}", s["name"])

    # -- wrappers ----------------------------------------------------------------

    def _wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def _wrap_store_write(self, cls, attr: str) -> None:
        orig = getattr(cls, attr)
        tracer = self

        def wrapper(store, *args, **kwargs):
            # the manifests and footers are read outside the span, so that
            # it times the engine call alone
            with tracer.harness():
                before = _manifest(store.root)
            try:
                with tracer.span(f"store.{attr}") as s:
                    return orig(store, *args, **kwargs)
            finally:
                with tracer.harness():
                    s["store"] = _publish_stats(store.root, before, _manifest(store.root))

        setattr(cls, attr, wrapper)
        self._patched.append((cls, attr, orig))

    def install(self, sc) -> None:
        """Wrap every traced layer. ``sc`` is the live SparkContext."""
        from wc_vector_indexing_spark.functions import partitioning
        from wc_vector_indexing_spark.operators import curation, dedup, delta_sync, indexer, similarity
        from wc_vector_indexing_spark.state.store import ParquetMergeStore

        self.sc = sc
        for attr in ("sync_products", "apply_sync", "diff", "delete_products"):
            self._wrap(delta_sync, attr, f"delta_sync.{attr}")
        self._wrap(delta_sync, "embed_texts", "embed.embed_texts")
        self._wrap(indexer, "build_chunks", "indexer.build_chunks")
        self._wrap(indexer, "chunk_documents", "chunker.chunk_documents")
        self._wrap(ParquetMergeStore, "read", "store.read")
        for attr in _STORE_WRITES:
            self._wrap_store_write(ParquetMergeStore, attr)
        for attr in ("knn_exact", "knn_similarity_join"):
            self._wrap(similarity, attr, f"similarity.{attr}")
        self._wrap(curation, "curate", "curation.curate")
        for attr in ("minhash_near_dup_drops", "exact_duplicates"):
            self._wrap(dedup, attr, f"dedup.{attr}")
        # fan_out is looked up in partitioning by the function-local
        # imports, and in dedup by its module-level import
        self._wrap(partitioning, "fan_out", "partitioning.fan_out")
        self._wrap(dedup, "fan_out", "partitioning.fan_out")
        self._count_pairs(sc, dedup)

    def _count_pairs(self, sc, dedup) -> None:
        """Count verified near-dup pairs on the single-task dedup path,
        whose pair list never leaves the grouped-map task: the task body
        is wrapped so that its result length lands in an accumulator."""
        if not hasattr(dedup, "_verified_pairs_task"):
            return
        pairs = sc.accumulator(0)
        orig = dedup._verified_pairs_task

        def counting(*args, **kwargs):
            run = orig(*args, **kwargs)

            def counted(pdf):
                out = run(pdf)
                pairs.add(len(out))
                return out

            return counted

        dedup._verified_pairs_task = counting
        self._patched.append((dedup, "_verified_pairs_task", orig))
        self.add_counter("dedup.pairs", lambda: pairs.value)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()
        self.sc = None

    # -- aggregation -------------------------------------------------------------

    def timed_spans(self) -> list[dict]:
        """Spans inside an operation, each tagged with its op span."""
        by_id = {s["id"]: s for s in self.spans}
        out = []
        for s in self.spans:
            cur = s
            while cur is not None and cur["op"] is None:
                cur = by_id.get(cur["parent"])
            if cur is not None:
                s["op_id"] = cur["id"]
                out.append(s)
        return out


def duration(s: dict) -> float:
    """A span's time less the tracer's own work inside it."""
    return s["end"] - s["start"] - s.get("harness_s", 0.0)


def _manifest(root: str) -> tuple[int, dict[str, list[str]]]:
    """(version, bucket -> files) of a ParquetMergeStore's live snapshot,
    read from its ``_LATEST`` and ``_MANIFEST.json`` files."""
    try:
        with open(os.path.join(root, "_LATEST")) as f:
            v = int(f.read().strip())
        with open(os.path.join(root, f"v{v:08d}", "_MANIFEST.json")) as f:
            return v, json.load(f)["buckets"]
    except (FileNotFoundError, ValueError):
        return 0, {}


def _publish_stats(root: str, before, after) -> dict:
    import pyarrow.parquet as pq

    (v0, m0), (v1, m1) = before, after
    old = {f for files in m0.values() for f in files}
    new = [f for files in m1.values() for f in files if f not in old]
    return {
        "versions": v1 - v0,
        "buckets": sum(1 for b in set(m0) | set(m1) if m0.get(b) != m1.get(b)),
        "bytes": sum(os.path.getsize(os.path.join(root, f)) for f in new),
        "rows": sum(pq.read_metadata(os.path.join(root, f)).num_rows for f in new),
    }


def store_footprint(roots: list[str]) -> tuple[int, float]:
    """(files in the live snapshots, MB on disk) over the store roots."""
    files = sum(len(fs) for root in roots for fs in _manifest(root)[1].values())
    size = 0
    for root in roots:
        for dirpath, _, names in os.walk(root):
            size += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
    return files, size / 2**20


# -- Spark work --------------------------------------------------------------------

_TASK_FIELDS = ("tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "records_read")


def read_spark_work(sc) -> tuple[list[dict], dict[str | None, dict]]:
    """Jobs (group, submit/end seconds) and per-job-group totals of the
    stages they ran, from Spark's application status store: the live,
    in-memory form of the event log, kept by the listener Spark always
    runs. (Writing the event log file itself doubled tick time.) A
    stage belongs to the first job that lists it; later jobs list it
    again only as skipped."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for j in conv.asJava(store.jobsList(None)):
        g = j.jobGroup()
        end = j.completionTime()
        jid = j.jobId()
        jobs[jid] = {
            "group": g.get() if g.isDefined() else None,
            "submit": j.submissionTime().get().getTime() / 1e3,
            "end": end.get().getTime() / 1e3 if end.isDefined() else None,
        }
        for sid in conv.asJava(j.stageIds()):
            stage_job[sid] = min(jid, stage_job.get(sid, jid))
    groups: dict[str | None, dict] = defaultdict(lambda: dict.fromkeys(("stages",) + _TASK_FIELDS, 0))
    stages = store.stageList(None, False, False, sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())
    for s in conv.asJava(stages):
        if s.status().toString() != "COMPLETE" or s.stageId() not in stage_job:
            continue
        g = groups[jobs[stage_job[s.stageId()]]["group"]]
        g["stages"] += 1
        g["tasks"] += s.numCompleteTasks()
        g["task_run_s"] += s.executorRunTime() / 1e3
        g["task_cpu_s"] += s.executorCpuTime() / 1e9
        g["gc_s"] += s.jvmGcTime() / 1e3
        g["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
        g["spill_mb"] += s.diskBytesSpilled() / 2**20
        g["records_read"] += s.inputRecords()
    return list(jobs.values()), dict(groups)


def _span_of(group: str | None) -> int | None:
    return int(group[2:]) if group and group.startswith("pb") else None


def attribute(tracer: Tracer, jobs: list[dict], groups: dict[str | None, dict]) -> dict[int, dict]:
    """Per timed span: its own jobs and task totals, through the job
    group each span sets (innermost-span attribution)."""
    per = {s["id"]: dict.fromkeys(("jobs", "stages") + _TASK_FIELDS, 0) for s in tracer.timed_spans()}
    for j in jobs:
        sid = _span_of(j["group"])
        if sid in per:
            per[sid]["jobs"] += 1
    for gid, g in groups.items():
        sid = _span_of(gid)
        if sid in per:
            for k, v in g.items():
                per[sid][k] += v
    return per


def driver_only_s(op: dict, jobs: list[dict]) -> float:
    """Time inside ``op`` during which no Spark job was running (and the
    tracer was not working)."""
    lo, hi = op["start"], op["end"]
    cuts = sorted(
        (a, b)
        for a, b in ((max(lo, j["submit"]), min(hi, j["end"] or hi)) for j in jobs)
        if a < b
    )
    busy, cur_end = 0.0, lo
    for a, b in cuts:
        if b <= cur_end:
            continue
        busy += b - max(a, cur_end)
        cur_end = b
    return (hi - lo) - busy - op.get("harness_s", 0.0)


def span_table(tracer: Tracer, per: dict[int, dict]) -> dict[str, dict]:
    """Totals per span name over the timed phase: calls, inclusive and
    self seconds, and the Spark work attributed to the span itself."""
    timed = tracer.timed_spans()
    child_s: dict[int, float] = defaultdict(float)
    for s in timed:
        if s["parent"] is not None:
            child_s[s["parent"]] += duration(s)
    table: dict[str, dict] = {}
    for s in timed:
        row = table.setdefault(s["name"], {"calls": 0, "s": 0.0, "self_s": 0.0})
        dur = duration(s)
        row["calls"] += 1
        row["s"] += dur
        row["self_s"] += dur - child_s[s["id"]]
        for k, v in per[s["id"]].items():
            row[k] = row.get(k, 0) + v
    return table
