"""Parquet-backed MERGE store — the engine's transactional table layer.

The reference keeps its sync ledger in a MySQL table with
``INSERT ... ON DUPLICATE KEY UPDATE`` upserts (W1,
class-storage.php:59-119) and keyed deletes (W2, :126-171). Spark has no
in-place mutation, so the store implements MERGE as snapshot
replacement with BUCKET-LEVEL copy-on-write:

    root/
      d00000001/__b=K/part-*.parquet   immutable bucket data files
      d00000002/__b=K/part-*.parquet   (written once, never rewritten)
      v00000001/_MANIFEST.json         snapshot = {bucket -> data files}
      v00000002/_MANIFEST.json
      _LATEST                          text file naming the live version

Rows hash into ``n_buckets`` buckets on ``bucket_cols``
(pmod(xxhash64(cols), n)). A MERGE derives the touched buckets from the
update keys, reads ONLY those buckets' files, rewrites ONLY those
buckets into a new data dir, and publishes a new manifest that maps the
touched buckets to the new files while every untouched bucket keeps
pointing at its existing files. Write cost is therefore proportional to
the buckets an update batch touches, not the table — the same cost
model as Delta/Iceberg ``MERGE INTO`` with file-level pruning, which
this store stands in for (manifests instead of transaction logs; on a
real cluster swap the class for a Delta table, every call site keeps
its semantics). A 100 TB ledger at n_buckets=1024 pays ~0.1% of a full
rewrite for a single-product incremental sync instead of 100%.

Publishing stays atomic: data files land first, then the manifest,
then ``_LATEST`` flips via write-temp + rename. Readers resolve
``_LATEST`` once per read, giving snapshot isolation; a crashed writer
leaves only orphan files for vacuum. Vacuum is reference-counted: a
data dir survives as long as ANY retained or leased manifest references
a file inside it.

``merge`` takes Delta-style clauses — delete keys (WHEN MATCHED
DELETE), updates (WHEN MATCHED UPDATE / NOT MATCHED INSERT), touch keys
with assignments (WHEN MATCHED UPDATE SET) — as one bucket rewrite and
one version; ``delete_keys`` and ``update_keys`` are its one-clause
forms. Only operations that cannot name their keys (``delete_where`` /
``update_where`` with arbitrary predicates such as a site purge,
``overwrite``) take the slow path — a full-table rewrite — exactly as
Delta does when a predicate prunes nothing.

The SYNC_STATE schema mirrors the reference DDL (class-plugin.php:107-131,
FIXTURES.md §8); unique keys (target, product_id, chunk_index) /
(target, vector_id) become the MERGE join keys.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

SYNC_STATE_SCHEMA = T.StructType(
    [
        T.StructField("site_id", T.LongType(), False),
        T.StructField("product_id", T.LongType(), False),
        T.StructField("target", T.StringType(), False),
        T.StructField("chunk_index", T.IntegerType(), False),
        T.StructField("vector_id", T.StringType(), False),
        T.StructField("product_sha", T.StringType(), True),
        T.StructField("chunk_sha", T.StringType(), True),
        T.StructField("model", T.StringType(), True),
        T.StructField("dimension", T.IntegerType(), True),
        T.StructField("remote_id", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("error_code", T.StringType(), True),
        T.StructField("error_msg", T.StringType(), True),
        T.StructField("last_synced_at", T.TimestampType(), True),
        T.StructField("created_at", T.TimestampType(), True),
        T.StructField("updated_at", T.TimestampType(), True),
    ]
)

STATE_KEYS = ["target", "product_id", "chunk_index"]

VECTOR_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("target", T.StringType(), False),
        T.StructField("vector_id", T.StringType(), False),
        T.StructField("product_id", T.LongType(), False),
        T.StructField("chunk_index", T.IntegerType(), False),
        T.StructField("chunk_text", T.StringType(), True),
        T.StructField("values", T.ArrayType(T.FloatType()), True),
        T.StructField("product_sha", T.StringType(), True),
        T.StructField("chunk_sha", T.StringType(), True),
        T.StructField(
            "metadata",
            T.StructType(
                [
                    T.StructField("site_id", T.LongType(), True),
                    T.StructField("product_id", T.LongType(), True),
                    T.StructField("sku", T.StringType(), True),
                    T.StructField("url", T.StringType(), True),
                    T.StructField("updated_at", T.StringType(), True),
                    T.StructField("fingerprint", T.StringType(), True),
                    T.StructField("fields", T.ArrayType(T.StringType()), True),
                ]
            ),
            True,
        ),
    ]
)

INDEX_KEYS = ["target", "vector_id"]


class ParquetMergeStore:
    """A versioned parquet table supporting MERGE / DELETE / overwrite
    with bucket-level copy-on-write (see module docstring)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        keys: list[str],
        bucket_cols: list[str] | None = None,
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.root = root
        self.schema = schema
        self.keys = keys
        # bucket on a column every update batch carries (product_id for
        # both engine stores: state updates and vector upserts are
        # per-product by construction). 16 locally; 1024 at 100 TB —
        # the knob trades rewrite granularity against file count.
        self.bucket_cols = bucket_cols or [keys[-1] if len(keys) == 1 else "product_id"]
        self.n_buckets = n_buckets
        # Versions handed out by read() and possibly still referenced by
        # live lazy plans. A sync cycle publishes several snapshots while
        # its DeltaPlan DataFrames lazily re-read the version seen at
        # diff time; without the lease, _vacuum(keep=3) deletes that dir
        # after the 3rd publish and any recompute (executor loss, cache
        # eviction) of the 4th write fails. Process-local by design —
        # there is one driver; cross-driver retention is a Delta/Iceberg
        # concern, not this store's.
        self._leased: set[int] = set()
        os.makedirs(root, exist_ok=True)

    # -- snapshot plumbing -------------------------------------------------

    def _latest_path(self) -> str:
        return os.path.join(self.root, "_LATEST")

    def current_version(self) -> int:
        try:
            with open(self._latest_path()) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return 0

    def _version_dir(self, v: int) -> str:
        return os.path.join(self.root, f"v{v:08d}")

    def _manifest_path(self, v: int) -> str:
        return os.path.join(self._version_dir(v), "_MANIFEST.json")

    def _manifest(self, v: int) -> dict[int, list[str]] | None:
        """bucket -> root-relative data files for snapshot ``v``; None
        for a legacy (pre-manifest) snapshot dir holding bare parquet."""
        try:
            with open(self._manifest_path(v)) as f:
                raw = json.load(f)
        except FileNotFoundError:
            return None
        return {int(k): v for k, v in raw["buckets"].items()}

    def _bucket_expr(self) -> F.Column:
        return F.pmod(F.xxhash64(*[F.col(c) for c in self.bucket_cols]), F.lit(self.n_buckets))

    def _scan(self, v: int, buckets: set[int] | None = None) -> DataFrame:
        """Snapshot ``v`` (leased), restricted to ``buckets`` if given —
        file-list pruning via the manifest (the Delta-style partition
        prune that makes MERGE cost ∝ touched buckets). A legacy
        snapshot falls back to a full scan + bucket filter."""
        if v == 0:
            return self.spark.createDataFrame([], self.schema)
        self._leased.add(v)
        manifest = self._manifest(v)
        if manifest is None:  # legacy snapshot written pre-manifest
            df = self.spark.read.schema(self.schema).parquet(self._version_dir(v))
            return df if buckets is None else df.filter(self._bucket_expr().isin(*buckets))
        files = [
            os.path.join(self.root, f)
            for b, fs in sorted(manifest.items())
            if buckets is None or b in buckets
            for f in fs
        ]
        if not files:
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.schema(self.schema).parquet(*files)

    def _bucketed(self, df: DataFrame, n_touched: int) -> DataFrame:
        """``df`` with its bucket column ``__b``, hash-repartitioned on it
        so each bucket is written by exactly one task (no small-file
        fan-out)."""
        df = df.withColumn("__b", self._bucket_expr())
        return df.repartition(max(1, min(n_touched, 32)), "__b")

    def _write_buckets(self, df: DataFrame, v: int) -> dict[int, list[str]]:
        """Write ``df`` (from ``_bucketed``) into a fresh immutable data
        dir, one hive level per bucket, and return the bucket ->
        relative-file mapping."""
        ddir = os.path.join(self.root, f"d{v:08d}")
        df.write.mode("overwrite").partitionBy("__b").parquet(ddir)
        return {
            int(name.split("=", 1)[1]): sorted(
                os.path.join(f"d{v:08d}", name, f)
                for f in os.listdir(os.path.join(ddir, name))
                if f.endswith(".parquet")
            )
            for name in os.listdir(ddir)
            if name.startswith("__b=")
        }

    def _flip(self, v: int, manifest: dict[int, list[str]]) -> int:
        os.makedirs(self._version_dir(v), exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self.root, prefix="_MANIFEST.")
        with os.fdopen(fd, "w") as f:
            json.dump(
                {"n_buckets": self.n_buckets, "bucket_cols": self.bucket_cols,
                 "buckets": {str(k): sorted(files) for k, files in manifest.items() if files}},
                f,
            )
        os.replace(tmp, self._manifest_path(v))
        fd, tmp = tempfile.mkstemp(dir=self.root, prefix="_LATEST.")
        with os.fdopen(fd, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._latest_path())  # atomic on POSIX
        self._vacuum(keep=3)
        return v

    def _publish(self, df: DataFrame, touched: set[int] | None = None) -> int:
        """Publish the next version. Slow path, ``touched`` None: ``df``
        is the whole table. Fast path: ``df`` (from ``_bucketed``) holds
        the complete new contents of exactly the ``touched`` buckets, and
        every other bucket's files carry over by reference (not read,
        copied or rewritten)."""
        v = self.current_version() + 1
        if touched is None:
            return self._flip(v, self._write_buckets(self._bucketed(df, self.n_buckets), v))
        merged = {b: fs for b, fs in (self._manifest(v - 1) or {}).items() if b not in touched}
        return self._flip(v, {**merged, **self._write_buckets(df, v)})

    def _is_legacy(self) -> bool:
        v = self.current_version()
        return v > 0 and self._manifest(v) is None

    def _vacuum(self, keep: int) -> None:
        """Drop snapshot manifests older than the newest ``keep`` (≙
        Delta VACUUM) and any data dir no retained or leased manifest
        references. Versions leased out by read() are never dropped — a
        lazy plan may still recompute against them (release_leases()
        when the plans are dead)."""
        live = self.current_version()
        retained: set[int] = set()
        for name in os.listdir(self.root):
            if name.startswith("v") and name[1:].isdigit():
                v = int(name[1:])
                if v > live - keep or v in self._leased:
                    retained.add(v)
                else:
                    shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)
        referenced: set[str] = set()
        for v in retained:
            m = self._manifest(v)
            if m is None:
                continue
            for files in m.values():
                for f in files:
                    referenced.add(f.split(os.sep, 1)[0])
        for name in os.listdir(self.root):
            if name.startswith("d") and name[1:].isdigit() and name not in referenced:
                shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)

    def release_leases(self) -> None:
        """Declare all previously read() snapshots dead (no live plan
        references them) and vacuum whatever the leases were pinning."""
        self._leased.clear()
        self._vacuum(keep=3)

    # -- reads -------------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """Read the live snapshot, or — time travel — any retained
        ``version`` (≙ Delta ``VERSION AS OF``): manifests make old
        snapshots first-class, since their files are immutable and
        vacuum refcounts keep every referenced data dir alive. Reading
        a version leases it, protecting it from vacuum until
        release_leases()."""
        v = self.current_version() if version is None else version
        if v and version is not None and not os.path.isdir(self._version_dir(v)):
            raise ValueError(
                f"version {v} not retained (vacuum keeps the newest 3 "
                "plus leased snapshots)"
            )
        return self._scan(v)

    def versions(self) -> list[int]:
        """Retained snapshot versions, oldest first (≙ DESCRIBE HISTORY)."""
        out = [
            int(name[1:])
            for name in os.listdir(self.root)
            if name.startswith("v") and name[1:].isdigit()
        ]
        return sorted(out)

    def is_empty(self) -> bool:
        return self.current_version() == 0 or self.read().isEmpty()

    # -- writes ------------------------------------------------------------

    def overwrite(self, df: DataFrame) -> int:
        return self._publish(self._conform(df))

    def merge(
        self,
        updates: DataFrame | None,
        immutable_cols: tuple[str, ...] = ("created_at",),
        delete: DataFrame | None = None,
        touch: tuple[DataFrame, dict[str, F.Column]] | None = None,
        buckets: set[int] | None = None,
    ) -> int:
        """MERGE INTO as one version, equal to ``delete_keys`` → upsert →
        ``update_keys`` in turn: ``delete`` keys (WHEN MATCHED DELETE),
        ``updates`` (WHEN MATCHED UPDATE all but the immutables, which
        keep the target's value; WHEN NOT MATCHED INSERT), ``touch`` =
        (keys, assignments) (WHEN MATCHED UPDATE SET). Cost ∝ touched
        buckets (W1 at 100 TB = a per-product rewrite, not a table one).

        ``updates`` must be unique on ``self.keys``: a hard error, not a
        silent pick (SURVEY §7.4 risk 4: nondeterministic dedupe would
        poison fingerprint state). A caller passing ``buckets`` (all its
        clauses touch) has checked that in its own action."""
        if buckets is not None:
            return self._rewrite(buckets, updates, delete, touch, immutable_cols)
        updates = self._conform(updates).cache() if updates is not None else None
        try:
            touched: set[int] | None = set()
            if updates is not None:
                stats = (
                    updates.groupBy(self._bucket_expr().alias("__b"))
                    .agg(F.count("*").alias("n"), F.count_distinct(F.struct(*self.keys)).alias("k"))
                    .collect()
                )
                if any(r["n"] != r["k"] for r in stats):
                    raise ValueError(f"merge updates not unique on {self.keys}")
                touched = {int(r["__b"]) for r in stats}
            for keys in (delete, touch and touch[0]):
                if keys is not None:
                    hit = self._key_buckets(keys)
                    touched = None if hit is None or touched is None else touched | hit
            return self._rewrite(touched, updates, delete, touch, immutable_cols)
        finally:
            if updates is not None:
                updates.unpersist()

    def delete_where(self, condition) -> int:
        """DELETE FROM t WHERE condition, for arbitrary predicates such
        as a site purge (W2). No bucket pruning ⇒ full rewrite (the Delta
        no-matching-predicate slow path)."""
        return self._publish(self.read().filter(~condition))

    def delete_keys(
        self, keys_df: DataFrame, key_cols: list[str] | None = None, buckets: set[int] | None = None
    ) -> int:
        """DELETE rows whose key tuple appears in ``keys_df`` (`WHERE
        (k1,k2) IN (...)`, W2). Distributed — no driver-side key
        collection. Bucket-pruned whenever the key frame carries the
        bucket columns; ``buckets``, if known, saves the bucket collect."""
        keys = keys_df.select(*(key_cols or self.keys))
        return self._rewrite(self._key_buckets(keys, buckets), delete=keys)

    def update_where(self, condition, assignments: dict[str, F.Column]) -> int:
        """UPDATE t SET ... WHERE condition (W3/W4 error-marking and
        timestamp-touch writes). Arbitrary predicate ⇒ full rewrite."""
        updated = self.read()
        for col, expr in assignments.items():
            updated = updated.withColumn(col, F.when(condition, expr).otherwise(F.col(col)))
        return self._publish(updated)

    def update_keys(
        self, keys_df: DataFrame, assignments: dict[str, F.Column], key_cols: list[str]
    ) -> int:
        """UPDATE rows whose key tuple appears in ``keys_df`` — `UPDATE
        ... WHERE key IN (...)` without a driver-side id list, so a
        corpus-wide timestamp touch never collects keys. Bucket-pruned
        when the key frame carries the bucket columns."""
        keys = keys_df.select(*key_cols)
        return self._rewrite(self._key_buckets(keys), touch=(keys, assignments))

    def _key_buckets(self, keys: DataFrame, buckets: set[int] | None = None) -> set[int] | None:
        """The buckets a key frame touches (a ≤n_buckets-row collect,
        never row data), or None when it cannot be pruned: no bucket
        columns in the keys, or a legacy snapshot."""
        if not set(self.bucket_cols) <= set(keys.columns) or self._is_legacy():
            return None
        if buckets is None:
            buckets = {int(r[0]) for r in keys.select(self._bucket_expr()).distinct().collect()}
        return buckets

    def _rewrite(
        self,
        touched: set[int] | None,
        updates: DataFrame | None = None,
        delete: DataFrame | None = None,
        touch: tuple[DataFrame, dict[str, F.Column]] | None = None,
        immutable_cols: tuple[str, ...] = (),
    ) -> int:
        """The one keyed write: the ``touched`` buckets' rows and every
        clause's rows are unioned and hash-partitioned on the bucket (as
        the write needs anyway); each clause finds its matches with a
        window over (bucket, keys), which that partitioning satisfies:
        one shuffle, one write. ``touched`` None (keys without the bucket
        columns) or a legacy snapshot (no bucket->file mapping to carry
        untouched buckets over) rewrites the whole table."""
        if touched is not None and not touched:  # nothing matched: no-op
            return self.current_version()
        full = touched is None or self._is_legacy()
        src = F.col("__src")
        rows = self._scan(self.current_version(), None if full else touched)
        rows = rows.withColumn("__src", F.lit(0))
        clauses = (None if updates is None else self._conform(updates), delete, touch and touch[0])
        for i, df in enumerate(clauses, 1):
            if df is not None:
                rows = rows.unionByName(df.withColumn("__src", F.lit(i)), allowMissingColumns=True)
        if not full:
            rows = self._bucketed(rows, len(touched))
        bucket = [] if full else ["__b"]

        def matched(i: int, cols: list[str]) -> F.Column:  # a clause-i row shares these keys
            return F.max(src == i).over(Window.partitionBy(*bucket, *cols))

        kept = (src != 0) | ~F.col("__hit")  # drops a matched target row
        if delete is not None:
            rows = rows.withColumn("__hit", matched(2, delete.columns)).filter(kept)
        if updates is not None:
            by_key = Window.partitionBy(*bucket, *self.keys)
            for c in set(immutable_cols) & set(self.schema.fieldNames()):
                old = F.coalesce(F.max(F.when(src == 0, F.col(c))).over(by_key), F.col(c))
                rows = rows.withColumn(c, F.when(src == 1, old).otherwise(F.col(c)))
            rows = rows.withColumn("__hit", matched(1, self.keys)).filter(kept)
        if touch is not None:
            rows = rows.withColumn("__hit", matched(3, touch[0].columns))
            for col, expr in touch[1].items():
                hit = expr.cast(self.schema[col].dataType)
                rows = rows.withColumn(col, F.when(F.col("__hit"), hit).otherwise(F.col(col)))
        out = rows.filter(src <= 1).select(
            *[F.col(f.name).cast(f.dataType) for f in self.schema], *bucket
        )
        return self._publish(out, None if full else touched)

    # -- helpers -----------------------------------------------------------

    def _conform(self, df: DataFrame) -> DataFrame:
        """Project/cast to the store schema (missing nullable cols → NULL)."""
        cols = []
        for field in self.schema.fields:
            if field.name in df.columns:
                cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
            elif field.nullable:
                cols.append(F.lit(None).cast(field.dataType).alias(field.name))
            else:
                raise ValueError(f"missing non-nullable column {field.name!r}")
        return df.select(*cols)


def sync_state_store(spark: SparkSession, root: str | None = None) -> ParquetMergeStore:
    root = root or os.path.join(tempfile.gettempdir(), f"wcvec-state-{uuid.uuid4().hex[:8]}")
    return ParquetMergeStore(
        spark, root, SYNC_STATE_SCHEMA, STATE_KEYS, bucket_cols=["product_id"]
    )


def vector_index_store(spark: SparkSession, root: str | None = None) -> ParquetMergeStore:
    root = root or os.path.join(tempfile.gettempdir(), f"wcvec-index-{uuid.uuid4().hex[:8]}")
    return ParquetMergeStore(
        spark, root, VECTOR_INDEX_SCHEMA, INDEX_KEYS, bucket_cols=["product_id"]
    )
