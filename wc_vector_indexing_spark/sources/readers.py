"""Table loaders for the driver-generated synthetic star schema
(TESTDATA.md) plus synthesis of the reference-shaped ``products`` corpus.

The reference's source "table" is the WooCommerce catalog (SURVEY §1.1);
FIXTURES.md §1 maps it onto the test tables: ``part`` provides ids /
titles / brands / prices, ``documents`` provides long-form description
text. ``products()`` builds that shape as a pure DataFrame expression —
no materialization, so Catalyst can prune/push down through it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Lazy-frame memo of ONE session, keyed by (dir, table): building the
# scan frame costs 115-215 ms of driver-side work per call (parquet
# schema inference + FS setup + py4j), and a catalog run calls load()
# for the same handful of tables hundreds of times. The memoized value
# is the UNMATERIALIZED scan DataFrame — no rows, no results, no
# cross-process state: every action still computes from the parquet
# files. A frame holds its session, so a load() from another session
# drops every frame of the previous one (re-inferring from scratch)
# rather than keep a stopped or replaced session alive.
_load_memo: tuple[SparkSession | None, dict] = (None, {})


def load(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """The scan frame of table ``name`` under ``sf_dir``, memoized per
    session. The datasets are static: a table's files must not change
    while a session uses them, since a hit reuses the file listing and
    schema of the first load()."""
    global _load_memo
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; known: {TABLES}")
    if _load_memo[0] is not spark:
        _load_memo = (spark, {})
    frames = _load_memo[1]
    key = (os.path.realpath(sf_dir), name)
    memo = frames.get(key)
    if memo is not None:
        return memo
    # Defensive session confs: the caller may hand us a session built
    # without the engine defaults (e.g. the correctness driver). Both are
    # runtime-settable SQL confs. nanosAsLong is required to read the
    # nanosecond event timestamps at all; UTC is the engine's timestamp
    # contract (all reference timestamps are UTC) and what the DuckDB
    # oracle comparison assumes.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # events.ts is TIMESTAMP(NANOS); with legacy nanosAsLong it arrives as
    # a long of epoch-nanos — convert to a proper timestamp (µs, floor),
    # matching what DuckDB/py fetch at µs precision.
    for f in df.schema.fields:
        if f.name == "ts" and f.dataType.typeName() == "long":
            # integer division — double division loses precision at 1e18
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif f.name == "ts" and f.dataType.typeName() == "timestamp_ntz":
            # µs-precision files arrive as TIMESTAMP_NTZ; normalize to
            # TIMESTAMP so epoch functions (unix_micros &c.) resolve.
            # Session tz is UTC, so the cast is value-identity — the
            # same wall-clock contract the DuckDB oracle assumes.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    frames[key] = df
    return df


# binaryFile's fixed output schema; the file-STREAM source requires it
# restated explicitly, and every whole-file streaming twin (WARC,
# TFRecord, Avro, Arrow IPC) shares this one definition.
BINARYFILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def binaryfile_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source ``readStream`` over the binaryFile layout that every
    whole-file reader here parses — the shared front half of the
    streaming twins. The schema is a restatement of binaryFile's fixed
    output, not a choice; it lives in ONE place so a Spark-side change
    is a one-line fix."""
    return (
        spark.readStream.format("binaryFile")
        .schema(BINARYFILE_SCHEMA)
        .load(path)
    )


HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def hive_partition_path(base: str, partition_by: list[str], values) -> str:
    """``base/col=value/...`` directory for one partition-value tuple,
    hive-style: values URL-escaped (Spark's own convention for
    partition directories), NULL as the hive default-partition
    sentinel. Shared by the partitioned interchange sinks."""
    from urllib.parse import quote

    parts = []
    for col, v in zip(partition_by, values):
        if v is None or (isinstance(v, float) and v != v):
            sv = HIVE_NULL
        else:
            sv = quote(str(v), safe="")
        parts.append(f"{col}={sv}")
    return os.path.join(base, *parts)


def eager_manifest(df: DataFrame, dump,
                   schema: str = "shard string, n_records long") -> DataFrame:
    """One-shard-per-task sink epilogue shared by the interchange
    writers: run ``dump`` (an Arrow mapInPandas partition function
    that writes its own shard and yields one manifest row), cache, and
    force the action — the write IS the action, and the manifest is
    bounded at one row per partition."""
    manifest = df.mapInPandas(dump, schema=schema)
    manifest = manifest.cache()
    manifest.count()
    return manifest


def products(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Reference-shaped product corpus (FIXTURES.md §1) synthesized from
    ``part`` ⋈ ``documents``.

    Columns: product_id, parent_id, product_type, status, title,
    short_description, description, sku, price, sale_price, stock_status,
    permalink, image_alt, modified_at.

    Deterministic derivations (no randomness):
      * description  = documents.text keyed by doc_id = p_partkey % |documents|
      * product_type = 'variable' for every 10th part, else 'simple';
        variations are *not* synthesized here (rollup tests build their own)
      * modified_at  = fixed epoch + p_partkey seconds (stable watermark axis)
    """
    part = load(spark, "part", sf_dir)
    docs = load(spark, "documents", sf_dir).select(
        F.col("doc_id").alias("_doc_id"), F.col("text").alias("description")
    )
    n_docs = docs.count()
    return (
        part.withColumn("_doc_id", (F.col("p_partkey") % F.lit(n_docs)).cast("long"))
        .join(F.broadcast(docs), "_doc_id", "left")
        .select(
            F.col("p_partkey").alias("product_id"),
            F.lit(0).cast("long").alias("parent_id"),
            F.when((F.col("p_partkey") % 10) == 0, "variable")
            .otherwise("simple")
            .alias("product_type"),
            F.when((F.col("p_partkey") % 25) == 0, "draft")
            .otherwise("publish")
            .alias("status"),
            F.col("p_name").alias("title"),
            F.concat(F.lit("Brand "), F.col("p_brand")).alias("short_description"),
            F.coalesce(F.col("description"), F.lit("")).alias("description"),
            F.concat(F.lit("SKU-"), F.col("p_partkey").cast("string")).alias("sku"),
            F.col("p_retailprice").alias("price"),
            (F.col("p_retailprice") * 0.9).alias("sale_price"),
            F.when((F.col("p_partkey") % 7) == 0, "outofstock")
            .otherwise("instock")
            .alias("stock_status"),
            F.concat(F.lit("https://shop.example/p/"), F.col("p_partkey").cast("string")).alias(
                "permalink"
            ),
            F.col("p_type").alias("image_alt"),
            (
                F.to_timestamp(F.lit("2025-01-01 00:00:00"))
                + F.make_interval(secs=F.col("p_partkey").cast("double"))
            ).alias("modified_at"),
        )
    )


def read_jsonl_corpus(
    spark: SparkSession,
    path: str,
    schema,
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """Web-scale JSONL ingest with corrupt-record quarantine: crawl
    dumps and vendor feeds always carry some malformed lines, and the
    default FAILFAST/DROPMALFORMED choices are both wrong at 100 TB
    (one bad byte kills the job / bad rows vanish silently). PERMISSIVE
    mode routes every unparseable line into ``corrupt_col`` instead;
    this returns

        (good, quarantine)  —  good: ``schema``-typed rows only;
                               quarantine: (corrupt_col) raw lines,
                               write them next to the corpus and fix
                               the producer.

    The explicit schema also skips inference (a second full scan of
    100 TB). The scan is cached before splitting: Spark disallows
    queries that reference ONLY the internal corrupt column on a raw
    JSON scan, and the cache also keeps the two branches one read.
    Release with ``good.unpersist()`` semantics via the returned
    frames' shared parent — or just let the job end."""
    from pyspark.sql import types as T

    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType(), True)]
    )
    raw = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
        .cache()
    )
    good = raw.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    quarantine = raw.filter(F.col(corrupt_col).isNotNull()).select(corrupt_col)
    return good, quarantine
