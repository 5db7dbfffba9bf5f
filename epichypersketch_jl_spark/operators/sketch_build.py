"""Distributed sketch build: partition-local numpy build inside mapInArrow,
then an associative tree merge of serialized blobs.

This is the Spark-native replacement for the reference's implicit merge
(all batches/partitions mutate ONE shared sketch object sequentially,
src/count_gpu_extract.jl:41-44, src/partition.jl:148).  Making the merge an
explicit `+` over seed-aligned sketches is what buys:

  * no shuffle of raw data — each task reads its split once, ships back a
    fixed-size blob (MBs) regardless of input size;
  * partition/order invariance (merge is associative + commutative);
  * the two-phase global-sketch-then-select design that removes the
    reference's cross-partition under-count caveat (src/partition.jl:271-287);
  * resumability: with a checkpoint dir, per-bucket blobs are persisted and
    completed buckets are skipped on re-run (north_rule requirement).

Scale notes (1000-executor / 100 TB): the build is map-only; the reduction is
`treeReduce` over ~#tasks blobs with depth 2 (fan-in ~sqrt(tasks)).  The
checkpointed path moves rows through one exchange pinned at n_buckets
partitions, so the bucket builds run as wide as the plain build; a resume
reads the checkpoint's blobs in one job and re-reads no completed input.
Both paths end in the same driver merge (`merge_blobs`).
"""

from __future__ import annotations

import time
from typing import Callable, Iterator

import pyarrow as pa
from pyspark import StorageLevel
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..errors import BlobError
from ..sketches.base import MergeableSketch, from_bytes

# update_fn(sketch, record_batch, stats_dict) -> None; mutates sketch in place.
UpdateFn = Callable[[MergeableSketch, pa.RecordBatch, dict], None]

_BLOB_ARROW_SCHEMA = pa.schema(
    [
        ("part_id", pa.int32()),
        ("sketch", pa.binary()),
        ("n_rows", pa.int64()),
        ("n_tokens", pa.int64()),
        ("n_updates", pa.int64()),
        ("wall_ms", pa.float64()),
    ]
)

BLOB_SCHEMA = StructType(
    [
        StructField("part_id", IntegerType(), False),
        StructField("sketch", BinaryType(), False),
        StructField("n_rows", LongType(), False),
        StructField("n_tokens", LongType(), False),
        StructField("n_updates", LongType(), False),
        StructField("wall_ms", DoubleType(), False),
    ]
)


def merge_blob_bytes(a: bytes, b: bytes) -> bytes:
    sk = from_bytes(a)
    fast = getattr(sk, "merge_blob_inplace", None)
    if fast is not None:
        return fast(b).to_bytes()
    return sk.merge(from_bytes(b)).to_bytes()


def merge_blobs(blobs: list[bytes], zero_fn: Callable[[], MergeableSketch]) -> MergeableSketch:
    """The driver merge both builders end in: CMS decodes every blob into one
    int64 accumulator (`merge_blobs_inplace`); other sketches fold `merge`."""
    if not blobs:
        return zero_fn()
    sk = from_bytes(blobs[0])
    bulk = getattr(sk, "merge_blobs_inplace", None)
    if bulk is not None:
        return bulk(blobs[1:])
    for b in blobs[1:]:
        sk = sk.merge(from_bytes(b))
    return sk


def _build_blob(part_id: int, batches, zero_fn, update_fn: UpdateFn) -> pa.RecordBatch:
    """One task's sketch over `batches`, as a one-row BLOB_SCHEMA batch."""
    t0 = time.monotonic()
    sk = zero_fn()
    stats = {"n_rows": 0, "n_tokens": 0, "n_updates": 0}
    for b in batches:
        update_fn(sk, b, stats)
    return pa.RecordBatch.from_pydict(
        {
            "part_id": [part_id],
            "sketch": [sk.to_bytes()],
            "n_rows": [stats["n_rows"]],
            "n_tokens": [stats["n_tokens"]],
            "n_updates": [stats["n_updates"]],
            "wall_ms": [(time.monotonic() - t0) * 1000.0],
        },
        schema=_BLOB_ARROW_SCHEMA,
    )


def _make_build_fn(zero_fn: Callable[[], MergeableSketch], update_fn: UpdateFn):
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        yield _build_blob(ctx.partitionId() if ctx is not None else -1, batches, zero_fn, update_fn)

    return fn


def build_sketch_distributed(
    df: DataFrame,
    zero_fn: Callable[[], MergeableSketch],
    update_fn: UpdateFn,
    *,
    tree_depth: int = 2,
    collect_threshold: int = 256,
) -> tuple[MergeableSketch, list[dict]]:
    """Fast path: one map-only pass, no shuffle of raw rows.

    Returns (merged sketch, per-task metrics).  One (compressed) blob per
    input partition.  Merge strategy is adaptive:
      * small fan-in (local mode, <= collect_threshold partitions): one job,
        collect blobs, merge driver-side — no extra stages;
      * large fan-in (real clusters): treeReduce with depth 2, so the driver
        receives exactly one blob regardless of task count.
    """
    out = df.mapInArrow(_make_build_fn(zero_fn, update_fn), BLOB_SCHEMA)
    n_parts = df.rdd.getNumPartitions()
    if n_parts <= collect_threshold:
        rows = out.collect()  # single job
        sk = merge_blobs([bytes(r.sketch) for r in rows], zero_fn)
        return sk, [{k: v for k, v in r.asDict().items() if k != "sketch"} for r in rows]
    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        blob_rdd = out.select("sketch").rdd.map(lambda r: bytes(r[0]))
        if blob_rdd.isEmpty():
            return zero_fn(), []
        merged_bytes = blob_rdd.treeReduce(merge_blob_bytes, depth=tree_depth)
        metrics = [r.asDict() for r in out.drop("sketch").collect()]
    finally:
        out.unpersist()
    return from_bytes(merged_bytes), metrics


def resolve_checkpoint_dir(spark, prefix: str) -> str:
    """Resolve a fresh checkpoint directory for build_sketch_checkpointed.

    Uses `spark.epichypersketch.checkpointDir` when set (REQUIRED on a real
    cluster: executors write bucket blobs with spark parquet writes, so the
    path must be on a filesystem every executor AND the driver can see —
    HDFS/S3/NFS).  Falls back to a driver-local tempdir, which is correct
    only in local mode where driver and "executors" share one machine.
    """
    import tempfile
    import uuid

    base = spark.conf.get("spark.epichypersketch.checkpointDir", None)
    if base:
        return f"{base.rstrip('/')}/{prefix}{uuid.uuid4().hex}"
    return tempfile.mkdtemp(prefix=prefix)


def delete_dir(spark, path: str) -> None:
    """Recursively delete `path` through the Hadoop FileSystem API, so it
    works for both local dirs and shared-filesystem checkpoint dirs."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(hpath, True)


def _read_checkpoint(spark, checkpoint_dir: str) -> dict:
    """{bucket: blob row} of checkpoint_dir in one job (the explicit schema
    skips footer inference); a bucket appended twice keeps its smallest
    wall_ms.  Only a missing directory reads as empty; anything else raises."""
    try:
        rows = spark.read.schema(BLOB_SCHEMA).parquet(checkpoint_dir).collect()
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return {}
        raise
    best: dict = {}
    for r in rows:
        if any(v is None for v in r):  # a BLOB_SCHEMA column the file lacks
            raise BlobError(f"{checkpoint_dir} holds a row that is not a sketch blob")
        if r.part_id not in best or r.wall_ms < best[r.part_id].wall_ms:
            best[r.part_id] = r
    return best


def build_sketch_checkpointed(
    df: DataFrame,
    zero_fn: Callable[[], MergeableSketch],
    update_fn: UpdateFn,
    *,
    checkpoint_dir: str,
    n_buckets: int = 64,
    doc_id_col: str = "doc_id",
) -> tuple[MergeableSketch, list[dict]]:
    """Resumable path: rows are hashed into stable buckets, one sketch blob is
    built and persisted per bucket, and completed buckets are skipped on
    re-run.  Costs one exchange pinned at n_buckets partitions — the price of
    bucket-atomic checkpoints — plus one blob read before the write and one
    after it if anything was written; the blobs end in `merge_blobs`.  Each
    metrics row's `reused` says whether its blob came from checkpoint_dir.
    """
    spark = df.sparkSession
    done = _read_checkpoint(spark, checkpoint_dir)
    missing = set(range(n_buckets)) - done.keys()
    bucketed = df.withColumn(
        "__bucket", F.pmod(F.xxhash64(F.col(doc_id_col)), F.lit(n_buckets)).cast("int")
    )
    todo = bucketed.filter(F.col("__bucket").isin(*missing)) if done else bucketed

    def fn(key: tuple, table: pa.Table) -> pa.Table:
        batches = table.drop_columns(["__bucket"]).to_batches()
        return pa.Table.from_batches([_build_blob(key[0].as_py(), batches, zero_fn, update_fn)])

    blobs = done
    # The partition count MUST be pinned: the exchange carries few rows, so
    # AQE would coalesce it to one partition and build every bucket serially
    # in one task (measured: the bucket stage ran 1 task until pinned).
    # groupBy reuses this hash partitioning: the plan keeps one Exchange.
    if missing and (not done or todo.limit(1).count() > 0):
        todo.repartition(n_buckets, "__bucket").groupBy("__bucket").applyInArrow(
            fn, BLOB_SCHEMA
        ).write.mode("append").parquet(checkpoint_dir)
        blobs = _read_checkpoint(spark, checkpoint_dir)
    rows = [blobs[b] for b in sorted(blobs)]
    sk = merge_blobs([bytes(r.sketch) for r in rows], zero_fn)
    metrics = [
        {**{k: v for k, v in r.asDict().items() if k != "sketch"}, "reused": r.part_id in done}
        for r in rows
    ]
    return sk, metrics
