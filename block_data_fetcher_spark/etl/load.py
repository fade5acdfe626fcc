"""Load: idempotent keyed upserts to parquet tables (reference
``src/etl/load.rs`` — `INSERT ... ON CONFLICT DO UPDATE` inside one
atomic transaction per batch, S6-S8).

Plain parquet has no MERGE, so upsert = union(existing, incoming) →
last-wins-by-key window (:func:`..operators.windows.last_wins`) →
atomic directory swap. Idempotence contract (ST6): re-loading any
batch leaves the table unchanged; newest write wins per key, ordered
by an explicit version column (the reference's `processed_at=NOW()`).

Scale: at 100 TB the swap-rewrite becomes partition-overwrite
(`partitionOverwriteMode=dynamic` on date/slot-bucket partitions) or a
Delta/Iceberg MERGE — only touched partitions rewrite; the last-wins
window shuffles once on the key, which matches the target layout, so
the shuffle doubles as the write-partitioning.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.windows import last_wins


def _exists(path: str) -> bool:
    return os.path.exists(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    )


def _restore(path: str) -> None:
    """Undo a swap cut between its two renames: the live table is only
    at `path.old`, so move it back before the next commit reads `path`
    (the batch whose copy was left in its temp dir never committed)."""
    old = path + ".old"
    if not os.path.exists(path) and os.path.exists(old):
        os.replace(old, path)


def _atomic_swap(path: str, tmp: str) -> None:
    """Crash-safe directory swap: rename the live table ASIDE first
    (`path` -> `path.old`), move `tmp` into place, then delete the
    aside copy. A crash at any point leaves either the old table at
    `path` or at `path.old` (which :func:`_restore` moves back) plus
    the complete new one at `tmp` — never a window with NO copy, which
    the naive rmtree-then-replace had. (On a real object store this is
    the same two-phase commit a Delta/Iceberg snapshot swap gives you
    for free.)"""
    old = path + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(path):
        os.replace(path, old)
    os.replace(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


_BATCH_MARKER = "_last_batch_id"


def _read_batch_marker(path: str) -> int | None:
    marker = os.path.join(path, _BATCH_MARKER)
    if os.path.exists(marker):
        with open(marker) as fh:
            return int(fh.read().strip())
    return None


def commit_table(
    spark: SparkSession,
    path: str,
    build: Callable[[DataFrame | None], DataFrame],
    batch_id: int | None = None,
) -> int:
    """The one table commit every sink shares (the batch-atomicity
    analog of load.rs:161-287): restore an interrupted swap, hand the
    stored table (None when there is none) to `build`, write its
    result to a temp dir beside `path`, count it, then swap it in.
    Readers see the old or the new table, never a partial one; a
    failed write leaves the table as it was and removes the temp dir.
    A `batch_id` is persisted in the ``_last_batch_id`` marker inside
    the temp dir, so it commits in the same rename as the data.
    Returns the committed row count."""
    _restore(path)
    out = build(spark.read.parquet(path) if _exists(path) else None)
    parent = os.path.dirname(path) or "."
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="commit_", dir=parent)
    try:
        out.write.mode("overwrite").parquet(tmp)
        n = spark.read.parquet(tmp).count()
        if batch_id is not None:
            with open(os.path.join(tmp, _BATCH_MARKER), "w") as fh:
                fh.write(str(batch_id))
        _atomic_swap(path, tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return n


def upsert_parquet(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    keys: list[str],
    order: list[str],
) -> int:
    """UPSERT-by-key into a parquet table (reference S6/S7). `order`
    columns break ties DESC — incoming rows must carry a version column
    (e.g. `processed_at`, `ts`) so newest wins deterministically.
    Returns the post-upsert row count."""
    return commit_table(
        spark,
        path,
        lambda existing: last_wins(
            incoming if existing is None else existing.unionByName(incoming),
            keys,
            order,
        ),
    )


def merge_aggregate(
    spark: SparkSession,
    partials: DataFrame,
    path: str,
    keys: list[str],
    batch_id: int | None = None,
) -> int:
    """Algebraic aggregate maintenance: merge a batch's per-key
    PARTIAL aggregates (columns besides `keys` must be sum-mergeable —
    counts and sums, the algebraic class) into the stored aggregate
    table by key-wise addition.

    This is the incremental-materialized-view half of the sink family:
    `upsert_parquet` keeps the newest ROW per key; this keeps the
    running AGGREGATE per key, so a replayed batch is NOT idempotent
    by itself. foreachBatch delivery is AT-LEAST-once (a crash after
    the table swap but before the checkpoint commit replays the
    batch), so callers pass Spark's ``batch_id`` and :func:`commit_table`
    persists it in the table's ``_last_batch_id`` marker, atomically
    with the merge. A replayed ``batch_id <= stored`` is skipped: the
    standard foreachBatch idempotence pattern. At 100 TB the stored
    side is |keys| rows, not |events| — the merge cost is bounded by
    key cardinality."""
    if batch_id is not None:
        _restore(path)
        stored = _read_batch_marker(path)
        if stored is not None and batch_id <= stored:
            return spark.read.parquet(path).count()
    value_cols = [c for c in partials.columns if c not in keys]

    def build(existing: DataFrame | None) -> DataFrame:
        merged = partials if existing is None else existing.unionByName(partials)
        return merged.groupBy(*keys).agg(*[F.sum(c).alias(c) for c in value_cols])

    return commit_table(spark, path, build, batch_id)


def insert_if_absent(
    spark: SparkSession, incoming: DataFrame, path: str, keys: list[str]
) -> int:
    """`ON CONFLICT DO NOTHING` (reference S9): anti-join incoming
    against existing keys, append only the new rows."""

    def build(existing: DataFrame | None) -> DataFrame:
        if existing is None:
            return incoming
        new_rows = incoming.join(existing.select(*keys), keys, "left_anti")
        return existing.unionByName(new_rows)

    return commit_table(spark, path, build)


def stream_upsert(
    stream_df: DataFrame,
    path: str,
    keys: list[str],
    order: list[str],
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming sink: foreachBatch → keyed upsert (reference S8's
    per-batch atomic transaction; exactly-once-by-key across retries
    because the upsert is idempotent)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        upsert_parquet(batch_df.sparkSession, batch_df, path, keys, order)

    writer = stream_df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint or tempfile.mkdtemp(prefix="ckpt_upsert_")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
