"""Table maintenance: small-file compaction for partitioned parquet
sinks.

Streaming sinks (streaming/ingest.py, streaming/cagg.py,
streaming/dedupgate.py) append one-or-more files per micro-batch;
after days of small batches a day partition holds hundreds of tiny
files and every read pays file-open + footer overhead (the classic
lakehouse small-file problem — Delta's OPTIMIZE, Hive's
concatenate). No Delta in this environment, so compaction is
staged-rewrite-and-atomic-swap per partition:

1. read the partition, coalesce toward TARGET_FILE_BYTES;
2. write to a staging dir BESIDE the partition (same filesystem);
3. atomically swap via two renames (partition -> trash, staging ->
   partition), then delete trash.

Readers that resolved the old directory keep their file handles
(POSIX rename semantics locally; on an object store this becomes a
manifest swap — the Delta/Iceberg seam documented in SCALE.md).
Only partitions whose file count exceeds the threshold are touched;
row identity is the invariant the test asserts.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

TARGET_FILE_BYTES = 128 * 1024 * 1024
MIN_FILES_TO_COMPACT = 4


def _partition_dirs(table_dir: str) -> list[str]:
    out = []
    for name in sorted(os.listdir(table_dir)):
        full = os.path.join(table_dir, name)
        # Leading "_"/"." dirs are invisible to Spark's partition
        # discovery (hidden-path filter) — our scratch dirs live
        # there, and they must never be compacted as if they were
        # real partitions (round-3 advisor finding).
        if name.startswith(("_", ".")):
            continue
        if os.path.isdir(full) and "=" in name:
            out.append(full)
    return out


def _scratch_dirs(part_dir: str) -> tuple[str, str]:
    """Staging/trash dir names for a partition, prefixed with "_" so
    Spark partition discovery ignores them even if a crash between
    the swap renames and the rmtree leaves them behind. The "=" is
    encoded out of the name: Spark's hidden-path filter does NOT
    protect a name like ``_tmp.day=x`` — the "=" makes partition
    inference read it as a partition column named ``_tmp.day`` and
    fail with CONFLICTING_PARTITION_COLUMN_NAMES (verified by
    tests/test_streaming.py::test_compaction_crash_leftovers_...)."""
    parent, base = os.path.split(part_dir)
    base = base.replace("=", "~")
    return (
        os.path.join(parent, "_compact_tmp." + base),
        os.path.join(parent, "_compact_trash." + base),
    )


def clean_stale_scratch(table_dir: str) -> list[str]:
    """Remove scratch dirs left by a crashed previous compaction run.
    Safe at any point: a leftover ``_compact_tmp.*`` is an
    incomplete rewrite (the real partition was never renamed away);
    a leftover ``_compact_trash.*`` means the swap completed but the
    cleanup rmtree didn't — in both cases the live partition dir is
    intact, so deleting scratch loses nothing."""
    removed = []
    for name in sorted(os.listdir(table_dir)):
        if name.startswith(("_compact_tmp.", "_compact_trash.")):
            shutil.rmtree(os.path.join(table_dir, name), ignore_errors=True)
            removed.append(name)
    return removed


def _data_files(part_dir: str) -> list[str]:
    return [
        f
        for f in os.listdir(part_dir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]


def compact_partitioned_table(
    spark: SparkSession,
    table_dir: str,
    min_files: int = MIN_FILES_TO_COMPACT,
) -> dict[str, tuple[int, int]]:
    """Compact every hive-partitioned subdirectory of ``table_dir``
    whose small-file count is >= ``min_files``. Returns
    {partition_name: (files_before, files_after)} for the touched
    partitions only — untouched partitions are never rewritten
    (asserted by test via mtimes)."""
    results: dict[str, tuple[int, int]] = {}
    clean_stale_scratch(table_dir)
    for part_dir in _partition_dirs(table_dir):
        files = _data_files(part_dir)
        if len(files) < min_files:
            continue
        total_bytes = sum(
            os.path.getsize(os.path.join(part_dir, f)) for f in files
        )
        n_out = max(1, (total_bytes + TARGET_FILE_BYTES - 1) // TARGET_FILE_BYTES)
        staging, trash = _scratch_dirs(part_dir)
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(trash, ignore_errors=True)
        (
            spark.read.parquet(part_dir)
            .coalesce(int(n_out))
            .write.mode("overwrite")
            .parquet(staging)
        )
        # atomic-ish swap: two renames on the same filesystem
        os.rename(part_dir, trash)
        os.rename(staging, part_dir)
        shutil.rmtree(trash)
        results[os.path.basename(part_dir)] = (
            len(files),
            len(_data_files(part_dir)),
        )
    return results


def txn_compact(
    spark: SparkSession,
    sink_dir: str,
    min_files: int = MIN_FILES_TO_COMPACT,
    target_bytes: int = TARGET_FILE_BYTES,
    max_attempts: int = 5,
    _test_between_stage_and_commit=None,
) -> dict[str, tuple[int, int]]:
    """Delta OPTIMIZE for a transactional sink (streaming/txn.py):
    rewrite every partition whose COMMITTED file count is >=
    ``min_files`` into ~``target_bytes`` files, published as ONE
    ``commit_replace`` — so a multi-partition compaction is a single
    transaction and readers see old-or-new, never a mix.

    Unlike :func:`compact_partitioned_table` (directory sinks, rename
    swap), this never moves a committed file: the compacted rewrite
    is staged beside the originals and a new manifest version retires
    them, so TIME TRAVEL to every pre-compaction version keeps
    working until vacuum, and a crash at ANY point leaves the
    committed snapshot untouched (staged orphans are
    manifest-invisible, reclaimed by ``txn.vacuum``).

    Concurrency: optimistic, Delta-style. The rewrite derives from
    the snapshot version it read and commits with
    ``commit_replace_if(expected_version=...)``; if a concurrent
    append lands first the conditional commit refuses (else the
    append's files would silently drop out of the rewritten
    partitions — a lost update) and the whole derive-stage-commit
    cycle retries on the new head, up to ``max_attempts``.

    Returns {partition_dir: (files_before, files_after)} for touched
    partitions. ``_test_between_stage_and_commit`` is a test-only
    hook for injecting a concurrent commit into the race window.
    """
    from .streaming import txn

    for _ in range(max_attempts):
        vs = txn.versions(sink_dir)
        if not vs:
            return {}
        head = vs[-1]
        snap = txn._snapshot_at(sink_dir, head)
        by_dir: dict[str, list[str]] = {}
        for f in snap.listing:
            by_dir.setdefault(os.path.dirname(f), []).append(f)
        todo = {d: fs for d, fs in by_dir.items() if len(fs) >= min_files}
        if not todo:
            return {}
        results: dict[str, tuple[int, int]] = {}
        new_files: list[str] = []
        for part_dir, files in sorted(todo.items()):
            paths = [os.path.join(sink_dir, f) for f in files]
            total_bytes = sum(os.path.getsize(p) for p in paths)
            n_out = max(1, (total_bytes + target_bytes - 1) // target_bytes)
            partition_cols = tuple(
                seg.split("=", 1)[0]
                for seg in part_dir.split(os.sep)
                if "=" in seg
            )
            df = spark.read.option("basePath", sink_dir).parquet(*paths)
            # Apply the snapshot's deletion vectors for these files:
            # a raw-file rewrite would RESURRECT DV-deleted rows
            # (round 6). The replace commit then retires the old
            # files' DVs with the files, so the compacted output is
            # DV-free by construction.
            df = txn._apply_dv(spark, df, sink_dir, snap, set(files))
            staged = txn.stage_append(
                df.coalesce(int(n_out)), sink_dir, partition_cols
            )
            new_files += staged
            results[part_dir] = (len(files), len(staged))
        if _test_between_stage_and_commit is not None:
            _test_between_stage_and_commit()
        if txn.commit_replace_if(
            sink_dir, new_files, expected_version=head, op="optimize"
        ):
            return results
        # lost the race: staged files stay manifest-invisible until
        # vacuum; re-derive from the new head
    raise RuntimeError(
        f"txn_compact lost the commit race {max_attempts} times on {sink_dir}"
    )


def table_row_fingerprint(spark: SparkSession, table_dir: str) -> tuple[int, str]:
    """(row_count, order-insensitive content hash) of a parquet
    table — the before/after invariant for compaction."""
    df = spark.read.parquet(table_dir)
    h = F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in sorted(df.columns)]))
    agg = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.conv(F.substring("h", 1, 15), 16, 10).cast("decimal(38,0)")).alias("s"),
    ).collect()[0]
    return agg["n"], str(agg["s"])


def write_zordered(
    df,
    out_dir: str,
    col_a: str,
    col_b: str,
    n_files: int = 8,
    z_bits: int = 16,
) -> None:
    """OPTIMIZE ZORDER's write path (q163 measures the layout; this
    PRODUCES it): interleave the bits of two integer columns into a
    Morton key, range-partition on it (parallel sampling-based
    ranges — no global sort funnel) and sort within each partition,
    so every output file covers a bounded range in BOTH dimensions
    and parquet footer min/max stats prune for predicates on either
    column. The key is dropped before writing — layout only."""
    terms = " + ".join(
        f"(((({col_a}) >> {i}) & 1) << {2 * i}) + "
        f"(((({col_b}) >> {i}) & 1) << {2 * i + 1})"
        for i in range(z_bits)
    )
    zdf = df.withColumn("__z", F.expr(terms))
    (
        zdf.repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
