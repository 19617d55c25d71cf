"""Table maintenance for transactional sinks (streaming/txn.py).

Streaming sinks append one-or-more files per micro-batch; after days
of small batches a day partition holds hundreds of tiny files and
every read pays file-open + footer overhead (the classic lakehouse
small-file problem — Delta's OPTIMIZE, Hive's concatenate).
:func:`txn_compact` is the one compaction path: it stages the
rewrite beside the committed files and retires them with one
conditional replace commit, so no committed file ever moves. Also
here: :func:`write_zordered`, the Z-order write layout.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

TARGET_FILE_BYTES = 128 * 1024 * 1024
MIN_FILES_TO_COMPACT = 4


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

    It never moves a committed file: the compacted rewrite is staged
    beside the originals and a new manifest version retires them, so
    TIME TRAVEL to every pre-compaction version keeps working until
    vacuum, and a crash at ANY point leaves the committed snapshot
    untouched (staged orphans are manifest-invisible, reclaimed by
    ``txn.vacuum``).

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
