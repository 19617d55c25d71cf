"""Transactional append for partitioned parquet sinks — the
reference's Postgres transaction analog, without Delta.

The reference's consumer gets multi-write atomicity for free from
Postgres (`BEGIN ... ON CONFLICT DO NOTHING ... COMMIT`,
examples/rabbitmq-to-postgres/app.py:158-176): a crash mid-batch
leaves NOTHING visible. A plain `df.write.mode("append")` parquet
sink has no such boundary — Spark's job commit moves task files into
the destination one by one, so a crash mid-commit leaves a SUBSET of
the batch's files visible, and (worse for this pipeline) the ingest
idempotence anti-join would then see those orphaned rows, absorb the
replayed batch, and the missing rows would never land: partial
visibility converts a transient crash into permanent data loss.

Fix: a manifest commit log — the minimal slice of the Delta/Iceberg
design that restores the transaction boundary on any filesystem with
an atomic exclusive-create primitive:

1. the micro-batch is written to a hidden staging dir
   (``<sink>/_txn/staging-*`` — leading underscore, invisible to
   Spark's partition discovery);
2. its data files are MOVED into their partition directories under
   collision-free names — still invisible, because committed readers
   go through the manifest log;
3. ONE log entry is committed by atomically creating
   ``_txn/v-NNNNNNNN.{d,c}.txt``: content is fully written to a temp
   file first, then ``os.link`` publishes it under the deterministic
   version name. The link either fully succeeds or fails with
   EEXIST — creation IS the commit (no separate pointer swap, no
   claimed-but-unpublished limbo state).

**One fold, one snapshot, one form per fact.** A version's table
state is a :class:`Snapshot` (listing with stats, schema, checks,
partition spec, column mapping, deletion-vector sidecar refs), and
:func:`_fold` is the only code that gives a log line its meaning:
it applies one entry to the snapshot before it. Reading version v
folds the nearest checkpoint at-or-below v onto :data:`EMPTY`, then
each delta after it. Every read pins one version and takes files,
schema, DVs and column mapping from that one snapshot. Each fact
has one on-disk form: deleted positions live only in DV sidecars,
bitmaps only in bloom sidecars, and a file's stats line is always
``{"n", "c"[, "b"]}`` — as in Delta, whose add actions and DV
descriptors each have a single format.

**Commit cost is O(batch), not O(table)** (round-5): a normal commit
writes a DELTA entry — the partition directories it retires
(``~dir``), then what it adds, written in the checkpoint grammar by
:func:`_serialize`. Every ``CHECKPOINT_EVERY``-th version is a
CHECKPOINT instead: ``_serialize(_fold(head, delta))``, the reader's
own replay written down, so reconstructing any snapshot reads one
checkpoint plus at most ``CHECKPOINT_EVERY - 1`` deltas. Writers
build only their delta lines; :func:`_publish` is the one CAS loop
that turns them into an entry. This is the Delta-log shape (JSON
commits + parquet checkpoints) in two plain-text file kinds.

**Data-skipping statistics** (round-6): every committed file line
may carry the file's per-column min/max bounds, harvested from the
parquet FOOTER at commit time (O(batch) metadata reads — the bytes
Spark's writer already computed; Delta does exactly this in its
``add`` actions' ``stats`` JSON). Checkpoints carry the bounds
forward, so a snapshot's complete skipping index is readable from
one checkpoint + few deltas WITHOUT touching a single data file.
:func:`prune_files` / ``read_committed(..., prune=...)`` then skip
every file whose bounds provably exclude a predicate — min/max file
skipping on NON-partition columns, the engine's analog of the
reference's physical indexes (salim/tables.sql:44-48) and the
single biggest scan lever at 100 TB (a selective predicate over a
z-ordered layout reads a handful of files instead of the table).

**Multi-writer safety** (round-5): the deterministic version name
makes the exclusive create a compare-and-swap — two writers that
both read version N race to create ``v-(N+1)``; exactly one link
succeeds, the loser re-reads the (now longer) log and retries on top
of the winner's commit, so no update is ever lost. On S3 the same
protocol is one conditional PUT with ``If-None-Match: *`` per
commit — exactly how Delta commits on S3 since conditional writes
landed; on HDFS/NFS/local it is the hard-link trick below.
tests/test_txn.py::test_two_writer_contention_one_loses_and_retries
pins the protocol.

**Retention** (round-6): :func:`vacuum` gates deletion on file AGE
(``retain_seconds`` — Delta's retention window), so a file another
writer has staged but not yet committed is never reclaimed from
under it, and can protect every version still reconstructible from
the log (``protect_log_versions=True``) so time travel keeps
working; :func:`prune_log` then retires manifest entries older than
the newest checkpoint needed for the retained horizon — time travel
WITHIN the window keeps working, BEYOND it fails cleanly with
FileNotFoundError (never a wrong answer).

Readers reconstruct a snapshot from immutable committed entries and
read exactly that file set: old-or-new, never partial (snapshot
isolation; superseded files are never deleted except by vacuum). A
crash between (2) and (3) leaves orphaned data files that no
manifest references — invisible to every reader, re-written by the
replayed batch (the checkpoint re-delivers it), and reclaimed by
:func:`vacuum`.

Adopted by EVERY streaming sink in this package (round 4): the
price ingest silver (ingest.py), the continuous-aggregate silver +
rollup (cagg.py — rollup day-partition rewrites go through
:func:`commit_replace`, making a multi-day refresh ONE transaction,
which Spark's native partitionOverwriteMode=dynamic cannot give),
the CMS sketch store (cms.py), the dedup gate's verdict + signature
stores (dedupgate.py), and the streaming IVF inverted lists
(ivf.py). In each, the idempotence anti-join reads the committed
snapshot, so a crash orphan can never absorb a replayed batch.

The READ path keeps ``option("basePath")`` so hive partition columns
survive, and partition pruning on ``ingest_date`` still skips
unlisted files.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
import uuid
from typing import Callable, Iterable, NamedTuple

from pyspark.sql import DataFrame, SparkSession

TXN_DIR = "_txn"
# Every Nth version is a full-listing checkpoint; the rest are
# O(batch) deltas. 10 bounds snapshot reconstruction at one
# checkpoint + 9 delta reads while keeping amortized commit cost at
# ~1/10th of a full listing per commit.
CHECKPOINT_EVERY = 10

_DELTA_SUFFIX = ".d.txt"
_CKPT_SUFFIX = ".c.txt"

# Stats values longer than this are dropped rather than risk acting
# on parquet's truncated string statistics (a truncated max is not a
# valid upper bound for pruning).
_STATS_MAX_STR = 64


def _txn_dir(sink_dir: str) -> str:
    return os.path.join(sink_dir, TXN_DIR)


def _entry_name(seq: int, is_checkpoint: bool) -> str:
    return f"v-{seq:08d}" + (_CKPT_SUFFIX if is_checkpoint else _DELTA_SUFFIX)


def _scan_log(sink_dir: str) -> dict[int, str]:
    """Committed versions -> entry filename. Every entry file in the
    log IS committed (creation is the commit), so this is one
    O(#versions) directory listing of bytes-sized files — never a
    data scan."""
    txn = _txn_dir(sink_dir)
    if not os.path.isdir(txn):
        return {}
    out: dict[int, str] = {}
    for fname in os.listdir(txn):
        if not fname.startswith("v-"):
            continue
        if fname.endswith(_DELTA_SUFFIX) or fname.endswith(_CKPT_SUFFIX):
            seq = fname[2:10]
            if seq.isdigit():
                out[int(seq)] = fname
    return out


def versions(sink_dir: str) -> list[int]:
    """Ascending committed snapshot versions (the manifest history —
    Delta's DESCRIBE HISTORY analog). Entries are a few bytes each;
    :func:`prune_log` retires those older than the retained
    horizon."""
    return sorted(_scan_log(sink_dir))


def _read_entry(sink_dir: str, fname: str) -> list[str]:
    with open(os.path.join(_txn_dir(sink_dir), fname), encoding="utf-8") as f:
        return [line.rstrip("\n") for line in f if line.strip()]


def _split_stats(token: str) -> tuple[str, str | None]:
    """A manifest line's payload is ``path`` or ``path\\t{stats
    json}`` — the tab can't occur in either half. Round-5 entries
    (no stats) parse unchanged."""
    if "\t" in token:
        path, stats = token.split("\t", 1)
        return path, stats
    return token, None


class Snapshot(NamedTuple):
    """One committed table state: what a version reads as."""

    listing: dict[str, str | None]  # relative path -> stats json or None
    schema: str | None  # read-schema DDL
    checks: dict[str, str]  # CHECK name -> SQL expression
    partspec: str | None  # active partition spec
    colmap: dict[str, str]  # physical column -> logical name
    dvrefs: dict[str, dict[str, int]]  # DV sidecar ref -> {path: count}


EMPTY = Snapshot({}, None, {}, None, {}, {})


def _fold(snap: Snapshot, lines: list[str]) -> Snapshot:
    """Apply one log entry to ``snap`` — the only code that gives a
    log line its meaning (``snap`` itself is never mutated):

    - ``~dir`` retires every file of partition ``dir`` with its DVs
      (the replace commit); all drops apply before the entry's other
      lines;
    - ``path[\tstats]`` adds a file with its footer stats; a
      ``+path`` prefix means the same (replace commits written
      before the checkpoint grammar was shared still carry it);
    - ``%dv\t<ref>\t{path: count}`` references an executor-written
      DV sidecar under ``_txn/<ref>`` (the positions live in parquet,
      the log carries O(#files) counts) — the only form of a
      deletion vector;
    - ``#schema\t<ddl>``, ``#partspec\t<spec>`` and
      ``#colmap\t{physical: logical}`` set the read schema, the
      active partition spec and the column mapping from this version
      on; ``#check\t<name>\t<expr>`` adds a CHECK constraint;
    - ``#op\t<name>`` tags the commit's intent (:func:`commit_op`) and
      is no snapshot state; other unknown ``#``/``%`` lines are
      skipped (forward compatibility).

    A ``-path\t[positions]`` line (the inline deletion vector no
    writer produces any more) raises ValueError: read as a file it
    would resurrect the rows it deleted. Sidecar counts of files the
    result no longer lists drop with them."""
    drops = {line[1:] for line in lines if line.startswith("~")}
    listing = (
        {p: s for p, s in snap.listing.items() if os.path.dirname(p) not in drops}
        if drops
        else dict(snap.listing)
    )
    dvrefs = {
        r: {p: n for p, n in c.items() if p in listing}
        for r, c in snap.dvrefs.items()
    }
    schema, partspec, colmap = snap.schema, snap.partspec, snap.colmap
    checks = dict(snap.checks)
    for line in lines:
        if line.startswith("~"):
            continue
        if line.startswith("%dv\t"):
            _kind, ref, counts_json = line.split("\t", 2)
            with contextlib.suppress(ValueError):
                parsed = json.loads(counts_json)
                if isinstance(parsed, dict):
                    dvrefs[ref] = {str(p): int(n) for p, n in parsed.items()}
        elif line.startswith("%"):
            pass
        elif line.startswith("#schema\t"):
            schema = line.split("\t", 1)[1]
        elif line.startswith("#partspec\t"):
            partspec = line.split("\t", 1)[1]
        elif line.startswith("#colmap\t"):
            with contextlib.suppress(ValueError):
                parsed = json.loads(line.split("\t", 1)[1])
                if isinstance(parsed, dict):
                    colmap = {str(k): str(v) for k, v in parsed.items()}
        elif line.startswith("#check\t"):
            _, name, expr = line.split("\t", 2)
            checks[name] = expr
        elif line.startswith("#"):
            pass
        elif line.startswith("-"):
            raise ValueError(f"inline deletion-vector line in the log: {line!r}")
        else:
            path, stats = _split_stats(line[1:] if line.startswith("+") else line)
            listing[path] = stats
    return Snapshot(
        listing,
        schema,
        checks,
        partspec,
        colmap,
        {
            r: kept
            for r, c in dvrefs.items()
            if (kept := {p: n for p, n in c.items() if p in listing})
        },
    )


def _serialize(snap: Snapshot) -> list[str]:
    """The checkpoint form of ``snap``: ``_fold(EMPTY, lines) == snap``."""
    return (
        ([f"#schema\t{snap.schema}"] if snap.schema is not None else [])
        + ([f"#partspec\t{snap.partspec}"] if snap.partspec is not None else [])
        + (
            [f"#colmap\t{json.dumps(snap.colmap, sort_keys=True)}"]
            if snap.colmap
            else []
        )
        + [f"#check\t{n}\t{e}" for n, e in sorted(snap.checks.items())]
        + [p if s is None else f"{p}\t{s}" for p, s in snap.listing.items()]
        + [
            f"%dv\t{r}\t{json.dumps(c, sort_keys=True)}"
            for r, c in sorted(snap.dvrefs.items())
        ]
    )


def _snapshot_at(sink_dir: str, version: int) -> Snapshot:
    """Reconstruct snapshot ``version``: fold the nearest checkpoint
    at-or-below it onto EMPTY, then its deltas — at most
    CHECKPOINT_EVERY-1 of them."""
    log = _scan_log(sink_dir)
    if version not in log:
        raise FileNotFoundError(
            f"no manifest for version {version} in {sink_dir}"
        )
    ckpt = max(
        (s for s, f in log.items() if s <= version and f.endswith(_CKPT_SUFFIX)),
        default=None,
    )
    if ckpt is None:
        raise FileNotFoundError(
            f"no checkpoint at or below version {version} in {sink_dir}"
        )
    snap = EMPTY
    for seq in range(ckpt, version + 1):
        snap = _fold(snap, _read_entry(sink_dir, log[seq]))
    return snap


def _snap(sink_dir: str, version: int | None = None) -> Snapshot:
    """Snapshot ``version`` (default: the head, pinned by one log
    listing), or EMPTY itself when the log has no commits."""
    vs = versions(sink_dir)
    if not vs:
        return EMPTY
    return _snapshot_at(sink_dir, vs[-1] if version is None else version)


def _replay(
    sink_dir: str, frm: int = 0, to: int | None = None, start: Snapshot = EMPTY
):
    """``(version, Snapshot)`` for every committed version in
    ``(frm, to]``, oldest first, given ``start`` = the snapshot at
    ``frm``: each entry folds onto the snapshot before it (a
    checkpoint onto EMPTY), so the range costs one read per entry. A
    version after a gap in the log is rebuilt from its own
    checkpoint."""
    log = _scan_log(sink_dir)
    snap, prev = start, frm
    for v in sorted(s for s in log if s > frm and (to is None or s <= to)):
        if log[v].endswith(_CKPT_SUFFIX):
            snap = _fold(EMPTY, _read_entry(sink_dir, log[v]))
        elif v == prev + 1:
            snap = _fold(snap, _read_entry(sink_dir, log[v]))
        else:
            snap = _snapshot_at(sink_dir, v)
        prev = v
        yield v, snap


def schema_at(sink_dir: str, version: int | None = None) -> str | None:
    """The snapshot's recorded read-schema DDL (None when no commit
    ever declared one — pre-round-6 sinks read with parquet's own
    inferred schema, unchanged)."""
    return _snap(sink_dir, version).schema


def partspec_at(sink_dir: str, version: int | None = None) -> str | None:
    """The snapshot's ACTIVE partition spec (None when no commit ever
    declared one). Spec history across still-reconstructible
    versions is ``[(v, partspec_at(sink, v)) for v in versions(...)]``
    — each lookup is manifest bytes only."""
    return _snap(sink_dir, version).partspec


def dv_at(sink_dir: str, version: int | None = None) -> dict[str, list[int]]:
    """The snapshot's deletion vectors MATERIALIZED: {relative path
    -> sorted deleted row positions}, read from its DV sidecars.
    Inspection/test API — materializing is O(deleted rows) DRIVER
    memory by definition; production paths never call this (reads
    anti-join the sidecars as DataFrames via :func:`_apply_dv`,
    counting uses :func:`dv_counts_at` — O(#files))."""
    snap = _snap(sink_dir, version)
    out: dict[str, set[int]] = {}
    for ref, counts in snap.dvrefs.items():
        for path, pos in _read_dv_sidecar(sink_dir, ref, counts):
            out.setdefault(path, set()).add(pos)
    return {p: sorted(v) for p, v in out.items()}


def dvrefs_at(
    sink_dir: str, version: int | None = None
) -> dict[str, dict[str, int]]:
    """The snapshot's DV sidecar references: {sidecar ref ->
    {relative data-file path -> deleted-row count}} — manifest bytes
    only, O(#files) regardless of deleted-row count."""
    return _snap(sink_dir, version).dvrefs


def _dv_counts(snap: Snapshot) -> dict[str, int]:
    out: dict[str, int] = {}
    for counts in snap.dvrefs.values():
        for path, n in counts.items():
            out[path] = out.get(path, 0) + n
    return out


def dv_counts_at(
    sink_dir: str, version: int | None = None
) -> dict[str, int]:
    """Per-file deleted-row COUNTS of the snapshot — the sum of its
    sidecar count maps, from manifest bytes alone (O(#files) driver
    memory at any deleted-row count; the scale-safe replacement for
    ``sum(len(v) for v in dv_at(...).values())``). Disjointness
    across sidecars is by construction: delete_where /
    merge_upsert_dv locate against the DV-applied snapshot, so a
    position is never deleted twice while dead."""
    return _dv_counts(_snap(sink_dir, version))


def _read_dv_sidecar(
    sink_dir: str, ref: str, paths: Iterable[str]
) -> list[tuple[str, int]]:
    """Sidecar read (pyarrow) of the entries for the relative data-file
    ``paths`` — returns [(relative path, position)]. The path filter
    is pushed into the parquet read, so only those files' positions
    are parsed. Used by the inspection APIs and the change-feed
    reader; table reads go through Spark instead (:func:`_dv_pos_df`)."""
    import pyarrow.parquet as pq

    d = os.path.join(_txn_dir(sink_dir), ref)
    filters = [("path", "in", list(paths))]
    rows: list[tuple[str, int]] = []
    for fname in sorted(os.listdir(d)):
        if not fname.endswith(".parquet"):
            continue
        t = pq.read_table(
            os.path.join(d, fname), columns=["path", "pos"], filters=filters
        )
        rows.extend(
            zip(t.column("path").to_pylist(), t.column("pos").to_pylist())
        )
    return rows


def checks_at(sink_dir: str, version: int | None = None) -> dict[str, str]:
    """The snapshot's CHECK constraints: {name -> SQL expression}
    (empty for sinks that never declared one). Carried through
    checkpoints like the schema line; enforced by
    :func:`commit_append_checked` on every new batch."""
    return _snap(sink_dir, version).checks


def _dv_pos_df(
    spark,
    sink_dir: str,
    dvrefs: dict[str, dict[str, int]],
    files: set[str],
):
    """The deleted positions that ``dvrefs`` hold for ``files``
    (sink-relative paths) as a DataFrame ``(__dv_path string —
    ABSOLUTE, __dv_pos long)``, read from the sidecar parquets by the
    executors (never materialized on the driver). Returns None when
    none of ``files`` has a deleted row."""
    from functools import reduce

    from pyspark.sql import functions as F

    base = os.path.abspath(sink_dir)
    pieces = []
    for ref, counts in sorted(dvrefs.items()):
        live = [p for p in counts if p in files]
        if not live:
            continue
        side = spark.read.parquet(os.path.join(_txn_dir(sink_dir), ref))
        keep = spark.createDataFrame([(p,) for p in live], "path string")
        # the path filter is O(#files) rows — always broadcastable;
        # it also drops positions of files retired after the sidecar
        # was written (the manifest's count map is the live set)
        pieces.append(
            side.join(F.broadcast(keep), "path").select(
                F.concat(F.lit(base + os.sep), F.col("path")).alias(
                    "__dv_path"
                ),
                F.col("pos").cast("long").alias("__dv_pos"),
            )
        )
    if not pieces:
        return None
    return reduce(lambda a, b: a.unionByName(b), pieces)


def _apply_dv(spark, df, sink_dir: str, snap: Snapshot, files: set[str]):
    """Filter a read of ``files`` through ``snap``'s deletion vectors
    on those files: an anti-join of (file, row position) against the
    DV sidecars, read executor-side (round 7: the positions of a
    10⁹-row delete never touch the driver; AQE still broadcasts the
    common small case). No-op (and no plan change) for DV-free
    snapshots. Paths are normalized to absolute form on both sides
    (the reader reports file:-prefixed URIs)."""
    from pyspark.sql import functions as F

    dv_df = _dv_pos_df(spark, sink_dir, snap.dvrefs, files)
    if dv_df is None:
        return df
    cols = df.columns
    keyed = df.withColumn(
        "__p", F.regexp_replace(F.col("_metadata.file_path"), "^file:/*", "/")
    ).withColumn("__i", F.col("_metadata.row_index"))
    return keyed.join(
        dv_df,
        (keyed["__p"] == dv_df["__dv_path"]) & (keyed["__i"] == dv_df["__dv_pos"]),
        "left_anti",
    ).select(*cols)


def listing_at(sink_dir: str, version: int) -> list[str]:
    """Public snapshot listing (relative paths) at ``version`` — the
    read half of optimistic concurrency: a maintenance job records
    the version it read, derives its rewrite from exactly this
    listing, and commits with :func:`commit_replace_if` against that
    same version."""
    return list(_snapshot_at(sink_dir, version).listing)


def committed_files(sink_dir: str) -> list[str]:
    """Relative paths of the data files in the current committed
    snapshot (empty list for a sink with no commits yet). The log
    scan pins a version once — entries are immutable, so concurrent
    commits after this call don't tear the listing (snapshot
    isolation)."""
    return list(_snap(sink_dir).listing)


def commit_op(sink_dir: str, version: int) -> str | None:
    """The ``#op`` commit-intent tag of ``version``'s log entry
    (Delta's per-commit ``operation`` field analog), or None for a
    pre-tag entry / a version pruned from the log. O(1) manifest
    read — the tag lives in the version's own entry and is never
    checkpoint-carried (it describes one commit, not snapshot
    state)."""
    log = _scan_log(sink_dir)
    if version not in log:
        return None
    for line in _read_entry(sink_dir, log[version]):
        if line.startswith("#op\t"):
            return line.split("\t", 1)[1]
    return None


# ---------------------------------------------------------------
# Data-skipping statistics (round 6)


def _json_stat_value(v):
    """Parquet footer stat -> JSON-safe bound, or None when the type
    can't round-trip exactly (then the column simply isn't prunable
    for this file — correctness-safe)."""
    import datetime
    import decimal

    if isinstance(v, bool):
        return None  # min/max on bool is useless for pruning
    if isinstance(v, int) or isinstance(v, float):
        return v
    if isinstance(v, str):
        return v if len(v) <= _STATS_MAX_STR else None
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return None  # lossy float conversion could fake a bound
    return None


def file_stats_json(path: str) -> str | None:
    """One parquet file's manifest statistics as a compact JSON
    string — ``{"n": row count, "c": {column: [min, max]}}`` — from
    the FOOTER only (no data read; the same bytes Delta snapshots
    into its add-action ``stats``, whose numRecords field is what
    makes metadata-only COUNT(*) answerable). A column is included
    only when EVERY row group reports trustworthy min/max for it;
    anything questionable (nested paths, truncation-length strings,
    decimals) is dropped — a missing bound merely disables pruning
    for that column, never a wrong skip."""
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
    except Exception:
        return None
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    bad: set[str] = set()
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for ci in range(rg.num_columns):
            col = rg.column(ci)
            name = col.path_in_schema
            if name in bad or "." in name:
                bad.add(name)
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                bad.add(name)
                continue
            try:
                # .min/.max themselves can raise for types pyarrow
                # can't cast statistics for (has_min_max lies)
                mn = _json_stat_value(st.min)
                mx = _json_stat_value(st.max)
            except Exception:
                bad.add(name)
                continue
            if mn is None or mx is None:
                bad.add(name)
                continue
            if name not in mins:
                mins[name], maxs[name] = mn, mx
            else:
                mins[name] = min(mins[name], mn)
                maxs[name] = max(maxs[name], mx)
    cols = {n: [mins[n], maxs[n]] for n in sorted(mins) if n not in bad}
    return json.dumps({"n": md.num_rows, "c": cols}, separators=(",", ":"))


def _parse_stats(stats: str | None) -> tuple[int | None, dict[str, tuple]]:
    """A manifest stats token ``{"n": rows, "c": bounds[, "b":
    blooms]}`` -> (row count or None, {column -> (min, max)}).
    Missing or unparseable stats degrade to (None, {}) — no pruning,
    no metadata count, never an error."""
    if stats is None:
        return None, {}
    try:
        parsed = json.loads(stats)
    except ValueError:
        return None, {}
    if not isinstance(parsed, dict):
        return None, {}
    cols = parsed.get("c")
    n = parsed.get("n")
    return (
        int(n) if isinstance(n, int) and not isinstance(n, bool) else None,
        {c: (b[0], b[1]) for c, b in cols.items()}
        if isinstance(cols, dict)
        else {},
    )


def _collect_stats(sink_dir: str, new_files: list[str]) -> dict[str, str]:
    out: dict[str, str] = {}
    for rel in new_files:
        s = file_stats_json(os.path.join(sink_dir, rel))
        if s is not None:
            out[rel] = s
    return out


def stats_at(
    sink_dir: str, version: int | None = None
) -> dict[str, dict[str, tuple]]:
    """The snapshot's skipping index: {relative path -> {column ->
    (min, max)}} read from the manifest alone (one checkpoint + few
    deltas of BYTES — no data-file access). Files committed before
    round 6 simply have no entry."""
    return _stats_index(_snap(sink_dir, version))


def _stats_index(snap: Snapshot) -> dict[str, dict[str, tuple]]:
    return {path: _parse_stats(stats)[1] for path, stats in snap.listing.items()}


def metadata_agg(
    sink_dir: str, col: str | None = None, version: int | None = None
) -> dict:
    """Answer COUNT(*)/MIN/MAX from the manifest alone — Delta's
    metadata-only query optimization: a snapshot's row count is the
    sum of per-file footer counts minus its deletion-vector lengths
    (exact even after row-level deletes, since DV positions are
    per-file unique), and a column's global min/max is the fold of
    the per-file bounds. Returns ``{"count":…, "min":…, "max":…}``
    with None for anything the manifest cannot answer EXACTLY:
    count needs every file to carry a row count (pre-round-6 stats
    lines don't), min/max additionally need bounds for ``col`` in
    every file AND a DV-free snapshot — a deleted row could be the
    extremum, so any DV forces the caller back to a scan (the same
    rule Delta applies). Zero data files are opened at any size."""
    snap = _snap(sink_dir, version)
    if snap is EMPTY:
        return {"count": None, "min": None, "max": None}
    total = 0
    count_ok = True
    mn = mx = None
    minmax_ok = col is not None and bool(snap.listing) and not snap.dvrefs
    for path, stats in snap.listing.items():
        n, cols = _parse_stats(stats)
        if n is None:
            count_ok = False
        else:
            total += n
        if col is not None:
            if col in cols:
                lo, hi = cols[col]
                mn = lo if mn is None else min(mn, lo)
                mx = hi if mx is None else max(mx, hi)
            else:
                minmax_ok = False
    deleted = sum(_dv_counts(snap).values())
    return {
        "count": (total - deleted) if count_ok else None,
        "min": mn if minmax_ok else None,
        "max": mx if minmax_ok else None,
    }


def table_health(
    sink_dir: str, target_rows_per_file: int = 1_000_000
) -> dict:
    """Maintenance-planning report from the MANIFEST alone (zero data
    files opened at any table size) — the numbers an OPTIMIZE/vacuum
    scheduler looks at before spending I/O:

    - ``files``: live file count; ``rows``: live rows (footer counts
      minus DV lengths, None if any file predates row-count stats);
    - ``small_files``: files under half the target row count — the
      compaction backlog; ``small_file_fraction`` of live files;
    - ``dv_files``: files carrying deletion-vector positions and
      ``deleted_rows`` total — when the fraction grows, a rewrite
      (compaction applies DVs) reclaims scan work;
    - ``partition_dirs``: distinct live directories — the replace
      grammar's drop-set size, i.e. what a full rewrite would cost
      in manifest lines;
    - ``versions``: log length since the last prune.

    This is the read side of the q235 incremental-OPTIMIZE loop:
    health says WHICH dirs are backlog; commit_replace_dirs retires
    exactly those."""
    vs = versions(sink_dir)
    snap = _snapshot_at(sink_dir, vs[-1]) if vs else EMPTY
    rows_ok = True
    rows = 0
    small = 0
    for stats in snap.listing.values():
        n, _cols = _parse_stats(stats)
        if n is None:
            rows_ok = False
            continue
        rows += n
        if n < target_rows_per_file // 2:
            small += 1
    dv_counts = _dv_counts(snap)
    deleted = sum(dv_counts.values())
    nfiles = len(snap.listing)
    return {
        "files": nfiles,
        "rows": (rows - deleted) if rows_ok else None,
        "small_files": small,
        "small_file_fraction": (small / nfiles) if nfiles else 0.0,
        "dv_files": len(dv_counts),
        "deleted_rows": deleted,
        "partition_dirs": len({os.path.dirname(p) for p in snap.listing}),
        "versions": len(vs),
    }


def prune_files(
    sink_dir: str,
    predicate: dict[str, tuple],
    version: int | None = None,
) -> tuple[list[str], int]:
    """Min/max file skipping: return ``(kept_paths, total)`` for a
    conjunction of range predicates ``{col: (lo, hi)}`` (either bound
    may be None for one-sided ranges; timestamp bounds are ISO
    strings matching the manifest encoding). A file is skipped ONLY
    when its recorded bounds prove it cannot contain a matching row
    (file_max < lo or file_min > hi); files without bounds for a
    predicate column are always kept — pruning is an optimization,
    never a filter, so the caller still applies the exact predicate
    to the surviving rows (same contract as parquet row-group
    skipping)."""
    return _prune_range(_snap(sink_dir, version), predicate)


def _prune_range(
    snap: Snapshot, predicate: dict[str, tuple]
) -> tuple[list[str], int]:
    index = _stats_index(snap)
    kept: list[str] = []
    for path, cols in index.items():
        skip = False
        for col, (lo, hi) in predicate.items():
            if col not in cols:
                continue
            mn, mx = cols[col]
            if (lo is not None and mx < lo) or (hi is not None and mn > hi):
                skip = True
                break
        if not skip:
            kept.append(path)
    return kept, len(index)


# ---------------------------------------------------------------
# Bloom-filter file skipping (round 6)
#
# Min/max bounds cannot prune a POINT LOOKUP on a high-cardinality
# column whose values are spread across every file (each file's
# [min, max] spans the probe). Delta solves this with per-file bloom
# filter indexes; this is that feature on the manifest: an optional
# per-file, per-column bloom filter referenced from the stats JSON
# under "b" — {col: {"m": bits, "k": hashes, "t": column type code,
# "r": sidecar ref}} — built with ONE O(batch) aggregation over the
# staged files at commit time and carried through checkpoints like
# every other stat. The
# hash family is the repo's two-engine md5 convention
# (operators/dedup.py:306): a, b = first/second 48-bit halves of
# md5(CAST(value AS STRING)); position_i = (a + i*b) mod m — exact
# bigint arithmetic in Spark, DuckDB, and driver-side Python, so an
# oracle can re-derive the exact keep/skip decision. A membership
# test has NO false negatives (a file containing the value is
# always kept — pruning stays an optimization, never a filter);
# false positives only cost a wasted file read. The bitmaps live
# in EXECUTOR-WRITTEN parquet sidecars under ``_txn/bloom/<uuid>``
# (O(#files) manifest bytes at any bitmap size); the driver loads a
# sidecar once per probe session (cached, immutable) — the index
# read every point lookup pays.

BLOOM_K = 5
BLOOM_BITS_PER_KEY = 16  # fpp ≈ (1 - e^(-k·n/m))^k ≈ 1.4e-3


def _bloom_m(n_distinct: int, bits_per_key: int = BLOOM_BITS_PER_KEY) -> int:
    """Filter size in bits for a file with ``n_distinct`` keys:
    bits_per_key·n rounded up to a 64-bit word, floor 64. The oracle
    replicates this exact formula (integer arithmetic only)."""
    return max(64, ((n_distinct * bits_per_key + 63) // 64) * 64)


def _bloom_positions(value, m: int, k: int) -> list[int]:
    """The k bit positions of ``value`` — driver-side half of the
    two-engine hash: md5 of the value's canonical string form (str()
    of a Python int == Spark CAST(bigint AS STRING) == DuckDB
    CAST(... AS VARCHAR))."""
    import hashlib

    h = hashlib.md5(str(value).encode()).hexdigest()
    a, b = int(h[0:12], 16), int(h[16:28], 16)
    return [(a + i * b) % m for i in range(k)]


def build_bloom(
    spark: SparkSession,
    sink_dir: str,
    new_files: list[str],
    col: str,
    k: int = BLOOM_K,
    bits_per_key: int = BLOOM_BITS_PER_KEY,
) -> dict[str, dict]:
    """Per-file bloom filters over ``col`` for a staged batch — pass
    the result to :func:`commit_append(bloom=...)`. Cost: one
    distinct-(file, value) aggregation plus one positions
    aggregation over the NEW files only (O(batch), never O(table));
    per-file driver state is bounded by m bits. Files where every
    value is null get no filter (conservative keep at read time).

    The spec records the column's LOGICAL TYPE class (``"t"``:
    ``"i"`` integral / ``"s"`` string / the Spark typeName
    otherwise) so the probe-time guard can require an exact match:
    the bloom hashed ``CAST(col AS STRING)``, and only for integral
    and string columns is that rendering canonical for a Python
    int/str probe (advisor round-6 medium: an int probe against a
    DOUBLE column would hash ``"5"`` while the filter holds
    ``"5.0"`` — every bit misses and a file holding the value would
    be WRONGLY skipped)."""
    from pyspark.sql import functions as F

    if not new_files:
        return {}
    base = os.path.abspath(sink_dir)
    paths = [os.path.join(sink_dir, f) for f in new_files]
    src = spark.read.option("basePath", sink_dir).parquet(*paths)
    dt = src.schema[col].dataType.typeName()
    tcode = (
        "i"
        if dt in ("byte", "short", "integer", "long")
        else ("s" if dt == "string" else dt)
    )
    distinct = (
        src
        .select(
            F.regexp_replace(
                F.col("_metadata.file_path"), "^file:/*", "/"
            ).alias("__p"),
            F.col(col).cast("string").alias("__v"),
        )
        .where(F.col("__v").isNotNull())
        .distinct()
    )
    counts = {
        r["__p"]: r["n"]
        for r in distinct.groupBy("__p").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if not counts:
        return {}
    m_map = {p: _bloom_m(n, bits_per_key) for p, n in counts.items()}
    m_df = spark.createDataFrame(
        [(p, m) for p, m in m_map.items()], "__p string, __m long"
    )

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _pack_fn(ps, m):
        # LSB-first bit layout: bit i lives at buf[i>>3], 1<<(i&7) —
        # chosen so two hex nibbles per byte (low first) give the
        # nibble-hex string blooms_at converts back to (the probe
        # math and the q213 oracle read that layout)
        out = []
        for positions, mm in zip(ps, m):
            buf = bytearray(int(mm) // 8)
            for pos in positions:
                p = int(pos)
                buf[p >> 3] |= 1 << (p & 7)
            out.append(bytes(buf))
        return pd.Series(out)

    # real annotation objects: `from __future__ import annotations`
    # would stringify inline hints, breaking pandas_udf's inference
    _pack_fn.__annotations__ = {
        "ps": pd.Series,
        "m": pd.Series,
        "return": pd.Series,
    }
    _pack = pandas_udf(_pack_fn, "binary")

    # a + i·b with 48-bit halves and i < k stays well under 2^53 —
    # exact in every engine's bigint/double
    per_file = (
        distinct.select("__p", F.md5("__v").alias("h"))
        .select(
            "__p",
            F.conv(F.substring("h", 1, 12), 16, 10).cast("bigint").alias("a"),
            F.conv(F.substring("h", 17, 12), 16, 10).cast("bigint").alias("b"),
        )
        .join(F.broadcast(m_df), "__p")
        .select(
            "__p",
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("i"),
            "a",
            "b",
            "__m",
        )
        .select(
            "__p",
            ((F.col("a") + F.col("i") * F.col("b")) % F.col("__m")).alias("pos"),
            "__m",
        )
        .groupBy("__p", "__m")
        .agg(F.collect_set("pos").alias("ps"))
        .select(
            F.expr(f"substring(__p, {len(base) + 2})").alias("path"),
            F.col("__m").alias("m"),
            F.lit(k).cast("long").alias("k"),
            _pack("ps", "__m").alias("bits"),
        )
    )
    # the bitmaps are built and written EXECUTOR-side (round 7 —
    # same sidecar discipline as the deletion vectors): the driver
    # holds only the O(#files) spec map; the manifest stats JSON
    # carries the ref, never the bitmap bytes
    ref = f"bloom/{uuid.uuid4().hex[:12]}"
    out_dir = os.path.join(_txn_dir(sink_dir), ref)
    per_file.write.mode("overwrite").parquet(out_dir)
    out: dict[str, dict] = {}
    for r in spark.read.parquet(out_dir).select("path").collect():
        out[r["path"]] = {
            col: {
                "m": m_map[os.path.join(base, r["path"])],
                "k": k,
                "t": tcode,
                "r": ref,
            }
        }
    if not out:
        import shutil

        shutil.rmtree(out_dir, ignore_errors=True)
    return out


def _bloom_sidecar(abs_dir: str) -> dict[str, tuple[int, bytes]]:
    """Load one immutable bloom sidecar (driver-side pyarrow read —
    the INDEX read of a point lookup): {relative data-file path ->
    (m, bitmap bytes)}. Cached per directory (refs are uuid-named
    and never rewritten); a vacuumed/unreadable sidecar returns {}
    so pruning degrades to bounds-only — conservative, never a
    wrong skip."""
    if abs_dir in _BLOOM_CACHE:
        return _BLOOM_CACHE[abs_dir]
    out: dict[str, tuple[int, bytes]] = {}
    try:
        import pyarrow.parquet as pq

        for fname in sorted(os.listdir(abs_dir)):
            if not fname.endswith(".parquet"):
                continue
            t = pq.read_table(
                os.path.join(abs_dir, fname), columns=["path", "m", "bits"]
            )
            for p, m, b in zip(
                t.column("path").to_pylist(),
                t.column("m").to_pylist(),
                t.column("bits").to_pylist(),
            ):
                if isinstance(b, (bytes, bytearray)) and len(b) * 8 == m:
                    out[p] = (int(m), bytes(b))
    except OSError:
        out = {}
    if len(_BLOOM_CACHE) > 64:
        _BLOOM_CACHE.clear()
    _BLOOM_CACHE[abs_dir] = out
    return out


_BLOOM_CACHE: dict[str, dict[str, tuple[int, bytes]]] = {}


def blooms_at(
    sink_dir: str, version: int | None = None
) -> dict[str, dict[str, tuple[int, int, str, str]]]:
    """The snapshot's bloom index: {relative path -> {column ->
    (m, k, hex bitmap, type code)}} from the manifest's ``{"m", "k",
    "t", "r"}`` specs (O(#files) bytes) plus the referenced bloom
    SIDECARS, loaded from ``_txn/bloom/<uuid>`` parquet on demand
    (cached — refs are immutable). Sidecar bytes convert to a
    nibble-hex string so the probe math (and the q213 oracle) is
    storage-independent. Files committed without a bloom, or whose
    sidecar is gone, have no entry."""
    return _blooms(sink_dir, _snap(sink_dir, version))


def _blooms(
    sink_dir: str, snap: Snapshot
) -> dict[str, dict[str, tuple[int, int, str, str]]]:
    out: dict[str, dict[str, tuple[int, int, str, str]]] = {}
    for path, stats in snap.listing.items():
        if stats is None:
            continue
        try:
            parsed = json.loads(stats)
        except ValueError:
            continue
        blooms = parsed.get("b") if isinstance(parsed, dict) else None
        if not isinstance(blooms, dict):
            continue
        per_col: dict[str, tuple[int, int, str, str]] = {}
        for c, spec in blooms.items():
            if not (
                isinstance(spec, dict)
                and isinstance(spec.get("m"), int)
                and isinstance(spec.get("k"), int)
                and isinstance(spec.get("t"), str)
                and isinstance(spec.get("r"), str)
            ):
                continue
            side = _bloom_sidecar(os.path.join(_txn_dir(sink_dir), spec["r"]))
            if path in side and side[path][0] == spec["m"]:
                hx = "".join("%x%x" % (b & 15, b >> 4) for b in side[path][1])
                per_col[c] = (spec["m"], spec["k"], hx, spec["t"])
            # missing sidecar → no entry → conservative keep
        if per_col:
            out[path] = per_col
    return out


def _bloom_may_contain(spec: tuple[int, int, str, str], value) -> bool:
    """False only when the bloom ``spec`` proves ``value`` absent.
    The probe's string rendering must be IDENTICAL to the Spark-side
    ``CAST(col AS STRING)`` the filter hashed, which holds only for
    an int probe against an integral column (type code ``"i"``) and
    a str probe against a string column (``"s"``): an int probe
    against a DOUBLE column would hash "5" while the filter holds
    "5.0", every bit would miss, and a file holding the value would
    be wrongly skipped. Any other pairing cannot refute."""
    m, k, h, t = spec
    typed = not isinstance(value, bool) and (
        (isinstance(value, int) and t == "i")
        or (isinstance(value, str) and t == "s")
    )
    return not typed or all(
        (int(h[pos >> 2], 16) >> (pos & 3)) & 1
        for pos in _bloom_positions(value, m, k)
    )


def prune_files_in(
    sink_dir: str,
    col: str,
    values,
    version: int | None = None,
) -> tuple[list[str], int]:
    """Key-set file skipping: ``(kept_paths, total)`` for the
    predicate ``col IN values``. A point lookup is a key set of one
    (``[value]``); a runtime key set — typically a selective
    dimension filter on the probe side of a join — is Delta's
    dynamic file pruning. Per file:

    - its recorded [min, max] bounds for ``col``, when present,
      narrow the candidate keys (one ``bisect`` over the sorted key
      list — O(#files · log #keys) driver work, pure metadata);
    - its type-matched bloom sidecar for ``col``, when present,
      refutes candidates one by one (:func:`_bloom_may_contain`) —
      also when the file has no bounds for ``col``. This is what
      prunes an UNCLUSTERED column, where every file's range spans
      most keys but each file holds few of them;
    - the file is skipped only when no candidate survives.

    Incomparable bound/key types leave the candidates un-narrowed;
    a mixed, unorderable key set keeps every file. Pruning is an
    optimization, NEVER a wrong skip: the caller still applies the
    exact predicate to the survivors (the :func:`prune_files`
    contract). An EMPTY key set keeps nothing: ``col IN ()``
    provably matches no row, so reading zero files is the exact
    answer, not a heuristic.

    Scale: the key list is bounded by the DIMENSION filter's
    selectivity — the same cardinality a broadcast join ships to
    every executor, so collecting it once on the driver is strictly
    cheaper than the join that follows. When even that is too large,
    degrade to :func:`prune_files` with the key set's (min, max)
    envelope and let the per-file bloom sidecars absorb point
    selectivity."""
    return _prune_in(sink_dir, _snap(sink_dir, version), col, values)


def _prune_in(
    sink_dir: str, snap: Snapshot, col: str, values
) -> tuple[list[str], int]:
    import bisect

    index = _stats_index(snap)
    try:
        keys = sorted(set(values))
    except TypeError:
        # mixed incomparable key types: cannot order, cannot refute —
        # keep everything rather than crash or wrongly skip
        return list(index), len(index)
    blooms = _blooms(sink_dir, snap)
    kept: list[str] = []
    for path, cols in index.items():
        cand = keys
        if col in cols:
            mn, mx = cols[col]
            try:
                cand = keys[bisect.bisect_left(keys, mn):bisect.bisect_right(keys, mx)]
            except TypeError:
                pass  # incomparable types: bounds cannot narrow
        spec = blooms.get(path, {}).get(col)
        if any(spec is None or _bloom_may_contain(spec, v) for v in cand):
            kept.append(path)
    return kept, len(index)


def derive_partition_predicate(
    sink_dir: str,
    src_col: str,
    lo_ts: str,
    hi_ts: str,
    version: int | None = None,
) -> dict[str, tuple] | None:
    """Iceberg HIDDEN-PARTITIONING predicate translation: if the
    active partition spec declares a day transform on ``src_col`` —
    the partspec grammar ``days(src, YYYY-MM-DD) AS col`` — a
    timestamp range ``[lo_ts, hi_ts]`` (ISO strings) on the SOURCE
    column derives the inclusive day-number range on the generated
    column: ``[days(lo), days(hi)]``, floor on both ends, so every
    file that could hold an in-range row survives (a row at
    ``lo_ts``'s own day may precede ``lo_ts`` within the day — the
    exact predicate still applies to survivors). Returns None when
    the spec declares no day transform on ``src_col`` — the caller
    falls back to an unpruned read, never a wrong skip. Like
    Iceberg, only a FIXED transform catalog participates in
    translation (day here; Delta generated-column pruning has the
    same closed list) — arbitrary expressions can't be inverted
    safely."""
    import re as _re
    from datetime import date, datetime

    spec = partspec_at(sink_dir, version)
    if not spec:
        return None
    m = _re.search(
        rf"days\(\s*{_re.escape(src_col)}\s*,\s*(\d{{4}}-\d{{2}}-\d{{2}})\s*\)"
        rf"\s+AS\s+(\w+)",
        spec,
    )
    if not m:
        return None
    epoch = date.fromisoformat(m.group(1))
    col = m.group(2)
    lo_d = (datetime.fromisoformat(lo_ts).date() - epoch).days
    hi_d = (datetime.fromisoformat(hi_ts).date() - epoch).days
    return {col: (lo_d, hi_d)}


def read_committed(
    spark: SparkSession,
    sink_dir: str,
    prune: dict[str, tuple] | None = None,
    prune_in: tuple | None = None,
) -> DataFrame | None:
    """DataFrame over exactly the committed snapshot, or None when no
    data has ever been committed. ``basePath`` recovers the hive
    partition columns so downstream partition-column filters still
    prune (they filter the file list, same as directory reads).

    With ``prune={col: (lo, hi)}`` the manifest's per-file min/max
    bounds drop provably-excluded files BEFORE Spark ever sees them
    — manifest-driven data skipping on non-partition columns. With
    ``prune_in=(col, values)`` a KEY SET — one point-lookup value, or
    a filtered dimension's join keys — prunes by bounds and per-file
    bloom filters (:func:`prune_files_in`); an empty key set reads no
    files and returns None, which is the exact ``IN ()`` answer.
    The caller must still apply the exact predicate (kept files may
    contain non-matching rows). Files, schema, DVs and column mapping
    all come from one snapshot: a commit landing mid-call is never
    half seen."""
    snap = _snap(sink_dir)
    if prune_in is not None:
        files = _prune_in(sink_dir, snap, *prune_in)[0]
    elif prune:
        files = _prune_range(snap, prune)[0]
    else:
        files = list(snap.listing)
    if not files:
        return None
    return _read_files(spark, sink_dir, snap, files)


def read_version(spark: SparkSession, sink_dir: str, version: int) -> DataFrame:
    """Time travel: DataFrame over exactly the snapshot a past commit
    published (Delta's ``versionAsOf``). Works because data files are
    immutable once committed and superseded files survive until
    vacuum — the log IS the table state. After :func:`prune_log`,
    versions beyond the retained horizon raise FileNotFoundError
    (clean refusal, never a wrong snapshot)."""
    snap = _snapshot_at(sink_dir, version)
    if not snap.listing:
        return spark.read.format("parquet").schema("__empty STRING").load()
    return _read_files(spark, sink_dir, snap, list(snap.listing))


def _read_files(
    spark: SparkSession, sink_dir: str, snap: Snapshot, files: list[str]
) -> DataFrame:
    """``files`` (sink-relative) as ``snap`` reads them: under its
    schema, through its deletion vectors on those files, with its
    column mapping applied. ``basePath`` keeps the hive partition
    columns, so partition filters still prune the file list."""
    reader = spark.read.option("basePath", sink_dir)
    if snap.schema is not None:
        reader = reader.schema(snap.schema)
    df = reader.parquet(*[os.path.join(sink_dir, f) for f in files])
    df = _apply_dv(spark, df, sink_dir, snap, set(files))
    return _apply_colmap(df, snap.colmap)


def stage_append(df: DataFrame, sink_dir: str, partition_by: tuple[str, ...]) -> list[str]:
    """Write ``df`` into the sink's partition layout WITHOUT making
    it visible: parquet into a hidden staging dir, then rename each
    data file into its partition directory under a collision-free
    name. Returns the new files' sink-relative paths — pass them to
    :func:`commit_append` to publish. A crash anywhere in here (or
    before the commit) leaves only manifest-invisible garbage."""
    os.makedirs(_txn_dir(sink_dir), exist_ok=True)
    staging = os.path.join(_txn_dir(sink_dir), f"staging-{uuid.uuid4().hex[:12]}")
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(staging)
    batch_tag = uuid.uuid4().hex[:12]
    new_files: list[str] = []
    for root, _dirs, files in os.walk(staging):
        for fname in files:
            if not fname.endswith(".parquet") or fname.startswith(("_", ".")):
                continue
            rel_dir = os.path.relpath(root, staging)
            dest_dir = sink_dir if rel_dir == "." else os.path.join(sink_dir, rel_dir)
            os.makedirs(dest_dir, exist_ok=True)
            dest_name = f"{batch_tag}-{fname}"
            os.rename(os.path.join(root, fname), os.path.join(dest_dir, dest_name))
            new_files.append(os.path.relpath(os.path.join(dest_dir, dest_name), sink_dir))
    import shutil

    shutil.rmtree(staging, ignore_errors=True)
    return sorted(new_files)


def _try_commit(sink_dir: str, seq: int, lines: list[str], is_checkpoint: bool) -> bool:
    """Atomically commit log entry ``seq``. The content is fully
    written (and flushed) to a temp file first; ``os.link`` then
    publishes it under the deterministic version name — an atomic
    exclusive create, so a reader can never observe a half-written
    entry and two writers can never both commit the same version.
    Returns False when a concurrent writer won this sequence number
    (the CAS failure — caller re-reads the log and retries), or when
    a concurrent vacuum reclaimed the temp file before the link
    (same recovery: the retry loop writes a fresh temp file). Maps
    1:1 to S3 ``If-None-Match: *`` conditional PUT."""
    txn = _txn_dir(sink_dir)
    os.makedirs(txn, exist_ok=True)
    tmp = os.path.join(txn, f".tmp-{uuid.uuid4().hex[:12]}")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + ("\n" if lines else ""))
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, os.path.join(txn, _entry_name(seq, is_checkpoint)))
        return True
    except FileExistsError:
        return False
    except FileNotFoundError:
        # the temp file vanished between write and publish (an
        # over-eager concurrent vacuum) — nothing was committed
        return False
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)


def _commit(
    sink_dir: str,
    new_files: list[str],
    replace: bool,
    expected_version: int | None = None,
    schema_ddl: str | None = None,
    add_check: tuple[str, str] | None = None,
    bloom: dict[str, dict] | None = None,
    partspec: str | None = None,
    colmap: dict[str, str] | None = None,
    dv_ref: tuple[str, dict[str, int]] | None = None,
    replace_all: bool = False,
    drop_dirs: list[str] | None = None,
    op: str | None = None,
) -> int | None:
    """Build one commit's delta lines and publish them through
    :func:`_publish` (the CAS loop, retried on contention). Returns
    the committed version.

    ``op`` (round 9) records COMMIT INTENT as a ``#op\\t<name>``
    metadata line — the analog of Delta's ``operation`` field on
    each commit (``write`` / ``merge`` / ``delete`` / ``optimize`` /
    ``replace`` / ``restore`` / ``meta``). Unlike the other ``#``
    lines it describes THIS commit, not snapshot state, so
    checkpoints do NOT carry it forward; older readers skip it via
    the unknown-``#`` forward-compat rule. Consumers:
    :func:`read_changes_with_images` uses it to classify
    delete+insert pairs the way Delta's CDF does (a MERGE's pairs
    are updates even when a row was rewritten to its existing
    values; an OPTIMIZE emits nothing).

    ``dv_ref=(ref, {path: count})`` (round 7) publishes an
    executor-written deletion-vector SIDECAR: the manifest carries
    only the ref plus per-file counts (O(#files) bytes), the
    position lists live in parquet under ``_txn/<ref>``.
    Appends commute, so a loser's retry on top of the winner's commit
    preserves both batches; a replace retried on a newer snapshot
    keeps last-replace-wins semantics for the touched partitions.

    Each new file's line carries its footer min/max stats (collected
    ONCE, outside the retry loop — O(batch) metadata reads).

    With ``expected_version`` set, the commit is CONDITIONAL: it only
    publishes while the log head is exactly that version (0 = no
    commits yet) and returns None the moment any other writer lands
    first — blind retry would be a lost update for a rewrite derived
    from the old snapshot (Delta's ConcurrentModificationException)."""
    stats = _collect_stats(sink_dir, new_files)
    if bloom:
        for path, per_col in bloom.items():
            try:
                parsed = json.loads(stats[path]) if path in stats else {}
            except ValueError:
                parsed = {}
            if not isinstance(parsed, dict):
                parsed = {}
            parsed["b"] = {**parsed.get("b", {}), **per_col}
            stats[path] = json.dumps(parsed, separators=(",", ":"))

    # what this commit adds, in the checkpoint grammar; only its
    # drop set depends on the head it lands on
    added = _serialize(
        Snapshot(
            {f: stats.get(f) for f in new_files},
            schema_ddl,
            dict([add_check]) if add_check else {},
            partspec,
            colmap or {},
            dict([dv_ref]) if dv_ref else {},
        )
    )

    def delta(head: Callable[[], Snapshot]) -> list[str]:
        drops: set[str] = set()
        if replace:
            # explicit drop dirs retire what incremental OPTIMIZE
            # rewrote into a different dir family; a full-snapshot
            # replace drops every dir of the head it lands on
            drops = {os.path.dirname(f) for f in new_files} | set(drop_dirs or ())
            if replace_all:
                drops |= {os.path.dirname(f) for f in head().listing}
        return [f"~{d}" for d in sorted(drops)] + added

    return _publish(sink_dir, op, delta, expected_version)


def _publish(
    sink_dir: str,
    op: str | None,
    delta: Callable[[Callable[[], Snapshot]], list[str]],
    expected_version: int | None = None,
) -> int | None:
    """The one CAS loop every commit goes through: read the log head,
    build this commit's delta lines with ``delta(head)`` (``head()``
    reads the head snapshot, at most once per attempt), and
    exclusive-create the next version; on losing the race, re-read
    and rebuild. At a checkpoint version the entry is
    ``_serialize(_fold(head, delta))`` instead — the reader's own
    replay, written down — so the head snapshot is read only there
    and where ``delta`` asks for it. ``op`` tags the entry either
    way. Returns the committed version, or None when
    ``expected_version`` is set and the head is not it."""
    while True:
        vs = versions(sink_dir)
        version = vs[-1] if vs else 0
        if expected_version is not None and version != expected_version:
            return None
        head = functools.cache(
            lambda v=version: _snapshot_at(sink_dir, v) if v else EMPTY
        )
        lines = delta(head)
        seq = version + 1
        is_ckpt = seq % CHECKPOINT_EVERY == 1  # v1, v11, v21, ...
        if is_ckpt:
            lines = _serialize(_fold(head(), lines))
        if op is not None:
            lines = [f"#op\t{op}"] + lines
        if _try_commit(sink_dir, seq, lines, is_ckpt):
            return seq


def commit_append(
    sink_dir: str,
    new_files: list[str],
    schema_ddl: str | None = None,
    bloom: dict[str, dict] | None = None,
    partspec: str | None = None,
) -> None:
    """Publish a new snapshot = current snapshot + ``new_files`` as
    ONE atomic log-entry create. O(batch) bytes written except at
    checkpoint versions; concurrent writers serialize through the
    CAS retry loop, no update lost.

    ``schema_ddl`` (round 6) records a new READ SCHEMA with this
    commit — Delta's add-column evolution: files committed under an
    earlier, narrower schema are null-filled for the new columns at
    read time (``read_version``/``read_committed`` apply the
    snapshot's schema), and time travel to pre-evolution versions
    still reads with THAT version's schema.

    ``bloom`` (round 6) merges per-file bloom filters from
    :func:`build_bloom` into the files' stats lines — the
    point-lookup half of the skipping index.

    ``partspec`` (round 6) records a new ACTIVE partition spec with
    this commit — Iceberg's partition-spec evolution: one metadata
    line, no rewrite of files written under earlier specs; pruning
    stays stats-driven so reads are layout-agnostic."""
    _commit(
        sink_dir,
        list(new_files),
        replace=False,
        schema_ddl=schema_ddl,
        bloom=bloom,
        partspec=partspec,
        op="write",
    )


def restore(sink_dir: str, version: int) -> int:
    """Delta's ``RESTORE TABLE ... VERSION AS OF``: publish ONE new
    commit whose snapshot is identical to ``version``'s — listing
    (with its stats), read schema, and deletion vectors all roll
    back — while HISTORY is preserved: the pre-restore head stays
    time-travelable, so a bad restore is itself restorable. No data
    file is touched; the target's files must still exist (i.e. the
    target is within the vacuum retention window) — a reclaimed
    file raises FileNotFoundError and nothing is committed. Two
    deliberate semantics, both Delta's: CHECK constraints are
    administrative metadata and stay at their CURRENT set, and when
    the target predates the first schema declaration the current
    (wider, backward-compatible) read schema remains. The delta
    entry is the existing grammar composed: ``~dir`` for every
    current-or-target partition (which also clears their DVs), then
    the target's own serialization, which re-adds its listing with
    stats and re-declares its DVs. Returns the new head version."""
    target = _snapshot_at(sink_dir, version)
    missing = [
        p for p in target.listing if not os.path.exists(os.path.join(sink_dir, p))
    ] + [
        r
        for r in target.dvrefs
        if not os.path.isdir(os.path.join(_txn_dir(sink_dir), r))
    ]
    if missing:
        raise FileNotFoundError(
            f"restore to v{version} impossible: {len(missing)} data/DV "
            f"file(s) already vacuumed, e.g. {missing[0]}"
        )

    def delta(head: Callable[[], Snapshot]) -> list[str]:
        # drop every current and target dir (with their DVs), then
        # re-add the target: its listing with stats and DV sidecar
        # refs (re-referenced — immutable sidecars are shared with the
        # target version), under the current CHECKs. The colmap rolls
        # back EXACTLY — a target without one resets the mapping —
        # while schema and partspec keep the current ones when the
        # target predates them
        cur = head()
        dirs = {os.path.dirname(p) for p in [*cur.listing, *target.listing]}
        return (
            [f"~{d}" for d in sorted(dirs)]
            + (["#colmap\t{}"] if cur.colmap and not target.colmap else [])
            + _serialize(
                target._replace(
                    schema=target.schema if target.schema is not None else cur.schema,
                    partspec=target.partspec
                    if target.partspec is not None
                    else cur.partspec,
                    checks={},
                )
            )
        )

    return _publish(sink_dir, "restore", delta)


def history(sink_dir: str) -> list[dict]:
    """DESCRIBE HISTORY: one row per still-reconstructible version —
    version number, checkpoint flag, live file count, deletion-vector
    position count, metadata row count (None when any file predates
    footer counts), schema-declared flag, CHECK count, and (round 9)
    the commit's ``#op`` intent tag — Delta's DESCRIBE HISTORY
    ``operation`` column (None for pre-tag entries) — from
    manifest reads alone (each version is one checkpoint + ≤9 delta
    entries of bytes; zero data files opened at any table size).
    The audit surface of the table format: what changed, when, and
    what each version would read as."""
    out: list[dict] = []
    for v, snap in _replay(sink_dir):
        counts = [_parse_stats(s)[0] for s in snap.listing.values()]
        deleted = sum(_dv_counts(snap).values())
        out.append(
            {
                "version": v,
                "op": commit_op(sink_dir, v),
                "is_checkpoint": v % CHECKPOINT_EVERY == 1,
                "n_files": len(snap.listing),
                "n_dv_positions": deleted,
                "n_rows": None
                if None in counts
                else sum(counts) - deleted,
                "has_schema": snap.schema is not None,
                "n_checks": len(snap.checks),
                "partspec": snap.partspec,
            }
        )
    return out


class CheckViolation(Exception):
    """A batch (or, for :func:`add_check`, the existing table)
    violates a CHECK constraint — the commit was refused and
    NOTHING became visible (staged files stay manifest-invisible
    until vacuum reclaims them)."""

    def __init__(self, name: str, expr: str, violations: int):
        super().__init__(
            f"check constraint {name!r} ({expr}) violated by "
            f"{violations} row(s)"
        )
        self.name = name
        self.expr = expr
        self.violations = violations


def add_check(spark: SparkSession, sink_dir: str, name: str, expr: str) -> None:
    """Record a CHECK constraint in the manifest (round 6 — Delta's
    ``ALTER TABLE ADD CONSTRAINT``): one ``#check\\t<name>\\t<expr>``
    metadata line, carried through checkpoints like the schema line
    and enforced by :func:`commit_append_checked` on every later
    batch. Like Delta, the EXISTING data must already satisfy the
    constraint — one validating scan here, else CheckViolation and
    no commit. SQL CHECK semantics: NULL evaluations pass; only
    rows where the expression is literally false violate."""
    cur = read_committed(spark, sink_dir)
    if cur is not None:
        from pyspark.sql import functions as F

        bad = cur.where(~F.expr(expr)).count()
        if bad:
            raise CheckViolation(name, expr, bad)
    _commit(sink_dir, [], replace=False, add_check=(name, expr), op="meta")


def commit_append_checked(
    spark: SparkSession, sink_dir: str, new_files: list[str]
) -> int:
    """:func:`commit_append` gated on the snapshot's CHECK
    constraints: the staged batch is validated (one scan of the NEW
    files only — O(batch), never O(table)) and a violating batch
    raises CheckViolation without publishing anything — readers
    never observe a row that failed a check, which is the write-side
    quality gate a 100 TB ingest needs (a bad batch caught at commit
    time costs one batch scan; caught downstream it costs a
    table-wide audit + DV erasure). The commit lands only on the
    version whose checks were validated; when another writer lands
    first, the batch is re-validated if that changed the checks (a
    concurrent ADD CONSTRAINT, Delta's metadata conflict) and the
    commit retries. Returns the committed version."""
    from pyspark.sql import functions as F

    validated = None
    while True:
        vs = versions(sink_dir)
        head = vs[-1] if vs else 0
        snap = _snapshot_at(sink_dir, head) if head else EMPTY
        if snap.checks and snap.checks != validated and new_files:
            df = _read_files(spark, sink_dir, snap, new_files)
            for name, expr in sorted(snap.checks.items()):
                bad = df.where(~F.expr(expr)).count()
                if bad:
                    raise CheckViolation(name, expr, bad)
        validated = snap.checks
        version = _commit(
            sink_dir, list(new_files), replace=False, expected_version=head,
            op="write",
        )
        if version is not None:
            return version


def commit_replace(
    sink_dir: str, new_files: list[str], op: str = "replace"
) -> None:
    """Publish a new snapshot with DYNAMIC-PARTITION-OVERWRITE
    semantics: every partition directory that ``new_files`` touches
    is replaced wholesale (its previously committed files drop out
    of the listing), untouched partitions carry over. One atomic
    log-entry create — so a rollup rewrite spanning several day
    partitions becomes ONE transaction, which Spark's native
    partitionOverwriteMode=dynamic (file deletes during job commit)
    cannot give. Superseded files stay on disk for in-flight readers
    until :func:`vacuum`."""
    _commit(sink_dir, list(new_files), replace=True, op=op)


def commit_replace_table(
    sink_dir: str, new_files: list[str], op: str = "replace"
) -> None:
    """FULL-SNAPSHOT replace — Delta OPTIMIZE's table-wide rewrite or
    a layout change (ZORDER re-clustering, re-bucketing) as ONE
    atomic commit: every file the current head lists drops out,
    whatever partition directory it lives in, and ``new_files``
    become the table. Same ``~dir`` drop grammar as
    :func:`commit_replace`, so replay, checkpoints, time travel,
    vacuum, and the change feed need no new cases; superseded files
    stay on disk for in-flight readers until :func:`vacuum`. The
    drop set is O(#directories) manifest lines — metadata-sized at
    any table size."""
    _commit(sink_dir, list(new_files), replace=True, replace_all=True, op=op)


def commit_replace_dirs(
    sink_dir: str, new_files: list[str], drop_dirs: list[str],
    op: str = "optimize",
) -> None:
    """Replace with an EXPLICIT drop set — the incremental-OPTIMIZE
    commit (Delta's OPTIMIZE only rewrites not-yet-optimized files):
    the rewritten input directories in ``drop_dirs`` retire even
    though the optimized output lands in a different dir family,
    previously-optimized files carry over untouched (their layout
    work is never redone), and the whole swap is ONE atomic
    log-entry create. Dirs touched by ``new_files`` drop as in
    :func:`commit_replace`."""
    _commit(sink_dir, list(new_files), replace=True, drop_dirs=list(drop_dirs), op=op)


def commit_replace_if(
    sink_dir: str, new_files: list[str], expected_version: int,
    op: str = "replace",
) -> bool:
    """:func:`commit_replace` with OPTIMISTIC CONFLICT DETECTION —
    the maintenance-job commit (Delta OPTIMIZE's protocol): publish
    only if the log head is still ``expected_version`` (0 = empty
    log), else return False WITHOUT committing. A compaction derives
    its rewrite from the snapshot it read; blind replace after a
    concurrent append would silently drop that append's files from
    the touched partitions (a lost update). On False the caller
    re-reads the new head and re-derives; its staged files are
    manifest-invisible orphans until :func:`vacuum`."""
    return _commit(
        sink_dir,
        list(new_files),
        replace=True,
        expected_version=expected_version,
        op=op,
    ) is not None


def vacuum(
    sink_dir: str,
    retain_seconds: float = 0.0,
    protect_log_versions: bool = False,
) -> list[str]:
    """Delete unreferenced data files — crash orphans and files
    superseded by replace commits. Returns the removed relative
    paths.

    ``retain_seconds`` is the Delta-style RETENTION WINDOW (round-6,
    advisor medium): a file is deleted only when its mtime is older
    than the window, so a file a CONCURRENT writer has staged via
    :func:`stage_append` but not yet committed is never reclaimed
    from under its commit (the stage-to-commit latency is bounded by
    the window; Delta defaults to 7 days for the same reason).
    Leftover ``.tmp-`` entries of in-flight commits get the same age
    gate, and :func:`_try_commit` additionally survives losing its
    temp file mid-publish. The 0.0 default keeps the quiesced-sink
    behavior (reclaim everything immediately) — correct ONLY when no
    writer is in flight, which is how the test suites and the
    single-writer streaming sinks call it.

    ``protect_log_versions=True`` additionally keeps every file any
    still-reconstructible log version references (union of the
    retained manifest entries — O(log) bytes), so TIME TRAVEL keeps
    working across the whole retained history; pair with
    :func:`prune_log` to shrink that set. False (default) protects
    only the CURRENT snapshot — past versions become unreadable, the
    documented trade-off of immediate reclamation."""
    protected: set[str] = set()
    # files staged on a live WAP branch (round 6) are not orphans —
    # they are awaiting audit/publish and may outlive any retention
    # window; Iceberg likewise protects branch-referenced files.
    # wap_abandon removes the records, at which point the files
    # become ordinary vacuum fodder.
    wapd = _wap_dir(sink_dir)
    if os.path.isdir(wapd):
        for fname in os.listdir(wapd):
            if fname.endswith(".txt"):
                with contextlib.suppress(FileNotFoundError):
                    with open(os.path.join(wapd, fname), encoding="utf-8") as f:
                        protected.update(
                            line.strip() for line in f if line.strip()
                        )
    # DV and BLOOM sidecars referenced by the CURRENT snapshot are
    # always protected; with protect_log_versions, every ref any
    # retained manifest entry mentions is (time travel + restore
    # both re-reference immutable sidecars rather than copying them)
    def _bloom_refs(stats: str | None) -> set[str]:
        if not stats:
            return set()
        try:
            parsed = json.loads(stats)
        except ValueError:
            return set()
        b = parsed.get("b") if isinstance(parsed, dict) else None
        if not isinstance(b, dict):
            return set()
        return {
            spec["r"]
            for spec in b.values()
            if isinstance(spec, dict) and isinstance(spec.get("r"), str)
        }

    retained = (
        [snap for _v, snap in _replay(sink_dir)]
        if protect_log_versions
        else [_snap(sink_dir)]
    )
    protected_refs: set[str] = set()
    for snap in retained:
        protected.update(snap.listing)
        protected_refs.update(snap.dvrefs)
        for stats in snap.listing.values():
            protected_refs.update(_bloom_refs(stats))
    cutoff = time.time() - retain_seconds
    removed: list[str] = []
    for root, dirs, files in os.walk(sink_dir):
        # never descend into the txn/staging machinery
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for fname in files:
            if not fname.endswith(".parquet"):
                continue
            full = os.path.join(root, fname)
            rel = os.path.relpath(full, sink_dir)
            if rel in protected:
                continue
            with contextlib.suppress(FileNotFoundError):
                if os.path.getmtime(full) > cutoff:
                    continue
                os.remove(full)
                removed.append(rel)
    # leftover commit temp files from crashed writers — same age gate
    txn = _txn_dir(sink_dir)
    if os.path.isdir(txn):
        for fname in os.listdir(txn):
            if fname.startswith(".tmp-"):
                full = os.path.join(txn, fname)
                with contextlib.suppress(FileNotFoundError):
                    if os.path.getmtime(full) <= cutoff:
                        os.remove(full)
    # orphaned DV/bloom sidecars — staged by a crashed/raced writer
    # whose commit never published, or stranded by prune_log retiring
    # every version that referenced them. Same age gate as data files
    # (a concurrent writer's sidecar between stage and commit is
    # never reclaimed within the retention window).
    import shutil

    for kind in ("dv", "bloom"):
        root = os.path.join(txn, kind)
        if not os.path.isdir(root):
            continue
        for name in os.listdir(root):
            ref = f"{kind}/{name}"
            full = os.path.join(root, name)
            if ref in protected_refs:
                continue
            with contextlib.suppress(FileNotFoundError):
                if os.path.getmtime(full) <= cutoff:
                    shutil.rmtree(full, ignore_errors=True)
                    removed.append(os.path.join("_txn", ref))
    return sorted(removed)


def prune_log(sink_dir: str, keep_versions: int = CHECKPOINT_EVERY) -> list[int]:
    """Retire manifest entries no longer needed to reconstruct the
    most recent ``keep_versions`` snapshots (round-6 — the log-side
    half of the retention policy; Delta's metadata retention). Keeps
    the newest checkpoint at-or-below the horizon plus everything
    after it; versions OLDER than that checkpoint lose their entries
    and :func:`read_version` then refuses them with
    FileNotFoundError — a clean "beyond retention" failure, never a
    wrong snapshot. Entries between that checkpoint and the horizon
    survive as a conservative bonus. Returns the pruned versions.

    Run :func:`vacuum(..., protect_log_versions=True)` AFTER pruning
    to reclaim the data files only pre-horizon versions referenced —
    prune-then-vacuum is the safe order (vacuum protects exactly
    what the remaining log can still reach).

    TAGGED versions (round 6 — :func:`tag`) are protected like the
    retention window: the kept range extends back to the oldest
    checkpoint any tag needs, so a named snapshot stays
    time-travelable no matter how far the head moves (Iceberg's
    tag-retention rule). Conservative in between — entries between
    a tag's checkpoint and the horizon survive too — never a
    broken tag."""
    vs = versions(sink_dir)
    if not vs:
        return []
    horizon = max(vs[-1] - keep_versions + 1, vs[0])
    log = _scan_log(sink_dir)
    protected = [horizon] + [
        v for v in tags(sink_dir).values() if v in log
    ]
    bases = [
        max(
            (s for s, f in log.items() if s <= p and f.endswith(_CKPT_SUFFIX)),
            default=None,
        )
        for p in protected
    ]
    if any(b is None for b in bases):
        return []
    base = min(bases)
    pruned: list[int] = []
    for seq, fname in log.items():
        if seq < base:
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(_txn_dir(sink_dir), fname))
            pruned.append(seq)
    return sorted(pruned)


def _located_positions(df, sink_dir: str, condition=None, extra: tuple = ()):
    """Project a committed read down to ``(path, pos[, *extra])`` of
    the rows matching ``condition`` — sink-RELATIVE paths via the
    parquet reader's hidden ``_metadata`` columns, projected
    straight off the scan (metadata columns don't survive joins)."""
    from pyspark.sql import functions as F

    base = os.path.abspath(sink_dir)
    out = df.where(condition) if condition is not None else df
    return out.select(
        F.expr(
            f"substring(regexp_replace(_metadata.file_path,"
            f" '^file:/*', '/'), {len(base) + 2})"
        ).alias("path"),
        F.col("_metadata.row_index").cast("long").alias("pos"),
        *[F.col(c) for c in extra],
    )


def _stage_dv(
    spark: SparkSession, sink_dir: str, positions
) -> tuple[str, dict[str, int]] | None:
    """Write a deletion-vector SIDECAR from a ``(path, pos)``
    DataFrame — parquet under ``_txn/dv/<uuid>``, written by the
    EXECUTORS (the positions of a 10⁹-row delete never pass through
    the driver). Returns ``(ref, {path: count})`` for
    ``_commit(dv_ref=...)`` — the counts map (O(#files)) is the only
    driver-side state, read back from the sidecar itself so it can
    never disagree with the published positions. None when the
    locate matched nothing (the empty sidecar dir is removed)."""
    import shutil

    from pyspark.sql import functions as F

    ref = f"dv/{uuid.uuid4().hex[:12]}"
    out_dir = os.path.join(_txn_dir(sink_dir), ref)
    positions.write.mode("overwrite").parquet(out_dir)
    counts = {
        r["path"]: int(r["n"])
        for r in spark.read.parquet(out_dir)
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if not counts:
        shutil.rmtree(out_dir, ignore_errors=True)
        return None
    return ref, counts


def delete_where(
    spark: SparkSession,
    sink_dir: str,
    condition,
    max_attempts: int = 5,
    stats_out: dict | None = None,
) -> int:
    """DELETE FROM sink WHERE condition — as one deletion-vector
    commit (no data file touched). Matching rows are located with
    the parquet reader's ``_metadata`` columns and written straight
    from the EXECUTORS into a parquet sidecar (round 7 —
    :func:`_stage_dv`; the manifest carries the ref + O(#files)
    counts, never the positions, and driver memory is O(#files) at
    any deleted-row count — the roaring-bitmap-sidecar seam the
    round-6 design documented, now real). Published via a
    CONDITIONAL commit against the snapshot version the positions
    were computed from (optimistic concurrency — Delta's DELETE
    conflict detection): row positions stay valid across concurrent
    APPENDS but not across a concurrent REPLACE/compaction of the
    same files, so on losing the race the whole locate-and-commit
    cycle recomputes from the new head rather than publishing stale
    positions (the loser's sidecar stays unreferenced — vacuum
    fodder, like any crash orphan). Returns the number of rows
    deleted. Already-deleted rows never rematch (the read applies
    current DVs), so repeating a delete is a no-op.

    ``stats_out`` (round 7, optional) records concurrency evidence:
    ``{"attempts": locate-and-commit cycles run, "refused":
    conditional commits lost to a concurrent writer}``."""
    for attempt in range(1, max_attempts + 1):
        if stats_out is not None:
            stats_out["attempts"] = attempt
            stats_out.setdefault("refused", 0)
        vs = versions(sink_dir)
        head = vs[-1] if vs else 0
        df = read_committed(spark, sink_dir)
        if df is None:
            return 0
        staged = _stage_dv(
            spark, sink_dir, _located_positions(df, sink_dir, condition)
        )
        if staged is None:
            return 0
        if _commit(
            sink_dir,
            [],
            replace=False,
            dv_ref=staged,
            expected_version=head,
            op="delete",
        ):
            return sum(staged[1].values())
        if stats_out is not None:
            stats_out["refused"] += 1
    raise RuntimeError(
        f"delete_where lost the commit race {max_attempts} times on {sink_dir}"
    )


def merge_upsert_dv(
    spark: SparkSession,
    sink_dir: str,
    updates: DataFrame,
    key: str,
    partition_by: tuple[str, ...],
    max_attempts: int = 5,
    stats_out: dict | None = None,
) -> tuple[int, int]:
    """MERGE (upsert) as ONE atomic commit — Delta's DV-backed MERGE:
    rows of the current snapshot whose ``key`` appears in
    ``updates`` are deleted via deletion vectors, and ALL update
    rows (matched rewrites + brand-new keys) are appended, in a
    single log entry — so a reader sees either the whole merge or
    none of it, and no existing data file is rewritten (the q179
    CDC-apply rewrites whole partitions; this is the row-level,
    metadata-only variant a 100 TB upsert needs). Optimistic
    concurrency like :func:`delete_where`: positions are computed
    against a pinned snapshot and the commit is conditional on that
    version; a lost race recomputes. Returns (matched, inserted).
    The staged files of a lost attempt stay manifest-invisible
    until vacuum."""
    from pyspark.sql import functions as F

    for attempt in range(1, max_attempts + 1):
        if stats_out is not None:
            stats_out["attempts"] = attempt
            stats_out.setdefault("refused", 0)
        vs = versions(sink_dir)
        head = vs[-1] if vs else 0
        current = read_committed(spark, sink_dir)
        dv_ref: tuple[str, dict[str, int]] | None = None
        matched = 0
        if current is not None:
            # project the hidden _metadata columns straight off the
            # scan BEFORE joining — metadata columns propagate
            # through projections but are unresolvable after a join
            keyed = _located_positions(current, sink_dir, extra=(key,))
            hits = keyed.join(
                F.broadcast(updates.select(key).distinct()), key
            ).select("path", "pos")
            # matched positions go straight from the executors into
            # a parquet sidecar (round 7) — driver holds only the
            # O(#files) counts map
            dv_ref = _stage_dv(spark, sink_dir, hits)
            if dv_ref is not None:
                matched = sum(dv_ref[1].values())
        # the locate-join above runs on LOGICAL names (read_committed
        # applies the column mapping), but parquet files must carry
        # the table's frozen PHYSICAL names — translate before
        # staging (advisor round-6 medium: writing logical names
        # would schema-mix old and new files and null-fill one side)
        staged = stage_append(to_physical(updates, sink_dir), sink_dir, partition_by)
        if _commit(
            sink_dir,
            staged,
            replace=False,
            dv_ref=dv_ref,
            expected_version=head,
            op="merge",
        ):
            return matched, updates.count() - matched
        if stats_out is not None:
            stats_out["refused"] += 1
    raise RuntimeError(
        f"merge_upsert_dv lost the commit race {max_attempts} times on {sink_dir}"
    )


# ---------------------------------------------------------------
# Change data feed (round 6)


def _files_df(
    spark: SparkSession,
    sink_dir: str,
    files: list[str],
    schema: str | None,
):
    """Read specific committed files keyed by (normalized path, row
    position) under ``schema`` alone (no DVs, no column mapping) —
    the building block of the change feed."""
    from pyspark.sql import functions as F

    df = _read_files(spark, sink_dir, EMPTY._replace(schema=schema), files)
    return df.withColumn(
        "__p", F.regexp_replace(F.col("_metadata.file_path"), "^file:/*", "/")
    ).withColumn("__i", F.col("_metadata.row_index"))


def _pos_join_df(keyed, pos_df, how: str):
    """Semi/anti join a keyed file read against a deleted-position
    DataFrame from :func:`_dv_pos_df` (absolute ``__dv_path`` +
    ``__dv_pos``). ``pos_df=None`` means no positions: an anti join
    passes everything through, a semi join yields nothing. No
    broadcast hint — a sidecar's position set may be large; AQE
    still broadcasts the small case."""
    if pos_df is None:
        return keyed if how == "left_anti" else keyed.limit(0)
    return keyed.join(
        pos_df,
        (keyed["__p"] == pos_df["__dv_path"])
        & (keyed["__i"] == pos_df["__dv_pos"]),
        how,
    )


def read_changes(
    spark: SparkSession,
    sink_dir: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame | None:
    """CHANGE DATA FEED: the row-level changes between two snapshot
    versions, derived from the MANIFEST DIFF of each intervening
    commit — Delta's ``readChangeFeed`` semantics without rewriting
    a byte at write time. Emits the data columns (under
    ``to_version``'s read schema, older files null-filled) plus
    ``_change_type`` ('insert' | 'delete') and ``_commit_version``.
    Per version v the diff against v-1 decomposes into:

    - files added        → their rows (minus any DV positions placed
                           on them in the same commit) are inserts;
    - files retired      → their still-live rows (minus the DV
                           positions already dead at v-1) are deletes;
    - DV positions added on surviving files → deletes;
    - DV positions removed on surviving files (a RESTORE undoing a
      delete) → inserts.

    An update (MERGE) therefore appears as delete+insert of the same
    key — exactly Delta CDF's representation for DV-backed merges.
    Cost is O(changed files + DV positions) per version — the
    listing diff is manifest bytes, and only changed files are ever
    opened — which is what makes a downstream incremental consumer
    (see operators using this for materialized-view maintenance)
    O(delta) instead of O(table) at 100 TB. Returns None when the
    range contains no versions. A ``from_version`` of 0 means "from
    the beginning" (every v1 row is an insert).

    Retention interaction: ``from_version`` (and the versions whose
    files must be read) must be within the :func:`prune_log` /
    vacuum horizons — outside them this raises FileNotFoundError,
    the same clean refusal as time travel. An INTERMEDIATE version
    pruned from the log does not raise: its net changes fold into
    the next surviving version's diff (nothing is ever lost — the
    diff is taken against the last SEEN snapshot — but per-version
    attribution coarsens to the surviving version), matching the
    consumer contract that replaying the feed reproduces the head
    snapshot exactly."""
    from functools import reduce

    from pyspark.sql import functions as F

    vs = versions(sink_dir)
    if to_version is None:
        to_version = vs[-1] if vs else 0
    if to_version <= from_version:
        return None
    target = _snapshot_at(sink_dir, to_version)
    prev = _snapshot_at(sink_dir, from_version) if from_version else EMPTY
    prev_listing, prev_refs = prev.listing, prev.dvrefs

    pieces = []
    for v, snap in _replay(sink_dir, from_version, to_version, prev):
        cur_listing, cur_refs = snap.listing, snap.dvrefs
        added = [p for p in cur_listing if p not in prev_listing]
        removed = [p for p in prev_listing if p not in cur_listing]
        # DV diff at the SIDECAR-REF level (round 7): a ref is
        # immutable, so refs present in both snapshots contribute no
        # row-level change; added refs are new deletes, removed refs
        # (a RESTORE) are un-deletes. A restore chain that re-deletes
        # the same position under a fresh ref can emit a cancelling
        # delete+insert pair within one version — net-preserving for
        # any replaying consumer (the replay test pins this).
        added_refs = {r: c for r, c in cur_refs.items() if r not in prev_refs}
        removed_refs = {
            r: c for r, c in prev_refs.items() if r not in cur_refs
        }
        surviving = {p for p in cur_listing if p in prev_listing}

        def touched(refs):
            return sorted({p for c in refs.values() for p in c if p in surviving})

        # (kind, files, the DV refs that apply to them, join): added
        # files insert their live rows and retired files delete theirs;
        # on surviving files, positions of added refs are deletes and
        # positions of removed refs are un-deletes
        for kind, files, refs, how in (
            ("insert", added, cur_refs, "left_anti"),
            ("delete", removed, prev_refs, "left_anti"),
            ("delete", touched(added_refs), added_refs, "left_semi"),
            ("insert", touched(removed_refs), removed_refs, "left_semi"),
        ):
            if files:
                rows = _files_df(spark, sink_dir, files, target.schema)
                pos = _dv_pos_df(spark, sink_dir, refs, set(files))
                pieces.append((v, kind, _pos_join_df(rows, pos, how)))
        prev_listing, prev_refs = cur_listing, cur_refs

    if not pieces:
        return None
    data_cols = [
        c for c in pieces[0][2].columns if c not in ("__p", "__i", "__dp", "__di")
    ]
    # the feed emits LOGICAL column names under to_version's mapping,
    # mirroring read_version — a renamed table's incremental consumer
    # must see the same names its snapshot reads do (advisor round-6)
    cm = target.colmap
    labeled = [
        df.select(
            *[F.col(c).alias(cm.get(c, c)) for c in data_cols],
            F.lit(kind).alias("_change_type"),
            F.lit(v).cast("bigint").alias("_commit_version"),
        )
        for v, kind, df in pieces
    ]
    return reduce(DataFrame.unionByName, labeled)


def read_changes_with_images(
    spark: SparkSession,
    sink_dir: str,
    from_version: int,
    to_version: int | None,
    key: str,
) -> DataFrame | None:
    """Delta CDF's FOUR change types, INTENT-EXACT (round 9): each
    commit's ``#op`` tag (:func:`commit_op` — Delta's per-commit
    ``operation`` field analog) drives the classification the way
    Delta's readChangeFeed does:

    - ``op == 'optimize'`` → the version emits NOTHING (Delta's
      behavior for OPTIMIZE/compaction commits — their row-level
      deletes were already emitted by the DV commits they
      materialize);
    - ``op == 'merge'`` → every key with both a delete and an
      insert in the version is an UPDATE: delete rows relabeled
      ``update_preimage``, inserts ``update_postimage`` — INCLUDING
      a row the merge rewrote to its existing values, which emits
      Delta's identical pre/post pair (a DV merge writes only
      matched + inserted rows, never copies, so every same-key pair
      is genuine); one-sided keys keep plain types;
    - untagged versions (pre-round-9 logs) and other ops fall back
      to the content heuristic, now ROW-PAIRED (round-9 advisor):
      within ``(version, key)``, identical delete/insert row
      contents cancel ONE-FOR-ONE (multiset difference) — so a
      commit that re-lays some copies of a key unchanged while
      updating one copy suppresses exactly the unchanged pairs and
      labels only the residue, where the old whole-multiset compare
      relabeled every copy; a both-sided residue becomes an update
      pair, a one-sided residue keeps its plain type.

    Shuffle shape: one combine-safe aggregation to
    ``(version, key, row-content)`` — per-group fan-in is the
    commit's per-row write amplification — then per-key totals over
    that already-collapsed frame (group sizes = distinct contents
    per key per commit, bounded by the commit's write amplification;
    never a window over raw rows or a content hash alone). O(delta),
    never O(table), no hot key a merge didn't already have."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    ch = read_changes(spark, sink_dir, from_version, to_version)
    if ch is None:
        return None
    vs = versions(sink_dir)
    hi = to_version if to_version is not None else (vs[-1] if vs else 0)
    log = _scan_log(sink_dir)
    ops = {
        v: commit_op(sink_dir, v)
        for v in range(from_version + 1, hi + 1)
        if v in log
    }
    optimize_vs = [v for v, o in ops.items() if o == "optimize"]
    merge_vs = [v for v, o in ops.items() if o == "merge"]
    if optimize_vs:
        ch = ch.where(~F.col("_commit_version").isin(optimize_vs))

    out_cols = ch.columns
    data_cols = [c for c in out_cols if not c.startswith("_")]
    content_h = F.md5(
        F.to_json(F.struct(*[F.col(c) for c in data_cols])).cast("binary")
    )
    is_ins = F.col("_change_type") == "insert"
    counts = (
        ch.withColumn("_content_h", content_h)
        .groupBy("_commit_version", key, "_content_h")
        .agg(
            F.sum(F.when(is_ins, 1).otherwise(0)).alias("_n_ins"),
            F.sum(F.when(is_ins, 0).otherwise(1)).alias("_n_del"),
            # same hash == same content, so any exemplar restores
            # the row (the md5-collision tolerance the round-8
            # multiset compare already accepted)
            F.first(F.struct(*data_cols)).alias("_row"),
        )
    )
    is_merge = F.col("_commit_version").isin(merge_vs) if merge_vs else F.lit(False)
    paired = F.when(is_merge, F.lit(0)).otherwise(
        F.least("_n_ins", "_n_del")
    )
    counts = counts.withColumn("_rem_ins", F.col("_n_ins") - paired).withColumn(
        "_rem_del", F.col("_n_del") - paired
    )
    w = Window.partitionBy("_commit_version", key)
    counts = counts.withColumn("_k_ins", F.sum("_rem_ins").over(w)).withColumn(
        "_k_del", F.sum("_rem_del").over(w)
    )
    upd = (F.col("_k_ins") > 0) & (F.col("_k_del") > 0)

    # ONE pass for both sides (round 10): the old
    # union(_emit(del), _emit(ins)) form planned the entire feed
    # twice — Spark does not ReuseExchange across the two branches
    # because each filters `counts` differently BELOW the union, so
    # every commit's changed files were scanned, hashed, aggregated
    # and windowed twice (measured: 14 parquet scans / 18 exchanges
    # at sf0.01; halved by this rewrite). Instead, each collapsed
    # (version, key, content) group emits one side-tag array sized
    # by its residual counts and a single explode fans out both
    # change types; empty arrays (fully-paired groups) drop out of
    # the plain explode exactly as the old rem > 0 filters did.
    empty = F.array().cast("array<string>")
    side_tags = F.concat(
        F.when(
            F.col("_rem_del") > 0,
            F.transform(
                F.sequence(F.lit(1), F.col("_rem_del")), lambda i: F.lit("d")
            ),
        ).otherwise(empty),
        F.when(
            F.col("_rem_ins") > 0,
            F.transform(
                F.sequence(F.lit(1), F.col("_rem_ins")), lambda i: F.lit("i")
            ),
        ).otherwise(empty),
    )
    return (
        counts.withColumn("_side", F.explode(side_tags))
        .select(
            F.col("_row.*"),
            F.when(
                F.col("_side") == "d",
                F.when(upd, "update_preimage").otherwise("delete"),
            )
            .otherwise(F.when(upd, "update_postimage").otherwise("insert"))
            .alias("_change_type"),
            "_commit_version",
        )
        .select(*out_cols)
    )


# ---------------------------------------------------------------
# Write-audit-publish (round 6)
#
# Iceberg's WAP pattern: an ingest job stages its output on a
# BRANCH, an audit job validates the branch (quality checks, row
# counts, reconciliation) while production readers still see the
# untouched main table, and only then is the branch PUBLISHED —
# one atomic commit making every audited batch visible at once.
# On this log a branch is a set of staged-file records under
# ``_txn/wap/`` (exclusive-create entries, so concurrent stagers
# on the same branch serialize like commits); the data files are
# the ordinary manifest-invisible staged files, so an abandoned
# branch is reclaimed by vacuum like any crash orphan. Publish
# funnels through the snapshot's CHECK constraints (one scan of
# the BRANCH files only — O(branch), not O(table)) and refuses
# atomically: a failed audit leaves main byte-identical.

_WAP_DIR = "wap"


def _wap_dir(sink_dir: str) -> str:
    return os.path.join(_txn_dir(sink_dir), _WAP_DIR)


def wap_stage(sink_dir: str, branch: str, new_files: list[str]) -> int:
    """Record a staged batch on ``branch`` — the files stay
    manifest-invisible to main readers. Returns the branch entry
    sequence. Exclusive-create per (branch, seq): two stagers race,
    the loser retries the next sequence — no record lost."""
    d = _wap_dir(sink_dir)
    os.makedirs(d, exist_ok=True)
    seq = 1
    while True:
        path = os.path.join(d, f"{branch}-{seq:04d}.txt")
        try:
            with open(path, "x", encoding="utf-8") as f:
                f.write("\n".join(new_files) + ("\n" if new_files else ""))
                f.flush()
                os.fsync(f.fileno())
            return seq
        except FileExistsError:
            seq += 1


def wap_files(sink_dir: str, branch: str) -> list[str]:
    """Every file staged on ``branch``, in stage order."""
    d = _wap_dir(sink_dir)
    if not os.path.isdir(d):
        return []
    out: list[str] = []
    for fname in sorted(os.listdir(d)):
        if fname.startswith(f"{branch}-") and fname.endswith(".txt"):
            with open(os.path.join(d, fname), encoding="utf-8") as f:
                out.extend(line.strip() for line in f if line.strip())
    return out


def wap_read(
    spark: SparkSession, sink_dir: str, branch: str
) -> DataFrame | None:
    """The AUDIT view: main's committed snapshot plus the branch's
    staged batches — what the table WOULD look like after publish.
    Production readers (read_committed) never see any of it."""
    staged = wap_files(sink_dir, branch)
    snap = _snap(sink_dir)
    main = (
        _read_files(spark, sink_dir, snap, list(snap.listing)) if snap.listing else None
    )
    if not staged:
        return main
    branch_df = _read_files(spark, sink_dir, snap, staged)
    if main is None:
        return branch_df
    return main.unionByName(branch_df, allowMissingColumns=True)


def wap_publish(spark: SparkSession, sink_dir: str, branch: str) -> int:
    """Fast-forward main to include every batch staged on
    ``branch`` as ONE atomic commit, gated on the snapshot's CHECK
    constraints (scanning only the branch files — O(branch)). On
    CheckViolation NOTHING publishes and the branch stays staged
    (fix or abandon). Returns the version it committed; the branch
    records are retired on success."""
    staged = wap_files(sink_dir, branch)
    version = commit_append_checked(spark, sink_dir, staged)
    wap_abandon(sink_dir, branch)  # retire records; files are now committed
    return version


def wap_abandon(sink_dir: str, branch: str) -> int:
    """Drop every branch record — the staged data files become
    ordinary manifest-invisible orphans, reclaimed by
    :func:`vacuum`. Returns the number of records removed."""
    d = _wap_dir(sink_dir)
    if not os.path.isdir(d):
        return 0
    n = 0
    for fname in os.listdir(d):
        if fname.startswith(f"{branch}-") and fname.endswith(".txt"):
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(d, fname))
                n += 1
    return n


# ---------------------------------------------------------------
# Snapshot tags (round 6)
#
# Iceberg's tags: durable NAMES for versions ("baseline",
# "v2024-audit") that survive log retention — a tagged snapshot
# stays reconstructible after prune_log retires the untagged
# history around it. A tag is one tiny file under ``_txn/tags/``
# (atomic replace, so re-tagging is last-write-wins like Iceberg's
# replace-tag); prune_log keeps every manifest entry from the
# OLDEST checkpoint any protected version (retention window or
# tag) needs — conservative in between, never a broken tag; and
# vacuum(protect_log_versions=True) already protects every file a
# surviving log version references, tags included.


def _tags_dir(sink_dir: str) -> str:
    return os.path.join(_txn_dir(sink_dir), "tags")


def tag(sink_dir: str, name: str, version: int | None = None) -> int:
    """Name a snapshot. Defaults to the current head. Re-tagging an
    existing name moves it (atomic replace). Returns the tagged
    version."""
    vs = versions(sink_dir)
    if not vs:
        raise FileNotFoundError(f"no commits to tag in {sink_dir}")
    v = vs[-1] if version is None else version
    if v not in _scan_log(sink_dir):
        raise FileNotFoundError(f"cannot tag missing version {v}")
    d = _tags_dir(sink_dir)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(f"{v}\n")
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(d, f"{name}.txt"))
    return v


def tags(sink_dir: str) -> dict[str, int]:
    """{tag name -> version}."""
    d = _tags_dir(sink_dir)
    if not os.path.isdir(d):
        return {}
    out: dict[str, int] = {}
    for fname in os.listdir(d):
        if fname.endswith(".txt") and not fname.startswith("."):
            with contextlib.suppress(OSError, ValueError):
                with open(os.path.join(d, fname), encoding="utf-8") as f:
                    out[fname[:-4]] = int(f.read().strip())
    return out


def read_tag(spark: SparkSession, sink_dir: str, name: str) -> DataFrame:
    """Time travel by tag name."""
    t = tags(sink_dir)
    if name not in t:
        raise FileNotFoundError(f"no tag {name!r} in {sink_dir}")
    return read_version(spark, sink_dir, t[name])


# ---------------------------------------------------------------
# Metadata-only partition counts (round 6)


def metadata_count_by_dir(
    sink_dir: str, version: int | None = None
) -> dict[str, int] | None:
    """COUNT(*) GROUP BY partition directory from the manifest
    alone — the partition-level extension of :func:`metadata_agg`:
    per-file footer row counts summed per directory, minus each
    file's deletion-vector length (exact under DVs — positions are
    per-file). Returns None when any file lacks a footer count
    (pre-round-6 stats lines). Zero data files opened at any table
    size — the manifest answers the partition histogram a 100 TB
    table's planner (and its operator dashboards) ask constantly."""
    snap = _snap(sink_dir, version)
    deleted = _dv_counts(snap)
    out: dict[str, int] = {}
    for path, stats in snap.listing.items():
        n, _cols = _parse_stats(stats)
        if n is None:
            return None
        d = os.path.dirname(path)
        out[d] = out.get(d, 0) + n - deleted.get(path, 0)
    return out


# ---------------------------------------------------------------
# Column mapping / RENAME COLUMN (round 6)


def _apply_colmap(df, colmap: dict[str, str]):
    """Rename physical columns to their logical names (no-op for
    tables that never renamed; unknown physical names tolerated)."""
    if df is None or not colmap:
        return df
    from pyspark.sql import functions as F

    return df.select(
        *[F.col(c).alias(colmap.get(c, c)) for c in df.columns]
    )


def colmap_at(sink_dir: str, version: int | None = None) -> dict[str, str]:
    """The snapshot's column mapping: {physical name -> logical
    name} (empty when no rename ever happened)."""
    return _snap(sink_dir, version).colmap


def to_physical(df, sink_dir: str):
    """Rename a logically-named DataFrame back to the sink's
    PHYSICAL column names before staging — the writer-side half of
    column mapping (Delta writers do the same translation via field
    IDs). Callers that never renamed pass through untouched."""
    cm = colmap_at(sink_dir)
    if not cm:
        return df
    from pyspark.sql import functions as F

    inv = {v: k for k, v in cm.items()}
    return df.select(*[F.col(c).alias(inv.get(c, c)) for c in df.columns])


def rename_column(sink_dir: str, old: str, new: str) -> None:
    """RENAME COLUMN as ONE metadata commit — Delta's column-mapping
    analog: physical names in data files are FROZEN at creation;
    a rename changes only the logical surface via a ``#colmap``
    manifest line (checkpoint-carried, restore-rolled-back). Every
    read path (committed, time travel, WAP audit view, CHECK
    validation) applies the snapshot's mapping, so old files are
    never rewritten and per-version names survive time travel.
    Writers keep producing PHYSICAL names — stage logically-named
    frames through :func:`to_physical` first (the same
    translation Delta writers do via field IDs)."""
    cur = colmap_at(sink_dir)
    # find the physical column whose CURRENT logical name is `old`
    logical = {p: cur.get(p, p) for p in _physical_columns(sink_dir)}
    phys = [p for p, l in logical.items() if l == old]
    if not phys:
        raise KeyError(f"no column with logical name {old!r}")
    updated = {**cur, phys[0]: new}
    _commit(sink_dir, [], replace=False, colmap=updated, op="meta")


def _split_ddl_top(schema: str) -> list[str]:
    """Split a schema DDL string on TOP-LEVEL commas only, tracking
    ``<>``/``()`` nesting depth — ``DECIMAL(12,2)``, ``STRUCT<...>``
    and ``MAP<...>`` fields stay whole (advisor round-6: a bare
    ``.split(",")`` yields pseudo-columns like ``2)`` and inner
    struct field names, which a rename could wrongly resolve to)."""
    parts: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in schema:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


def _physical_columns(sink_dir: str) -> list[str]:
    """Physical column names of the current snapshot: from the
    declared read schema when present, else from any committed
    file's footer stats keys plus partition dirs (best effort —
    enough to resolve a rename target)."""
    snap = _snap(sink_dir)
    if snap.schema is not None:
        return [f.split()[0].strip("`") for f in _split_ddl_top(snap.schema)]
    cols: set[str] = set()
    for path, stats in snap.listing.items():
        _n, bounds = _parse_stats(stats)
        cols.update(bounds)
        d = os.path.dirname(path)
        if "=" in d:
            cols.add(d.split("=", 1)[0])
    return sorted(cols)
