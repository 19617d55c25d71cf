"""Process-shared materialized artifacts (silver products, trigram
index, continuous aggregates) under a hardened root, and the one
rule for a registry query's throwaway scratch state.

Three hazards of the naive ``/tmp/dp2025_gold/{mangled_sf_dir}``
layout, each fixed here:

- **key collisions** — ``strip('/')+replace('/','_')`` maps distinct
  directories (``a/b_c`` vs ``a_b/c``) to one key; the key is now
  the md5 of the absolute path, collision-free for any two dirs;
- **world-shared root** — a predictable ``/tmp`` path is
  pre-creatable/poisonable by another user on multi-user hosts; the
  root is now per-uid and created with mode 0700;
- **overwrite-under-reader races** — ``mode('overwrite')`` deletes
  files first, so a concurrent process mid-read sees missing files.
  Every artifact is a ``streaming/txn.py`` table: :func:`publish`
  stages the new files invisibly and makes them the whole table with
  one replace commit; superseded files stay until ``txn.vacuum``, so
  a frame another process holds keeps its files. Readers go through
  ``txn.read_committed``, which lists only committed files — staged
  orphans of a crashed publish and files of any earlier layout in
  the directory are never read. Inputs are immutable per sf_dir and
  builds deterministic, so concurrent publishers commit identical
  content and either order is correct.

Scratch state (a query's own txn sink, stream checkpoint or source
dir) lives under one per-process root removed at interpreter exit.
:func:`built_scratch` builds a dir once per session and registers it
only after its build returns, like :func:`materialize`; a failed
build leaves nothing behind. :func:`call_scratch` hands each call an
empty dir and so removes the previous call's.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .streaming import txn


def artifact_root() -> str:
    uid = os.getuid() if hasattr(os, "getuid") else "na"
    root = os.path.join(tempfile.gettempdir(), f"dp2025_gold_{uid}")
    os.makedirs(root, mode=0o700, exist_ok=True)
    return root


def sf_key(sf_dir: str) -> str:
    """The collision-free key of a source directory."""
    return hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:16]


def artifact_path(sf_dir: str, name: str) -> str:
    """Stable per-(sf_dir, artifact) path under the hardened root."""
    return os.path.join(artifact_root(), sf_key(sf_dir), name)


def publish(df: DataFrame, path: str, partition_by: tuple[str, ...] = ()) -> str:
    """Make ``df`` the whole txn table at ``path``: stage its files,
    then one replace commit. A crash before the commit leaves only
    invisible orphans; readers see the old table or the new one."""
    txn.commit_replace_table(path, txn.stage_append(df, path, partition_by))
    return path


# Artifact paths published by this process: each is rebuilt once per
# process, so it is always fresh against the source parquet.
_BUILT: set[str] = set()


def materialize(
    sf_dir: str,
    name: str,
    build: Callable[[], DataFrame],
    partition_by: tuple[str, ...] = (),
) -> str:
    """The path of sf_dir's artifact ``name``, publishing ``build()``
    there the first time this process asks for it."""
    path = artifact_path(sf_dir, name)
    if path not in _BUILT:
        publish(build(), path, partition_by)
        _BUILT.add(path)
    return path


_SCRATCH_ROOT: str | None = None
# Scratch dirs built by built_scratch -> the applicationId of the session
# they were built in (a new session after a stopped one rebuilds).
_SCRATCH_BUILT: dict[str, str] = {}


def _scratch_path(sf_dir: str, name: str) -> str:
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="dp2025_scratch_")
    return os.path.join(_SCRATCH_ROOT, sf_key(sf_dir), name)


def _remove_scratch_root() -> None:
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is not None:
        shutil.rmtree(_SCRATCH_ROOT, ignore_errors=True)
    _SCRATCH_ROOT = None
    _SCRATCH_BUILT.clear()


atexit.register(_remove_scratch_root)


def call_scratch(spark: SparkSession, sf_dir: str, name: str) -> str:
    """An empty scratch dir for this call of query ``name``; the
    previous call's dir of that name is removed."""
    path = _scratch_path(sf_dir, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def built_scratch(
    spark: SparkSession, sf_dir: str, name: str, build: Callable[[str], None]
) -> str:
    """Query ``name``'s scratch dir, filled by ``build(path)`` the first
    time this session asks. The dir counts as built only once
    ``build`` returns: if it raises, the dir is removed and the next
    call starts over."""
    session = spark.sparkContext.applicationId
    path = _scratch_path(sf_dir, name)
    if _SCRATCH_BUILT.get(path) != session:
        call_scratch(spark, sf_dir, name)
        try:
            build(path)
        except BaseException:
            shutil.rmtree(path, ignore_errors=True)
            raise
        _SCRATCH_BUILT[path] = session
    return path
