"""The scratch-state rule for registry queries (artifacts.py): a
query's throwaway sink, checkpoint or source dir is either built once
per session (``built_scratch``) or made empty per call
(``call_scratch``), always under one per-process root that the exit
cleanup removes."""

from __future__ import annotations

import glob
import os
import tempfile

import pytest
from pyspark.sql.readwriter import DataFrameWriter

from data_pipeline_2025_spark import artifacts, registry

from .oracle import compare, run_spark


def _sf_copy(sf_dir: str, dst) -> str:
    """A new source dir over the same tables: its own sf key, so the
    queries below start from no scratch state of earlier tests."""
    os.makedirs(dst)
    for name in os.listdir(sf_dir):
        os.symlink(os.path.join(sf_dir, name), os.path.join(dst, name))
    return str(dst)


def _tree(root: str) -> set[str]:
    return {
        os.path.relpath(os.path.join(d, n), root)
        for d, dirs, files in os.walk(root)
        for n in dirs + files
    }


def test_failed_scratch_build_is_rebuilt(spark, sf_smoke, tmp_path, monkeypatch):
    """q239's json leg fails once, leaving the output dir a failed
    write leaves; the next call must rebuild, not read that dir."""
    sf = _sf_copy(sf_smoke, tmp_path / "sf")
    spec = registry.load_all()["q239_format_roundtrip"]
    real_save = DataFrameWriter.save
    failed = []

    def save_json_fails_once(self, path=None, *args, **kwargs):
        if path and os.path.basename(path) == "json" and not failed:
            failed.append(path)
            os.makedirs(path)
            raise OSError("injected json write failure")
        return real_save(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "save", save_json_fails_once)
    with pytest.raises(OSError, match="injected"):
        run_spark(spec, spark, sf)
    assert failed
    problems = compare(spec, spark, sf)
    assert not problems, "\n".join(problems)


def test_registry_scratch_does_not_leak(spark, sf_smoke, tmp_path):
    """Per-call queries, twice each: nothing lands in the persistent
    artifact root or beside the scratch root, each query keeps one
    dir, and the exit cleanup removes the root."""
    sf = _sf_copy(sf_smoke, tmp_path / "sf")
    specs = registry.load_all()
    art_before = _tree(artifacts.artifact_root())
    ckpt_glob = os.path.join(tempfile.gettempdir(), "*_ckpt")
    ckpt_before = set(glob.glob(ckpt_glob))
    for name in ("q141_schema_evolution_read", "q220_stream_dv_upsert"):
        first = run_spark(specs[name], spark, sf)
        assert run_spark(specs[name], spark, sf) == first
    assert _tree(artifacts.artifact_root()) == art_before
    assert set(glob.glob(ckpt_glob)) == ckpt_before
    root = artifacts._SCRATCH_ROOT
    assert sorted(os.listdir(os.path.join(root, artifacts.sf_key(sf)))) == [
        "q141",
        "q220",
    ]
    assert not [p for p in _tree(root) if p.endswith("_ckpt")]
    artifacts._remove_scratch_root()
    assert not os.path.exists(root)
