"""The benchmark's inputs are a pure function of the seed."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import datagen  # noqa: E402


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def test_tables_are_byte_identical_per_seed(tmp_path):
    a = datagen.write_tables(7, 0.001, str(tmp_path / "a"))
    b = datagen.write_tables(7, 0.001, str(tmp_path / "b"))
    c = datagen.write_tables(8, 0.001, str(tmp_path / "c"))
    fa, fb, fc = _files(a), _files(b), _files(c)
    assert len(fa) == 10
    assert fa == fb
    assert fa["lineitem.parquet"] != fc["lineitem.parquet"]


def test_serve_stream_is_identical_per_seed():
    barcodes = [str(i) for i in range(500)]
    names = ["hot rod", "blue ring", "old gear"]
    a = datagen.serve_requests(3, barcodes, names, [1, 2, 3], 400)
    b = datagen.serve_requests(3, barcodes, names, [1, 2, 3], 400)
    c = datagen.serve_requests(4, barcodes, names, [1, 2, 3], 400)
    assert a == b
    assert a != c


def test_serve_stream_keeps_the_mix_in_every_block():
    reqs = datagen.serve_requests(1, [str(i) for i in range(100)], ["hot rod"], [1], 200)
    block = sum(n for _, n in datagen.SERVE_MIX)
    for start in range(0, 200, block):
        kinds = [r["kind"] for r in reqs[start : start + block]]
        assert {k: kinds.count(k) for k in set(kinds)} == dict(datagen.SERVE_MIX)


def test_unknown_barcodes_expect_404():
    reqs = datagen.serve_requests(5, [str(i) for i in range(100)], ["hot rod"], [1], 2000)
    rest = [r for r in reqs if r["kind"] in ("compare", "history") and r["method"] == "GET"]
    unknown = [r for r in rest if r["status"] == 404]
    assert unknown and all("/9" in r["path"] for r in unknown)
    assert len(unknown) < 0.1 * len(rest)


def test_price_drops_are_identical_per_seed():
    for drop in range(4):
        assert datagen.price_drop(11, drop) == datagen.price_drop(11, drop)
    assert datagen.price_drop(11, 2) != datagen.price_drop(12, 2)


def test_replays_repeat_earlier_files_byte_for_byte():
    earlier = {data for d in (0, 1) for _, data in datagen.price_drop(2, d)[0]}
    files, _ = datagen.price_drop(2, 2)
    replays = [data for name, data in files if "replay" in name]
    assert replays and all(r in earlier for r in replays)


def test_original_items_are_unique_across_drops():
    seen = set()
    for d in range(6):
        for chain, store, item in datagen.price_drop(9, d)[1]:
            key = (chain, store, tuple(sorted(item.items())))
            assert key not in seen
            seen.add(key)
