"""Gold-layer layout tests: partitioned writes + pruning proof.
The reference's only physical tuning is btree/GIN indexes
(tables.sql:44-48); our equivalent is directory partitioning +
row-group stats, and this test pins that a store-scoped read
actually prunes (PartitionFilters in the scan, one directory read)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipeline_2025_spark.catalog import Catalog
from data_pipeline_2025_spark.mapping import products
from data_pipeline_2025_spark.plans import plan_of
from data_pipeline_2025_spark.sources.gold import read_gold, write_gold


def test_partitioned_gold_prunes(spark, sf_smoke, tmp_path):
    gold = str(tmp_path / "gold_products")
    df = products(Catalog(spark, sf_smoke)).drop("_price_raw")
    write_gold(df, gold, partition_by=("supermarket_id",))

    back = read_gold(spark, gold)
    assert back.count() == df.count()

    scoped = back.where(F.col("supermarket_id") == 3)
    plan = plan_of(scoped)
    assert "PartitionFilters" in plan
    assert "supermarket_id" in plan.split("PartitionFilters")[1][:200]
    # pruned read returns exactly the partition's rows
    assert scoped.count() == df.where(F.col("supermarket_id") == 3).count()


def test_gold_roundtrip_preserves_decimals(spark, sf_smoke, tmp_path):
    gold = str(tmp_path / "gold_rt")
    df = products(Catalog(spark, sf_smoke)).drop("_price_raw")
    write_gold(df, gold)
    back = read_gold(spark, gold)
    assert dict(back.dtypes)["price"] == "decimal(12,2)"
    orig = sorted(str(r) for r in df.select("product_id", "price").collect())
    rt = sorted(str(r) for r in back.select("product_id", "price").collect())
    assert orig == rt


def test_trigram_index_incremental_update(spark, tmp_path):
    """Incremental index maintenance: an update with fresh names
    commits exactly one new file and leaves every file committed
    before it unchanged; an update with no fresh names commits
    nothing; search sees the new names immediately."""
    import os

    from data_pipeline_2025_spark.operators.search import (
        build_trigram_index_at,
        search_trigram_index,
        update_trigram_index,
    )
    from data_pipeline_2025_spark.streaming import txn

    path = str(tmp_path / "tg_index")
    base = spark.createDataFrame(
        [("widget bolt",), ("gadget nut",)], ["name"]
    )
    build_trigram_index_at(spark, base, path)
    files_before = txn.committed_files(path)
    assert len(files_before) == 1
    stat_before = {f: os.stat(os.path.join(path, f)).st_mtime_ns for f in files_before}
    head = txn.versions(path)[-1]

    # already-indexed name → 0 new, no commit
    assert update_trigram_index(spark, path, ["widget bolt"]) == 0
    assert txn.versions(path)[-1] == head
    # fresh name → exactly one committed file more
    fresh = ["sprocket cam", "widget bolt"]
    assert update_trigram_index(spark, path, fresh) == 1
    files_after = txn.committed_files(path)
    assert txn.versions(path)[-1] == head + 1
    assert set(files_before) < set(files_after) and len(files_after) == 2
    assert {
        f: os.stat(os.path.join(path, f)).st_mtime_ns for f in files_before
    } == stat_before

    # no duplicate postings for the re-sent name
    idx = txn.read_committed(spark, path)
    assert (
        idx.where(F.col("name") == "widget bolt").count()
        == idx.where(F.col("name") == "widget bolt").select("tg").distinct().count()
    )

    # the fresh name is immediately searchable (misspelled probe)
    hits = search_trigram_index(spark, path, "sproket cam").collect()
    assert [r["name"] for r in hits][:1] == ["sprocket cam"]

    # idempotent re-send after the append
    assert update_trigram_index(spark, path, fresh) == 0
    assert txn.committed_files(path) == files_after


def test_index_without_a_commit_answers_empty(spark, tmp_path):
    """An index directory that is missing, empty, or staged but never
    committed answers a search with an empty (name, sim) frame."""
    from data_pipeline_2025_spark.operators.search import (
        names_frame,
        postings,
        search_trigram_index,
    )
    from data_pipeline_2025_spark.streaming import txn

    missing = str(tmp_path / "missing")
    empty = tmp_path / "empty"
    empty.mkdir()
    staged = str(tmp_path / "staged")
    txn.stage_append(postings(names_frame(spark, ["widget bolt"])), staged, ())
    for path in (missing, str(empty), staged):
        got = search_trigram_index(spark, path, "widget bolt")
        assert got.columns == ["name", "sim"]
        assert got.collect() == []


def test_trigram_index_ignores_an_earlier_layout(spark, sf_smoke, tmp_path):
    """A directory at trigram_index_path that still holds the earlier
    layout (postings partitioned by first character, plus a name
    manifest beside it) is read only through its committed snapshot:
    q67 over it agrees with the scan-side q47."""
    import os
    import shutil

    from data_pipeline_2025_spark import artifacts
    from data_pipeline_2025_spark.operators import search

    sf = tmp_path / "sf"
    sf.mkdir()
    os.symlink(os.path.join(sf_smoke, "part.parquet"), sf / "part.parquet")
    index = search.trigram_index_path(str(sf))
    # the earlier layout, holding a bogus exact match for the fuzzy term
    stale = spark.createDataFrame([(search.FUZZY_TERM,)], ["name"])
    tgs = F.array_distinct(
        F.expr("transform(sequence(1, length(padded) - 2), i -> substring(padded, i, 3))")
    )
    (
        stale.withColumn("padded", search._padded())
        .withColumn("tgs", tgs)
        .select("name", F.size("tgs").alias("n_name"), F.explode("tgs").alias("tg"))
        .withColumn("tg1", F.substring("tg", 1, 1))
        .write.mode("overwrite").partitionBy("tg1").parquet(index)
    )
    stale.write.mode("overwrite").parquet(index + "_names")

    try:
        got = search.q67_trigram_index_search(spark, str(sf)).collect()
        want = search.q47_trigram_fuzzy_search(spark, str(sf)).collect()
    finally:
        artifacts._BUILT.discard(index)
        shutil.rmtree(os.path.dirname(index), ignore_errors=True)
    assert got and [(r["name"], round(r["sim"], 12)) for r in got] == [
        (r["name"], round(r["sim"], 12)) for r in want
    ]
    assert search.FUZZY_TERM not in {r["name"] for r in got}


@pytest.mark.parametrize("layout", ["fresh", "pre-change link"])
def test_crashed_or_pre_change_publish_is_invisible(spark, tmp_path, monkeypatch, layout):
    """An artifact reads only what publish committed: a publish that
    crashes before its commit leaves the previous rows in place and
    only orphans for vacuum, and a path that is still a symlink onto
    an older version directory (the layout before txn publishing)
    shows none of that directory's rows."""
    import os

    from data_pipeline_2025_spark import artifacts
    from data_pipeline_2025_spark.streaming import txn

    path = str(tmp_path / "artifact")
    legacy: list[str] = []
    if layout == "pre-change link":
        version = path + ".v-1-0123abcd"
        spark.createDataFrame([(-1,)], "k INT").write.parquet(version)
        os.symlink(version, path)
        legacy = [f for f in os.listdir(version) if f.endswith(".parquet")]

    def rows():
        return sorted(r["k"] for r in txn.read_committed(spark, path).collect())

    build = lambda: spark.range(7).selectExpr("CAST(id AS INT) AS k")  # noqa: E731
    artifacts.publish(build(), path)
    assert rows() == sorted(r["k"] for r in build().collect())

    staged: list[str] = []

    def crash(sink_dir, new_files):
        staged.extend(new_files)
        raise RuntimeError("injected crash before the publish commit")

    monkeypatch.setattr(txn, "commit_replace_table", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        artifacts.publish(spark.range(100, 103).selectExpr("CAST(id AS INT) AS k"), path)
    assert staged and rows() == list(range(7))
    assert txn.vacuum(path) == sorted(staged + legacy)
    assert rows() == list(range(7))
