"""Ingest-path tests (SURVEY.md §5 pyramid, tier 3 golden-file +
tier 4 property tests): XML flatten, bronze single-item coercion,
silver coercions, dedupe idempotence, streaming replay
effectively-once."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from data_pipeline_2025_spark.sources.bronze import (
    explode_items,
    read_price_files,
)
from data_pipeline_2025_spark.sources.silver import (
    availability_links,
    dedupe_price_items,
    normalize_items,
    upsert_stores,
)
from data_pipeline_2025_spark.sources.xmlsource import (
    flatten_stores,
    read_stores_xml,
)

STORES_XML = """<?xml version="1.0" encoding="utf-8"?>
<Root>
  <ChainID>7290700100008</ChainID>
  <ChainName>&quot;Test Chain&quot; Ltd</ChainName>
  <LastUpdateDate>2025-08-21</LastUpdateDate>
  <LastUpdateTime>00:22:17.000</LastUpdateTime>
  <SubChains>
    <SubChain>
      <SubChainID>001</SubChainID>
      <SubChainName>מרכז</SubChainName>
      <Stores>
        <Store>
          <StoreID>001</StoreID>
          <BikoretNo>7</BikoretNo>
          <StoreType>1</StoreType>
          <StoreName >סניף ראשי</StoreName>
          <Address>הרצל 1</Address>
          <City></City>
          <ZIPCode>12345</ZIPCode>
        </Store>
        <Store>
          <StoreID>002</StoreID>
          <BikoretNo>8</BikoretNo>
          <StoreType>2</StoreType>
          <StoreName>סניף שני</StoreName>
          <Address>ביאליק 2</Address>
          <City>חיפה</City>
          <ZIPCode>54321</ZIPCode>
        </Store>
      </Stores>
    </SubChain>
    <SubChain>
      <SubChainID>002</SubChainID>
      <SubChainName>דרום</SubChainName>
      <Stores>
        <Store>
          <StoreID>101</StoreID>
          <BikoretNo>9</BikoretNo>
          <StoreType>1</StoreType>
          <StoreName>באר שבע</StoreName>
          <Address></Address>
          <City>באר שבע</City>
          <ZIPCode></ZIPCode>
        </Store>
      </Stores>
    </SubChain>
  </SubChains>
</Root>
"""


def _item(code: str, price: str = "12.90", date: str = "2025-08-21 06:00:00"):
    return {
        "ItemCode": code,
        "ItemName": f"פריט {code}",
        "ManufacturerName": "Maker",
        "ItemPrice": price,
        "UnitOfMeasurePrice": "1.2900",
        "Quantity": "1.000",
        "UnitQty": "1",
        "UnitOfMeasure": "unit",
        "PriceUpdateDate": date,
        "ItemStatus": "1",
        "AllowDiscount": "1",
        "bIsWeighted": "0",
        "ItemId": code,
    }


def _price_file(chain: str, store: str, items):
    return json.dumps(
        {"Root": {"ChainId": chain, "StoreId": store, "Items": {"Item": items}}},
        ensure_ascii=False,
    )


@pytest.fixture()
def price_dir(tmp_path):
    d = tmp_path / "prices"
    d.mkdir()
    # normal multi-item file
    (d / "f1.json").write_text(
        _price_file(
            "7290700100008",
            "001",
            [
                _item("100"),
                _item("200", price=""),  # '' price → NULL (F9)
                _item("300", date="not-a-date"),  # malformed → NULL
            ],
        )
    )
    # single-item file: Items.Item is a dict, not a list (S7 quirk)
    (d / "f2.json").write_text(_price_file("9999999999999", "002", _item("400")))
    return str(d)


def test_xml_flatten(spark, tmp_path):
    p = tmp_path / "StoresFull_test.xml"
    p.write_text(STORES_XML, encoding="utf-8")
    flat = flatten_stores(read_stores_xml(spark, str(p)))
    rows = {r["store_id"]: r for r in flat.collect()}
    assert set(rows) == {"001", "002", "101"}
    assert rows["001"]["chain_id"] == "7290700100008"
    assert rows["001"]["chain_name"] == '"Test Chain" Ltd'  # entity decoded
    assert rows["001"]["city"] is None  # empty element → NULL
    assert rows["002"]["city"] == "חיפה"  # Hebrew survives
    assert rows["101"]["sub_chain_name"] == "דרום"
    assert rows["001"]["store_type"] == 1


def test_bronze_single_item_coercion(spark, price_dir):
    files = read_price_files(spark, price_dir)
    got = {r["source_file"].split("/")[-1]: r for r in files.collect()}
    assert len(got["f1.json"]["items"]) == 3
    assert len(got["f2.json"]["items"]) == 1  # dict coerced to 1-elem list
    assert got["f2.json"]["items"][0]["ItemCode"] == "400"


def test_silver_coercions_and_dedupe(spark, price_dir):
    bronze = explode_items(
        read_price_files(spark, price_dir), ingested_at="2025-08-21 07:00:00"
    )
    silver = normalize_items(bronze)
    rows = {r["item_code"]: r for r in silver.collect()}
    assert len(rows) == 4
    assert rows["100"]["item_price"] is not None
    assert float(rows["100"]["item_price"]) == 12.90
    assert rows["200"]["item_price"] is None  # '' → NULL
    assert rows["300"]["price_update_date"] is None  # malformed → NULL
    assert rows["100"]["price_update_date"] is not None
    assert rows["100"]["raw_hash"] is not None and len(rows["100"]["raw_hash"]) == 32

    # replay the whole batch: dedupe keeps one copy (T6)
    replayed = silver.unionByName(silver)
    assert dedupe_price_items(replayed).count() == 4

    links = availability_links(silver)
    assert links.count() == 4


def test_store_upsert_get_or_create(spark, price_dir):
    bronze = explode_items(
        read_price_files(spark, price_dir), ingested_at="2025-08-21 07:00:00"
    )
    silver = normalize_items(bronze)
    empty = spark.createDataFrame(
        [], "chain_id string, store_id string, chain_name string"
    )
    dim1 = upsert_stores(empty, silver)
    got = {(r["chain_id"], r["store_id"]): r["chain_name"] for r in dim1.collect()}
    assert got[("7290700100008", "001")] == "Rami Levi"  # known chain
    assert got[("9999999999999", "002")] == "Chain 9999999999999"  # fallback
    # second upsert with the same data adds nothing (get-or-create)
    dim2 = upsert_stores(dim1, silver)
    assert dim2.count() == dim1.count()


def test_upsert_reads_only_touched_partitions(spark, tmp_path):
    """The MERGE-shaped upsert's anti-join must be partition-bounded:
    scoping the existing-keys read to the batch's event dates prunes
    at the file index — O(replay window), never O(history)."""
    import datetime

    from pyspark.sql import functions as F

    from data_pipeline_2025_spark.streaming.ingest import scoped_existing_keys

    sink = str(tmp_path / "part_sink")
    df = spark.range(30).select(
        F.lit("c").alias("chain_id"),
        F.lit("s").alias("store_id"),
        F.col("id").cast("string").alias("item_code"),
        F.to_timestamp(F.lit("2025-08-21 00:00:00")).alias("price_update_date"),
        F.md5(F.col("id").cast("string")).alias("raw_hash"),
        F.date_add(F.lit("2025-08-20").cast("date"), (F.col("id") % 3).cast("int")).alias(
            "ingest_date"
        ),
    )
    df.write.mode("append").partitionBy("ingest_date").parquet(sink)

    existing = spark.read.parquet(sink)
    scoped = scoped_existing_keys(existing, [datetime.date(2025, 8, 21)])
    assert scoped.count() == 10  # one of three date partitions
    plan = scoped._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "ingest_date" in plan.split("PartitionFilters")[1].split("]")[0]

    # null event date → only the null partition (plus nothing else)
    assert scoped_existing_keys(existing, [None]).count() == 0
    both = scoped_existing_keys(
        existing, [None, datetime.date(2025, 8, 20)]
    )
    assert both.count() == 10


def test_streaming_ingest_replay_effectively_once(spark, price_dir, tmp_path):
    from data_pipeline_2025_spark.streaming.ingest import start_price_ingest

    sink = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    q = start_price_ingest(spark, price_dir, sink, ckpt)
    q.awaitTermination()
    first = spark.read.parquet(sink).count()
    assert first == 4

    # redeliver one file under a NEW name (content replay — the
    # checkpoint already covers same-path redelivery)
    import shutil

    shutil.copy(f"{price_dir}/f1.json", f"{price_dir}/f1_replayed.json")
    q2 = start_price_ingest(spark, price_dir, sink, ckpt)
    q2.awaitTermination()
    after = spark.read.parquet(sink).count()
    assert after == first  # content-key anti-join absorbed the replay


def test_silver_publish_crash_never_partial(spark, price_dir, tmp_path, monkeypatch):
    """The silver sink's transaction boundary (streaming/txn.py): a
    crash between the data-file moves and the manifest publish must
    leave readers on the PREVIOUS snapshot — old-or-new, never
    partial — and the checkpointed replay must converge to exactly
    the clean-run content, with vacuum reclaiming the orphans. This
    is the reference's Postgres BEGIN/COMMIT semantics
    (rabbitmq-to-postgres/app.py:158-176) without Delta."""
    import glob

    from data_pipeline_2025_spark.streaming import ingest, txn
    from data_pipeline_2025_spark.streaming.ingest import (
        read_silver,
        start_price_ingest,
    )

    sink = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")

    # ---- batch 1 commits cleanly: the "old" snapshot
    start_price_ingest(spark, price_dir, sink, ckpt).awaitTermination()
    old = read_silver(spark, sink)
    assert old is not None and old.count() == 4
    old_rows = {tuple(r) for r in old.select(*ingest.DEDUP_KEY).collect()}
    files_after_b1 = set(txn.committed_files(sink))
    assert files_after_b1  # transactional from the first commit

    # ---- batch 2 CRASHES at the commit point (files moved, manifest
    # not yet swapped)
    import shutil

    shutil.copy(f"{price_dir}/f2.json", f"{price_dir}/f3_new_content.json")
    # make it genuinely new content, not a replay twin
    txt = open(f"{price_dir}/f3_new_content.json").read().replace('"400"', '"500"')
    open(f"{price_dir}/f3_new_content.json", "w").write(txt)

    real_publish = ingest._publish_silver

    def boom(sink_dir, new_files):
        raise RuntimeError("injected crash before manifest publish")

    monkeypatch.setattr(ingest, "_publish_silver", boom)
    q = start_price_ingest(spark, price_dir, sink, ckpt)
    try:
        q.awaitTermination()
        raise AssertionError("stream should have failed")
    except Exception as exc:  # StreamingQueryException wraps the injection
        assert "injected crash" in str(exc)

    # orphaned data files exist on disk, but every reader going
    # through the committed snapshot still sees exactly the old rows
    on_disk = {
        f
        for f in glob.glob(f"{sink}/**/*.parquet", recursive=True)
        if "/_txn/" not in f
    }
    assert len(on_disk) > len(files_after_b1)  # partial write happened...
    mid = read_silver(spark, sink)
    assert {tuple(r) for r in mid.select(*ingest.DEDUP_KEY).collect()} == old_rows
    assert set(txn.committed_files(sink)) == files_after_b1  # ...but invisible

    # ---- retry with the SAME checkpoint: replay re-appends and
    # commits; content equals a clean one-shot run
    monkeypatch.setattr(ingest, "_publish_silver", real_publish)
    start_price_ingest(spark, price_dir, sink, ckpt).awaitTermination()
    final = read_silver(spark, sink)
    assert final.count() == 5  # 4 old + the genuinely-new item

    clean_sink = str(tmp_path / "silver_clean")
    start_price_ingest(
        spark, price_dir, clean_sink, str(tmp_path / "ckpt_clean")
    ).awaitTermination()
    clean = read_silver(spark, clean_sink)
    key_cols = ingest.DEDUP_KEY
    assert {tuple(r) for r in final.select(*key_cols).collect()} == {
        tuple(r) for r in clean.select(*key_cols).collect()
    }

    # ---- vacuum reclaims exactly the crash orphans; committed
    # content is untouched and disk now holds only committed files
    removed = txn.vacuum(sink)
    assert removed  # the orphans from the crashed batch
    still = read_silver(spark, sink)
    assert {tuple(r) for r in still.select(*key_cols).collect()} == {
        tuple(r) for r in clean.select(*key_cols).collect()
    }
    on_disk_after = {
        f
        for f in glob.glob(f"{sink}/**/*.parquet", recursive=True)
        if "/_txn/" not in f
    }
    import os as _os

    assert on_disk_after == {
        _os.path.join(sink, rel) for rel in txn.committed_files(sink)
    }


def test_silver_first_commit_crash_no_absorption(spark, price_dir, tmp_path, monkeypatch):
    """A crash during the sink's FIRST-ever commit — stage_append has
    renamed the batch's files into the partition layout, the
    manifest was never published — must NOT make read_silver fall
    back to a directory scan. The orphans would feed the idempotence
    anti-join, the replayed batch would be absorbed by rows that
    vacuum later deletes: permanent loss. The sink must read as an
    empty committed snapshot from the moment _txn exists."""
    import glob

    from data_pipeline_2025_spark.streaming import ingest, txn
    from data_pipeline_2025_spark.streaming.ingest import (
        read_silver,
        start_price_ingest,
    )

    sink = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")

    real_publish = ingest._publish_silver

    def boom(sink_dir, new_files):
        raise RuntimeError("injected crash before first manifest publish")

    monkeypatch.setattr(ingest, "_publish_silver", boom)
    q = start_price_ingest(spark, price_dir, sink, ckpt)
    try:
        q.awaitTermination()
        raise AssertionError("stream should have failed")
    except Exception as exc:
        assert "injected crash" in str(exc)

    # orphan data files landed in the partition layout...
    orphans = [
        f
        for f in glob.glob(f"{sink}/**/*.parquet", recursive=True)
        if "/_txn/" not in f
    ]
    assert orphans
    # ...but the sink already reads as an EMPTY committed snapshot —
    # never a directory scan over the orphans.
    assert txn.committed_files(sink) == []
    assert read_silver(spark, sink) is None

    # retry with the same checkpoint: the replayed batch is NOT
    # absorbed; content equals a clean one-shot run.
    monkeypatch.setattr(ingest, "_publish_silver", real_publish)
    start_price_ingest(spark, price_dir, sink, ckpt).awaitTermination()
    final = read_silver(spark, sink)
    clean_sink = str(tmp_path / "silver_clean")
    start_price_ingest(
        spark, price_dir, clean_sink, str(tmp_path / "ckpt_clean")
    ).awaitTermination()
    clean = read_silver(spark, clean_sink)
    key_cols = ingest.DEDUP_KEY
    assert {tuple(r) for r in final.select(*key_cols).collect()} == {
        tuple(r) for r in clean.select(*key_cols).collect()
    }
    # vacuum reclaims the first-attempt orphans, committed rows stay
    txn.vacuum(sink)
    assert read_silver(spark, sink).count() == clean.count()


def test_ingest_maintains_trigram_index(spark, price_dir, tmp_path):
    """With index_dir set, every micro-batch keeps the trigram search
    index fresh: new names are posted once, replayed files change
    nothing (already-indexed names are skipped), and the index is
    immediately searchable — the GIN-updates-on-INSERT behavior."""
    import shutil

    from data_pipeline_2025_spark.streaming.ingest import start_price_ingest
    from data_pipeline_2025_spark.operators.search import search_trigram_index
    from data_pipeline_2025_spark.sources.gold import read_gold

    sink = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    idx = str(tmp_path / "tg_index")
    start_price_ingest(spark, price_dir, sink, ckpt, index_dir=idx).awaitTermination()

    names = {r["name"] for r in read_gold(spark, idx).select("name").distinct().collect()}
    assert names == {"פריט 100", "פריט 200", "פריט 300", "פריט 400"}
    postings_before = read_gold(spark, idx).count()

    # content replay under a new file name → index unchanged
    shutil.copy(f"{price_dir}/f1.json", f"{price_dir}/f1_replay_idx.json")
    start_price_ingest(spark, price_dir, sink, ckpt, index_dir=idx).awaitTermination()
    assert read_gold(spark, idx).count() == postings_before

    # fuzzy search over the maintained index (misspelled probe)
    hits = search_trigram_index(spark, idx, "פריט 10", threshold=0.2).collect()
    assert any(r["name"] == "פריט 100" for r in hits)


def test_index_update_crash_between_writes(spark, tmp_path, monkeypatch):
    """Crash-injection for update_trigram_index: the crash window is
    'postings staged, commit not published'. The orphan postings must
    stay invisible to search, a retry after restart must converge to
    the same search results as a cleanly built index with every
    name's postings committed once, and vacuum must reclaim the
    orphan file."""
    import os

    from data_pipeline_2025_spark.operators.search import (
        build_trigram_index_at,
        names_frame,
        search_trigram_index,
        update_trigram_index,
    )
    from data_pipeline_2025_spark.streaming import txn

    idx = str(tmp_path / "tg_idx")
    base = spark.createDataFrame([("alpha bread",), ("beta milk",)], ["name"])
    build_trigram_index_at(spark, base, idx)
    committed_before = txn.committed_files(idx)

    def hits(path):
        rows = search_trigram_index(spark, path, "gama eggs", threshold=0.05).collect()
        return [(r["name"], r["sim"]) for r in rows]

    before = hits(idx)
    new = ["gamma eggs", "alpha bread"]
    staged: list[str] = []
    stage = txn.stage_append

    def stage_then_crash(*a, **k):
        staged.extend(stage(*a, **k))
        raise RuntimeError("injected crash before the index commit")

    monkeypatch.setattr(txn, "stage_append", stage_then_crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        update_trigram_index(spark, idx, new)
    monkeypatch.setattr(txn, "stage_append", stage)

    # the orphan postings are on disk but invisible
    assert len(staged) == 1 and os.path.exists(os.path.join(idx, staged[0]))
    assert txn.committed_files(idx) == committed_before
    assert hits(idx) == before
    assert "gamma eggs" not in {n for n, _ in before}

    # retry after restart: same fresh set, one commit
    assert update_trigram_index(spark, idx, new) == 1
    assert update_trigram_index(spark, idx, new) == 0  # now a no-op

    clean = str(tmp_path / "tg_clean")
    build_trigram_index_at(
        spark, base.unionByName(names_frame(spark, new)).distinct(), clean
    )
    want = hits(clean)
    assert hits(idx) == want and "gamma eggs" in {n for n, _ in want}
    postings = txn.read_committed(spark, idx)
    assert postings.count() == postings.dropDuplicates(["name", "tg"]).count()
    assert postings.count() == txn.read_committed(spark, clean).count()
    assert {r["name"] for r in postings.select("name").distinct().collect()} == {
        "alpha bread", "beta milk", "gamma eggs"
    }

    # vacuum reclaims exactly the orphan; search results unchanged
    assert txn.vacuum(idx) == staged
    assert not os.path.exists(os.path.join(idx, staged[0]))
    assert hits(idx) == want


def test_index_names_come_from_the_pre_anti_join_batch(
    spark, price_dir, tmp_path, monkeypatch
):
    """A crash between the silver commit and the index update must
    not lose the batch's names: the replayed batch is absorbed by the
    silver anti-join, so only names taken BEFORE the anti-join still
    reach the index on the retry."""
    from data_pipeline_2025_spark.operators import search
    from data_pipeline_2025_spark.streaming import txn
    from data_pipeline_2025_spark.streaming.ingest import read_silver, start_price_ingest

    sink, ckpt, idx = (str(tmp_path / d) for d in ("silver", "ckpt", "tg_index"))
    start_price_ingest(spark, price_dir, sink, ckpt, index_dir=idx).awaitTermination()

    # a second batch with names the index does not hold yet
    txt = open(f"{price_dir}/f2.json").read().replace('"400"', '"500"')
    txt = txt.replace("פריט 400", "פריט 500")
    open(f"{price_dir}/f3_new.json", "w").write(txt)
    assert "פריט 500" in txt
    real_update = search.update_trigram_index
    calls = []

    def crash_once(*a, **k):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("injected crash after the silver commit")
        return real_update(*a, **k)

    monkeypatch.setattr(search, "update_trigram_index", crash_once)
    q = start_price_ingest(spark, price_dir, sink, ckpt, index_dir=idx)
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination()
    silver_rows = read_silver(spark, sink).count()
    assert silver_rows == 5  # the silver commit landed before the crash

    start_price_ingest(spark, price_dir, sink, ckpt, index_dir=idx).awaitTermination()
    assert len(calls) == 2
    assert read_silver(spark, sink).count() == silver_rows  # replay absorbed
    postings = {
        r["name"]: set(r["tgs"])
        for r in txn.read_committed(spark, idx)
        .groupBy("name").agg(F.collect_set("tg").alias("tgs")).collect()
    }
    hits = search.search_trigram_index(spark, idx, "פריט 50", threshold=0.2).collect()
    assert postings.get("פריט 500") == set(search._trigrams("פריט 500"))
    assert any(r["name"] == "פריט 500" for r in hits)
    assert set(postings) == {"פריט 100", "פריט 200", "פריט 300", "פריט 400", "פריט 500"}


def test_a_lost_index_is_rebuilt_from_the_whole_silver(spark, price_dir, tmp_path):
    """A batch that finds no committed index (fresh, deleted, or an
    earlier layout) builds it from every name in the committed
    silver, not only from its own names: after two drops, a deleted
    index and a third drop, every committed name is findable and the
    postings equal a fresh build over the same names."""
    import shutil

    from data_pipeline_2025_spark.operators import search
    from data_pipeline_2025_spark.streaming import txn
    from data_pipeline_2025_spark.streaming.ingest import read_silver, start_price_ingest

    sink, ckpt, idx = (str(tmp_path / d) for d in ("silver", "ckpt", "tg_index"))

    def drop(fname: str, codes: list[str]) -> None:
        with open(f"{price_dir}/{fname}", "w") as f:
            f.write(_price_file("7290700100008", "003", [_item(c) for c in codes]))
        start_price_ingest(spark, price_dir, sink, ckpt, index_dir=idx).awaitTermination()

    start_price_ingest(spark, price_dir, sink, ckpt, index_dir=idx).awaitTermination()
    drop("d2.json", ["500", "600"])
    shutil.rmtree(idx)
    drop("d3.json", ["700"])

    names = sorted(
        r["item_name"] for r in read_silver(spark, sink).select("item_name").distinct().collect()
    )
    assert len(names) == 7
    for name in names:
        hits = search.search_trigram_index(spark, idx, name).collect()
        assert name in {r["name"] for r in hits}

    clean = str(tmp_path / "tg_clean")
    search.build_trigram_index_at(spark, search.names_frame(spark, names), clean)

    def postings(path):
        return sorted(tuple(r) for r in txn.read_committed(spark, path).collect())

    assert postings(idx) == postings(clean)
