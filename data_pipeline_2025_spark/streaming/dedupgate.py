"""Streaming dedup-at-ingest gate (q120) — the production shape of
MinHash/LSH dedup: documents are admitted or rejected AS THEY
ARRIVE, against a persistent signature store, instead of by a
periodic all-corpus batch job. This is how a 100 TB training-data
pipeline actually runs its near-dup filter: the signature store is
the only state (16 bigints per doc — ~128 bytes, corpus-size
independent per doc), candidates come only from LSH band buckets,
and each micro-batch touches O(batch × bucket fan-out) rows, never
O(history).

Gate policy (deliberately order-independent so the stream and the
batch oracle agree): a document is REJECTED iff some document with a
SMALLER doc_id shares an LSH band with it and their signatures agree
on >= GATE_MATCHES of the 16 MinHash values (estimate >= 12/16 =
0.75). Signatures of rejected docs are STILL stored — a rejected
near-dup blocks later copies too (the standard "canonical = min id
over the dup cluster seen so far" greedy), which is exactly what
makes the verdict independent of how the stream is chopped into
micro-batches, as long as arrival order is ascending by doc_id (the
natural time-ordered-crawl property; the test fixture enforces it
with file modification times).

Per micro-batch (foreachBatch, started by stream.start_batches):
1. signatures of the incoming docs via the SAME doc_shingles /
   doc_minhash / band_keys builders as the batch path (bit-identical
   features);
2. anti-join on doc_id against the store, BEFORE step 3 (crash
   replays absorbed: a replayed signature counted again would
   duplicate its row in store ∪ batch and double a blocker count);
3. blockers = band-candidates (operators/dedup.lsh_candidates) with
   smaller doc_id from (store ∪ earlier-in-this-batch) whose
   signature match count (dedup.signature_matches) >= GATE_MATCHES;
4. append verdicts (doc_id, blockers, is_kept) through
   stream.append_absent on doc_id, then ALL new signatures to the
   store.

The registered query runs the real stream over an ascending 3-way
split of the documents table into fresh scratch dirs and serves
verdicts from the materialized verdict table ONLY; the oracle
computes the same verdicts in one batch pass — hash equality proves
gate-at-ingest == batch dedup.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from . import txn
from .stream import append_absent, file_stream, start_batches

from ..catalog import table_path
from ..fixtures import split_ascending
from ..operators.dedup import (
    NUM_HASHES,
    SHINGLES_SQL,
    _band_keys_sql,
    _minhash_select_sql,
    band_keys,
    doc_minhash,
    doc_shingles,
    lsh_candidates,
    signature_matches,
)

GATE_MATCHES = 12  # estimate >= 12/16 = 0.75 blocks admission

def _blockers(new_sigs: DataFrame, known_sigs: DataFrame) -> DataFrame:
    """(doc_id, blockers) for every doc in new_sigs: count of
    distinct smaller-id docs in known_sigs sharing a band with
    signature agreement >= GATE_MATCHES."""
    cand = lsh_candidates(band_keys(known_sigs), band_keys(new_sigs))
    return (
        signature_matches(cand, known_sigs, new_sigs)
        .where(F.col("matches") >= GATE_MATCHES)
        .groupBy("doc_b")
        .agg(F.count(F.lit(1)).alias("blockers"))
        .select(F.col("doc_b").alias("doc_id"), "blockers")
    )


def start_dedup_gate(
    spark: SparkSession,
    source_dir: str,
    store_dir: str,
    verdict_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Admit/reject a documents file stream (one file per micro-batch,
    AvailableNow for tests/backfills) against the persistent
    signature store."""
    stream = file_stream(spark, source_dir, max_files=1)

    def gate(batch: DataFrame, batch_id: int) -> None:
        spark_ = batch.sparkSession
        docs = batch.select("doc_id", "text")
        sigs = doc_minhash(doc_shingles(docs))
        # the store anti-join reads only COMMITTED rows, so a crash
        # mid-append can't half-absorb a replay
        store = txn.read_committed(spark_, store_dir)
        store_exists = store is not None
        if store_exists:
            sigs = sigs.join(store.select("doc_id"), "doc_id", "left_anti")
        # Micro-batch state is small; materialize once — blockers
        # reads new_sigs twice (bands + signature probe).
        sigs = sigs.persist()
        known = (
            store.unionByName(sigs) if store_exists else sigs
        )  # store ∪ this batch: earlier in-batch ids block too
        verdicts = (
            docs.select("doc_id")
            .join(_blockers(sigs, known), "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("blockers", F.lit(0)).cast("bigint").alias("blockers"),
            )
            .withColumn("is_kept", F.col("blockers") == 0)
        )
        # verdicts are written before signatures, so each is
        # anti-joined against ITS OWN sink — a crash between the two
        # writes replays to a consistent store either way
        append_absent(verdicts, verdict_dir, ["doc_id"], None, ())
        txn.commit_append(store_dir, txn.stage_append(sigs, store_dir, ()))
        sigs.unpersist()

    return start_batches(stream, gate, checkpoint_dir)


_ORACLE_Q120 = f"""
WITH {SHINGLES_SQL},
minhash AS (
    {_minhash_select_sql()}
),
bands AS (
{_band_keys_sql()}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                AND a.doc_id < b.doc_id
),
blocked AS (
    SELECT c.doc_b AS doc_id, CAST(COUNT(*) AS BIGINT) AS blockers
    FROM cand c
    JOIN minhash ma ON ma.doc_id = c.doc_a
    JOIN minhash mb ON mb.doc_id = c.doc_b
    WHERE {" + ".join(f"(CASE WHEN ma.h{i} = mb.h{i} THEN 1 ELSE 0 END)" for i in range(NUM_HASHES))}
          >= {GATE_MATCHES}
    GROUP BY c.doc_b
)
SELECT d.doc_id,
       CAST(COALESCE(b.blockers, 0) AS BIGINT) AS blockers,
       COALESCE(b.blockers, 0) = 0 AS is_kept
FROM documents d
LEFT JOIN blocked b ON b.doc_id = d.doc_id
ORDER BY d.doc_id
"""


def q120_stream_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..artifacts import call_scratch

    root = call_scratch(spark, sf_dir, "q120")
    src, store, verdicts, ckpt = (
        os.path.join(root, d) for d in ("in", "store", "verdicts", "ckpt")
    )
    split_ascending(spark, table_path(sf_dir, "documents"), "doc_id", src)
    start_dedup_gate(spark, src, store, verdicts, ckpt).awaitTermination()
    return txn.read_committed(spark, verdicts).orderBy("doc_id")


def _register() -> None:
    from ..registry import register

    register(
        "q120_stream_dedup_gate",
        oracle=_ORACLE_Q120,
        doc="Dedup-at-ingest: a real document stream admitted/"
        "rejected per micro-batch against a persistent MinHash "
        "signature store (LSH band candidates only, est >= 0.75 "
        "blocks, rejected docs still block later copies). Verdicts "
        "served from the materialized table hash-match the one-pass "
        "batch dedup — gate == batch proven.",
        tags=("streaming", "dedup", "lsh"),
    )(q120_stream_dedup_gate)


_register()

