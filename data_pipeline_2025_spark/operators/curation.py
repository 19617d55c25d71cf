"""Corpus-curation operators over the `documents` table — the
remaining pieces a large-scale training-data pipeline runs besides
dedup/similarity/text-stats (BASELINE.json's scale extras; the
reference's closest analog is its seeded fixture split,
salim/generate_products.py:225):

- deterministic hash-based train/val/test splits (q62) — the
  standard trick for reproducible splits with no stored state: the
  assignment is a pure function of the stable doc key, so any
  engine (or any re-run over reshuffled data) derives the same
  split without a lookup table.
- train/test decontamination (q63) — n-gram overlap between the
  held-out split and the training split (the eval-leakage check
  every LLM data pipeline must run).
- source-mixture weighting (q64) — per-source token shares and the
  resampling weight that would flatten the mixture to uniform.
- Gopher-style repetition filters (q65) — top-token concentration
  and duplicate-bigram fraction per document.

Scale design:
- The split bucket is column algebra on md5 (JVM-side, codegen); no
  shuffle, no lookup join — at 100 TB the split is free.
- q63's contamination join shuffles on the shingle string exactly
  like q35's Jaccard join; its fan-out is bounded by shingle
  document frequency. At deployment the held-out side is ~10% of
  the corpus and static, so you'd broadcast a Bloom filter of test
  shingles to prefilter the train stream before the shuffle (Spark
  does this automatically under
  spark.sql.optimizer.runtime.bloomFilter.enabled when the test
  side is small; see SCALE.md).
- q64 is a two-level aggregation (source → total) — partial aggs,
  bytes of state.
- q65 is per-document array algebra plus one groupBy(doc_id) for
  term frequencies — embarrassingly parallel, no cross-document
  traffic.

md5 is the shared deterministic hash (both engines produce the same
hex), which is what makes every one of these oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import Catalog, fan_out
from ..registry import register
from .dedup import (
    SHINGLES_SQL,
    band_keys,
    lsh_candidates,
    minhash_df,
    shingles_df,
    signature_matches,
)
from .text import (
    PACK_STREAMS,
    PACK_WINDOW,
    RESUME_DENOM,
    TOKENS_SQL,
    tokens_col,
)

# --------------------------------------------------- hash-split buckets

TRAIN_PCT = 80  # bucket < 80            -> train
VAL_PCT = 90  # 80 <= bucket < 90      -> val ; >= 90 -> test

# First 8 hex chars of md5(doc_id) as an integer, mod 100. Both
# engines lowercase-hex their md5, so the bucket is identical.
_BUCKET_SQL = (
    "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 100"
)


def bucket_col() -> Column:
    return (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )


def split_col() -> Column:
    b = bucket_col()
    return (
        F.when(b < TRAIN_PCT, F.lit("train"))
        .when(b < VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )


_ORACLE_Q62 = f"""
WITH b AS (
    SELECT doc_id, lang, source, n_chars,
           {_BUCKET_SQL} AS bucket
    FROM documents
)
SELECT CASE WHEN bucket < {TRAIN_PCT} THEN 'train'
            WHEN bucket < {VAL_PCT}   THEN 'val'
            ELSE 'test' END          AS split,
       COUNT(*)                      AS docs,
       CAST(SUM(n_chars) AS BIGINT)  AS chars,
       COUNT(DISTINCT lang)          AS langs,
       COUNT(DISTINCT source)        AS sources
FROM b
GROUP BY split
"""


@register(
    "q62_deterministic_split",
    oracle=_ORACLE_Q62,
    doc="Reproducible train/val/test split (80/10/10) assigned by "
    "md5(doc_id) bucket — a pure function of the key, identical "
    "on every engine and every re-run; per-split corpus stats.",
    tags=("curation", "split"),
)
def q62_deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return (
        cat.documents.select("lang", "source", "n_chars", split_col().alias("split"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_chars").alias("chars"),
            F.countDistinct("lang").alias("langs"),
            F.countDistinct("source").alias("sources"),
        )
    )


# ------------------------------------------------------ decontamination

_ORACLE_Q63 = f"""
WITH {SHINGLES_SQL},
marked AS (
    SELECT doc_id, sh, {_BUCKET_SQL} AS bucket FROM shingles
),
train AS (SELECT doc_id, sh FROM marked WHERE bucket < {VAL_PCT}),
test  AS (SELECT doc_id, sh FROM marked WHERE bucket >= {VAL_PCT}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM test GROUP BY doc_id),
hits AS (
    SELECT t.doc_id,
           COUNT(DISTINCT t.sh)       AS n_contaminated,
           COUNT(DISTINCT tr.doc_id)  AS n_train_docs
    FROM test t
    JOIN train tr ON t.sh = tr.sh
    GROUP BY t.doc_id
)
SELECT h.doc_id,
       s.n                                 AS n_shingles,
       h.n_contaminated,
       CAST(h.n_contaminated AS DOUBLE) / s.n AS contamination_ratio,
       h.n_train_docs
FROM hits h
JOIN sizes s USING (doc_id)
"""


@register(
    "q63_decontamination",
    oracle=_ORACLE_Q63,
    doc="Eval-leakage check: word-trigram shingles of held-out docs "
    "(md5 bucket >= 90) joined against the train+val shingle "
    "stream; per test doc, how many of its shingles appear in "
    "training data and in how many training docs.",
    tags=("curation", "decontamination"),
)
def q63_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shingles_df(spark, sf_dir).withColumn("bucket", bucket_col())
    train = sh.where(F.col("bucket") < VAL_PCT).select("doc_id", "sh")
    test = sh.where(F.col("bucket") >= VAL_PCT).select("doc_id", "sh")
    sizes = test.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        test.join(train.withColumnRenamed("doc_id", "train_doc"), "sh")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("sh").alias("n_contaminated"),
            F.countDistinct("train_doc").alias("n_train_docs"),
        )
    )
    return hits.join(sizes, "doc_id").select(
        "doc_id",
        "n_shingles",
        "n_contaminated",
        (F.col("n_contaminated").cast("double") / F.col("n_shingles")).alias(
            "contamination_ratio"
        ),
        "n_train_docs",
    )


# ----------------------------------------------------- mixture weights

_ORACLE_Q64 = f"""
WITH t AS (
    SELECT source, len({TOKENS_SQL}) AS toks FROM documents
),
agg AS (
    SELECT source, COUNT(*) AS docs, CAST(SUM(toks) AS BIGINT) AS tokens
    FROM t GROUP BY source
),
tot AS (SELECT SUM(tokens) AS total, COUNT(*) AS nsources FROM agg)
SELECT a.source, a.docs, a.tokens,
       CAST(a.tokens AS DOUBLE) / t.total                  AS token_share,
       (CAST(1 AS DOUBLE) / t.nsources)
           / (CAST(a.tokens AS DOUBLE) / t.total)          AS uniform_weight
FROM agg a CROSS JOIN tot t
"""


@register(
    "q64_source_mixture",
    oracle=_ORACLE_Q64,
    doc="Domain-mixture accounting: per-source doc/token counts, "
    "token share, and the resampling weight that would flatten "
    "the mixture to uniform (the knob a data-mixing job turns).",
    tags=("curation", "mixture"),
)
def q64_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    agg = (
        cat.documents.select("source", F.size(tokens_col()).alias("toks"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("docs"), F.sum("toks").alias("tokens"))
    )
    tot = agg.agg(
        F.sum("tokens").alias("total"), F.count(F.lit(1)).alias("nsources")
    )
    share = F.col("tokens").cast("double") / F.col("total")
    return agg.crossJoin(F.broadcast(tot)).select(
        "source",
        "docs",
        "tokens",
        share.alias("token_share"),
        ((F.lit(1).cast("double") / F.col("nsources")) / share).alias(
            "uniform_weight"
        ),
    )


# ------------------------------------------- deterministic downsample

# Independent hash for sampling decisions: a DIFFERENT md5 substring
# (chars 9-16) than the split bucket (chars 1-8), so sampling is
# uncorrelated with the train/val/test assignment.
_SAMPLE_BUCKET_SQL = (
    "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 9, 8)) AS UBIGINT) % 1000"
)

_ORACLE_Q66 = f"""
WITH t AS (
    SELECT doc_id, source,
           len({TOKENS_SQL})    AS toks,
           {_SAMPLE_BUCKET_SQL} AS sbucket
    FROM documents
),
agg AS (
    SELECT source, COUNT(*) AS docs_in, SUM(toks) AS tokens_in
    FROM t GROUP BY source
),
tot AS (SELECT SUM(tokens_in) AS total, COUNT(*) AS nsources FROM agg),
rates AS (
    SELECT a.source, a.docs_in,
           LEAST(1000, CAST(floor(
               CAST(1000 * t.total AS DOUBLE) / (t.nsources * a.tokens_in)
           ) AS BIGINT)) AS keep_permille
    FROM agg a CROSS JOIN tot t
)
SELECT r.source, r.docs_in, r.keep_permille,
       COUNT(*) FILTER (WHERE t.sbucket < r.keep_permille)     AS docs_kept,
       CAST(COALESCE(SUM(t.toks) FILTER (WHERE t.sbucket < r.keep_permille), 0)
            AS BIGINT)                                         AS tokens_kept
FROM t JOIN rates r USING (source)
GROUP BY r.source, r.docs_in, r.keep_permille
"""


@register(
    "q66_weighted_downsample",
    oracle=_ORACLE_Q66,
    doc="Deterministic mixture rebalancing: per-source keep rate "
    "(permille) that flattens token shares to uniform, applied by "
    "hash-mod thinning on an md5 bucket independent of the q62 "
    "split bucket. Reproducible sampling with no RNG state — the "
    "same doc survives on every engine and every re-run.",
    tags=("curation", "sampling"),
)
def q66_weighted_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    sbucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 9, 8), 16, 10)
        .cast("long")
        % 1000
    )
    t = cat.documents.select(
        "doc_id", "source", F.size(tokens_col()).alias("toks"), sbucket.alias("sbucket")
    )
    agg = t.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs_in"), F.sum("toks").alias("tokens_in")
    )
    tot = agg.agg(
        F.sum("tokens_in").alias("total"), F.count(F.lit(1)).alias("nsources")
    )
    rate = F.least(
        F.lit(1000).cast("long"),
        F.floor(
            (F.lit(1000) * F.col("total")).cast("double")
            / (F.col("nsources") * F.col("tokens_in"))
        ),
    )
    rates = agg.crossJoin(F.broadcast(tot)).select(
        "source", "docs_in", rate.alias("keep_permille")
    )
    kept = F.col("sbucket") < F.col("keep_permille")
    return (
        t.join(F.broadcast(rates), "source")
        .groupBy("source", "docs_in", "keep_permille")
        .agg(
            F.count(F.when(kept, 1)).alias("docs_kept"),
            F.coalesce(F.sum(F.when(kept, F.col("toks"))), F.lit(0)).alias(
                "tokens_kept"
            ),
        )
    )


# ------------------------------------------------- repetition (Gopher)

TOP_TOKEN_MAX = 0.2  # flag if the most frequent token is >20% of doc
DUP_BIGRAM_MAX = 0.3  # flag if >30% of bigrams are repeats

_ORACLE_Q65 = f"""
WITH toks AS (
    SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
),
base AS (
    SELECT doc_id, toks,
           [array_to_string(list_slice(toks, i, i + 1), ' ')
            for i in range(1, len(toks))] AS bigrams
    FROM toks
    WHERE len(toks) >= 2
),
tf AS (
    SELECT doc_id, unnest(toks) AS tok FROM base
),
top AS (
    SELECT doc_id, MAX(c) AS top_c
    FROM (SELECT doc_id, tok, COUNT(*) AS c FROM tf GROUP BY doc_id, tok)
    GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(len(b.toks) AS INTEGER)                  AS words,
       CAST(t.top_c AS DOUBLE) / len(b.toks)         AS top_token_ratio,
       CAST(len(b.bigrams) - len(list_distinct(b.bigrams)) AS DOUBLE)
           / len(b.bigrams)                          AS dup_bigram_ratio,
       CASE WHEN CAST(t.top_c AS DOUBLE) / len(b.toks) > {TOP_TOKEN_MAX}
              OR CAST(len(b.bigrams) - len(list_distinct(b.bigrams)) AS DOUBLE)
                     / len(b.bigrams) > {DUP_BIGRAM_MAX}
            THEN CAST(1 AS BIGINT) ELSE 0 END        AS flagged
FROM base b
JOIN top t USING (doc_id)
"""


@register(
    "q65_repetition_filter",
    oracle=_ORACLE_Q65,
    doc="Gopher-style repetition signals per document: top-token "
    "concentration (explode + groupBy term frequency) and "
    "duplicate-bigram fraction (pure array algebra, no shuffle); "
    "flag = would-be-removed by the quality filter.",
    tags=("curation", "quality"),
)
def q65_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    toks = tokens_col()
    base = cat.documents.select(
        "doc_id",
        toks.alias("toks"),
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.array_join(F.slice(toks, i, 2), " "),
        ).alias("bigrams"),
    ).where(F.size("toks") >= 2)
    top = (
        base.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"))
    )
    words = F.size("toks")
    top_ratio = F.col("top_c").cast("double") / words
    dup_ratio = (
        (F.size("bigrams") - F.size(F.array_distinct("bigrams"))).cast("double")
        / F.size("bigrams")
    )
    return base.join(top, "doc_id").select(
        "doc_id",
        words.alias("words"),
        top_ratio.alias("top_token_ratio"),
        dup_ratio.alias("dup_bigram_ratio"),
        F.when((top_ratio > TOP_TOKEN_MAX) | (dup_ratio > DUP_BIGRAM_MAX), 1)
        .otherwise(0)
        .cast("long")
        .alias("flagged"),
    )



# ----------------- q124: the composed corpus-curation pipeline
#
# The whole 100 TB curation job as ONE query: LSH dedup gate →
# Gopher-style quality chain → deterministic split, reported as a
# stage funnel with doc and token counts. Every stage reuses an
# already-verified operator's exact semantics (dedup gate policy =
# q120's batch oracle; quality rules = q88's chain; split = q62's
# md5 buckets), so the composition itself is what this query
# verifies — the engine can run the end-to-end job, not just its
# pieces. One documents scan + the cached signature frame; all
# stage/split counters are conditional sums in a single aggregation
# (partial-aggregatable, bytes of state), unpivoted to the 6-row
# report.
_GATE_MATCHES = 12  # = streaming/dedupgate.GATE_MATCHES (est >= 0.75)


def _blocked_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id) of every doc the q120 batch policy blocks: the doc_b
    of an LSH candidate pair whose signatures agree on >=
    _GATE_MATCHES hashes, over the cached signature frame."""
    sigs = minhash_df(spark, sf_dir)
    bands = band_keys(sigs)
    return (
        signature_matches(lsh_candidates(bands, bands), sigs, sigs)
        .where(F.col("matches") >= _GATE_MATCHES)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )


def _q124_oracle() -> str:
    from .chunking import (
        MAX_AVG_WL,
        MAX_WORDS,
        MIN_AVG_WL,
        MIN_UNIQ,
        MIN_WORDS,
    )
    from .dedup import NUM_HASHES, _band_keys_sql, _minhash_select_sql

    stop_sql = ", ".join(f"'{w}'" for w in __import__(
        "data_pipeline_2025_spark.operators.text", fromlist=["STOPWORDS"]
    ).STOPWORDS)
    matches = " + ".join(
        f"(CASE WHEN ma.h{i} = mb.h{i} THEN 1 ELSE 0 END)" for i in range(NUM_HASHES)
    )
    return f"""
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
    SELECT DISTINCT c.doc_b AS doc_id
    FROM cand c
    JOIN minhash ma ON ma.doc_id = c.doc_a
    JOIN minhash mb ON mb.doc_id = c.doc_b
    WHERE {matches} >= {_GATE_MATCHES}
),
d AS (
    SELECT doc_id,
           {TOKENS_SQL} AS toks,
           length(replace(text, ' ', '')) AS chars_ns,
           {_BUCKET_SQL} AS bucket
    FROM documents
),
f AS (
    SELECT d.doc_id,
           CAST(len(toks) AS BIGINT) AS words,
           CASE WHEN b.doc_id IS NULL THEN 1 ELSE 0 END AS pass_dedup,
           CASE WHEN len(toks) >= {MIN_WORDS} AND len(toks) <= {MAX_WORDS}
                 AND CAST(chars_ns AS DOUBLE) / len(toks) >= {MIN_AVG_WL}
                 AND CAST(chars_ns AS DOUBLE) / len(toks) <= {MAX_AVG_WL}
                 AND len(list_filter(toks, x -> x IN ({stop_sql}))) >= 1
                 AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= {MIN_UNIQ}
                THEN 1 ELSE 0 END AS pass_quality,
           CASE WHEN bucket < {TRAIN_PCT} THEN 'train'
                WHEN bucket < {VAL_PCT}   THEN 'val'
                ELSE 'test' END AS split
    FROM d LEFT JOIN blocked b ON b.doc_id = d.doc_id
),
agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS d1, CAST(SUM(words) AS BIGINT) AS t1,
           CAST(SUM(pass_dedup) AS BIGINT) AS d2,
           CAST(SUM(pass_dedup * words) AS BIGINT) AS t2,
           CAST(SUM(pass_dedup * pass_quality) AS BIGINT) AS d3,
           CAST(SUM(pass_dedup * pass_quality * words) AS BIGINT) AS t3,
           CAST(SUM(CASE WHEN split = 'train' THEN pass_dedup * pass_quality ELSE 0 END) AS BIGINT) AS dtr,
           CAST(SUM(CASE WHEN split = 'train' THEN pass_dedup * pass_quality * words ELSE 0 END) AS BIGINT) AS ttr,
           CAST(SUM(CASE WHEN split = 'val' THEN pass_dedup * pass_quality ELSE 0 END) AS BIGINT) AS dva,
           CAST(SUM(CASE WHEN split = 'val' THEN pass_dedup * pass_quality * words ELSE 0 END) AS BIGINT) AS tva,
           CAST(SUM(CASE WHEN split = 'test' THEN pass_dedup * pass_quality ELSE 0 END) AS BIGINT) AS dte,
           CAST(SUM(CASE WHEN split = 'test' THEN pass_dedup * pass_quality * words ELSE 0 END) AS BIGINT) AS tte
    FROM f
)
SELECT '1_input' AS stage, d1 AS docs, t1 AS tokens FROM agg
UNION ALL SELECT '2_after_dedup', d2, t2 FROM agg
UNION ALL SELECT '3_after_quality', d3, t3 FROM agg
UNION ALL SELECT '4_train', dtr, ttr FROM agg
UNION ALL SELECT '5_val', dva, tva FROM agg
UNION ALL SELECT '6_test', dte, tte FROM agg
"""


@register(
    "q124_corpus_pipeline",
    oracle=_q124_oracle(),
    doc="The composed curation job: LSH dedup gate (q120 batch "
    "policy) -> quality chain (q88 rules) -> deterministic split "
    "(q62 buckets), reported as a 6-row stage funnel of doc/token "
    "counts — one documents scan + the cached signature frame, all "
    "counters conditional sums in a single aggregation.",
    tags=("curation", "pipeline", "dedup"),
)
def q124_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .chunking import MAX_WORDS, MIN_AVG_WL, MIN_UNIQ, MIN_WORDS, MAX_AVG_WL
    from .text import STOPWORDS

    blocked = _blocked_docs(spark, sf_dir).withColumn("is_blocked", F.lit(1))
    cat = Catalog(spark, sf_dir)
    toks = tokens_col()
    stops = F.array(*[F.lit(w) for w in STOPWORDS])
    d = cat.documents.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("words"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).alias("chars_ns"),
        F.size(F.filter(toks, lambda x: F.array_contains(stops, x))).alias("stops"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("uniq"),
        split_col().alias("split"),
    ).join(blocked, "doc_id", "left")
    # try_divide: zero-token docs yield NULL ratios -> the predicate
    # is not-true -> fail the chain, matching DuckDB (0 >= MIN_WORDS
    # short-circuits the AND there; ANSI Spark would throw instead)
    awl = F.try_divide(F.col("chars_ns").cast("double"), F.col("words"))
    pass_dedup = F.when(F.col("is_blocked").isNull(), 1).otherwise(0)
    pass_quality = (
        F.when(
            (F.col("words") >= MIN_WORDS)
            & (F.col("words") <= MAX_WORDS)
            & (awl >= MIN_AVG_WL)
            & (awl <= MAX_AVG_WL)
            & (F.col("stops") >= 1)
            & (F.try_divide(F.col("uniq").cast("double"), F.col("words")) >= MIN_UNIQ),
            1,
        ).otherwise(0)
    )
    f = d.select(
        "words",
        pass_dedup.alias("pd"),
        pass_quality.alias("pq"),
        "split",
    )
    kept = F.col("pd") * F.col("pq")
    agg = f.agg(
        F.count(F.lit(1)).alias("d1"),
        F.sum("words").alias("t1"),
        F.sum("pd").alias("d2"),
        F.sum(F.col("pd") * F.col("words")).alias("t2"),
        F.sum(kept).alias("d3"),
        F.sum(kept * F.col("words")).alias("t3"),
        F.sum(F.when(F.col("split") == "train", kept).otherwise(0)).alias("dtr"),
        F.sum(F.when(F.col("split") == "train", kept * F.col("words")).otherwise(0)).alias("ttr"),
        F.sum(F.when(F.col("split") == "val", kept).otherwise(0)).alias("dva"),
        F.sum(F.when(F.col("split") == "val", kept * F.col("words")).otherwise(0)).alias("tva"),
        F.sum(F.when(F.col("split") == "test", kept).otherwise(0)).alias("dte"),
        F.sum(F.when(F.col("split") == "test", kept * F.col("words")).otherwise(0)).alias("tte"),
    )
    return agg.select(
        F.explode(
            F.array(
                F.struct(F.lit("1_input").alias("stage"), F.col("d1").alias("docs"), F.col("t1").alias("tokens")),
                F.struct(F.lit("2_after_dedup").alias("stage"), F.col("d2").alias("docs"), F.col("t2").alias("tokens")),
                F.struct(F.lit("3_after_quality").alias("stage"), F.col("d3").alias("docs"), F.col("t3").alias("tokens")),
                F.struct(F.lit("4_train").alias("stage"), F.col("dtr").alias("docs"), F.col("ttr").alias("tokens")),
                F.struct(F.lit("5_val").alias("stage"), F.col("dva").alias("docs"), F.col("tva").alias("tokens")),
                F.struct(F.lit("6_test").alias("stage"), F.col("dte").alias("docs"), F.col("tte").alias("tokens")),
            )
        ).alias("r")
    ).select("r.stage", "r.docs", "r.tokens")


# ------------------------- q130: per-source dataset card
#
# The "datasheet for datasets" summary row every corpus release
# ships: per source — volume, token mass, language mix, quality
# pass rate, near-dup rate. Composition of already-verified pieces
# (q88 chain, q124's blocked set, q31-style lang mode) into the
# release artifact; all rates in exact integral ppm, the one mean
# as a single rounded division. One documents scan + the cached
# signature frame; the lang mode runs on the O(sources × langs)
# grouped frame.
def _q130_oracle() -> str:
    from .chunking import (
        MAX_AVG_WL,
        MAX_WORDS,
        MIN_AVG_WL,
        MIN_UNIQ,
        MIN_WORDS,
    )
    from .dedup import NUM_HASHES, _band_keys_sql, _minhash_select_sql
    from .text import STOPWORDS

    stop_sql = ", ".join(f"'{w}'" for w in STOPWORDS)
    matches = " + ".join(
        f"(CASE WHEN ma.h{i} = mb.h{i} THEN 1 ELSE 0 END)" for i in range(NUM_HASHES)
    )
    return f"""
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
    SELECT DISTINCT c.doc_b AS doc_id
    FROM cand c
    JOIN minhash ma ON ma.doc_id = c.doc_a
    JOIN minhash mb ON mb.doc_id = c.doc_b
    WHERE {matches} >= {_GATE_MATCHES}
),
d AS (
    SELECT doc_id, source, lang,
           {TOKENS_SQL} AS toks,
           length(replace(text, ' ', '')) AS chars_ns
    FROM documents
),
f AS (
    SELECT d.source, d.lang,
           CAST(len(toks) AS BIGINT) AS words,
           CASE WHEN b.doc_id IS NULL THEN 0 ELSE 1 END AS is_dup,
           CASE WHEN len(toks) >= {MIN_WORDS} AND len(toks) <= {MAX_WORDS}
                 AND CAST(chars_ns AS DOUBLE) / len(toks) >= {MIN_AVG_WL}
                 AND CAST(chars_ns AS DOUBLE) / len(toks) <= {MAX_AVG_WL}
                 AND len(list_filter(toks, x -> x IN ({stop_sql}))) >= 1
                 AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= {MIN_UNIQ}
                THEN 1 ELSE 0 END AS pass_q
    FROM d LEFT JOIN blocked b ON b.doc_id = d.doc_id
),
per_source AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(words) AS BIGINT) AS total_tokens,
           round(CAST(SUM(words) AS DOUBLE) / COUNT(*), 6) AS mean_tokens_r,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS langs,
           CAST((SUM(pass_q) * 1000000) // COUNT(*) AS BIGINT) AS quality_pass_ppm,
           CAST((SUM(is_dup) * 1000000) // COUNT(*) AS BIGINT) AS dup_blocked_ppm
    FROM f GROUP BY source
),
lang_mode AS (
    SELECT source, lang AS top_lang FROM (
        SELECT source, lang,
               row_number() OVER (
                   PARTITION BY source ORDER BY COUNT(*) DESC, lang
               ) AS rk
        FROM f GROUP BY source, lang
    ) WHERE rk = 1
)
SELECT p.source, p.docs, p.total_tokens, p.mean_tokens_r, p.langs,
       l.top_lang, p.quality_pass_ppm, p.dup_blocked_ppm
FROM per_source p JOIN lang_mode l ON l.source = p.source
ORDER BY p.source
"""


@register(
    "q130_dataset_card",
    oracle=_q130_oracle(),
    doc="Per-source dataset card: volume, token mass, language mix "
    "(modal lang), quality pass rate and near-dup rate in exact "
    "integral ppm — the release datasheet composed from verified "
    "pieces (q88 chain, q124 blocked set); one scan + cached "
    "signatures, lang mode over the O(sources × langs) frame.",
    tags=("curation", "report"),
)
def q130_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .chunking import MAX_AVG_WL, MAX_WORDS, MIN_AVG_WL, MIN_UNIQ, MIN_WORDS
    from .text import STOPWORDS

    blocked = _blocked_docs(spark, sf_dir).withColumn("is_dup_f", F.lit(1))
    cat = Catalog(spark, sf_dir)
    toks = tokens_col()
    stops = F.array(*[F.lit(w) for w in STOPWORDS])
    d = cat.documents.select(
        "doc_id",
        "source",
        "lang",
        F.size(toks).cast("bigint").alias("words"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).alias("chars_ns"),
        F.size(F.filter(toks, lambda x: F.array_contains(stops, x))).alias("stops"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("uniq"),
    ).join(blocked, "doc_id", "left")
    awl = F.try_divide(F.col("chars_ns").cast("double"), F.col("words"))
    pass_q = F.when(
        (F.col("words") >= MIN_WORDS)
        & (F.col("words") <= MAX_WORDS)
        & (awl >= MIN_AVG_WL)
        & (awl <= MAX_AVG_WL)
        & (F.col("stops") >= 1)
        & (F.try_divide(F.col("uniq").cast("double"), F.col("words")) >= MIN_UNIQ),
        1,
    ).otherwise(0)
    f = d.select(
        "source",
        "lang",
        "words",
        F.when(F.col("is_dup_f").isNull(), 0).otherwise(1).alias("is_dup"),
        pass_q.alias("pass_q"),
    )
    per_source = f.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("words").alias("total_tokens"),
        F.round(
            F.sum("words").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_tokens_r"),
        F.countDistinct("lang").alias("langs"),
        F.expr("(sum(pass_q) * 1000000) div count(1)").alias("quality_pass_ppm"),
        F.expr("(sum(is_dup) * 1000000) div count(1)").alias("dup_blocked_ppm"),
    )
    wl = Window.partitionBy("source").orderBy(F.col("n").desc(), "lang")
    lang_mode = (
        f.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rk", F.row_number().over(wl))
        .where(F.col("rk") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    return (
        per_source.join(lang_mode, "source")
        .select(
            "source",
            "docs",
            "total_tokens",
            "mean_tokens_r",
            "langs",
            "top_lang",
            "quality_pass_ppm",
            "dup_blocked_ppm",
        )
        .orderBy("source")
    )


# -------------------- q152: tombstone purge (deletion propagation)
#
# The right-to-be-forgotten / takedown sweep every production corpus
# needs: given a delete list of doc_ids, purge the document AND every
# derived artifact keyed by it — embeddings and context chunks here —
# and report per-table before/tombstoned/after counts (the audit
# artifact a deletion request requires). The delete list is a
# deterministic stand-in (docs whose md5(text) starts with hex '0',
# ~1/16 of the corpus) so the sweep is oracle-checkable.
#
# Scale shape: the delete list is tiny relative to the corpus →
# broadcast left-anti joins against each table (no shuffle of the
# big side); chunk counts come from q86's closed-form windows-per-doc
# arithmetic, not a materialized chunk table, so the audit itself is
# three scans + one 3-row union. With Delta this becomes DELETE WHERE
# + VACUUM; the txn.py manifest gives the same old-or-new visibility
# here.
_Q152_DELETES = "SELECT doc_id FROM documents WHERE md5(text) LIKE '0%'"

_ORACLE_Q152 = f"""
WITH del AS ({_Q152_DELETES}),
docs AS (
    SELECT doc_id, CAST(len({TOKENS_SQL}) AS BIGINT) AS n FROM documents
),
chunks AS (
    SELECT doc_id,
           CASE WHEN n = 0 THEN 0
                WHEN n <= 64 THEN 1
                ELSE 1 + CAST(ceil((n - 64) / 32.0) AS BIGINT) END AS n_chunks
    FROM docs
),
t AS (
    SELECT 'documents' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS rows_before,
           CAST(COUNT(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM del))
                AS BIGINT) AS tombstoned
    FROM documents
    UNION ALL
    SELECT 'embeddings',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE vec_id IN (SELECT doc_id FROM del))
                AS BIGINT)
    FROM embeddings
    UNION ALL
    SELECT 'chunks',
           CAST(SUM(n_chunks) AS BIGINT),
           CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM del)
                         THEN n_chunks ELSE 0 END) AS BIGINT)
    FROM chunks
)
SELECT table_name, rows_before, tombstoned,
       rows_before - tombstoned AS rows_after
FROM t
ORDER BY table_name
"""


@register(
    "q152_tombstone_purge",
    oracle=_ORACLE_Q152,
    doc="Deletion-propagation audit (right-to-be-forgotten): a "
    "broadcast delete list swept across documents, embeddings, and "
    "the derived chunk counts via left-anti/semi joins; per-table "
    "before/tombstoned/after — the compliance artifact. Delta's "
    "DELETE WHERE analog over the txn.py manifest sink.",
    tags=("curation", "compliance", "anti-join"),
)
def q152_tombstone_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .chunking import CHUNK_SIZE, CHUNK_STRIDE

    cat = Catalog(spark, sf_dir)
    deletes = (
        cat.documents.where(F.md5("text").like("0%"))
        .select("doc_id")
    )
    n = F.size(tokens_col()).cast("bigint")
    n_chunks = (
        F.when(n == 0, F.lit(0))
        .when(n <= CHUNK_SIZE, F.lit(1))
        .otherwise(
            1 + F.ceil((n - CHUNK_SIZE) / F.lit(float(CHUNK_STRIDE))).cast("bigint")
        )
    )
    docs = cat.documents.select("doc_id", n_chunks.alias("n_chunks"))

    def audit(df: DataFrame, key: str, weight, name: str) -> DataFrame:
        marked = df.join(
            F.broadcast(deletes.withColumn("is_del", F.lit(True))),
            df[key] == deletes["doc_id"],
            "left",
        )
        return marked.agg(
            F.lit(name).alias("table_name"),
            F.sum(weight).cast("bigint").alias("rows_before"),
            F.sum(F.when(F.col("is_del"), weight).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("tombstoned"),
        )

    one = F.lit(1)
    out = (
        audit(docs.select(F.col("doc_id").alias("k")), "k", one, "documents")
        .unionByName(
            audit(
                cat.embeddings.select(F.col("vec_id").alias("k")),
                "k",
                one,
                "embeddings",
            )
        )
        .unionByName(
            audit(
                docs.select(F.col("doc_id").alias("k"), "n_chunks"),
                "k",
                F.col("n_chunks"),
                "chunks",
            )
        )
    )
    return out.select(
        "table_name",
        "rows_before",
        "tombstoned",
        (F.col("rows_before") - F.col("tombstoned")).alias("rows_after"),
    ).orderBy("table_name")


# ------------- q158: rendezvous (HRW) sharding stability audit
#
# Resharding a 100 TB corpus from N to N+1 shards is a data-movement
# bill: modulo assignment (hash % N) remaps ~N/(N+1) of ALL
# documents, while rendezvous/highest-random-weight hashing
# (Thaler & Ravishankar) remaps exactly the 1/(N+1) that land on
# the new shard — the property consistent-placement systems are
# built on. This query measures BOTH policies' movement under an
# 8→9 reshard, per source, in exact integral ppm: every number is
# md5-derived integer arithmetic (48-bit weights; a tie inside one
# document's 9 candidates has probability ~2^-43 and the fixed
# corpus has none, so argmax is deterministic in both engines).
# Scale shape: the candidate set is a constant 9-row explosion
# folded straight back down by one map-side-combinable per-doc
# argmax (docs never shuffle raw), then a source rollup.

HRW_SHARDS_OLD = 8
HRW_SHARDS_NEW = 9

_HRW_SHARD_LIST = ", ".join(str(s) for s in range(HRW_SHARDS_NEW))

_ORACLE_Q158 = f"""
WITH cand AS (
    SELECT doc_id, source, s,
           CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '#'
                                        || CAST(s AS VARCHAR)), 1, 12))
                AS UBIGINT) AS w
    FROM documents, UNNEST([{_HRW_SHARD_LIST}]) AS t(s)
),
assigned AS (
    SELECT doc_id, source,
           arg_max(s, w) FILTER (WHERE s < {HRW_SHARDS_OLD}) AS hrw_old,
           arg_max(s, w)                                     AS hrw_new,
           CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                AS UBIGINT) % {HRW_SHARDS_OLD} AS mod_old,
           CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                AS UBIGINT) % {HRW_SHARDS_NEW} AS mod_new
    FROM cand
    GROUP BY doc_id, source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS docs,
       CAST(SUM(CASE WHEN hrw_old <> hrw_new THEN 1 ELSE 0 END) AS BIGINT)
           AS moved_hrw,
       CAST(SUM(CASE WHEN mod_old <> mod_new THEN 1 ELSE 0 END) AS BIGINT)
           AS moved_mod,
       CAST(SUM(CASE WHEN hrw_old <> hrw_new THEN 1 ELSE 0 END)
            * 1000000 // COUNT(*) AS BIGINT) AS moved_hrw_ppm,
       CAST(SUM(CASE WHEN mod_old <> mod_new THEN 1 ELSE 0 END)
            * 1000000 // COUNT(*) AS BIGINT) AS moved_mod_ppm
FROM assigned
GROUP BY source
ORDER BY source
"""


@register(
    "q158_rendezvous_sharding",
    oracle=_ORACLE_Q158,
    doc="Rendezvous (highest-random-weight) vs modulo shard "
    "assignment under an 8-to-9 reshard: per-source fraction of "
    "documents that move, in exact integral ppm — HRW moves ~1/9, "
    "modulo moves ~8/9; the consistent-placement property measured "
    "on the corpus itself.",
    tags=("curation", "sharding", "hashing"),
)
def q158_rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    shards = F.array(*[F.lit(s) for s in range(HRW_SHARDS_NEW)])
    cand = cat.documents.select(
        "doc_id", "source", F.explode(shards).alias("s")
    ).select(
        "doc_id",
        "source",
        "s",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "#", F.col("doc_id").cast("string"), F.col("s").cast("string")
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("w"),
    )
    mod_bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    assigned = (
        cand.groupBy("doc_id", "source")
        .agg(
            F.expr(f"max_by(s, w) FILTER (WHERE s < {HRW_SHARDS_OLD})").alias(
                "hrw_old"
            ),
            F.expr("max_by(s, w)").alias("hrw_new"),
        )
        .select(
            "source",
            (F.col("hrw_old") != F.col("hrw_new")).cast("bigint").alias("m_hrw"),
            (
                (mod_bucket % HRW_SHARDS_OLD) != (mod_bucket % HRW_SHARDS_NEW)
            )
            .cast("bigint")
            .alias("m_mod"),
        )
    )
    return (
        assigned.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("m_hrw").alias("moved_hrw"),
            F.sum("m_mod").alias("moved_mod"),
        )
        .select(
            "source",
            "docs",
            "moved_hrw",
            "moved_mod",
            F.expr("moved_hrw * 1000000 div docs").alias("moved_hrw_ppm"),
            F.expr("moved_mod * 1000000 div docs").alias("moved_mod_ppm"),
        )
        .orderBy("source")
    )


# -------- q167: token-budget waterfilling across sources
#
# The dataset-mixing allocator: given a total token budget smaller
# than the corpus, give every source its full mass if it's below
# the fair share and cap the rest at a COMMON threshold t chosen so
# the budget is exactly spent — classic waterfilling, the exact
# solution of "maximize the minimum source share under a budget"
# (how mixture tuning distributes a training budget without
# starving small sources). Solved in closed form over the sorted
# per-source totals: with ascending sizes s_1..s_n and prefix sums
# P_i, t = (B - P_i) div (n - i) for the unique i where
# s_i <= t < s_(i+1) — one window cumsum over an n-row aggregate,
# every quantity exact BIGINT (the integer-div remainder < n is
# reported as budget_slack, not silently smeared). Scale shape:
# the token count is the only corpus-wide pass (map-side
# combinable); the waterfill itself runs on O(#sources) rows.

WATERFILL_BUDGET_PPM = 920_000  # spend 92% of the corpus tokens

_Q167_SIZES_SQL = f"""
sizes AS (
    SELECT source, SUM(len({TOKENS_SQL})) AS tok
    FROM documents GROUP BY source
),
tot AS (
    SELECT SUM(tok) AS total,
           SUM(tok) * {WATERFILL_BUDGET_PPM} // 1000000 AS b,
           COUNT(*) AS n
    FROM sizes
),
ranked AS (
    SELECT source, tok,
           row_number() OVER (ORDER BY tok, source) AS i,
           SUM(tok) OVER (ORDER BY tok, source
                          ROWS UNBOUNDED PRECEDING) AS pfx
    FROM sizes
),
cand AS (
    SELECT r.i, (t.b - (r.pfx - r.tok)) // (t.n - r.i + 1) AS thr,
           r.tok AS s_here
    FROM ranked r CROSS JOIN tot t
),
thr AS (
    -- the FIRST (ascending-size) row whose threshold caps it is the
    -- unique consistent water line; rows before it are fully taken.
    SELECT arg_min(thr, i) AS t FROM cand WHERE thr < s_here
)"""

_ORACLE_Q167 = f"""
WITH {_Q167_SIZES_SQL}
SELECT r.source,
       CAST(r.tok AS BIGINT) AS tokens,
       CAST(LEAST(r.tok, COALESCE(th.t, r.tok)) AS BIGINT) AS alloc_tokens,
       CAST(CASE WHEN th.t IS NOT NULL AND r.tok > th.t
                 THEN 1 ELSE 0 END AS BIGINT) AS capped,
       CAST(LEAST(r.tok, COALESCE(th.t, r.tok)) * 1000000 // r.tok
            AS BIGINT) AS keep_ppm
FROM ranked r CROSS JOIN thr th
ORDER BY r.source
"""


@register(
    "q167_budget_waterfill",
    oracle=_ORACLE_Q167,
    doc="Token-budget waterfilling across sources (the mixture "
    "allocator): sources below the water line keep everything, the "
    "rest are capped at the common threshold that exactly spends "
    "92% of corpus tokens — closed-form over sorted per-source "
    "totals, all-BIGINT arithmetic, per-source keep rate in ppm.",
    tags=("curation", "mixing", "allocation"),
)
def q167_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cat = Catalog(spark, sf_dir)
    sizes = (
        cat.documents.select("source", F.size(tokens_col()).alias("ntok"))
        .groupBy("source")
        .agg(F.sum("ntok").alias("tok"))
    )
    tot = sizes.agg(
        F.sum("tok").alias("total"),
        F.expr(f"sum(tok) * {WATERFILL_BUDGET_PPM} div 1000000").alias("b"),
        F.count(F.lit(1)).alias("n"),
    )
    w = Window.orderBy("tok", "source")
    ranked = sizes.select(
        "source",
        "tok",
        F.row_number().over(w).alias("i"),
        F.sum("tok").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("pfx"),
    )
    cand = ranked.crossJoin(F.broadcast(tot)).select(
        "source",
        "tok",
        "i",
        F.expr("(b - (pfx - tok)) div (n - i + 1)").alias("thr"),
    )
    thr = cand.where(F.col("thr") < F.col("tok")).agg(
        F.expr("min_by(thr, i)").alias("t")
    )
    alloc = F.least(F.col("tok"), F.coalesce(F.col("t"), F.col("tok")))
    return (
        ranked.crossJoin(F.broadcast(thr))
        .select(
            "source",
            F.col("tok").cast("bigint").alias("tokens"),
            alloc.cast("bigint").alias("alloc_tokens"),
            (F.col("t").isNotNull() & (F.col("tok") > F.col("t")))
            .cast("bigint")
            .alias("capped"),
            F.expr(
                "CAST(least(tok, coalesce(t, tok)) * 1000000 div tok AS BIGINT)"
            ).alias("keep_ppm"),
        )
        .orderBy("source")
    )


# -------- q174: deterministic priority sampling (Duffield et al.)
#
# Weighted sampling without replacement in ONE distributed pass and
# zero RNG state: each document draws its "uniform" from md5
# (u = (h+1)/2^48), gets priority q = w/u, and the weighted sample
# is simply the top-K priorities — a partial top-k, the cheapest
# possible distributed plan. The Horvitz-Thompson estimator
# max(w_i, tau) (tau = the (K+1)-th priority) makes the sample
# UNBIASED for subset-sum queries — the property that lets a 32-doc
# sample answer "how many tokens does source X hold" over 100 TB.
# All integer: priority = w * 2^48 div (h+1) (>= w exactly as in
# the real-valued scheme), tau and every HT weight BIGINT; the
# exact corpus total rides along so the estimator's error is
# value-checked, not just asserted.

PRIO_K = 32
_PRIO_SCALE = 1 << 48

_ORACLE_Q174 = f"""
WITH w AS (
    SELECT doc_id, source, len({TOKENS_SQL}) AS wt FROM documents
),
pr AS (
    SELECT doc_id, source, wt,
           wt * {_PRIO_SCALE}
               // (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 17, 12))
                        AS UBIGINT) + 1) AS prio
    FROM w WHERE wt > 0
),
ranked AS (
    SELECT *, row_number() OVER (ORDER BY prio DESC, doc_id) AS rnk FROM pr
),
tau AS (
    SELECT prio AS t FROM ranked WHERE rnk = {PRIO_K} + 1
),
tot AS (
    SELECT CAST(SUM(wt) AS BIGINT) AS exact_total FROM w
)
SELECT CAST(r.rnk AS BIGINT) AS rank, r.doc_id, r.source,
       CAST(r.wt AS BIGINT) AS weight,
       CAST(GREATEST(r.wt, tau.t) AS BIGINT) AS ht_weight,
       CAST((SELECT SUM(GREATEST(rr.wt, tau.t)) FROM ranked rr, tau
             WHERE rr.rnk <= {PRIO_K}) AS BIGINT) AS est_total,
       tot.exact_total
FROM ranked r CROSS JOIN tau CROSS JOIN tot
WHERE r.rnk <= {PRIO_K}
ORDER BY rank
"""


@register(
    "q174_priority_sampling",
    oracle=_ORACLE_Q174,
    doc="Deterministic priority sampling (Duffield et al.): md5 "
    "uniforms, integer priorities w*2^48 div (h+1), weighted "
    "top-32 as a partial top-k, Horvitz-Thompson weights "
    "max(w, tau) with the exact corpus total alongside — unbiased "
    "weighted sampling with zero RNG state and its estimator error "
    "value-checked.",
    tags=("curation", "sampling", "sketches"),
)
def q174_priority_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cat = Catalog(spark, sf_dir)
    w = cat.documents.select(
        "doc_id", "source", F.size(tokens_col()).alias("wt")
    )
    tot = w.agg(F.sum("wt").cast("bigint").alias("exact_total"))
    pr = w.where(F.col("wt") > 0).select(
        "doc_id",
        "source",
        "wt",
        F.expr(
            f"wt * {_PRIO_SCALE} div (CAST(conv(substring(md5(CAST(doc_id AS STRING)),"
            f" 17, 12), 16, 10) AS BIGINT) + 1)"
        ).alias("prio"),
    )
    # Partial top-k FIRST (TakeOrderedAndProject — per-partition
    # heads, no global window over the corpus), then ranks over the
    # already-tiny K+1 frame. A row_number window before the limit
    # would funnel every row through one task.
    wr = Window.orderBy(F.col("prio").desc(), "doc_id")
    topk1 = (
        pr.orderBy(F.col("prio").desc(), "doc_id")
        .limit(PRIO_K + 1)
        .select("*", F.row_number().over(wr).alias("rnk"))
        .localCheckpoint()
    )
    tau = topk1.where(F.col("rnk") == PRIO_K + 1).select(
        F.col("prio").alias("t")
    )
    sample = topk1.where(F.col("rnk") <= PRIO_K).crossJoin(F.broadcast(tau))
    est = sample.agg(
        F.sum(F.greatest(F.col("wt"), F.col("t"))).cast("bigint").alias("est_total")
    )
    return (
        sample.crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("rnk").cast("bigint").alias("rank"),
            "doc_id",
            "source",
            F.col("wt").cast("bigint").alias("weight"),
            F.greatest(F.col("wt"), F.col("t")).cast("bigint").alias("ht_weight"),
            "est_total",
            "exact_total",
        )
        .orderBy("rank")
    )


# ---- q178: EXACT stratified validation split (largest remainder)
#
# q62's hash split is proportionally APPROXIMATE (md5 mod K lands
# ~10% per shard); evaluation sets want EXACT per-stratum quotas:
# hold out exactly floor(N/10) documents, allocated across language
# strata by the largest-remainder method (per-stratum base = n div
# 10; the leftover seats go to the strata with the largest n mod 10,
# ties by lang — the apportionment rule that keeps every stratum
# within one document of perfect proportionality). Membership stays
# deterministic and content-addressed: within a stratum, the
# validation set is the first quota documents by md5(doc_id) — any
# engine, any run, same split.
#
# Scale shape — the subtle part is selecting the first k BY RANK
# per stratum when k is 10% of the stratum (NOT a small-k top-k,
# and a per-stratum rank window would funnel the biggest language
# through one task: 'en' is 70%+ of real corpora). Two-pass exact
# order statistic instead, the q164/q109 bucket pattern on the hash
# domain: documents bucket by their hash's FIRST BYTE (256 uniform
# buckets — md5 bytes ARE uniform, unlike q164's min-hash), counts
# per (lang, bucket) prefix-sum over the tiny 256-row-per-lang
# frame, and the rank window runs per (lang, bucket) — 1/256 of a
# stratum per task. assigned iff bucket_offset + in-bucket rank <=
# quota. The quota arithmetic itself runs on the <=|langs|-row
# stratum frame (domain-bounded, like q167's budget rows). The
# oracle states the naive global spec: row_number per lang over the
# full hash order.
VAL_DIV = 10  # hold out 1/10th

_ORACLE_Q178 = f"""
WITH s AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
tot AS (SELECT SUM(n) AS nn FROM s),
q AS (
    SELECT lang, n, n // {VAL_DIV} AS base, n % {VAL_DIV} AS rem,
           row_number() OVER (ORDER BY n % {VAL_DIV} DESC, lang) AS rk
    FROM s
),
x AS (
    SELECT (SELECT nn FROM tot) // {VAL_DIV} - SUM(base) AS extra_total
    FROM q
),
quota AS (
    SELECT lang, n, base, rem,
           CASE WHEN rk <= (SELECT extra_total FROM x) THEN 1 ELSE 0 END
               AS extra,
           base + CASE WHEN rk <= (SELECT extra_total FROM x)
                       THEN 1 ELSE 0 END AS val_quota
    FROM q
),
ranked AS (
    SELECT lang, doc_id,
           row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
    FROM documents
),
picked AS (
    SELECT r.lang, COUNT(*) AS val_docs, SUM(r.doc_id) AS val_doc_id_sum
    FROM ranked r JOIN quota qq ON r.lang = qq.lang
    WHERE r.rk <= qq.val_quota
    GROUP BY r.lang
)
SELECT qq.lang,
       CAST(qq.n AS BIGINT)         AS n_docs,
       CAST(qq.base AS BIGINT)      AS base_quota,
       CAST(qq.rem AS BIGINT)       AS remainder,
       CAST(qq.extra AS BIGINT)     AS extra,
       CAST(qq.val_quota AS BIGINT) AS val_quota,
       CAST(COALESCE(p.val_docs, 0) AS BIGINT)       AS val_docs,
       CAST(COALESCE(p.val_doc_id_sum, 0) AS BIGINT) AS val_doc_id_sum
FROM quota qq LEFT JOIN picked p ON qq.lang = p.lang
ORDER BY qq.lang
"""


@register(
    "q178_stratified_split",
    oracle=_ORACLE_Q178,
    doc="Exact stratified validation split: largest-remainder "
    "apportionment of floor(N/10) held-out docs across language "
    "strata, membership = first-quota by md5(doc_id) within the "
    "stratum. Selection runs as a two-pass exact order statistic "
    "(256 hash-byte buckets, per-bucket rank windows) so the "
    "biggest stratum never funnels one task; val_doc_id_sum pins "
    "the exact membership, not just the counts.",
    tags=("curation", "split", "stratified"),
)
def q178_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cat = Catalog(spark, sf_dir)
    d = cat.documents.select(
        "lang",
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    ).withColumn("hb", F.conv(F.substring("h", 1, 2), 16, 10).cast("int"))

    # quota frame: <= |langs| rows, domain-bounded tiny windows
    s = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    tot = s.agg(F.sum("n").alias("nn"))
    wrk = Window.orderBy(F.col("rem").desc(), "lang")
    q = s.select(
        "lang",
        "n",
        F.expr(f"n div {VAL_DIV}").alias("base"),
        (F.col("n") % VAL_DIV).alias("rem"),
    ).withColumn("rk", F.row_number().over(wrk))
    q = q.crossJoin(F.broadcast(tot)).crossJoin(
        F.broadcast(
            q.agg(F.sum("base").alias("sum_base"))
        )
    )
    quota = q.select(
        "lang",
        "n",
        "base",
        "rem",
        F.when(
            F.col("rk") <= F.expr(f"nn div {VAL_DIV}") - F.col("sum_base"), 1
        )
        .otherwise(0)
        .alias("extra"),
    ).withColumn("val_quota", F.col("base") + F.col("extra"))

    # two-pass exact order statistic over the hash order:
    # (1) per-(lang, hash-byte-bucket) counts -> exclusive prefix
    #     over the tiny 256-row-per-lang frame, broadcast back;
    bcnt = d.groupBy("lang", "hb").agg(F.count(F.lit(1)).alias("bn"))
    wpb = Window.partitionBy("lang").orderBy("hb").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = bcnt.select(
        "lang", "hb", F.coalesce(F.sum("bn").over(wpb), F.lit(0)).alias("below")
    )
    # (2) rank window per (lang, bucket) — 1/256 of a stratum per
    #     task; global rank = bucket offset + in-bucket rank.
    win = Window.partitionBy("lang", "hb").orderBy("h", "doc_id")
    ranked = (
        d.join(F.broadcast(offsets), ["lang", "hb"])
        .withColumn("rn", F.row_number().over(win))
        .withColumn("grank", F.col("below") + F.col("rn"))
    )
    picked = (
        ranked.join(F.broadcast(quota.select("lang", "val_quota")), "lang")
        .where(F.col("grank") <= F.col("val_quota"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("val_docs"),
            F.sum("doc_id").alias("val_doc_id_sum"),
        )
    )
    return (
        quota.join(picked, "lang", "left")
        .select(
            "lang",
            F.col("n").cast("bigint").alias("n_docs"),
            F.col("base").cast("bigint").alias("base_quota"),
            F.col("rem").cast("bigint").alias("remainder"),
            F.col("extra").cast("bigint").alias("extra"),
            F.col("val_quota").cast("bigint").alias("val_quota"),
            F.coalesce("val_docs", F.lit(0)).cast("bigint").alias("val_docs"),
            F.coalesce("val_doc_id_sum", F.lit(0))
            .cast("bigint")
            .alias("val_doc_id_sum"),
        )
        .orderBy("lang")
    )


# ------------------------------- q221: filter calibration (round 6)
#
# Curation filters are tuned, not trusted: before setting a quality
# threshold, a data team cross-tabulates the quality score against
# an independent signal — here EXACT DUPLICATION (q34's fingerprint)
# per quality bucket. The join of two per-document signals is the
# whole operator: quality is q30's composite, bucketed by an
# EXACT-INTEGER rule (floor(10*score) rewritten as
# (cb*w + 10*u) div (2*w) with cb in {10, 5} — no float multiply at
# the bucket boundary, so both engines bucket identically), and the
# dup flag marks every member of a multi-copy fingerprint group.
# Scale shape: two embarrassingly-parallel per-doc projections, one
# fingerprint groupBy (partial-aggregatable), one co-keyed join —
# no new machinery, which is the point: calibration audits must be
# cheap enough to run per ingest batch.

_ORACLE_Q221 = f"""
WITH d AS (
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           len({TOKENS_SQL}) AS w,
           len(list_distinct({TOKENS_SQL})) AS u
    FROM documents
    WHERE len({TOKENS_SQL}) > 0
),
b AS (
    SELECT fp,
           ((CASE WHEN w BETWEEN 20 AND 80 THEN 10 ELSE 5 END) * w
            + 10 * u) // (2 * w) AS bucket
    FROM d
),
c AS (SELECT fp, COUNT(*) AS copies FROM d GROUP BY fp)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dups,
       CAST(SUM(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS dup_rate
FROM b JOIN c USING (fp)
GROUP BY bucket
ORDER BY bucket
"""


@register(
    "q221_quality_dup_calibration",
    oracle=_ORACLE_Q221,
    doc="Filter-calibration audit: q30's quality score bucketed by "
    "an exact-integer floor(10*score) rule crossed with q34's "
    "exact-dup fingerprint — per-bucket doc counts and duplicate "
    "rates, the cross-tab a data team reads before choosing a "
    "quality threshold. Two per-doc projections + one fingerprint "
    "groupBy + one co-keyed join; nothing new to operate at 100 TB.",
    tags=("curation", "quality", "dedup"),
)
def q221_quality_dup_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    toks = tokens_col()
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    d = cat.documents.select(
        "doc_id",
        F.md5(norm).alias("fp"),
        F.size(toks).alias("w"),
        F.size(F.array_distinct(toks)).alias("u"),
    ).where(F.col("w") > 0)
    # exact integer division (no float at the bucket boundary)
    bucketed = d.select(
        "fp",
        F.expr(
            "CAST(((CASE WHEN w BETWEEN 20 AND 80 THEN 10 ELSE 5 END) * w"
            " + 10 * u) DIV (2 * w) AS BIGINT)"
        ).alias("bucket"),
    )
    copies = d.groupBy("fp").agg(F.count(F.lit(1)).alias("copies"))
    j = bucketed.join(copies, "fp")
    return (
        j.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("copies") > 1, 1).otherwise(0)).alias("n_dups"),
        )
        .select(
            F.col("bucket").cast("bigint").alias("bucket"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_dups").cast("bigint").alias("n_dups"),
            (F.col("n_dups").cast("double") / F.col("n_docs")).alias(
                "dup_rate"
            ),
        )
        .orderBy("bucket")
    )


# ---------------------- q244: exact-quota stratified sample
#
# q62 (hash split) and q66 (rate thinning) give BINOMIAL per-stratum
# counts — right for train splits, wrong for building a balanced
# eval set that needs EXACTLY n docs per source. The
# without-replacement exact-quota version: rank each stratum by the
# md5 of its doc key (a deterministic, uncorrelated "random" order —
# same trick, third md5 use, so it is independent of both the split
# and the thinning buckets by the hash's avalanche property) and
# take the first QUOTA. One window per stratum — the shuffle is by
# source (few, bounded partitions), per-row state is a counter, and
# the selection is reproducible on any engine or cluster shape.
# Sources are ~5 here; at real scale strata stay bounded (domains,
# languages) — a skewed giant stratum costs one partition's sort of
# ITS OWN rows, bounded further by TakeOrderedAndProject-style
# partial top-k if QUOTA << stratum (rank<=k prunes map-side).

SAMPLE_QUOTA = 20

_ORACLE_Q244 = f"""
WITH ranked AS (
    SELECT source, doc_id,
           row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS pick_rank
    FROM documents
)
SELECT source, doc_id, CAST(pick_rank AS BIGINT) AS pick_rank
FROM ranked WHERE pick_rank <= {SAMPLE_QUOTA}
ORDER BY source, pick_rank
"""


@register(
    "q244_exact_quota_sample",
    oracle=_ORACLE_Q244,
    doc="Exact-quota stratified sample (balanced eval-set "
    "construction): exactly QUOTA docs per source, ranked by "
    "md5(doc_id) — deterministic sampling without replacement, "
    "uncorrelated with the q62 split and q66 thinning hashes; "
    "reproducible under any partitioning.",
    tags=("curation", "sampling"),
)
def q244_exact_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = Catalog(spark, sf_dir).documents.select("source", "doc_id")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), "doc_id"
    )
    return (
        docs.withColumn("pick_rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("pick_rank") <= SAMPLE_QUOTA)
        .select("source", "doc_id", "pick_rank")
        .orderBy("source", "pick_rank")
    )


# ------- q253: deterministic training order (round 8)
#
# The last step of a training-data build: emit the ORDER the
# examples will be consumed in. Requirements production loaders
# (epoch shuffling a la streaming-dataset formats) put on it:
# reproducible with no stored state (pure function of the doc key —
# the q62 discipline), different across epochs, and SOURCE-FAIR in
# every prefix: if source s holds share p_s of the corpus, any
# training prefix should contain ≈ p_s of its docs from s — a
# random-looking order with a proportional-interleave guarantee,
# not just uniformity in expectation. Construction: per-source
# md5 rank r (1-based) maps to the midpoint position
# pos_ppm = (2r-1)·10⁶ DIV (2·n_s); sorting by pos_ppm interleaves
# sources exactly proportionally (each source's positions are
# equally spaced midpoints of [0, 1e6)), and the md5 key makes the
# within-source order a deterministic shuffle (epoch-varying via
# the key prefix).
#
# Scale shape — the repo's first DISTRIBUTED GLOBAL RANKING: a
# per-source row_number window would put each source's entire
# stream through ONE task (source cardinality ~20, unbounded rows
# per source at 100 TB). Instead the classic two-phase rank: bucket
# every doc by its first key byte (256 buckets), count per
# (source, bucket) — combine-safe —, prefix-sum the tiny
# source×bucket grid, then rank WITHIN (source, bucket) only
# (fine-grained windows, each 1/256th of a source) and add the
# prefix. The only full-stream window partitions by
# (source, bucket); the prefix-sum window runs on ≤ 256·|sources|
# rows of counts.

EPOCH_TAG = "ep1"

_ORACLE_Q253 = f"""
WITH k AS (
    SELECT doc_id, source,
           md5('{EPOCH_TAG}|' || CAST(doc_id AS VARCHAR)) AS kk
    FROM documents
), r AS (
    SELECT doc_id, source, kk,
           row_number() OVER (PARTITION BY source
                              ORDER BY kk, doc_id) AS r,
           COUNT(*) OVER (PARTITION BY source) AS ns
    FROM k
)
SELECT doc_id, source,
       CAST(r AS BIGINT) AS src_rank,
       CAST((2 * r - 1) * 1000000 // (2 * ns) AS BIGINT) AS pos_ppm
FROM r
ORDER BY pos_ppm, source, src_rank
"""


@register(
    "q253_training_order",
    oracle=_ORACLE_Q253,
    doc="Deterministic epoch training order with an exact "
    "proportional-interleave guarantee: per-source md5 rank maps to "
    "midpoint positions (2r-1)*1e6 DIV (2*n_s), so every prefix of "
    "the order holds each source in proportion to its corpus share "
    "(+-1 doc, pinned in pytest). Rank is the two-phase distributed "
    "form — 256-bucket counts, tiny prefix-sum grid, windows only "
    "within (source, bucket) — never a one-task-per-source window.",
    tags=("curation", "ordering", "ranking"),
)
def q253_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).documents.select(
        "doc_id",
        "source",
        F.md5(
            F.concat(
                F.lit(EPOCH_TAG + "|"), F.col("doc_id").cast("string")
            ).cast("binary")
        ).alias("kk"),
    ).withColumn("bucket", F.substring("kk", 1, 2))
    # phase 1: combine-safe counts on the tiny (source, bucket) grid
    counts = docs.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    grid = Window.partitionBy("source").orderBy("bucket")
    prefix = counts.withColumn(
        "prefix",
        F.coalesce(
            F.sum("cnt").over(
                grid.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).withColumn(
        "ns", F.sum("cnt").over(Window.partitionBy("source"))
    ).select("source", "bucket", "prefix", "ns")
    # phase 2: rank within (source, bucket) — fine-grained windows —
    # plus the broadcastable grid prefix
    fine = Window.partitionBy("source", "bucket").orderBy("kk", "doc_id")
    ranked = (
        docs.join(F.broadcast(prefix), ["source", "bucket"])
        .withColumn(
            "src_rank",
            (F.col("prefix") + F.row_number().over(fine)).cast("bigint"),
        )
    )
    return ranked.selectExpr(
        "doc_id",
        "source",
        "src_rank",
        "CAST((2 * src_rank - 1) * 1000000 DIV (2 * ns) AS BIGINT)"
        " AS pos_ppm",
    ).orderBy("pos_ppm", "source", "src_rank")


# ------- q258: size-balanced output shards (round 9)
#
# The last physical step of a corpus build: assign docs to K
# output shards so shard BYTE totals balance (training loaders
# want near-equal shard sizes, not near-equal doc counts). The
# deterministic classic: sort by size descending, deal round-robin
# — rank r goes to shard (r-1) mod K — which bounds any shard's
# total within max_doc_bytes of the mean (LPT-style guarantee),
# needs no state, and reproduces identically on any engine.
#
# The global size rank reuses the q253 two-phase DISTRIBUTED
# ranking discipline — never one window over the whole corpus: the
# grid here is the distinct n_chars VALUES (phase 1 counts per
# length — combine-safe; the grid is bounded by the max doc length,
# coarsenable to length buckets at 100 TB), phase 2 ranks only
# within (n_chars) groups ordered by doc_id and adds the grid
# prefix. Per shard: docs, byte total, and the exact share in ppm;
# the balance check (max share ≈ min share) runs on the K-row
# aggregate.

SHARDS_K = 8

_ORACLE_Q258 = f"""
WITH r AS (
    SELECT doc_id, n_chars,
           row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rnk
    FROM documents
), a AS (
    SELECT (rnk - 1) % {SHARDS_K} AS shard,
           COUNT(*) AS n_docs,
           SUM(n_chars) AS chars_total
    FROM r GROUP BY 1
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(chars_total AS BIGINT) AS chars_total,
       CAST(chars_total * 1000000 //
            (SELECT SUM(chars_total) FROM a) AS BIGINT) AS share_ppm
FROM a ORDER BY shard
"""


@register(
    "q258_balanced_shards",
    oracle=_ORACLE_Q258,
    doc="Size-balanced output sharding: global rank by byte size "
    "descending (the q253 two-phase distributed form — grid counts "
    "per distinct length, windows only within one length group), "
    "round-robin deal to K shards; per shard the doc count, byte "
    "total, and exact ppm share. Deterministic, stateless, "
    "LPT-style balance bound.",
    tags=("curation", "sharding", "ranking"),
)
def q258_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "n_chars")
    counts = docs.groupBy("n_chars").agg(F.count(F.lit(1)).alias("cnt"))
    grid = Window.orderBy(F.col("n_chars").desc())
    prefix = counts.withColumn(
        "prefix",
        F.coalesce(
            F.sum("cnt").over(
                grid.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("n_chars", "prefix")
    fine = Window.partitionBy("n_chars").orderBy("doc_id")
    ranked = (
        docs.join(F.broadcast(prefix), "n_chars")
        .withColumn(
            "rnk", (F.col("prefix") + F.row_number().over(fine)).cast("bigint")
        )
        .withColumn("shard", (F.col("rnk") - 1) % SHARDS_K)
    )
    agg = ranked.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars_total"),
    )
    return (
        agg.withColumn(
            "share_ppm",
            F.expr(
                f"CAST(chars_total * 1000000 DIV "
                f"(SUM(chars_total) OVER ()) AS BIGINT)"
            ),
        )
        .select(
            F.col("shard").cast("bigint").alias("shard"),
            "n_docs",
            "chars_total",
            "share_ppm",
        )
        .orderBy("shard")
    )


# ------- q265: per-shard resume cursor (round 10)
#
# The query a trainer actually issues on restart, composing the two
# rankings of the loader stack end-to-end (r9 verdict #6): q258's
# size-balanced shard assignment (global rank by n_chars desc, the
# q253 two-phase distributed form, round-robin deal to K shards)
# decides WHICH docs a data-parallel rank owns and IN WHAT ORDER it
# consumes them; q260's packed-sequence locator maps a checkpoint's
# per-shard token offset back to the exact loader cursor. Given the
# canonical grid of offsets (j/8 of each shard's token total,
# j = 1..7), emit per (shard, offset): the global token position,
# the training-sequence id and position inside it (q226's
# PACK_WINDOW layout), the covering document and the offset into
# it. Unlike q260 (streams keyed by doc_id % 8), the pack order
# here is the SHARD's consumption order — rnk ascending — so the
# cumsum partitions by the shard assignment the first ranking just
# computed: both two-phase rankings run in one plan.
#
# Scale shape: ranking is q258's grid-prefix broadcast + windows
# only WITHIN one length group (never a global corpus window);
# the cumsum partitions by shard (K = data-parallel width, bounded
# by design); per-shard totals are a plain combine-safe SUM; the
# marks frame (K x 7 rows) rides a broadcast range probe. The
# corpus is scanned once; the only corpus shuffles are the two
# key-partitioned windows.

_ORACLE_Q265 = f"""
WITH d AS (
    SELECT doc_id, n_chars, len({TOKENS_SQL}) AS n_tok FROM documents
), r AS (
    SELECT doc_id, n_tok,
           row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rnk
    FROM d
), s AS (
    SELECT doc_id, n_tok, rnk, (rnk - 1) % {SHARDS_K} AS shard FROM r
), c AS (
    SELECT doc_id, shard, rnk,
           SUM(n_tok) OVER (
               PARTITION BY shard ORDER BY rnk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS e,
           SUM(n_tok) OVER (
               PARTITION BY shard ORDER BY rnk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - n_tok AS b
    FROM s WHERE n_tok > 0
), tot AS (
    SELECT shard, SUM(n_tok) AS total
    FROM s WHERE n_tok > 0 GROUP BY shard
), marks AS (
    SELECT shard, j, j * total // {RESUME_DENOM} AS g
    FROM tot, LATERAL (
        SELECT UNNEST(generate_series(1, {RESUME_DENOM} - 1)) AS j
    ) f
)
SELECT CAST(m.shard AS BIGINT) AS shard,
       CAST(m.j AS BIGINT) AS frac_8,
       CAST(m.g AS BIGINT) AS global_tok,
       CAST(m.g // {PACK_WINDOW} AS BIGINT) AS seq_id,
       CAST(m.g % {PACK_WINDOW} AS BIGINT) AS pos_in_seq,
       CAST(c.doc_id AS BIGINT) AS doc_id,
       CAST(m.g - c.b AS BIGINT) AS doc_offset
FROM marks m JOIN c ON c.shard = m.shard AND c.b <= m.g AND m.g < c.e
ORDER BY shard, frac_8
"""


@register(
    "q265_shard_resume_cursor",
    oracle=_ORACLE_Q265,
    doc="Trainer-restart cursor composing the full loader stack: "
    "q258's size-balanced shard deal fixes each data-parallel "
    "rank's doc set and consumption order, q260's locator maps the "
    "checkpoint grid (j/8 of each shard's token total) to the "
    "exact cursor — global token, sequence id/position (PACK_WINDOW "
    "layout), covering doc, offset into it. Both two-phase "
    "rankings in one plan; marks broadcast, no global corpus "
    "window.",
    tags=("curation", "sharding", "packing", "training"),
)
def q265_shard_resume_cursor(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(Catalog(spark, sf_dir).documents, "doc_id").select(
        "doc_id", "n_chars", F.size(tokens_col()).alias("n_tok")
    )
    # --- ranking 1: q258's two-phase global rank by (n_chars desc,
    # doc_id) — grid prefix over the tiny distinct-length counts
    # frame (broadcast), row_number only WITHIN one length group.
    counts = docs.groupBy("n_chars").agg(F.count(F.lit(1)).alias("cnt"))
    grid = Window.orderBy(F.col("n_chars").desc())
    prefix = counts.withColumn(
        "prefix",
        F.coalesce(
            F.sum("cnt").over(grid.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    ).select("n_chars", "prefix")
    fine = Window.partitionBy("n_chars").orderBy("doc_id")
    sharded = (
        docs.join(F.broadcast(prefix), "n_chars")
        .withColumn(
            "rnk", (F.col("prefix") + F.row_number().over(fine)).cast("bigint")
        )
        .withColumn("shard", (F.col("rnk") - 1) % SHARDS_K)
        .select("doc_id", "n_tok", "rnk", "shard")
    )
    # --- ranking 2: q260's per-shard cumsum in consumption order
    # (partitions = K data-parallel ranks, bounded by design).
    w = (
        Window.partitionBy("shard")
        .orderBy("rnk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = (
        sharded.where(F.col("n_tok") > 0)
        .withColumn("e", F.sum("n_tok").over(w))
        .withColumn("b", F.col("e") - F.col("n_tok"))
    )
    marks = (
        sharded.where(F.col("n_tok") > 0)
        .groupBy("shard")
        .agg(F.sum("n_tok").alias("total"))
        .select(
            F.col("shard").alias("m_shard"),
            F.explode(F.sequence(F.lit(1), F.lit(RESUME_DENOM - 1))).alias(
                "j"
            ),
            "total",
        )
        .select(
            "m_shard", "j", F.expr(f"j * total DIV {RESUME_DENOM}").alias("g")
        )
    )
    loc = c.join(
        F.broadcast(marks),
        (F.col("shard") == F.col("m_shard"))
        & (F.col("b") <= F.col("g"))
        & (F.col("g") < F.col("e")),
    )
    return loc.select(
        F.col("shard").cast("bigint").alias("shard"),
        F.col("j").cast("bigint").alias("frac_8"),
        F.col("g").cast("bigint").alias("global_tok"),
        F.expr(f"g DIV {PACK_WINDOW}").cast("bigint").alias("seq_id"),
        (F.col("g") % PACK_WINDOW).cast("bigint").alias("pos_in_seq"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
        (F.col("g") - F.col("b")).cast("bigint").alias("doc_offset"),
    ).orderBy("shard", "frac_8")


# ------- q268: packing-efficiency sweep (round 10)
#
# The capacity-planning query behind choosing PACK_WINDOW: under
# the q226 concat-stream packing (docs concatenated per stream,
# split every W tokens), padding waste is exactly the per-stream
# tail — ceil(total/W)*W - total — so sweeping W costs one
# 8-row-per-stream aggregate, not a repack. Emits, per candidate
# window size: sequence count, token capacity, wasted tokens, and
# exact waste ppm. (Doc-boundary packing variants trade this near-
# zero waste for attention isolation — the sweep quantifies what
# that trade starts from.)
#
# Scale shape: one combine-safe per-stream SUM (streams = the
# data-parallel width, 8 rows), a 4-value literal explode, and a
# final 4-row rollup. The corpus is scanned once.

_PACK_SWEEP_WINDOWS = (128, 256, 512, 1024)

_ORACLE_Q268 = f"""
WITH d AS (
    SELECT doc_id % {PACK_STREAMS} AS stream,
           len({TOKENS_SQL}) AS n_tok
    FROM documents
    WHERE len({TOKENS_SQL}) > 0
), tot AS (
    SELECT stream, SUM(n_tok) AS total FROM d GROUP BY stream
), g AS (
    SELECT w, (total + w - 1) // w AS seqs, total
    FROM tot, LATERAL (
        SELECT UNNEST([{", ".join(str(w) for w in _PACK_SWEEP_WINDOWS)}]) AS w
    ) f
)
SELECT CAST(w AS BIGINT) AS window_size,
       CAST(SUM(seqs) AS BIGINT) AS n_seqs,
       CAST(SUM(seqs) * w AS BIGINT) AS capacity_tok,
       CAST(SUM(seqs) * w - SUM(total) AS BIGINT) AS waste_tok,
       CAST((SUM(seqs) * w - SUM(total)) * 1000000
            // (SUM(seqs) * w) AS BIGINT) AS waste_ppm
FROM g GROUP BY w ORDER BY window_size
"""


@register(
    "q268_packing_efficiency",
    oracle=_ORACLE_Q268,
    doc="Packing-efficiency sweep over candidate sequence lengths "
    "(128/256/512/1024): under concat-stream packing the waste is "
    "exactly the per-stream tail, so the sweep is one per-stream "
    "total + integer algebra — sequence counts, capacity, wasted "
    "tokens, exact waste ppm per window size. One corpus scan, "
    "one 8-row aggregate.",
    tags=("curation", "packing", "planning"),
)
def q268_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        fan_out(Catalog(spark, sf_dir).documents, "doc_id")
        .select(
            (F.col("doc_id") % PACK_STREAMS).alias("stream"),
            F.size(tokens_col()).alias("n_tok"),
        )
        .where(F.col("n_tok") > 0)
    )
    tot = d.groupBy("stream").agg(F.sum("n_tok").alias("total"))
    g = tot.select(
        "total",
        F.explode(
            F.array(*[F.lit(w) for w in _PACK_SWEEP_WINDOWS])
        ).alias("w"),
    ).select(
        "w",
        "total",
        F.expr("CAST((total + w - 1) DIV w AS BIGINT)").alias("seqs"),
    )
    return (
        g.groupBy("w")
        .agg(
            F.sum("seqs").cast("bigint").alias("n_seqs"),
            F.sum(F.col("seqs") * F.col("w")).cast("bigint").alias(
                "capacity_tok"
            ),
            F.sum(F.col("seqs") * F.col("w") - F.col("total"))
            .cast("bigint")
            .alias("waste_tok"),
        )
        .select(
            F.col("w").cast("bigint").alias("window_size"),
            "n_seqs",
            "capacity_tok",
            "waste_tok",
            F.expr(
                "CAST(waste_tok * 1000000 DIV capacity_tok AS BIGINT)"
            ).alias("waste_ppm"),
        )
        .orderBy("window_size")
    )


# ------- q269: clean held-out construction (round 10)
#
# The composition a team actually runs to cut an eval set — three
# established primitives in one plan, in the order that matters:
# (1) candidates = the md5-bucket test split (q62's pure-function
# split, bucket >= VAL_PCT); (2) DECONTAMINATE: drop any candidate
# whose word-5-gram shingles overlap the train+val stream above
# 10% (q63's leakage check turned into a filter at the GPT-3-style
# longer-gram grain — at trigram grain the synthetic corpus's tiny
# shared vocabulary marks EVERY candidate contaminated and the
# whole pipeline degenerates; 5-grams leave a real mix of drops
# and keeps. The train side collapses to DISTINCT shingles first,
# so the probe is a bounded-fan-in join, never test x train doc
# pairs); (3) DEDUP the survivors by CANONICAL-VOCABULARY
# fingerprint — md5 of the sorted distinct token set, the
# order-insensitive exact grain that catches re-shuffled
# duplicates (q34's whitespace-normalized fingerprint never
# collides on this corpus, which would leave the dedup stage
# dead code; a deployment picks the grain its eval data needs) —
# min doc_id survives, since a duplicated eval example
# double-counts its score. Per source: candidates, contamination
# drops, dup drops, kept docs and kept chars.
#
# Scale shape: the contamination probe joins on sh against a
# DISTINCT train-shingle set (per-shingle fan-in 1); the survivor
# join-back keys on the UNIQUE (fingerprint, doc_id) composite
# (q229/q261 discipline — never the bare fingerprint); rollups
# are combine-safe counts.

_HELDOUT_CONTAM_PCT = 10  # drop if >10% of shingles seen in train
_HELDOUT_GRAM = 5  # GPT-3-style longer-gram decontamination grain

# md5 of the sorted distinct token set — order-insensitive
_FP_SQL = (
    f"md5(array_to_string(list_sort(list_distinct({TOKENS_SQL})), ' '))"
)

_ORACLE_Q269 = f"""
WITH toks AS (
    SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
),
grams AS (
    SELECT doc_id,
           unnest(list_distinct(
               [array_to_string(list_slice(toks, i, i + {_HELDOUT_GRAM - 1}),
                                ' ')
                for i in range(1, len(toks) - {_HELDOUT_GRAM - 2})])) AS sh
    FROM toks WHERE len(toks) >= {_HELDOUT_GRAM}
),
cand AS (
    SELECT doc_id, source, n_chars, {_FP_SQL} AS fingerprint
    FROM documents
    WHERE {_BUCKET_SQL} >= {VAL_PCT}
),
tsh AS (
    SELECT s.doc_id, s.sh FROM grams s
    JOIN cand c ON c.doc_id = s.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM tsh GROUP BY doc_id),
trsh AS (
    SELECT DISTINCT sh FROM grams
    WHERE {_BUCKET_SQL} < {VAL_PCT}
),
contam AS (
    SELECT t.doc_id, COUNT(*) AS n_cont
    FROM tsh t JOIN trsh r ON r.sh = t.sh
    GROUP BY t.doc_id
),
flags AS (
    SELECT c.*, 
           CASE WHEN COALESCE(ct.n_cont, 0) * 100
                     > COALESCE(s.n, 0) * {_HELDOUT_CONTAM_PCT}
                THEN 1 ELSE 0 END AS contaminated
    FROM cand c
    LEFT JOIN sizes s ON s.doc_id = c.doc_id
    LEFT JOIN contam ct ON ct.doc_id = c.doc_id
),
surv AS (
    SELECT fingerprint, MIN(doc_id) AS doc_id
    FROM flags WHERE contaminated = 0
    GROUP BY fingerprint
),
final AS (
    SELECT f.source, f.n_chars, f.contaminated,
           CASE WHEN f.contaminated = 0 AND sv.doc_id IS NOT NULL
                THEN 1 ELSE 0 END AS kept
    FROM flags f
    LEFT JOIN surv sv
           ON sv.fingerprint = f.fingerprint AND sv.doc_id = f.doc_id
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(SUM(contaminated) AS BIGINT) AS n_contaminated,
       CAST(SUM(CASE WHEN contaminated = 0 AND kept = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dupes,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN kept = 1 THEN n_chars ELSE 0 END) AS BIGINT)
           AS kept_chars
FROM final GROUP BY source ORDER BY source
"""


@register(
    "q269_clean_heldout",
    oracle=_ORACLE_Q269,
    doc="Clean held-out construction composing split -> "
    "decontaminate -> dedup: md5-bucket test candidates (q62), "
    "drop those with >10% word-5-gram overlap against the "
    "train+val stream (q63 as a filter at the GPT-3-style longer "
    "gram, probing a DISTINCT train-gram set), dedup the "
    "survivors by canonical-vocabulary fingerprint (md5 of the "
    "sorted distinct token set) keeping min doc_id. Per source: "
    "candidate, contamination-drop, dup-drop, kept counts and "
    "kept chars.",
    tags=("curation", "decontamination", "dedup", "split"),
)
def q269_clean_heldout(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    fp = F.md5(
        F.array_join(F.array_sort(F.array_distinct(tokens_col())), " ")
    )
    cand = cat.documents.where(bucket_col() >= VAL_PCT).select(
        "doc_id", "source", "n_chars", fp.alias("fingerprint")
    )
    n = _HELDOUT_GRAM
    gram_arr = F.array_distinct(
        F.when(
            F.size(tokens_col()) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(tokens_col()) - (n - 1)),
                lambda i: F.array_join(F.slice(tokens_col(), i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )
    sh = (
        fan_out(cat.documents, "doc_id")
        .select("doc_id", F.explode(gram_arr).alias("sh"))
        .withColumn("bucket", bucket_col())
    )
    tsh = sh.where(F.col("bucket") >= VAL_PCT).select("doc_id", "sh")
    sizes = tsh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    trsh = sh.where(F.col("bucket") < VAL_PCT).select("sh").distinct()
    contam = (
        tsh.join(trsh, "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_cont"))
    )
    flags = (
        cand.join(sizes, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .withColumn(
            "contaminated",
            F.when(
                F.coalesce("n_cont", F.lit(0)) * 100
                > F.coalesce("n", F.lit(0)) * _HELDOUT_CONTAM_PCT,
                1,
            ).otherwise(0),
        )
    )
    surv = (
        flags.where(F.col("contaminated") == 0)
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .withColumn("sv", F.lit(True))
    )
    final = flags.join(surv, ["fingerprint", "doc_id"], "left").withColumn(
        "kept",
        F.when(
            (F.col("contaminated") == 0) & F.col("sv").isNotNull(), 1
        ).otherwise(0),
    )
    return (
        final.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum("contaminated").cast("bigint").alias("n_contaminated"),
            F.sum(
                F.when(
                    (F.col("contaminated") == 0) & (F.col("kept") == 0), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_dupes"),
            F.sum("kept").cast("bigint").alias("n_kept"),
            F.sum(F.when(F.col("kept") == 1, F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("kept_chars"),
        )
        .orderBy("source")
    )
