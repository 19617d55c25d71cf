"""Product search surface — the reference's `GET /products` filter
chain (SURVEY.md §2.2 Q1-Q7, Q9-Q12; salim/app/server/routes/
products.py:20-64).

Each filter is a declarative `df.filter`, so Catalyst pushes every
predicate into the parquet scan (check `.explain` → PushedFilters);
at 100 TB a search touches only the row groups whose min/max stats
survive the pushed predicates. Pagination compiles to
TakeOrderedAndProject (parallel partial top-k + offset, domain.py);
at scale you'd paginate by keyset (product_id > cursor) which the
plan's total order enables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import artifact_path, materialize, publish
from ..catalog import Catalog
from ..functions.money import to_double
from ..mapping import domain_sql, products
from ..registry import register
from ..streaming import txn

# Fixed parameters: the driver compares deterministic result sets, so
# each query pins the reference endpoint's parameters to one
# representative call (term/brand/price-range/pagination all active).
TERM = "widget"
BRAND_TERM = "1"
MIN_PRICE = 1_000
MAX_PRICE = 60_000
OFFSET = 10
LIMIT = 50

_ORACLE_Q02 = domain_sql(f"""
SELECT product_id, supermarket_id, barcode, canonical_name, brand, category,
       CAST(price AS DOUBLE)       AS price_d,
       CAST(promo_price AS DOUBLE) AS promo_price_d,
       collected_at
FROM (
    SELECT *, row_number() OVER (ORDER BY product_id) AS rn
    FROM products
    WHERE lower(canonical_name) LIKE '%{TERM}%'
      AND lower(brand) LIKE '%{BRAND_TERM}%'
      AND price >= {MIN_PRICE} AND price <= {MAX_PRICE}
)
WHERE rn > {OFFSET} AND rn <= {OFFSET + LIMIT}
""")


@register(
    "q02_product_search",
    oracle=_ORACLE_Q02,
    doc="GET /products filter chain: ILIKE name+brand, price range, "
    "deterministic pagination (SURVEY §2.2 Q1,Q3,Q5,Q7).",
    tags=("filter", "pagination"),
)
def q02_product_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..domain import search_products

    df = products(Catalog(spark, sf_dir))
    # _price_raw range is a SUPERSET of the decimal-price range (±1
    # absorbs the cast rounding); it pushes into the parquet scan as
    # a min/max row-group filter while the exact decimal predicates
    # inside search_products keep oracle-identical semantics.
    df = df.where(F.col("_price_raw").between(MIN_PRICE - 1, MAX_PRICE + 1))
    return search_products(
        df,
        term=TERM,
        brand=BRAND_TERM,
        min_price=MIN_PRICE,
        max_price=MAX_PRICE,
        offset=OFFSET,
        limit=LIMIT,
    ).select(
        "product_id",
        "supermarket_id",
        "barcode",
        "canonical_name",
        "brand",
        "category",
        to_double(F.col("price")).alias("price_d"),
        to_double(F.col("promo_price")).alias("promo_price_d"),
        "collected_at",
    )


_ORACLE_Q03 = domain_sql("""
SELECT category,
       COUNT(*)                                     AS total,
       COUNT(promo_price)                           AS promo_count,
       CAST(COUNT(promo_price) AS DOUBLE) * 100 / COUNT(*) AS promo_pct
FROM products
GROUP BY category
ORDER BY category
""")


@register(
    "q03_promo_stats_by_category",
    oracle=_ORACLE_Q03,
    doc="Promo tri-state as conditional counts per category "
    "(SURVEY §2.2 Q4 + §2.4 A2-A3).",
    tags=("agg",),
)
def q03_promo_stats_by_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = products(Catalog(spark, sf_dir))
    total = F.count(F.lit(1))
    promo = F.count(F.col("promo_price"))
    return (
        df.groupBy("category")
        .agg(
            total.alias("total"),
            promo.alias("promo_count"),
            (promo.cast("double") * 100 / total).alias("promo_pct"),
        )
        .orderBy("category")
    )


_ORACLE_Q04 = domain_sql("""
SELECT supermarket_id,
       COUNT(*)                   AS no_promo_count,
       CAST(MIN(price) AS DOUBLE) AS min_price_d,
       CAST(MAX(price) AS DOUBLE) AS max_price_d
FROM products
WHERE promo_price IS NULL
GROUP BY supermarket_id
ORDER BY supermarket_id
""")


@register(
    "q04_non_promo_by_store",
    oracle=_ORACLE_Q04,
    doc="Promo tri-state False branch: promo_price IS NULL per store "
    "(SURVEY §2.2 Q4,Q6).",
    tags=("filter", "agg"),
)
def q04_non_promo_by_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = products(Catalog(spark, sf_dir))
    return (
        df.where(F.col("promo_price").isNull())
        .groupBy("supermarket_id")
        .agg(
            F.count(F.lit(1)).alias("no_promo_count"),
            to_double(F.min("price")).alias("min_price_d"),
            to_double(F.max("price")).alias("max_price_d"),
        )
        .orderBy("supermarket_id")
    )


# Last-30-days window anchored at the data's max shipdate (the
# reference anchors at now() — products.py:240-241; a fixed anchor
# keeps the query pure).
RANGE_LO = "2001-10-05 00:00:00"
RANGE_HI = "2001-11-04 00:00:00"

_ORACLE_Q05 = domain_sql(f"""
SELECT supermarket_id,
       COUNT(*) AS observations,
       CAST(SUM({'COALESCE(promo_price, price)'}) AS DOUBLE) / COUNT(*) AS avg_effective_d
FROM products
WHERE collected_at BETWEEN TIMESTAMP '{RANGE_LO}' AND TIMESTAMP '{RANGE_HI}'
GROUP BY supermarket_id
ORDER BY supermarket_id
""")


# pg_trgm-analog fuzzy search (the reference's ONLY physical tuning
# is a GIN trigram index on canonical_name, tables.sql:48 — SURVEY
# §4). Spark has no trigram index; the scalable equivalent is
# trigram-set similarity as pure column algebra: the query term's
# trigram set is a LITERAL (driver-side), so the whole operator is a
# scan + per-row array intersection — no join, no shuffle before the
# final top-k.
FUZZY_TERM = "wigdet bolt"  # deliberately misspelled 'widget bolt'
SIM_THRESHOLD = 0.3
TOP_FUZZY = 10


def _trigrams(s: str) -> list[str]:
    padded = f"  {s.lower()} "
    return sorted({padded[i : i + 3] for i in range(len(padded) - 2)})


def _term_tg_sql() -> str:
    return "[" + ", ".join("'" + t.replace("'", "''") + "'" for t in _trigrams(FUZZY_TERM)) + "]"


_ORACLE_Q47 = f"""
WITH names AS (SELECT DISTINCT p_name AS name FROM part),
tg AS (
    SELECT name,
           list_distinct([substr(padded, i, 3)
                          for i in range(1, length(padded) - 1)]) AS tgs
    FROM (SELECT name, '  ' || lower(name) || ' ' AS padded FROM names)
),
scored AS (
    SELECT name,
           len(list_filter(tgs, x -> list_contains({_term_tg_sql()}, x))) AS shared,
           len(tgs) AS n_name,
           {len(_trigrams(FUZZY_TERM))} AS n_term
    FROM tg
)
SELECT name,
       CAST(shared AS DOUBLE) / (n_name + n_term - shared) AS sim
FROM scored
WHERE CAST(shared AS DOUBLE) / (n_name + n_term - shared) >= {SIM_THRESHOLD}
ORDER BY sim DESC, name
LIMIT {TOP_FUZZY}
"""


@register(
    "q47_trigram_fuzzy_search",
    oracle=_ORACLE_Q47,
    doc="pg_trgm-style trigram-set similarity search (misspelled "
    "term still matches) — scan-only, literal term trigrams, no "
    "join (tables.sql:48 GIN-index analog).",
    tags=("search", "fuzzy", "trigram"),
)
def q47_trigram_fuzzy_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    term_tgs = _trigrams(FUZZY_TERM)
    names = cat.part.select(F.col("p_name").alias("name")).distinct()
    tg = names.withColumn("tgs", trigram_set())
    term_arr = F.array(*[F.lit(t) for t in term_tgs])
    shared = F.size(F.array_intersect(F.col("tgs"), term_arr))
    sim = shared.cast("double") / (F.size("tgs") + len(term_tgs) - shared)
    return (
        tg.select("name", sim.alias("sim"))
        .where(F.col("sim") >= SIM_THRESHOLD)
        .orderBy(F.col("sim").desc(), "name")
        .limit(TOP_FUZZY)
    )


# ------------------------- trigram INVERTED INDEX (GIN index-side) --
#
# q47 is the scan-side half of the pg_trgm analog: one pass over all
# names. The index-side half is what the reference's GIN index
# actually buys (tables.sql:48): a materialized posting list
# trigram → name, so a search touches only the postings of the
# term's own trigrams. The index is one streaming/txn.py table of
# (name, n_name, tg) postings: every build or update stages exactly
# ONE parquet file sorted by tg — row-group min/max stats on tg then
# skip every row group whose range misses the term's trigrams — and
# publishes it with ONE txn commit, so readers see whole updates or
# none. At 100 TB the index grows by one file per ingest batch; here
# the sf_dir index is built once per process (artifacts.materialize).


def trigram_index_path(sf_dir: str) -> str:
    # Hardened scratch location (md5 key, per-uid 0700 root) of the
    # txn table build_trigram_index publishes (artifacts.py).
    return artifact_path(sf_dir, "trigram_index")


def names_frame(spark: SparkSession, names: list[str]) -> DataFrame:
    """A one-column ``name`` frame over a driver-side name list — an
    Arrow local relation, so indexing it never re-reads the source
    the names came from."""
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame({"name": names}, dtype=object), "name STRING")


def _padded() -> Column:
    return F.concat(F.lit("  "), F.lower("name"), F.lit(" "))


def trigram_set() -> Column:
    """The distinct trigrams of the ``name`` column, padded as
    pg_trgm pads a word (``'  ' || lower(name) || ' '``) — the Spark
    side of ``_trigrams`` and of the oracles' ``tg`` CTEs."""

    def tgs(padded: Column) -> Column:
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(padded) - 2),
                lambda i: F.substring(padded, i, 3),
            )
        )

    # bound once through a one-element array: written inline, the
    # padding would be re-evaluated at every trigram position (2.6 s
    # against 1.0 s over 200k names, local[2] on a 4-core VM)
    return F.transform(F.array(_padded()), tgs)[0]


def postings(names: DataFrame) -> DataFrame:
    """The (name, n_name, tg) postings of ``names`` as one partition
    sorted by tg — staged, it is one file whose row groups prune on
    tg."""
    return (
        names.withColumn("tgs", trigram_set())
        .select("name", F.size("tgs").alias("n_name"), F.explode("tgs").alias("tg"))
        .coalesce(1)
        .sortWithinPartitions("tg", "name")
    )


def build_trigram_index_at(
    spark: SparkSession, names: DataFrame, path: str
) -> str:
    """Publish the postings of ``names`` (distinct, column ``name``)
    as the whole index at ``path``. A rebuild over an existing index
    retires its files."""
    return publish(postings(names), path)


def update_trigram_index(
    spark: SparkSession, path: str, names: list[str]
) -> int:
    """Index those of ``names`` that the committed postings do not
    hold yet; returns how many that was. ``names`` is a driver-side
    list bounded by one ingest micro-batch (``start_price_ingest``
    collects it with the batch's touched dates).

    Already-indexed names come from ONE scan of the committed
    postings: the row whose tg is the name's own leading trigram
    (each indexed name has exactly one). The fresh names' postings
    are staged as one file and published with one txn commit, so a
    crash before the commit leaves only invisible orphans
    (``txn.vacuum`` reclaims them) and the retry re-derives the same
    fresh set — with one writer per index, as the ingest stream's
    checkpoint gives, every (name, tg) posting is committed once."""
    if not names:
        return 0
    idx = txn.read_committed(spark, path)
    known: set[str] = set()
    if idx is not None:
        lead = F.substring(_padded(), 1, 3)
        known = {
            r["name"]
            for r in idx.where(F.col("name").isin(names) & (F.col("tg") == lead))
            .select("name")
            .collect()
        }
    fresh = sorted(set(names) - known)
    if fresh:
        staged = txn.stage_append(postings(names_frame(spark, fresh)), path, ())
        txn.commit_append(path, staged)
    return len(fresh)


def build_trigram_index(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the trigram → name posting list of sf_dir's part
    names (once per process)."""
    return materialize(
        sf_dir,
        "trigram_index",
        lambda: postings(
            Catalog(spark, sf_dir).part.select(F.col("p_name").alias("name")).distinct()
        ),
    )


@register(
    "q67_trigram_index_search",
    oracle=_ORACLE_Q47,  # identical semantics to the scan-side half
    doc="Fuzzy search through the materialized trigram inverted "
    "index (pg_trgm GIN analog, tables.sql:48): candidates come "
    "from the term's own posting lists only — tg IN-filter pushed "
    "to the parquet scan of the committed postings.",
    tags=("search", "fuzzy", "trigram", "index"),
)
def q67_trigram_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return search_trigram_index(
        spark, build_trigram_index(spark, sf_dir), FUZZY_TERM
    )


def search_trigram_index(
    spark: SparkSession,
    path: str,
    term: str,
    threshold: float = SIM_THRESHOLD,
    k: int = TOP_FUZZY,
) -> DataFrame:
    """Fuzzy search against the committed trigram index at `path`:
    candidates come from the term's own posting lists only. An index
    with no commit yet answers an empty (name, sim) frame."""
    idx = txn.read_committed(spark, path)
    if idx is None:
        return spark.createDataFrame([], "name STRING, sim DOUBLE")
    term_tgs = _trigrams(term)
    # count, not countDistinct: the txn commit publishes each
    # (name, tg) posting once (update_trigram_index).
    scored = (
        idx.where(F.col("tg").isin(term_tgs))
        .groupBy("name")
        .agg(F.count(F.lit(1)).alias("shared"), F.max("n_name").alias("n_name"))
    )
    sim = F.col("shared").cast("double") / (
        F.col("n_name") + F.lit(len(term_tgs)) - F.col("shared")
    )
    return (
        scored.select("name", sim.alias("sim"))
        .where(sim >= threshold)
        .orderBy(F.col("sim").desc(), "name")
        .limit(k)
    )


@register(
    "q05_recent_window",
    oracle=_ORACLE_Q05,
    doc="Time-range filter (collected_at BETWEEN now-30d AND now) + "
    "per-store average effective price (SURVEY §2.2 Q12, §2.4 A3).",
    tags=("filter", "time"),
)
def q05_recent_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..domain import effective

    df = products(Catalog(spark, sf_dir))
    return (
        df.where(
            F.col("collected_at").between(
                F.lit(RANGE_LO).cast("timestamp"), F.lit(RANGE_HI).cast("timestamp")
            )
        )
        .groupBy("supermarket_id")
        .agg(
            F.count(F.lit(1)).alias("observations"),
            (to_double(F.sum(effective())) / F.count(F.lit(1))).alias(
                "avg_effective_d"
            ),
        )
        .orderBy("supermarket_id")
    )


# ----------------------- q103: trigram similarity JOIN (pg_trgm %) --
#
# The reference's pg_trgm surface is not only point lookups: the `%`
# similarity operator JOINS dirty names to canonical names (the
# cross-chain product matching problem its barcode compare sidesteps,
# salim/tables.sql:48). Spark-first shape — the classic blocked
# fuzzy join:
#   1. postings: explode each name's distinct trigram set;
#   2. document-frequency cap (TG_DF_CAP, q35's SHINGLE_DF_CAP idea
#      at character level): trigrams shared by more than CAP names
#      generate no candidates — near-identical pairs always share
#      rare trigrams too, and the cap bounds per-trigram fan-out to
#      CAP^2 regardless of corpus size;
#   3. candidates: self-equi-join of the capped postings on the
#      trigram (name_a < name_b), deduplicated;
#   4. verify: join the full trigram sets back, exact Jaccard
#      shared/(n1+n2-shared) >= threshold.
# No all-pairs product anywhere; the oracle mirrors the cap so the
# candidate semantics are part of the checked contract.

TG_DF_CAP = 64
TG_SIM_THRESHOLD = 0.5

_TG_SETS_SQL = """
names AS (SELECT DISTINCT p_name AS name FROM part),
tg AS (
    SELECT name,
           list_distinct([substr(padded, i, 3)
                          for i in range(1, length(padded) - 1)]) AS tgs
    FROM (SELECT name, '  ' || lower(name) || ' ' AS padded FROM names)
)"""

_ORACLE_Q103 = f"""
WITH {_TG_SETS_SQL},
post AS (SELECT name, unnest(tgs) AS t FROM tg),
df AS (SELECT t, COUNT(*) AS c FROM post GROUP BY t),
rare AS (SELECT p.t, p.name FROM post p JOIN df USING (t)
         WHERE df.c <= {TG_DF_CAP}),
cand AS (
    SELECT DISTINCT a.name AS name_a, b.name AS name_b
    FROM rare a JOIN rare b USING (t)
    WHERE a.name < b.name
),
ver AS (
    SELECT name_a, name_b,
           len(list_filter(ta.tgs, x -> list_contains(tb.tgs, x))) AS shared,
           len(ta.tgs) AS n1, len(tb.tgs) AS n2
    FROM cand
    JOIN tg ta ON ta.name = cand.name_a
    JOIN tg tb ON tb.name = cand.name_b
)
SELECT name_a, name_b,
       CAST(shared AS DOUBLE) / (n1 + n2 - shared) AS sim
FROM ver
WHERE CAST(shared AS DOUBLE) / (n1 + n2 - shared) >= {TG_SIM_THRESHOLD}
ORDER BY sim DESC, name_a, name_b
"""


def _tg_sets(cat: Catalog) -> DataFrame:
    names = cat.part.select(F.col("p_name").alias("name")).distinct()
    return names.select("name", trigram_set().alias("tgs"))


@register(
    "q103_trigram_similarity_join",
    oracle=_ORACLE_Q103,
    doc="pg_trgm %-style similarity JOIN: DF-capped trigram postings "
    "generate candidate name pairs (bounded per-trigram fan-out), "
    "exact Jaccard verification keeps pairs >= 0.5 — the blocked "
    "entity-resolution join (tables.sql:48 analog, q35's cap idea "
    "at character level).",
    tags=("search", "fuzzy", "join", "trigram"),
)
def q103_trigram_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    tg = _tg_sets(cat)
    post = tg.select("name", F.explode("tgs").alias("t"))
    df_counts = post.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    rare = post.join(df_counts.where(F.col("c") <= TG_DF_CAP), "t")
    cand = (
        rare.alias("a")
        .join(rare.alias("b"), "t")
        .where(F.col("a.name") < F.col("b.name"))
        .select(
            F.col("a.name").alias("name_a"), F.col("b.name").alias("name_b")
        )
        .distinct()
    )
    ta = tg.select(F.col("name").alias("name_a"), F.col("tgs").alias("tgs_a"))
    tb = tg.select(F.col("name").alias("name_b"), F.col("tgs").alias("tgs_b"))
    shared = F.size(F.array_intersect("tgs_a", "tgs_b"))
    sim = shared.cast("double") / (
        F.size("tgs_a") + F.size("tgs_b") - shared
    )
    return (
        cand.join(F.broadcast(ta), "name_a")
        .join(F.broadcast(tb), "name_b")
        .select("name_a", "name_b", sim.alias("sim"))
        .where(F.col("sim") >= TG_SIM_THRESHOLD)
        .orderBy(F.col("sim").desc(), "name_a", "name_b")
    )


# ------------- q176: keyset (cursor) pagination — the deep-page path
#
# SCALE.md's pagination row promises it: OFFSET pagination costs
# O(offset + limit) per page (every page re-sorts the whole prefix),
# so page 40,000 of a 100 TB listing is a disaster; KEYSET
# pagination (`WHERE product_id > cursor ORDER BY product_id LIMIT
# L` — reference anchor: the deterministic product_id order of
# GET /products, salim-chatbot products.py:30-31,64) costs O(limit)
# because the cursor predicate pushes into the parquet scan as a
# min/max row-group filter. The unique PK order makes the cursor
# exact (no ties to straddle a page boundary).
#
# The cursor is CLIENT STATE (the last product_id of the previous
# page); deriving it here with a parallel partial top-k stands in
# for "the client read page K-1". The scalar collect is the same
# serving-layer pattern as tools.py pagination — one value, not
# data. Correctness contract: the keyset page must equal the
# OFFSET-spec page, which is exactly what the DuckDB oracle states
# (row_number > K*L) — the cross-engine hash check IS the
# page-K-equivalence proof.
KEYSET_PAGE = 3  # zero-based page index -> rows 76..100
KEYSET_LIMIT = 25

_ORACLE_Q176 = domain_sql(f"""
SELECT product_id, supermarket_id, barcode, canonical_name, brand, category,
       CAST(price AS DOUBLE)       AS price_d,
       CAST(promo_price AS DOUBLE) AS promo_price_d
FROM (
    SELECT *, row_number() OVER (ORDER BY product_id) AS rn
    FROM products
)
WHERE rn > {KEYSET_PAGE * KEYSET_LIMIT}
  AND rn <= {(KEYSET_PAGE + 1) * KEYSET_LIMIT}
ORDER BY product_id
""")


@register(
    "q176_keyset_pagination",
    oracle=_ORACLE_Q176,
    doc="Keyset pagination of the product listing: cursor = last "
    "product_id of the previous page (derived by a parallel partial "
    "top-k standing in for client state), page = cursor-filtered "
    "scan + LIMIT — O(limit) per page with the cursor predicate "
    "pushed to the parquet scan, hash-checked equal to the "
    "OFFSET-spec page (the reference's GET /products order).",
    tags=("filter", "pagination", "keyset"),
)
def q176_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = products(Catalog(spark, sf_dir))
    out_cols = [
        "product_id",
        "supermarket_id",
        "barcode",
        "canonical_name",
        "brand",
        "category",
        to_double(F.col("price")).alias("price_d"),
        to_double(F.col("promo_price")).alias("promo_price_d"),
    ]
    skip = KEYSET_PAGE * KEYSET_LIMIT
    if skip:
        # "previous page's last row": K*L-th smallest product_id via
        # TakeOrderedAndProject (partial top-k), one scalar back.
        cursor = (
            df.select("product_id")
            .orderBy("product_id")
            .limit(skip)
            .agg(F.max("product_id").alias("cursor"))
            .collect()[0]["cursor"]
        )
        # when the table holds <= skip rows the cursor is the global
        # max, so the > filter correctly yields the empty page; only
        # a fully empty table gives a None cursor.
        if cursor is None:
            return df.where(F.lit(False)).select(*out_cols)
        df = df.where(F.col("product_id") > cursor)
    return (
        df.orderBy("product_id").limit(KEYSET_LIMIT).select(*out_cols)
    )
