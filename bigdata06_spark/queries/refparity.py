"""Reference-parity queries (SURVEY.md §2.A) expressed on the driver tables.

Each query exercises one `[REF]` operator with the exact reference
semantics (citations inline), re-expressed declaratively. The driver's
DuckDB oracle verifies each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata06_spark.catalog import load_table
from bigdata06_spark.functions.dates import normalize_release_date, release_date_precision
from bigdata06_spark.operators.relational import (
    dedup_first_wins,
    enrichment_join,
    filter_eq,
    top_k,
    union_all,
)
from bigdata06_spark.queries import register
from bigdata06_spark.queries.qutil import rnd, side_dir


@register(
    "ref_dedup_first_wins",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, o_orderstatus
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice, o_orderstatus,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def ref_dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 — `drop_duplicates(subset='id')` (Spotify_API3.py:126), with
    "first" pinned to min o_orderkey for determinism. One row per
    customer: their earliest order. Single hash shuffle on the key."""
    o = load_table(spark, "orders", sf_dir).select(
        "o_custkey", "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    return dedup_first_wins(o, ["o_custkey"], [F.asc("o_orderkey")])


@register(
    "ref_union_ragged",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderpriority, NULL AS o_orderstatus, 'jan' AS src
    FROM orders WHERE o_orderdate < TIMESTAMP '1995-02-01 00:00:00'
    UNION ALL
    SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority, o_orderstatus, 'big' AS src
    FROM orders WHERE o_totalprice > 400000
    """,
)
def ref_union_ragged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 — `pd.concat` with ragged schemas NaN-fills missing columns
    (Spotify_API4.py:503,519; multi-country union Spotify_API4.py:512-524).
    `unionByName(allowMissingColumns=True)` reproduces that: each branch
    projects a different column subset plus a provenance literal (P11,
    `source_country` — Spotify_API4.py:518). Union adds no shuffle."""
    o = load_table(spark, "orders", sf_dir)
    jan = (
        o.filter(F.col("o_orderdate") < F.lit("1995-02-01 00:00:00").cast("timestamp"))
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .withColumn("src", F.lit("jan"))
    )
    big = (
        o.filter(F.col("o_totalprice") > 400000)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .withColumn("src", F.lit("big"))
    )
    return union_all([jan, big]).select(
        "o_orderkey", "o_totalprice", "o_orderpriority", "o_orderstatus", "src"
    )


@register(
    "ref_sort_topk",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    ORDER BY c_acctbal DESC, c_custkey ASC
    LIMIT 10
    """,
)
def ref_sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3+R4 — `sort_values('popularity', ascending=False).head(...)`
    (Spotify_API3.py:401-404, Spotify_API4.py:542). Plans
    TakeOrderedAndProject: per-task k-row heap, no global sort."""
    c = load_table(spark, "customer", sf_dir).select("c_custkey", "c_name", "c_acctbal")
    return top_k(c, "c_acctbal", 10, "c_custkey")


@register(
    "ref_filter_eq",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_returnflag = 'R' AND l_quantity >= 45
    """,
)
def ref_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5 — equality filter (`new_releases[new_releases['id'] == album_id]`,
    Spotify_API3.py:383) plus a range conjunct. Both predicates push to
    the parquet scan (verified in tests/test_plans.py)."""
    li = load_table(spark, "lineitem", sf_dir)
    return filter_eq(li, "l_returnflag", "R").filter(F.col("l_quantity") >= 45).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@register(
    "ref_enrichment_join",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, p.p_name, p.p_brand
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    """,
)
def ref_enrichment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7 — the reference's per-album filter-and-copy loop
    (Spotify_API3.py:381-390) as a single broadcast hash join: fact side
    never shuffles, dimension ships once per executor."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_linenumber", "l_partkey")
    p = load_table(spark, "part", sf_dir)
    return enrichment_join(li, p, "l_partkey", "p_partkey", ["p_name", "p_brand"])


@register(
    "ref_counts",
    oracle="""
    SELECT (SELECT count(*) FROM orders)    AS orders_rows,
           (SELECT count(*) FROM lineitem)  AS lineitem_rows,
           (SELECT count(*) FROM customer)  AS customer_rows,
           (SELECT count(*) FROM events)    AS events_rows
    """,
)
def ref_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8 — the end-of-run row-count recap (Spotify_API3.py:424-429).
    Each count is a map-side partial count + 1-row final agg; the four
    single-row results cross-join into the recap row."""
    o = load_table(spark, "orders", sf_dir).agg(F.count(F.lit(1)).alias("orders_rows"))
    li = load_table(spark, "lineitem", sf_dir).agg(F.count(F.lit(1)).alias("lineitem_rows"))
    c = load_table(spark, "customer", sf_dir).agg(F.count(F.lit(1)).alias("customer_rows"))
    e = load_table(spark, "events", sf_dir).agg(F.count(F.lit(1)).alias("events_rows"))
    return o.crossJoin(li).crossJoin(c).crossJoin(e)


@register(
    "ref_flatten_json",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) / count(*) AS avg_k
    FROM events
    GROUP BY event_type
    """,
)
def ref_flatten_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P6 — nested-JSON field extraction (`artist['followers']['total']`,
    Spotify_API.py:82) via `from_json` + struct access instead of
    row-at-a-time dict access. JSON parse happens inside codegen;
    one shuffle for the group-by."""
    e = load_table(spark, "events", sf_dir)
    k = F.from_json(F.col("props"), "struct<k:bigint>")["k"]
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            (F.sum("k").cast("double") / F.count(F.lit(1))).alias("avg_k"),
        )
    )


@register(
    "ref_ragged_dates",
    oracle="""
    WITH ragged AS (
      SELECT o_orderkey,
             CASE o_orderkey % 3
               WHEN 0 THEN strftime(o_orderdate, '%Y')
               WHEN 1 THEN strftime(o_orderdate, '%Y-%m')
               ELSE strftime(o_orderdate, '%Y-%m-%d')
             END AS release_date
      FROM orders
    )
    SELECT CASE
             WHEN regexp_matches(release_date, '^\\d{4}$')           THEN 'year'
             WHEN regexp_matches(release_date, '^\\d{4}-\\d{2}$')    THEN 'month'
             WHEN regexp_matches(release_date, '^\\d{4}-\\d{2}-\\d{2}$') THEN 'day'
           END AS precision,
           CASE
             WHEN regexp_matches(release_date, '^\\d{4}$')        THEN release_date || '-01-01'
             WHEN regexp_matches(release_date, '^\\d{4}-\\d{2}$') THEN release_date || '-01'
             ELSE release_date
           END AS release_dt,
           count(*) AS n
    FROM ragged
    GROUP BY 1, 2
    """,
)
def ref_ragged_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY.md §7 hard part — Spotify's ragged `release_date`
    (`YYYY`|`YYYY-MM`|`YYYY-MM-DD`, Spotify_API.py:105). The driver
    tables have no ragged strings, so the query manufactures them
    deterministically from o_orderdate (keyed on o_orderkey % 3), then
    normalizes back with the engine's tolerant expression — pure
    codegen, no UDF."""
    o = load_table(spark, "orders", sf_dir)
    ragged = o.withColumn(
        "release_date",
        F.when(F.col("o_orderkey") % 3 == 0, F.date_format("o_orderdate", "yyyy"))
        .when(F.col("o_orderkey") % 3 == 1, F.date_format("o_orderdate", "yyyy-MM"))
        .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd")),
    )
    return (
        ragged.withColumn("precision", release_date_precision("release_date"))
        .withColumn("release_dt", F.date_format(normalize_release_date("release_date"), "yyyy-MM-dd"))
        .groupBy("precision", "release_dt")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "ref_derived_columns",
    oracle="""
    SELECT event_id,
           floor((value / 60.0) * 100.0 + 0.5) / 100.0 AS duration_min,
           coalesce(nullif(event_type, ''), 'unknown') AS event_type_filled,
           'batch42' AS ingest_tag
    FROM events
    WHERE event_id < 1000
    """,
)
def ref_derived_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/P6/P11 — derived column `duration_min = round(x/60000, 2)`
    (Spotify_API4.py:379), safe-get default (Spotify_API4.py:380-387),
    and a stamped literal column (`source_country`, Spotify_API4.py:518).
    Narrow projection, no shuffle."""
    e = load_table(spark, "events", sf_dir).filter(F.col("event_id") < 1000)
    return e.select(
        "event_id",
        rnd(F.col("value") / 60.0, 2).alias("duration_min"),
        F.coalesce(F.nullif(F.col("event_type"), F.lit("")), F.lit("unknown")).alias(
            "event_type_filled"
        ),
        F.lit("batch42").alias("ingest_tag"),
    )


@register(
    "ref_array_flatten",
    oracle="""
    SELECT doc_id,
           array_to_string(string_split(text, ' ')[1:5], ', ') AS head_words,
           string_split(text, ' ')[1] AS first_word,
           len(string_split(text, ' ')) AS n_words
    FROM documents
    """,
)
def ref_array_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/P4/P5 — array head with null guard (Spotify_API.py:84) and
    array→joined-string collapse (Spotify_API.py:83,144). The engine
    keeps arrays native (SURVEY.md §1.5) and collapses only at the
    export edge — this query is that edge."""
    d = load_table(spark, "documents", sf_dir)
    words = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.array_join(F.slice(words, 1, 5), ", ").alias("head_words"),
        F.element_at(words, 1).alias("first_word"),
        F.size(words).cast("long").alias("n_words"),
    )


@register(
    "ref_playlist_flatten",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS id,
           c_name AS name,
           CASE WHEN c_custkey % 7 = 0 THEN NULL
                ELSE 'playlist by ' || c_name END AS description,
           CAST(c_nationkey AS VARCHAR) AS owner_id,
           c_mktsegment AS owner_name,
           CASE WHEN c_custkey % 3 = 0 THEN 0 ELSE c_custkey * 10 END AS followers,
           c_custkey % 100 AS tracks_total,
           CASE WHEN c_custkey % 4 = 0 THEN ''
                ELSE 'http://img/' || CAST(c_custkey AS VARCHAR) END AS image_url,
           CASE WHEN c_custkey % 5 = 0 THEN ''
                ELSE 'http://open/' || CAST(c_custkey AS VARCHAR) END AS spotify_url,
           CAST(CASE WHEN c_custkey % 2 = 0 THEN NULL
                     ELSE c_custkey % 4 = 1 END AS VARCHAR) AS public,
           CASE WHEN c_custkey % 6 = 0 THEN FALSE ELSE c_custkey % 6 = 1 END AS collaborative
    FROM customer
    """,
)
def ref_playlist_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-playlist payload flatten (Spotify_API4.py:259-271): nested
    owner lifted, followers.total defaulted 0 when the struct is
    absent, first-image '' guard, safe external-url get, nullable
    `public`, collaborative defaulted False. The driver tables carry no
    nested payloads, so the query manufactures the playlist STRUCT
    deterministically from `customer` (absent substructures keyed on
    c_custkey mod classes), then applies the exact connector projection
    (`sources/spotify.py:playlist_flatten_columns` — shared code, not a
    copy). All codegen; no shuffle."""
    from bigdata06_spark.sources.spotify import playlist_flatten_columns

    c = load_table(spark, "customer", sf_dir)
    key = F.col("c_custkey")
    payload = c.select(
        key.cast("string").alias("id"),
        F.col("c_name").alias("name"),
        F.when(key % 7 != 0, F.concat(F.lit("playlist by "), F.col("c_name"))).alias(
            "description"
        ),
        F.struct(
            F.col("c_nationkey").cast("string").alias("id"),
            F.col("c_mktsegment").alias("display_name"),
        ).alias("owner"),
        F.when(key % 3 != 0, F.struct((key * 10).alias("total"))).alias("followers"),
        F.struct((key % 100).alias("total")).alias("tracks"),
        F.when(key % 4 == 0, F.array().cast("array<struct<url:string>>"))
        .otherwise(F.array(F.struct(F.concat(F.lit("http://img/"), key).alias("url"))))
        .alias("images"),
        F.when(
            key % 5 != 0, F.struct(F.concat(F.lit("http://open/"), key).alias("spotify"))
        ).alias("external_urls"),
        F.when(key % 2 != 0, key % 4 == 1).alias("public"),
        F.when(key % 6 != 0, key % 6 == 1).otherwise(F.lit(None).cast("boolean")).alias(
            "collaborative"
        ),
    )
    flat = payload.select(*playlist_flatten_columns())
    # nullable-boolean stringified at the compare edge only: pandas
    # renders a null bool as None (Spark) vs NaN (DuckDB) and the
    # canonicalizer stringifies them differently; the connector's
    # flatten keeps the real boolean.
    return flat.withColumn("public", F.col("public").cast("string"))


@register(
    "ref_category_flatten",
    oracle="""
    SELECT CAST(n_nationkey AS VARCHAR) AS id,
           n_name AS name,
           CASE WHEN n_nationkey % 3 = 0 THEN ''
                ELSE 'http://icon/' || CAST(n_nationkey AS VARCHAR) END AS icon_url
    FROM nation
    """,
)
def ref_category_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-category payload flatten (Spotify_API3.py:290-303): category
    items → (id, name, first-icon URL with '' default). Struct
    manufactured from `nation`, projection shared with the connector
    (`sources/spotify.py:category_flatten_columns`)."""
    from bigdata06_spark.sources.spotify import category_flatten_columns

    n = load_table(spark, "nation", sf_dir)
    key = F.col("n_nationkey")
    payload = n.select(
        key.cast("string").alias("id"),
        F.col("n_name").alias("name"),
        F.when(key % 3 == 0, F.array().cast("array<struct<url:string>>"))
        .otherwise(F.array(F.struct(F.concat(F.lit("http://icon/"), key).alias("url"))))
        .alias("icons"),
    )
    return payload.select(*category_flatten_columns())


@register(
    "source_spotify_datasource",
    oracle="""
    WITH g AS (SELECT unnest(['pop', 'rock', 'hip hop', 'k-pop', 'edm']) AS genre),
    i AS (SELECT * FROM range(5) t(i))
    SELECT g.genre,
           g.genre || '-' || i.i AS id,
           g.genre || ' artist ' || i.i AS name,
           CAST((i.i * 17 + length(g.genre)) % 101 AS INT) AS popularity,
           CAST(i.i * 1000 + length(g.genre) AS BIGINT) AS followers,
           CASE WHEN i.i = 3 THEN ''
                ELSE 'http://img/' || g.genre || '/' || i.i END AS image_url
    FROM g CROSS JOIN i
    """,
)
def source_spotify_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S6 through the Spark 4 Python Data Source API:
    `spark.read.format("spotify")` fans the genre list out as
    InputPartitions (one REST task per genre on the EXECUTORS — no
    driver fetch loop), with genre predicates pruning partitions via
    pushFilters. This query reads the deterministic fixture transport;
    the oracle replays the same pure-function payloads in SQL, giving
    the custom-source path a full value-hash correctness row. The live
    transport variant is socket-tested in tests/test_sources_sinks.py.
    See sources/spotify_datasource.py."""
    from bigdata06_spark.sources import spotify_datasource as DS

    DS.register(spark)
    return spark.read.format("spotify").load()


@register(
    "source_avro_roundtrip",
    oracle="SELECT * FROM orders",
)
def source_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro I/O through the `avro_py` Python DataSource (VERDICT r2
    #7): orders written to Avro object-container files (deflate, one
    file per partition, deterministic sync markers) and read back —
    the oracle is the parquet original, so a value-hash match proves
    the encode→decode cycle is lossless across every column type the
    table uses (long/string/double/timestamp). The codec itself is
    cross-validated against the JVM Avro library in
    tests/test_sources_sinks.py. See sources/avro_codec.py +
    avro_datasource.py."""
    from bigdata06_spark.catalog import load_table
    from bigdata06_spark.sources.readers import read_avro, write_avro

    o = load_table(spark, "orders", sf_dir)
    path = side_dir("avro_rt", sf_dir)
    write_avro(o, path)
    return read_avro(spark, path)


@register(
    "source_avro_decimal_roundtrip",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) AS price_dec
    FROM orders
    """,
)
def source_avro_decimal_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro DECIMAL logical type end-to-end (VERDICT r3 #6): orders'
    totalprice cast to DECIMAL(12,2), written through the avro_py sink
    as bytes-backed decimal (two's-complement big-endian unscaled
    integer per the Avro 1.11 spec) and read back; the oracle is the
    same cast on the parquet original. Values compare as canonical
    strings — the exactness decimal exists for is the gate, with no
    float round-trip anywhere. The codec is additionally
    cross-validated against the JVM Avro library (both directions,
    bytes- and fixed-backed) in tests/test_sources_sinks.py."""
    from pyspark.sql import types as T

    from bigdata06_spark.catalog import load_table
    from bigdata06_spark.sources.readers import read_avro, write_avro

    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        F.col("o_totalprice").cast(T.DecimalType(12, 2)).alias("price_dec"),
    )
    path = side_dir("avro_dec", sf_dir)
    write_avro(o, path)
    back = read_avro(spark, path)
    return back.select(
        "o_orderkey", F.col("price_dec").cast("string").alias("price_dec")
    )


@register(
    "ref_pandas_api_on_spark",
    oracle="""
    SELECT o_custkey,
           CAST(count(o_orderkey) AS BIGINT) AS n_orders,
           max(o_totalprice) AS max_price,
           CAST(min(o_orderkey) AS BIGINT) AS first_order
    FROM orders
    GROUP BY o_custkey
    ORDER BY n_orders DESC, o_custkey ASC
    LIMIT 10
    """,
)
def ref_pandas_api_on_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's pandas idioms runnable VERBATIM, distributed:
    `pyspark.pandas` (pandas API on Spark) expressing the reference's
    groupby→sort_values→head pipeline shape (Spotify_API3.py:401-404's
    sort/head, its groupby summaries) — the drop-in migration path for
    the reference codebase before any rewrite to Column algebra. Every
    pandas call lowers to the same Catalyst plans the native queries
    use (lazy, whole-stage codegen; no driver materialization until
    to_spark()).

    Determinism discipline: only order-independent aggregates
    (count/max/min — no float accumulation across an undefined row
    order) and a full sort-key tiebreak (n desc, custkey asc), so the
    distributed result is row-identical to the SQL oracle."""
    import pyspark.pandas as ps

    from bigdata06_spark.catalog import table_path

    ps.set_option("compute.default_index_type", "distributed")
    pdf = ps.read_parquet(table_path(sf_dir, "orders"))
    agg = pdf.groupby("o_custkey", as_index=False).agg(
        n_orders=("o_orderkey", "count"),
        max_price=("o_totalprice", "max"),
        first_order=("o_orderkey", "min"),
    )
    top = agg.sort_values(["n_orders", "o_custkey"], ascending=[False, True]).head(10)
    return top.to_spark()
