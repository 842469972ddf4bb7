"""Scalar function surface (``fn_`` keys) and the Python UDF/UDTF
surface (``udf_``, ``udtf_`` keys).

The ``fn_`` keys stay inside Catalyst expressions; the UDF keys are the
only ones here that cross into Python workers.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from engine.registry import query
from engine.tables import load, sftag


@query(
    "fn_variant_shred",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           (json_extract(props, '$.missing') IS NOT NULL) AS has_missing,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod
    FROM events
    """,
)
def fn_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured shredding via VARIANT: parse the props JSON once into
    Spark's binary VARIANT encoding, then extract typed paths — present key
    as BIGINT, absent key as a null probe, and arithmetic directly on the
    extracted value. The VARIANT column itself never reaches the output
    (binary, engine-specific); only the shredded scalars do.

    100 TB: ingest-once-parse-once. A VARIANT column in parquet stores the
    binary encoding + shredded subcolumns; path extraction is a pointer
    walk and never re-tokenizes text, while get_json_object re-parses the
    whole string per path per row."""
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.expr("variant_get(parse_json(props), '$.k', 'bigint')").alias("k"),
        F.expr("variant_get(parse_json(props), '$.missing', 'string') IS NOT NULL").alias(
            "has_missing"
        ),
        (F.expr("variant_get(parse_json(props), '$.k', 'bigint')") % 10).alias("k_mod"),
    )


# fn_array_set_ops sits first in this module for visibility (its last driver
# verdict was the r02 canonicalizer crash, fixed in-tree by comma-joining
# arrays) — but WINDOW placement is controlled by name in
# engine/registry.py's _ATTEST_FIRST, not by registration order.

@query(
    "fn_array_set_ops",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           array_to_string(list_sort(list_distinct(list_concat(a, b))), ',') AS u,
           array_to_string(list_sort(list_distinct(
             list_filter(a, x -> NOT list_contains(b, x)))), ',') AS diff,
           CAST(list_position(a, 2) AS BIGINT) AS pos2,
           array_to_string(list_filter(a, x -> x <> 1), ',') AS removed,
           array_to_string(list_concat(a, b), ',') AS flat,
           (len(list_filter(a, x -> list_contains(b, x))) > 0) AS overlaps
    FROM (SELECT l_orderkey, l_linenumber,
                 range(1, l_linenumber * 2 + 1) AS a,
                 range(2, l_linenumber * 2 + 3, 2) AS b
          FROM lineitem WHERE l_orderkey < 3000)
    """,
)
def fn_array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set-operation surface: union/except (sorted for cross-engine
    stability — Spark preserves appearance order, DuckDB doesn't),
    position, remove, flatten, overlap test. All JVM higher-order/array
    expressions over derived sequences; zero shuffle. Array results are
    comma-joined to strings: the driver's canonicalizer sorts result columns
    with pandas, which cannot order array cells (scalar-columns-only output
    convention, same as agg_collect_sorted)."""

    def joined(col: F.Column) -> F.Column:
        return F.array_join(F.transform(col, lambda x: x.cast("string")), ",")

    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 3000)
    d = li.select(
        "l_orderkey",
        "l_linenumber",
        F.sequence(F.lit(1), F.col("l_linenumber") * 2).alias("a"),
        F.sequence(F.lit(2), F.col("l_linenumber") * 2 + 2, F.lit(2)).alias("b"),
    )
    return d.select(
        "l_orderkey",
        "l_linenumber",
        joined(F.array_sort(F.array_union("a", "b"))).alias("u"),
        joined(F.array_sort(F.array_except("a", "b"))).alias("diff"),
        F.array_position("a", 2).alias("pos2"),
        joined(F.array_remove("a", 1)).alias("removed"),
        joined(F.flatten(F.array("a", "b"))).alias("flat"),
        F.arrays_overlap("a", "b").alias("overlaps"),
    )


@query(
    "fn_string_core",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           lower(p_type) AS type_lower,
           trim(' ' || p_name || ' ') AS name_trimmed,
           substring(p_name, 1, 5) AS name_head,
           length(p_name) AS name_len,
           lpad(p_brand, 10, '*') AS brand_padded,
           replace(p_name, ' ', '_') AS name_snake,
           concat_ws('|', p_brand, p_type) AS brand_type
    FROM part
    """,
)
def fn_string_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_type").alias("type_lower"),
        F.trim(F.concat(F.lit(" "), F.col("p_name"), F.lit(" "))).alias("name_trimmed"),
        F.substring("p_name", 1, 5).alias("name_head"),
        F.length("p_name").alias("name_len"),
        F.lpad("p_brand", 10, "*").alias("brand_padded"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
    )


@query(
    "fn_string_regex",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_name, '^([a-z]+) ([a-z]+)$', 1) AS word1,
           regexp_extract(p_name, '^([a-z]+) ([a-z]+)$', 2) AS word2,
           string_split(p_name, ' ')[1] AS first_token,
           array_to_string(regexp_extract_all(p_name, '([a-z]+)', 1), ',') AS all_tokens
    FROM part
    """,
)
def fn_string_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction; patterns stay POSIX-safe (Java regex vs RE2)."""
    p = load(spark, sf_dir, "part")
    two_words = r"^([a-z]+) ([a-z]+)$"
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", two_words, 1).alias("word1"),
        F.regexp_extract("p_name", two_words, 2).alias("word2"),
        F.element_at(F.split("p_name", " "), 1).alias("first_token"),
        F.array_join(F.regexp_extract_all("p_name", F.lit("([a-z]+)"), 1), ",").alias(
            "all_tokens"
        ),
    )


@query(
    "fn_string_distance",
    oracle="""
    SELECT a.p_partkey AS key_a, a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS lev_name,
           levenshtein(a.p_type, b.p_type) AS lev_type
    FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1
    """,
)
def fn_string_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit distance between consecutive part names (DuckDB has no soundex,
    so the oracle-checked surface is levenshtein; SURVEY §2.H amended)."""
    p = load(spark, sf_dir, "part")
    a = p.select(F.col("p_partkey").alias("key_a"), F.col("p_name").alias("name_a"),
                 F.col("p_type").alias("type_a"))
    b = p.select((F.col("p_partkey") - 1).alias("key_a"), F.col("p_name").alias("name_b"),
                 F.col("p_type").alias("type_b"))
    return a.join(b, "key_a").select(
        "key_a",
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").alias("lev_name"),
        F.levenshtein("type_a", "type_b").alias("lev_type"),
    )


@query(
    "fn_date_core",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate) AS yr,
           month(o_orderdate) AS mo,
           day(o_orderdate) AS dom,
           quarter(o_orderdate) AS qtr,
           isodow(o_orderdate) - 1 AS dow_iso,
           date_trunc('month', o_orderdate) AS month_start,
           date_diff('day', o_orderdate, TIMESTAMP '1998-09-02 00:00:00') AS days_to_ref,
           o_orderdate + INTERVAL 3 MONTH AS plus3m
    FROM orders
    """,
)
def fn_date_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date parts + truncation + diff + interval arithmetic. weekday (0=Mon)
    ↔ isodow-1 normalizes the engines' dow conventions; month-end clamping of
    +3 months agrees (both clamp)."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.quarter("o_orderdate").alias("qtr"),
        F.weekday("o_orderdate").alias("dow_iso"),
        F.date_trunc("month", F.col("o_orderdate")).cast("timestamp_ntz").alias("month_start"),
        F.datediff(F.lit("1998-09-02").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_ref"
        ),
        F.add_months(F.col("o_orderdate"), 3).cast("timestamp_ntz").alias("plus3m"),
    )


@query(
    "fn_math_core",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           abs(l_discount - 0.05) AS abs_disc_delta,
           ceil(l_extendedprice)::BIGINT AS price_ceil,
           floor(l_extendedprice)::BIGINT AS price_floor,
           power(l_quantity, 2) AS qty_sq,
           round(ln(l_extendedprice), 6) AS ln_price,
           sqrt(l_quantity) AS qty_sqrt,
           l_extendedprice / nullif(l_quantity - 25, 0) AS try_div
    FROM lineitem
    """,
)
def fn_math_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math core under ANSI mode: try_divide guards the reachable zero
    (l_quantity = 25). sqrt/abs/+/- are IEEE-exact → raw; ln is libm-backed →
    rounded 6; ceil/floor cast to BIGINT on the oracle (DuckDB returns
    DOUBLE)."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("abs_disc_delta"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.power("l_quantity", F.lit(2)).alias("qty_sq"),
        F.round(F.ln("l_extendedprice"), 6).alias("ln_price"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.try_divide(F.col("l_extendedprice"), F.col("l_quantity") - 25).alias("try_div"),
    )


@query(
    "fn_json_extract",
    oracle="""
    SELECT event_id,
           json_extract(props, '$.k')::BIGINT AS k,
           json_extract(props, '$.k')::BIGINT * 2 AS k2,
           json_extract(props, '$.missing')::BIGINT AS k_missing
    FROM events
    """,
)
def fn_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON string field extraction with a missing-path NULL case; both
    sides cast to BIGINT (get_json_object returns string, json_extract
    returns JSON)."""
    e = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.select(
        "event_id",
        k.alias("k"),
        (k * 2).alias("k2"),
        F.get_json_object("props", "$.missing").cast("long").alias("k_missing"),
    )


@query(
    "fn_array_core",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           array_to_string(generate_series(1, l_linenumber), ',') AS seq_str,
           len(generate_series(1, l_linenumber)) AS seq_len,
           array_to_string(generate_series(1, l_linenumber)[1:2], ',') AS seq_head2,
           coalesce(array_to_string(list_sort(list_intersect(
             generate_series(1, l_linenumber), [2, 3, 4])), ','), '') AS seq_inter
    FROM lineitem
    """,
)
def fn_array_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array construction/slice/intersect/size over derived arrays. Array
    outputs are stringified (array_join) — raw list columns are not
    hash-stable across engines; intersect results are sorted first (set
    order is undefined in both engines)."""
    li = load(spark, sf_dir, "lineitem")
    seq = F.sequence(F.lit(1), F.col("l_linenumber"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.array_join(seq, ",").alias("seq_str"),
        F.size(seq).alias("seq_len"),
        F.array_join(F.slice(seq, 1, 2), ",").alias("seq_head2"),
        F.array_join(
            F.sort_array(F.array_intersect(seq, F.array(F.lit(2), F.lit(3), F.lit(4)))), ","
        ).alias("seq_inter"),
    )


@query(
    "fn_array_higher_order",
    oracle="""
    SELECT vec_id,
           round(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x),
                                'sum'), 6) AS l2norm2,
           len(list_filter(embedding::DOUBLE[], x -> x > 0)) AS n_pos,
           round(list_aggregate(list_filter(embedding::DOUBLE[], x -> x > 0),
                                'sum'), 6) AS sum_pos
    FROM embeddings
    """,
)
def fn_array_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array fns (transform / filter / aggregate) — the JVM-side
    lambda path, no Python UDF. float→double cast on BOTH sides before the
    fold; fold order is left-to-right sequential in both engines, rounded 6
    to absorb any reassociation."""
    emb = load(spark, sf_dir, "embeddings")
    arr = F.transform("embedding", lambda x: x.cast("double"))
    pos = F.filter(arr, lambda x: x > 0)
    zero = F.lit(0.0)
    return emb.select(
        "vec_id",
        F.round(F.aggregate(arr, zero, lambda acc, x: acc + x * x), 6).alias("l2norm2"),
        F.size(pos).alias("n_pos"),
        F.round(F.aggregate(pos, zero, lambda acc, x: acc + x), 6).alias("sum_pos"),
    )


@query(
    "fn_map_ops",
    oracle="""
    SELECT p_partkey,
           'brand,type' AS mkeys,
           p_brand || ',' || p_type AS mvals,
           p_size * 2 AS doubled_from_map
    FROM part
    """,
)
def fn_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction (str_to_map, map_from_entries) with hash-stable
    output: sorted keys + values-in-key-order strings, never a raw MapType
    (map ordering is undefined). The oracle states the expected *values*
    directly — DuckDB has no str_to_map, and the point of the check is the
    map round-trip, which SQL can assert without maps."""
    p = load(spark, sf_dir, "part")
    m = F.str_to_map(
        F.concat(F.lit("brand:"), F.col("p_brand"), F.lit(",type:"), F.col("p_type")),
        F.lit(","),
        F.lit(":"),
    )
    skeys = F.sort_array(F.map_keys(m))
    m2 = F.map_from_entries(
        F.arrays_zip(
            F.array(F.lit("a"), F.lit("b")),
            F.array(F.col("p_size"), F.col("p_size") * 2),
        )
    )
    return p.select(
        "p_partkey",
        F.array_join(skeys, ",").alias("mkeys"),
        F.array_join(F.transform(skeys, lambda k: F.element_at(m, k)), ",").alias("mvals"),
        F.element_at(m2, "b").alias("doubled_from_map"),
    )


@query(
    "fn_cast_coerce",
    oracle="""
    SELECT p_partkey,
           TRY_CAST(string_split(p_brand, '#')[2] AS INTEGER) AS brand_num,
           TRY_CAST(p_name AS DOUBLE) AS not_a_number,
           p_size::VARCHAR AS size_str,
           floor(p_retailprice)::BIGINT AS price_floor_long,
           ((2000 + p_size % 20)::VARCHAR || '-01-15')::TIMESTAMP AS derived_ts
    FROM part
    """,
)
def fn_cast_coerce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI casts + try_cast for malformed input (p_name as double → NULL
    instead of a runtime error under ansi=true)."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.try_element_at(F.split("p_brand", "#"), F.lit(2)).cast("int").alias("brand_num"),
        F.col("p_name").try_cast("double").alias("not_a_number"),
        F.col("p_size").cast("string").alias("size_str"),
        F.floor("p_retailprice").alias("price_floor_long"),
        F.concat((F.lit(2000) + F.col("p_size") % 20).cast("string"), F.lit("-01-15"))
        .cast("timestamp_ntz")
        .alias("derived_ts"),
    )


@query(
    "fn_conditional",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'neg'
                WHEN c_acctbal < 1000 THEN 'low'
                WHEN c_acctbal < 5000 THEN 'mid'
                ELSE 'high' END AS tier,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
           greatest(c_acctbal, 5000.0) AS bal_floor_5k,
           least(c_acctbal, 0.0) AS bal_cap_0
    FROM customer
    """,
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 1000, "low")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("tier"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg_or_other"
        ),
        F.greatest(F.col("c_acctbal"), F.lit(5000.0)).alias("bal_floor_5k"),
        F.least(F.col("c_acctbal"), F.lit(0.0)).alias("bal_cap_0"),
    )


@query(
    "fn_hash_digest",
    oracle="""
    SELECT p_partkey,
           md5(p_name) AS name_md5,
           sha256(p_name) AS name_sha256
    FROM part
    """,
)
def fn_hash_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic digest surface: md5 + sha256 hex digests — the
    content-addressing primitives (dedup keys, cache keys, data lineage).
    Unlike the engine-internal hashes (xxhash64 vs duckdb hash, which never
    cross-match), these are standardized algorithms — byte-identical in any
    engine, so they are the RIGHT hash for persisted, cross-system keys."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.md5(F.col("p_name").cast("binary")).alias("name_md5"),
        F.sha2(F.col("p_name").cast("binary"), 256).alias("name_sha256"),
    )


@query(
    "fn_format_printf",
    oracle="""
    SELECT p_partkey,
           printf('%s|%05d|%x', p_name, p_size, p_partkey) AS formatted,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded
    FROM part
    """,
)
def fn_format_printf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C-style string formatting (format_string ≡ printf) over string, int
    and hex conversions, plus lpad. Floating-point conversions (%f) are
    deliberately excluded: Java's %.2f rounds HALF_UP while C rounds
    half-even, so float formatting is NOT portable across engines — integer
    and string conversions are."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.format_string("%s|%05d|%x", "p_name", "p_size", "p_partkey").alias("formatted"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
    )


@query(
    "fn_struct_json_nested",
    oracle="""
    SELECT n_nationkey,
           to_json(struct_pack(name := n_name,
                               meta := struct_pack(id := n_nationkey,
                                                   region := n_regionkey)))::VARCHAR
             AS as_json,
           json_extract(to_json(struct_pack(name := n_name,
                                            meta := struct_pack(id := n_nationkey,
                                                                region := n_regionkey))),
                        '$.meta.id')::BIGINT AS id_back
    FROM nation
    """,
)
def fn_struct_json_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested struct construction → JSON serialization → path extraction
    round-trip. Field order in the JSON text is declaration order in both
    engines, and int/string scalars serialize identically — which is why the
    struct carries no doubles (float→text formatting is engine-specific).
    Struct ops are zero-cost column metadata in Tungsten; to_json is the
    only materialization."""
    n = load(spark, sf_dir, "nation")
    js = F.to_json(
        F.struct(
            F.col("n_name").alias("name"),
            F.struct(
                F.col("n_nationkey").alias("id"), F.col("n_regionkey").alias("region")
            ).alias("meta"),
        )
    )
    return n.select(
        "n_nationkey",
        js.alias("as_json"),
        F.get_json_object(js, "$.meta.id").cast("long").alias("id_back"),
    )


@query(
    "fn_interval_arithmetic",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS TIMESTAMP) AS plus_3m,
           CAST(CAST(o_orderdate AS DATE) - INTERVAL 10 DAY AS TIMESTAMP) AS minus_10d,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
           CAST(date_trunc('quarter', CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS quarter_start,
           date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since
    FROM orders WHERE o_orderkey < 5000
    """,
)
def fn_interval_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar interval arithmetic: month addition (end-of-month clamping
    matches across engines), day subtraction, last_day, quarter truncation,
    day diffs. Month math is NOT commutative with day math — both engines
    clamp Jan 31 + 1 month to Feb 28 — which is why add_months exists as a
    distinct operation from +30d. Pure projection, zero shuffle."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 5000)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.add_months(d, 3).cast("timestamp_ntz").alias("plus_3m"),
        F.date_sub(d, 10).cast("timestamp_ntz").alias("minus_10d"),
        F.last_day(d).cast("timestamp_ntz").alias("month_end"),
        F.date_trunc("quarter", d).cast("timestamp_ntz").alias("quarter_start"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).cast("long").alias("days_since"),
    )


@query(
    "fn_try_arithmetic",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           TRY_CAST(l_orderkey::HUGEINT * 4000000000000000000::HUGEINT AS BIGINT)
             AS try_mul,
           TRY_CAST(l_orderkey::HUGEINT + 9223372036854775000::HUGEINT AS BIGINT)
             AS try_add_big,
           CASE WHEN l_linenumber = 1 THEN NULL
                ELSE l_quantity / (l_linenumber - 1) END AS try_div,
           TRY_CAST(CASE WHEN l_linenumber % 2 = 0
                         THEN '1999-01-02 03:04:05' ELSE 'nope' END AS TIMESTAMP)
             AS try_ts
    FROM lineitem WHERE l_orderkey < 3000
    """,
)
def fn_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRY-variant arithmetic under ANSI mode: overflow → NULL (not error),
    divide-by-zero → NULL, malformed timestamp → NULL. The tolerant-ETL
    counterpart of strict ANSI evaluation (etl_clean_coerce has the cast
    side). DuckDB lacks try_add/try_multiply, so the oracle reproduces the
    semantics by widening to HUGEINT and TRY_CASTing back — same NULL set."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 3000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_multiply(F.col("l_orderkey"), F.lit(4000000000000000000)).alias("try_mul"),
        F.try_add(F.col("l_orderkey"), F.lit(9223372036854775000)).alias("try_add_big"),
        F.try_divide(F.col("l_quantity"), F.col("l_linenumber") - 1).alias("try_div"),
        F.try_to_timestamp(
            F.when(F.col("l_linenumber") % 2 == 0, "1999-01-02 03:04:05").otherwise(
                "nope"
            )
        )
        .cast("timestamp_ntz")
        .alias("try_ts"),
    )


@query(
    "fn_string_split_part",
    oracle="""
    SELECT p_partkey,
           split_part(p_name, ' ', 1) AS adjective,
           split_part(p_name, ' ', 2) AS noun,
           split_part(p_name, ' ', 9) AS beyond
    FROM part
    """,
)
def fn_string_split_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split_part — 1-based field extraction with the empty-string (not
    NULL, not error) convention for out-of-range indices in both engines."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("adjective"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("noun"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(9)).alias("beyond"),
    )


@query(
    "udf_python_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 2) AS charged
    FROM lineitem WHERE l_orderkey < 1000
    """,
)
def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF computing the charged price.

    Deliberately the slow path (one Python call per row, pickled rows) — the
    pandas_udf twin below is the production shape; this key proves plain UDF
    registration/execution works."""
    li = load(spark, sf_dir, "lineitem")

    @F.udf(T.DoubleType())
    def charged(price: float, disc: float, tax: float) -> float:
        return price * (1 - disc) * (1 + tax)

    # Round JVM-side: Python round() is half-even, which diverges from
    # Spark/DuckDB half-up on .xx5 boundaries (SURVEY §5.3 rule 6).
    return li.filter(F.col("l_orderkey") < 1000).select(
        "l_orderkey",
        "l_linenumber",
        F.round(charged("l_extendedprice", "l_discount", "l_tax"), 2).alias("charged"),
    )


@query(
    "udf_pandas_vectorized",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 2) AS charged
    FROM lineitem WHERE l_orderkey < 1000
    """,
)
def udf_pandas_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same logic as udf_python_scalar through an Arrow-vectorized pandas_udf:
    one Python call per ~10k-row Arrow batch, numpy math inside — the 10-100×
    faster shape (SURVEY §2.K)."""
    li = load(spark, sf_dir, "lineitem")

    @F.pandas_udf(T.DoubleType())
    def charged(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
        return price * (1 - disc) * (1 + tax)

    return li.filter(F.col("l_orderkey") < 1000).select(
        "l_orderkey",
        "l_linenumber",
        F.round(charged("l_extendedprice", "l_discount", "l_tax"), 2).alias("charged"),
    )


@query(
    "udtf_python",
    oracle="""
    SELECT doc_id, unnest(string_split(text, ' ')) AS token,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents WHERE doc_id < 50
    """,
)
def udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4): explode each doc into (doc_id, token, pos) rows
    via a LATERAL table function — the user-defined analogue of explode with
    ordinality."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, token string, pos int")
    class Tokenize:
        def eval(self, doc_id: int, text: str):
            if text is None:  # NULL text: no tokens, like unnest(NULL)
                return
            for i, tok in enumerate(text.split(" ")):
                yield doc_id, tok, i + 1

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    d.createOrReplaceTempView("sg_udtf_docs")
    spark.udtf.register("sg_tokenize", Tokenize)
    return spark.sql(
        "SELECT t.doc_id, t.token, t.pos "
        "FROM sg_udtf_docs, LATERAL sg_tokenize(doc_id, text) t"
    )


@query(
    "udf_python_arrow_scalar",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
    FROM lineitem GROUP BY 1 ORDER BY 1
    """,
)
def udf_python_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python scalar UDF (udf(..., useArrow=True), Spark
    3.5+/4): the third point of the scalar-UDF matrix beside the pickled
    row-at-a-time udf_python_scalar and the pandas_udf batch variant —
    same Python lambda, Arrow columnar transport, no pandas Series
    wrapper. Per-element Python math on IEEE doubles is bit-identical to
    the JVM expression, so the aggregate hash-matches the pure-SQL oracle.

    100 TB: still the slow path (per-element Python), but Arrow transport
    removes pickle overhead — the right choice when a scalar UDF is
    unavoidable and the logic resists vectorization."""
    disc = F.udf(lambda p, d: p * (1.0 - d), "double", useArrow=True)
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(
                F.sum(disc(F.col("l_extendedprice"), F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("l_returnflag")
    )


@query(
    "fn_bitwise",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT)            AS k,
           CAST(n_nationkey & 5 AS BIGINT)        AS k_and,
           CAST(n_nationkey | 9 AS BIGINT)        AS k_or,
           CAST(xor(n_nationkey, 12) AS BIGINT)   AS k_xor,
           CAST(n_nationkey << 3 AS BIGINT)       AS k_shl,
           CAST(n_nationkey >> 1 AS BIGINT)       AS k_shr,
           CAST(bit_count(CAST(n_nationkey AS BIGINT)) AS BIGINT) AS k_bits
    FROM nation
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise operator surface: AND/OR/XOR, shifts, popcount — used by the
    hash/bucketing idioms elsewhere (LSH band packing, salting). Pure
    narrow projection, whole-stage codegen, zero shuffle."""
    n = load(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    return n.select(
        k.cast("long").alias("k"),
        F.expr("n_nationkey & 5").cast("long").alias("k_and"),
        F.expr("n_nationkey | 9").cast("long").alias("k_or"),
        F.expr("n_nationkey ^ 12").cast("long").alias("k_xor"),
        F.shiftleft(k, 3).cast("long").alias("k_shl"),
        F.shiftright(k, 1).cast("long").alias("k_shr"),
        F.bit_count(k.cast("long")).cast("long").alias("k_bits"),
    )


@query(
    "fn_url_parse",
    oracle="""
    SELECT doc_id, url,
           regexp_extract(url, '^https?://([^/?#]+)', 1) AS host,
           regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1) AS path,
           regexp_extract(url, '[?&]lang=([^&#]*)', 1) AS lang_param
    FROM (
      SELECT doc_id,
             'https://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR)
               || '?lang=' || lang || '&n=' || CAST(n_chars AS VARCHAR) AS url
      FROM documents
    ) ORDER BY doc_id
    """,
)
def fn_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL component extraction with the native parse_url expression (HOST /
    PATH / QUERY:key) over URLs derived from corpus columns — the dedup-by-
    canonical-URL and domain-mix-analysis primitive of web-scale corpus
    curation. The oracle re-derives the same components with regexes
    (DuckDB has no parse_url), pinning Spark's parser to the RFC behavior
    for this URL shape.

    100 TB: parse_url is a codegen'd JVM expression — per-row string work
    with zero shuffle; domain-level rollups then hash on the extracted
    host."""
    d = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("&n="),
        F.col("n_chars").cast("string"),
    )
    return d.select(
        "doc_id",
        url.alias("url"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    ).orderBy("doc_id")


@query(
    "fn_collation_group",
    oracle="""
    SELECT lower(mixed) AS type_key, count(*) AS n,
           count(DISTINCT mixed) AS n_case_variants
    FROM (
      SELECT CASE WHEN p_partkey % 2 = 0 THEN lower(p_type) ELSE p_type END AS mixed
      FROM part
    ) GROUP BY lower(mixed) ORDER BY type_key
    """,
)
def fn_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTF8_LCASE collation (Spark 4): GROUP BY a case-insensitively
    collated column — the collation is a property of the TYPE, so grouping,
    equality, and DISTINCT all become case-insensitive without wrapping
    every expression in lower(). The corpus column is single-case
    (uppercase), so a deterministic case-mangle (lower() on even part
    keys) creates real variants; the output key is lower()-normalized
    because which variant
    represents a collated group is engine-internal. n_case_variants counts
    the raw (case-sensitive) variants inside each collated group — 2 when
    both cases occur, proving the group genuinely merged across case.

    100 TB: collated grouping hashes the collation key directly (one pass,
    map-side combine) — same plan as any hash aggregate; contrast with
    lower()-wrapping, which is equivalent here but loses index/stats
    alignment on engines that track collation natively."""
    p = load(spark, sf_dir, "part")
    mixed = F.when(F.col("p_partkey") % 2 == 0, F.lower("p_type")).otherwise(
        F.col("p_type")
    )
    d = p.select(
        mixed.alias("mixed"),
        F.expr(
            "CASE WHEN p_partkey % 2 = 0 THEN lower(p_type) ELSE p_type END"
            " COLLATE UTF8_LCASE"
        ).alias("ck"),
    )
    return (
        d.groupBy("ck")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("mixed").alias("n_case_variants"),
        )
        .select(
            F.lower(F.col("ck").cast("string")).alias("type_key"),
            "n",
            "n_case_variants",
        )
        .orderBy("type_key")
    )


@query(
    "udtf_arrow_expand",
    oracle="""
    SELECT o_orderkey, CAST(d AS INT) AS day_offset,
           o_orderdate + to_days(CAST(d AS INT)) AS followup_date
    FROM orders, UNNEST(range(0, 3)) AS t(d)
    WHERE o_orderpriority = '1-URGENT' AND o_orderdate >= TIMESTAMP '1998-01-01'
    ORDER BY o_orderkey, day_offset
    """,
)
def udtf_arrow_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDTF (Spark 4 ``useArrow=True``): expand each
    urgent order into a 3-day follow-up schedule via a LATERAL table
    function. Same API as udtf_python but the UDTF I/O crosses the Python
    boundary as Arrow batches instead of pickled rows — the UDTF analogue
    of the scan_python_datasource Arrow-reader fix (~10× on wide
    expansions).

    100 TB: the expansion factor (3×) happens INSIDE the Python worker per
    batch; only the already-filtered urgent rows reach Python (predicate
    stays JVM-side). The filtered input goes through spread_cpu
    (engine/vectors.py) before the lateral join: per-row Python eval
    is the slow stage, and the selective filter collapses the small scan
    to one partition (sf0.1: 16k rows → 1 partition → one serial Python
    worker, ~4 s; spread across the session's cores the same eval runs
    ~0.6 s). The shuffle moves only the filtered keys — noise next to
    the eval it parallelizes — and spread_cpu's under-parallel gate
    makes it a no-op on a cluster scan that already has real splits."""
    import datetime as dt

    from pyspark.sql.functions import udtf

    @udtf(returnType="o_orderkey bigint, day_offset int, followup_date timestamp_ntz", useArrow=True)
    class Followups:
        def eval(self, o_orderkey: int, o_orderdate: dt.datetime):
            for d in range(3):
                yield o_orderkey, d, o_orderdate + dt.timedelta(days=d)

    tag = sftag(sf_dir)
    # 1998 slice: the key demonstrates the Arrow UDTF path, and per-row
    # eval() in Python dominates regardless of Arrow I/O — bound the input
    # so the 184-key sweep doesn't pay ~6 s for an API demo.
    from engine.vectors import spread_cpu

    spread_cpu(
        load(spark, sf_dir, "orders").filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= "1998-01-01")
        )
    ).createOrReplaceTempView(f"sg_urgent_{tag}")
    spark.udtf.register("sg_followups", Followups)
    return spark.sql(
        f"""
        SELECT t.o_orderkey, t.day_offset, t.followup_date
        FROM sg_urgent_{tag}, LATERAL sg_followups(o_orderkey, o_orderdate) t
        ORDER BY t.o_orderkey, t.day_offset
        """
    )


@query(
    "fn_xml_extract",
    oracle="""
    SELECT n_nationkey,
           xml,
           regexp_extract(xml, '<name>([^<]*)</name>', 1) AS name_back,
           CAST(regexp_extract(xml, '<region id="(\\d+)"', 1) AS BIGINT) AS region_back,
           (regexp_extract(xml, '<name>([^<]*)</name>', 1) = n_name) AS roundtrip_ok
    FROM (
      SELECT n_nationkey, n_name,
             '<nation key="' || CAST(n_nationkey AS VARCHAR) || '"><name>' || n_name
               || '</name><region id="' || CAST(n_regionkey AS VARCHAR)
               || '"/></nation>' AS xml
      FROM nation
    ) ORDER BY n_nationkey
    """,
)
def fn_xml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML path extraction with the native xpath_* expression family over
    deterministically synthesized XML (corpus-derived — we never invent
    external inputs): xpath_string pulls a child element's text,
    xpath_long an attribute, and the round-trip flag proves
    serialize→extract is lossless for this shape. Completes the
    semi-structured trio: JSON (fn_json_extract), VARIANT
    (fn_variant_shred), XML here — the legacy-feed format every
    long-lived warehouse still ingests.

    100 TB: xpath_* are JVM expressions (VTD-style parse per row, no
    Python); for repeated multi-path extraction convert once to VARIANT
    or a struct instead of re-parsing per path — same ingest-once rule as
    fn_variant_shred."""
    n = load(spark, sf_dir, "nation")
    xml = F.concat(
        F.lit('<nation key="'),
        F.col("n_nationkey").cast("string"),
        F.lit('"><name>'),
        F.col("n_name"),
        F.lit('</name><region id="'),
        F.col("n_regionkey").cast("string"),
        F.lit('"/></nation>'),
    )
    d = n.select("n_nationkey", "n_name", xml.alias("xml"))
    return d.select(
        "n_nationkey",
        "xml",
        F.expr("xpath_string(xml, '/nation/name')").alias("name_back"),
        F.expr("xpath_long(xml, '/nation/region/@id')").alias("region_back"),
        (F.expr("xpath_string(xml, '/nation/name')") == F.col("n_name")).alias(
            "roundtrip_ok"
        ),
    ).orderBy("n_nationkey")


@query(
    "fn_explode_outer_structs",
    oracle="""
    WITH t AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_linenumber % 3 AS INT) AS alen, l_quantity
      FROM lineitem WHERE l_orderkey < 2000
    )
    SELECT t.l_orderkey, t.l_linenumber,
           CAST(u.pos - 1 AS INT) AS pos,
           CAST(u.idx AS INT) AS idx,
           u.val
    FROM t LEFT JOIN LATERAL (
      SELECT i AS idx, i * t.l_quantity AS val,
             row_number() OVER () AS pos
      FROM UNNEST(range(1, t.alen + 1)) AS g(i)
    ) u ON true
    ORDER BY l_orderkey, l_linenumber, pos
    """,
)
def fn_explode_outer_structs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator with OUTER semantics: posexplode_outer over a derived
    array<struct> whose length is l_linenumber % 3 — one third of the rows
    get an EMPTY array, and the _outer variant keeps those parent rows
    with null (pos, idx, val) where plain posexplode would silently drop
    them. That drop is the classic lateral-expansion data-loss bug; the
    oracle mirrors with LEFT JOIN LATERAL UNNEST.

    100 TB: generators are map-local (no shuffle); the row-count multiplier
    is the array length — bound it (slice) before exploding unbounded
    payloads, and prefer *_outer whenever the parent row must survive for
    downstream accounting."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 2000)
    # slice(array(1,2), 1, alen), NOT sequence(1, alen): Spark's sequence
    # infers step -1 when start > stop, so sequence(1, 0) is [1, 0] — a
    # 2-element array where the empty array was intended.
    arr = F.transform(
        F.slice(F.array(F.lit(1), F.lit(2)), 1, F.col("l_linenumber") % 3),
        lambda i: F.struct(
            i.cast("int").alias("idx"),
            (i * F.col("l_quantity")).alias("val"),
        ),
    )
    d = li.select("l_orderkey", "l_linenumber", arr.alias("a"))
    return (
        d.select(
            "l_orderkey",
            "l_linenumber",
            F.posexplode_outer("a").alias("pos", "s"),
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "pos",
            F.col("s.idx").alias("idx"),
            F.col("s.val").alias("val"),
        )
        .orderBy("l_orderkey", "l_linenumber", "pos")
    )


@query(
    "fn_mask_pii",
    oracle="""
    SELECT c_custkey,
           regexp_replace(regexp_replace(regexp_replace(
             c_name, '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
             AS name_masked,
           regexp_replace(
             printf('%03d-%07d', c_nationkey, (c_custkey * 7919) % 10000000),
             '[0-9]', 'n', 'g') AS phone_masked,
           length(c_name) AS name_len
    FROM customer ORDER BY c_custkey
    """,
)
def fn_mask_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-preserving PII redaction with the native mask() expression:
    uppercase→X, lowercase→x, digits→n, punctuation/spacing preserved — so
    masked exports keep their shape (lengths, separators) for debugging
    and joins-on-format while carrying zero identifying content. The
    oracle mirrors with regexp_replace chains, pinning mask()'s default
    character classes.

    100 TB: mask() is a codegen'd per-row expression (zero shuffle) —
    apply it AT EXPORT in the select list of the sink query, never by
    rewriting stored data; pair with fn_aes_roundtrip for the
    at-rest-reversible variant."""
    c = load(spark, sf_dir, "customer")
    # the corpus customer table has no phone column — derive a stable
    # phone-SHAPED string from the keys so the masked output keeps the
    # digit/dash format a real phone field would have
    phone = F.format_string(
        "%03d-%07d", F.col("c_nationkey"), (F.col("c_custkey") * 7919) % 10000000
    )
    return (
        c.withColumn("phone_src", phone)
        .select(
            "c_custkey",
            F.expr("mask(c_name)").alias("name_masked"),
            F.expr("mask(phone_src)").alias("phone_masked"),
            F.length("c_name").alias("name_len"),
        )
        .orderBy("c_custkey")
    )


@query(
    "fn_aes_roundtrip",
    # Self-validating FULL: the ciphertext is AES output (no DuckDB twin),
    # but the round-trip plaintext IS the source column, the PKCS7 padded
    # length is pure arithmetic, and the verified flag is deterministic.
    oracle="""
    SELECT c_custkey,
           c_name AS name_roundtrip,
           CAST((octet_length(encode(c_name)) // 16 + 1) * 16 AS INT) AS cipher_len,
           TRUE AS roundtrip_ok
    FROM customer ORDER BY c_custkey
    """,
)
def fn_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption: aes_encrypt the customer name (AES-128-ECB
    — deterministic, unlike the default GCM whose random IV would make
    every run differ; real deployments pick GCM + stored IVs) and verify
    try_aes_decrypt restores the exact plaintext. Output: the round-
    tripped name (oracle = the source column), the PKCS7 ciphertext
    length ((len/16 + 1)·16 — pure arithmetic), and the verified flag.

    100 TB: both directions are codegen'd JVM expressions — encrypt at
    ingest in the write path's select list, grant decrypt by key
    distribution, keep the key OUT of the data plane (here a fixture
    constant; production uses a KMS-resolved session conf)."""
    key = "sg-fixture-key16"  # exactly 16 bytes → AES-128; fixture, not a secret
    c = load(spark, sf_dir, "customer")
    enc = F.expr(f"aes_encrypt(c_name, '{key}', 'ECB')")
    dec = F.expr(
        f"cast(try_aes_decrypt(aes_encrypt(c_name, '{key}', 'ECB'), '{key}', 'ECB')"
        " as string)"
    )
    return c.select(
        "c_custkey",
        dec.alias("name_roundtrip"),
        F.octet_length(enc).cast("int").alias("cipher_len"),
        (dec == F.col("c_name")).alias("roundtrip_ok"),
    ).orderBy("c_custkey")


@query(
    "fn_binary_base64",
    oracle="""
    SELECT doc_id,
           to_base64(encode(substr(text, 1, 24))) AS b64,
           hex(encode(substr(text, 1, 24))) AS hx,
           CAST(octet_length(encode(substr(text, 1, 24))) AS INT) AS nbytes,
           (decode(from_base64(to_base64(encode(substr(text, 1, 24)))))
              = substr(text, 1, 24)) AS b64_roundtrip
    FROM documents
    WHERE doc_id % 7 = 0
    """,
)
def fn_binary_base64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary codec surface: base64 / hex encode of a text prefix's UTF-8
    bytes plus an unbase64 roundtrip proof and the byte length. The
    encode-for-transport functions every export pipeline leans on.

    Plan: row-local codegen expressions over a pruned 2-column scan with
    the modulo filter pushed to the reader — zero shuffles."""
    d = load(spark, sf_dir, "documents")
    prefix = F.substring("text", 1, 24)
    pbin = prefix.cast("binary")
    return d.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        F.base64(pbin).alias("b64"),
        F.hex(pbin).alias("hx"),
        F.octet_length(prefix).cast("int").alias("nbytes"),
        (F.unbase64(F.base64(pbin)).cast("string") == prefix).alias(
            "b64_roundtrip"
        ),
    )


@query(
    "fn_regexp_extract_all",
    oracle="""
    SELECT doc_id,
           coalesce(array_to_string(regexp_extract_all(text, 'b[a-z]+')[1:5],
                                    ','), '') AS first5,
           CAST(len(regexp_extract_all(text, 'b[a-z]+')) AS INT) AS n_matches
    FROM documents
    WHERE doc_id % 5 = 0
    """,
)
def fn_regexp_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract_all: every match of a pattern per document (not just
    the first — that's fn_string_regex's job), with the first five joined
    for a scalar compare plus the total match count.

    Plan: row-local regex inside codegen over a pruned two-column scan
    with the modulo filter pushed down; zero shuffles. The [a-z]+ class
    behaves identically in Java and RE2-style engines — no
    locale-dependent classes (\\w, \\b) are used, per §5.3."""
    d = load(spark, sf_dir, "documents")
    matches = F.regexp_extract_all("text", F.lit("b[a-z]+"), 0)
    # coalesce mirrors the oracle's: a NULL text has a NULL match list,
    # and first5 renders as '' on both engines (r12 NULL-text parity)
    return d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.coalesce(F.array_join(F.slice(matches, 1, 5), ","), F.lit("")).alias(
            "first5"
        ),
        F.size(matches).cast("int").alias("n_matches"),
    )


@query(
    "udtf_table_argument",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events WHERE user_id < 40
    GROUP BY user_id
    """,
)
def udtf_table_argument(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF consuming a TABLE argument with PARTITION BY — the
    Spark 4 polymorphic-table-function surface: each user's rows stream
    into one UDTF instance (eval per row, terminate per partition), so
    arbitrary per-group Python logic runs without applyInPandas. Here the
    per-partition logic is a count+sum so the oracle is a plain grouped
    aggregate — the value is exercising the calling convention, not the
    arithmetic.

    Plan: PARTITION BY shuffles once on user_id, then the UDTF runs
    inside the Python worker per partition-group with O(1) state (two
    accumulators). The float sum accumulates in partition-stream order —
    a FIXED order per group (Spark sorts table-arg partitions) — and is
    rounded to 4 anyway. At 100 TB this is the escape hatch for logic
    SQL can't express, at Python-worker throughput (use it for control
    flow, not bulk math)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="user_id bigint, n_events bigint, total_value double")
    class PerUserSummary:
        def __init__(self):
            self._key = None
            self._n = 0
            self._sum = 0.0

        def eval(self, row):
            self._key = row["user_id"]
            self._n += 1
            self._sum += row["value"]

        def terminate(self):
            if self._key is not None:
                yield self._key, self._n, round(self._sum, 4)

    load(spark, sf_dir, "events").filter(
        F.col("user_id") < 40
    ).createOrReplaceTempView("events_udtf_src")
    spark.udtf.register("sg_per_user_summary", PerUserSummary)
    return spark.sql(
        """
        SELECT * FROM sg_per_user_summary(
          TABLE(SELECT user_id, value FROM events_udtf_src)
          PARTITION BY user_id
        )
        """
    )


@query(
    "udf_mapinpandas_stream",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           CAST(length(text) AS BIGINT) AS n_chars_measured
    FROM documents
    """,
)
def udf_mapinpandas_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas iterator contract: the transform receives an ITERATOR
    of Arrow batches and yields an iterator back — results must be
    invariant to batch boundaries (asserted in tests by forcing 1-row
    batches). The per-row work here (token/char counts) is deliberately
    SQL-expressible so the oracle pins exactness; real uses are the
    decode/tokenize hooks where Python is unavoidable.

    Plan: zero shuffle — a map-partitions over the scan with Arrow
    transfer both ways; memory is bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch regardless of partition
    size (the reason the iterator form exists)."""
    import pandas as pd

    d = load(spark, sf_dir, "documents").select("doc_id", "text")

    def counts(batches):
        for pdf in batches:
            # .str accessors NULL-propagate (NaN), matching the oracle's
            # len(string_split(NULL)) = NULL; nullable Int64 keeps the
            # Arrow bigint schema (r12 NULL-text hardening)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tok": pdf["text"].str.split(" ").str.len().astype("Int64"),
                    "n_chars_measured": pdf["text"].str.len().astype("Int64"),
                }
            )

    return d.mapInPandas(
        counts, schema="doc_id bigint, n_tok bigint, n_chars_measured bigint"
    )


@query(
    "fn_unix_epoch",
    oracle="""
    SELECT o_orderkey,
           CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
           CAST(epoch_ms(o_orderdate) AS BIGINT) AS epoch_ms,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS rendered,
           CAST(epoch(o_orderdate) - epoch(TIMESTAMP '1995-01-01')
                AS BIGINT) // 86400 AS days_since_95
    FROM orders WHERE o_orderkey % 30 = 0
    """,
)
def fn_unix_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch conversions: seconds and milliseconds since the Unix epoch,
    a formatted render, and day arithmetic on the epoch numbers — the
    serialization surface every event pipeline crosses. Valid because the
    corpus is timezone-naive and the session timezone is pinned UTC
    (engine.session.tune), so 'wall time' and 'epoch time' agree in both
    engines.

    Plan: row-local codegen over a pruned scan, modulo filter pushed,
    zero shuffle. Integer arithmetic end-to-end."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 30 == 0)
    ts = F.col("o_orderdate").cast("timestamp")
    return o.select(
        "o_orderkey",
        F.unix_timestamp(ts).alias("epoch_s"),
        (F.unix_timestamp(ts) * 1000).alias("epoch_ms"),
        F.date_format(ts, "yyyy-MM-dd HH:mm:ss").alias("rendered"),
        (
            (
                F.unix_timestamp(ts)
                - F.unix_timestamp(F.lit("1995-01-01").cast("timestamp"))
            )
            / 86400
        )
        .cast("bigint")
        .alias("days_since_95"),
    )


@query(
    "fn_to_char_number",
    oracle="""
    SELECT o_orderkey,
           printf('%010.2f', round(o_totalprice, 2)) AS padded,
           round(o_totalprice, 2) AS parsed_back,
           TRUE AS roundtrip_ok
    FROM orders
    """,
)
def fn_to_char_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric formatting round-trip: to_char renders each (positive)
    order total against a zero-padded '0000000.00' template and to_number
    parses the string back; the emitted flag proves parse(format(x)) == x
    row-for-row. The input is pre-rounded to 2 decimals so both engines
    format the identical double (to_char's template rounding mode never
    engages — SURVEY §5.3 rule: round before, not inside, an
    engine-specific function).

    Oracle maps the template to printf('%010.2f') — zero-fill to width 10
    with 2 decimals is the same contract. Plan note: pure row-local
    codegen, zero shuffles; at 100 TB this is the formatting leg of any
    fixed-width export sink."""
    o = load(spark, sf_dir, "orders")
    rounded = F.round(F.col("o_totalprice"), 2)
    padded = F.to_char(rounded, F.lit("0000000.00"))
    return o.select(
        "o_orderkey",
        padded.alias("padded"),
        F.to_number(padded, F.lit("0000000.00")).cast("double").alias("parsed_back"),
        (F.to_number(padded, F.lit("0000000.00")).cast("double") == rounded).alias(
            "roundtrip_ok"
        ),
    )


_ZBITS = 8  # 8 bits per dimension -> 16-bit z codes over a 256x256 grid


def _interleave_sql(x: str, y: str) -> str:
    """SQL expression interleaving the low _ZBITS bits of x (even
    positions) and y (odd positions) — plain shifts/masks/adds."""
    parts = []
    for b in range(_ZBITS):
        parts.append(f"((({x} >> {b}) & 1) << {2 * b})")
        parts.append(f"((({y} >> {b}) & 1) << {2 * b + 1})")
    return " + ".join(parts)


@query(
    "fn_zorder_encode",
    oracle=f"""
    WITH pts AS (
      SELECT o_orderkey,
             CAST(o_custkey % 256 AS BIGINT) AS gx,
             CAST((o_orderkey // 7) % 256 AS BIGINT) AS gy
      FROM orders
    )
    SELECT o_orderkey, gx, gy,
           CAST({_interleave_sql("gx", "gy")} AS BIGINT) AS z
    FROM pts
    """,
)
def fn_zorder_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) curve encoding: each order's 2-D grid cell
    (customer bucket × synthetic second dimension, 256×256) is mapped to
    a single integer by interleaving the coordinate bits — the curve
    that makes ONE sort cluster BOTH dimensions. Locality (unit-tested):
    points close in z are close in (gx, gy), so a z-sorted file's
    row-group min/max stats prune 2-D range predicates that a
    lexicographic (gx, gy) sort can only prune on gx.

    Plan note: pure shift/mask codegen, zero shuffles for the encode;
    the payoff step (sort-by-z before writing, as sink_sorted_clustered
    does for 1-D) turns 2-D range scans into row-group skipping. 100 TB:
    this is the standard multi-dimensional clustering layout (Delta
    OPTIMIZE ZORDER, Iceberg sort orders) expressed as plain integer
    arithmetic + one global sort at write time."""
    o = load(spark, sf_dir, "orders")
    pts = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 256).cast("long").alias("gx"),
        ((F.col("o_orderkey") / 7).cast("long") % 256).cast("long").alias("gy"),
    )
    return pts.withColumn("z", F.expr(_interleave_sql("gx", "gy")).cast("long"))


@query(
    "fn_timestamp_multiformat_parse",
    oracle="""
    WITH raw AS (
      SELECT event_id, ts,
             CASE event_id % 3
               WHEN 0 THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
               WHEN 1 THEN strftime(ts, '%d/%m/%Y %H:%M:%S')
               ELSE strftime(ts, '%Y-%m-%dT%H:%M:%S')
             END AS raw_str
      FROM events
    ),
    parsed AS (
      SELECT event_id, ts, raw_str,
             coalesce(
               try_strptime(raw_str, '%Y-%m-%d %H:%M:%S'),
               try_strptime(raw_str, '%d/%m/%Y %H:%M:%S'),
               try_strptime(raw_str, '%Y-%m-%dT%H:%M:%S')
             ) AS parsed_ts
      FROM raw
    )
    SELECT CAST(event_id % 3 AS INT) AS fmt,
           count(*) AS n,
           CAST(count(parsed_ts) AS BIGINT) AS n_parsed,
           CAST(count(CASE WHEN parsed_ts = date_trunc('second', ts)
                      THEN 1 END) AS BIGINT) AS n_exact
    FROM parsed GROUP BY 1
    """,
)
def fn_timestamp_multiformat_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-format timestamp cascade: one feed, three date dialects
    (ISO space-separated, European d/m/Y, ISO 'T') — each row rendered
    in the dialect its id selects, then parsed back through a
    coalesce(try_to_timestamp...) chain that tries formats in order and
    yields NULL only if none match. The audit proves every row parses
    and round-trips to its (second-truncated) source timestamp, per
    dialect.

    try_to_timestamp, not to_timestamp: under ANSI mode a parse failure
    in to_timestamp kills the JOB; the try_ cascade turns it into a
    quarantine-able NULL (same posture as scan_json_corrupt_permissive).
    Plan: row-local format/parse codegen, zero shuffles before the final
    3-row aggregate. 100 TB: format sniffing per-ROW (not per-file) is
    what survives feeds that mix dialects within one file."""
    e = load(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts")
    )
    raw = e.withColumn(
        "raw_str",
        F.when(
            F.col("event_id") % 3 == 0, F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
        )
        .when(F.col("event_id") % 3 == 1, F.date_format("ts", "dd/MM/yyyy HH:mm:ss"))
        .otherwise(F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss")),
    )
    parsed = raw.withColumn(
        "parsed_ts",
        F.coalesce(
            F.try_to_timestamp(F.col("raw_str"), F.lit("yyyy-MM-dd HH:mm:ss")),
            F.try_to_timestamp(F.col("raw_str"), F.lit("dd/MM/yyyy HH:mm:ss")),
            F.try_to_timestamp(F.col("raw_str"), F.lit("yyyy-MM-dd'T'HH:mm:ss")),
        ),
    )
    return parsed.groupBy((F.col("event_id") % 3).cast("int").alias("fmt")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count("parsed_ts").cast("long").alias("n_parsed"),
        F.sum(
            F.when(
                F.col("parsed_ts") == F.date_trunc("second", "ts"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_exact"),
    )


@query(
    "fn_round_half_even",
    oracle="""
    WITH ties AS (
      SELECT o_orderkey, (o_orderkey % 10) + 0.5 AS v
      FROM orders WHERE o_orderkey <= 200
    )
    SELECT o_orderkey, v,
           CAST(round(v, 0) AS DOUBLE) AS half_up,
           CAST(round_even(v, 0) AS DOUBLE) AS half_even,
           (CAST(round(v, 0) AS DOUBLE) != CAST(round_even(v, 0) AS DOUBLE))
             AS modes_differ
    FROM ties
    """,
)
def fn_round_half_even(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rounding-mode semantics on EXACT ties: values k + 0.5 (dyadic —
    representable, so the tie is real, not float noise) rounded under
    both contracts side by side: round() = HALF_UP (away from zero:
    2.5→3) vs bround() = HALF_EVEN (banker's: 2.5→2, 3.5→4). The
    modes_differ flag marks exactly the rows where the ambient mode
    changes the answer — even k, where HALF_EVEN rounds down.

    Engine alignment (the point of the key): Spark round ↔ DuckDB round
    (both away-from-zero on .5), Spark bround ↔ DuckDB round_even.
    Financial aggregation at 100 TB standardizes on HALF_EVEN precisely
    because HALF_UP biases sums upward by ~0.5 per tie — across billions
    of rows that bias is material (§5.3 rule 6's formal sibling)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    v = (F.col("o_orderkey") % 10) + 0.5
    return o.select(
        "o_orderkey",
        v.alias("v"),
        F.round(v, 0).cast("double").alias("half_up"),
        F.bround(v, 0).cast("double").alias("half_even"),
        (F.round(v, 0).cast("double") != F.bround(v, 0).cast("double")).alias(
            "modes_differ"
        ),
    )


@query(
    "fn_ulid_sortable_id",
    oracle="""
    SELECT event_id,
           printf('%016x', xor(epoch_us(ts), (-9223372036854775808)::BIGINT))
             || '-'
             || substring(md5('evt|' || CAST(event_id AS VARCHAR)), 1, 8)
             AS sid,
           TRUE AS sid_unique
    FROM events
    """,
)
def fn_ulid_sortable_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ULID-style sortable ids: 16 hex digits of SIGN-BIT-FLIPPED
    epoch-microseconds (the standard order-preserving int64 key encoding
    — HBase/Bigtable row keys do exactly this) joined to an 8-hex md5
    suffix of the typed business key (uniqueness without any sequence
    coordination). Sorting a table by this id clusters it by creation
    time — the property that makes time-range scans prune and appends
    land in fresh partitions, and that random UUIDs destroy.

    r14 adversarial-timestamp axis: the previous 14-digit zero-pad
    overflowed at year ~4253 (56 bits of µs) and Spark's lpad silently
    TRUNCATED the overflow (corrupting both order and uniqueness), while
    pre-1970 stamps rendered as 16-digit two's-complement that sorted
    AFTER every positive epoch. XOR with the sign bit maps the full
    int64 µs range onto an unsigned 16-digit space where lexicographic
    order is exactly time order — 1969 < epoch < 2024 < 9999 all sort
    correctly (pinned).

    Plan: pure row-local rendering, zero shuffles; the uniqueness flag
    is pinned exact by the unit test (prefix collisions are resolved by
    the suffix). 100 TB: id generation that needs NO coordination point
    is a scale requirement, not a style choice — sequences serialize,
    monotonically_increasing_id depends on partition layout; timestamp
    + content hash depends on nothing."""
    e = load(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    # hex() renders the xored value as unsigned 64-bit; the top nibble is
    # always 7 or 8 for any in-range timestamp, so the width is a
    # constant 16 — the lpad is belt-and-braces, never a truncation.
    prefix = F.lower(
        F.lpad(
            F.hex(
                F.unix_micros(F.col("ts")).bitwiseXOR(
                    F.lit(-9223372036854775808)
                )
            ),
            16,
            "0",
        )
    )
    suffix = F.substring(
        F.md5(F.concat(F.lit("evt|"), F.col("event_id").cast("string"))), 1, 8
    )
    return e.select(
        "event_id",
        F.concat(prefix, F.lit("-"), suffix).alias("sid"),
        F.lit(True).alias("sid_unique"),
    )
