"""Relational operators: joins, filters, projections, sorts, limits,
top-k, set operations, subqueries and sampling (``join_``, ``filter_``,
``project_``, ``sort_``, ``limit_``, ``topk_``, ``set_``, ``subq_``,
``sample_`` keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.registry import query
from engine.tables import load, sftag
from engine.tmpdirs import scratch_dir


@query(
    "sample_balanced_lang",
    oracle="""
    WITH m AS (SELECT min(n) AS m
               FROM (SELECT count(*) AS n FROM documents GROUP BY lang)),
         r AS (SELECT doc_id, lang,
                      row_number() OVER (
                        PARTITION BY lang
                        ORDER BY (doc_id * 2654435761) % 2147483647, doc_id
                      ) AS rn
               FROM documents)
    SELECT doc_id, lang FROM r, m WHERE rn <= m.m
    """,
)
def sample_balanced_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced downsample: every language contributes exactly
    min-language-count docs, chosen by deterministic hash order (a seeded
    shuffle both engines replay bit-for-bit — the polynomial (doc_id * K)
    mod 2^31-1 stands in for rand(seed), which never cross-matches).
    This is the rebalancing step before mixing a multilingual training set.

    100 TB: the min count is a 2-level agg collapsed to one broadcast row;
    per-lang ordering is a row_number window — one shuffle on lang. With few
    huge language partitions this skews; the production variant exchanges
    exactness for a per-partition quota (sample by hash < m/n_lang threshold,
    the data_split_stratified trick) to avoid the per-lang sort entirely."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    m = (
        d.groupBy("lang")
        .agg(F.count("*").alias("n"))
        .agg(F.min("n").alias("m"))
    )
    w = Window.partitionBy("lang").orderBy(
        (F.col("doc_id") * F.lit(2654435761)) % F.lit(2147483647), "doc_id"
    )
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .join(F.broadcast(m))
        .filter(F.col("rn") <= F.col("m"))
        .select("doc_id", "lang")
    )


@query(
    "join_asof_nearest",
    oracle="""
    SELECT event_id, user_id, near_orderkey FROM (
      SELECT e.event_id, e.user_id, o.o_orderkey AS near_orderkey,
             row_number() OVER (
               PARTITION BY e.event_id
               ORDER BY abs(epoch(o.o_orderdate)
                            - epoch(e.ts - INTERVAL 28 YEAR)), o.o_orderkey
             ) AS rn
      FROM events e JOIN orders o ON e.user_id = o.o_custkey
      WHERE e.user_id < 30
    ) WHERE rn = 1
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-as-of join (direction='nearest', completing the
    backward/forward pair): each probe event matched to the user's order
    with the smallest |order_date - probe_ts| — absolute distance argmin
    with an orderkey tie-break. The probe is shifted into the orders date
    domain (the r01 join_asof_forward vacuous-pass lesson: verify the probe
    actually lands among matches).

    100 TB: same contract as join_asof — the equi-key (user) bounds the
    pair space; the argmin is a per-probe WindowGroupLimit (rn=1 state, not
    a full sort). For time-bucketable workloads, restrict candidates to the
    probe's ±1 covering buckets first (join_interval's decomposition) and
    the per-probe candidate count drops from |user's orders| to O(bucket)."""
    from pyspark.sql.window import Window

    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") < 30)
        .select(
            "event_id",
            "user_id",
            F.expr("ts - INTERVAL 28 YEAR").alias("probe_ts"),
        )
    )
    o = load(spark, sf_dir, "orders")
    dist = F.abs(
        F.col("o_orderdate").cast("timestamp").cast("long")
        - F.col("probe_ts").cast("timestamp").cast("long")
    )
    # rn=1 over (dist ASC, o_orderkey ASC) == argmin of that struct: min_by
    # partial-aggregates the per-probe fan-out map-side instead of window-
    # sorting the full join output (r14, guide §2.3; same rewrite + tie
    # argument as join_asof).
    return (
        e.join(o, e.user_id == o.o_custkey)
        .groupBy("event_id")
        .agg(
            F.min_by(
                F.struct("user_id", "o_orderkey"),
                F.struct(dist.alias("d"), F.col("o_orderkey")),
            ).alias("k")
        )
        .select(
            "event_id",
            "k.user_id",
            F.col("k.o_orderkey").alias("near_orderkey"),
        )
    )


@query(
    "sample_source_mix",
    oracle="""
    WITH h AS (SELECT doc_id, source,
                      (doc_id * 2654435761) % 2147483647 AS hk
               FROM documents),
    r AS (SELECT doc_id, source, hk,
                 row_number() OVER (PARTITION BY source ORDER BY hk, doc_id)
                   AS rn,
                 count(*) OVER (PARTITION BY source) AS cnt
          FROM h)
    SELECT doc_id, source FROM r
    WHERE rn <= CAST(ceil(cnt * 0.4) AS BIGINT)
    """,
)
def sample_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix resampling: deterministically downsample every source to a
    40% rate by keeping the lowest multiplicative-hash ranks — the
    domain-weighting step of corpus mixing (each source's weight is a rate;
    hash-rank selection makes the subset stable across runs and engines,
    unlike rand()-based sampling). The hash is Knuth's 2654435761
    multiplicative scheme computed identically in both engines (xxhash64
    has no DuckDB twin).

    100 TB (r12 rewrite): source cardinality is ~20, so a plain
    partitionBy(source) row_number window serializes the corpus into ~20
    single-threaded sorts. The exact rank instead uses agg_weighted_percentile's two-level
    range-bucket pattern: per-source min/max hk splits the hash domain
    into 64 fixed-width buckets; a bucket-level cumulative COUNT over the
    ~20×64 partials yields each bucket's starting rank; the per-row
    row_number partitions by (source, bkt) — ~1280-way parallel — and
    adds the offset. Equal hk values share a bucket (bkt is a function of
    hk), so bucket-major + within-bucket (hk, doc_id) order IS the
    per-source order and rn is exactly the single-partition row_number.
    The per-source counts come from the same tiny broadcast agg as the
    bucket bounds — the count() window is gone too.

    NULL source (r13, ADVICE): both joins are eqNullSafe on source so a
    NULL-source group samples at the same 40% rate instead of being
    silently dropped (the oracle's PARTITION BY keeps it). rows feeds
    both the bucket-count agg and the final join — persist it like
    text_pack_sequences' twin so the documents scan runs once."""
    from engine.tables import swap_persist

    d = load(spark, sf_dir, "documents")
    hk = (F.col("doc_id") * F.lit(2654435761)) % F.lit(2147483647)
    t = d.select("doc_id", "source", hk.alias("hk"))
    stats = t.groupBy("source").agg(
        F.min("hk").alias("mn"),
        F.max("hk").alias("mx"),
        F.count("*").alias("cnt"),
    )
    step = (F.col("mx") - F.col("mn")) / F.lit(64.0)
    bkt = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(F.floor((F.col("hk") - F.col("mn")) / step), F.lit(63))
    )
    rows = swap_persist(
        spark,
        t.join(F.broadcast(stats), t["source"].eqNullSafe(stats["source"]))
        .drop(stats["source"])
        .select("doc_id", "source", "hk", "cnt", bkt.alias("bkt")),
        "mix_rows",
    )
    bo = Window.partitionBy("source").orderBy("bkt")
    boff = (
        rows.groupBy("source", "bkt")
        .agg(F.count("*").alias("bn"))
        .select(
            "source",
            "bkt",
            (
                F.sum("bn").over(bo.rowsBetween(Window.unboundedPreceding, 0))
                - F.col("bn")
            ).alias("off"),
        )
    )
    w = Window.partitionBy("source", "bkt").orderBy("hk", "doc_id")
    return (
        rows.join(
            F.broadcast(boff),
            rows["source"].eqNullSafe(boff["source"])
            & (rows["bkt"] == boff["bkt"]),
        )
        .drop(boff["source"])
        .drop(boff["bkt"])
        .withColumn("rn", F.col("off") + F.row_number().over(w))
        .filter(F.col("rn") <= F.ceil(F.col("cnt") * 0.4).cast("long"))
        .select("doc_id", "source")
    )


@query(
    "subq_scalar",
    oracle="""
    SELECT c_custkey, round(c_acctbal, 2) AS acctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
    """,
)
def subq_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery via the textual SQL path: Catalyst plans the inner
    aggregate once and broadcasts the scalar — no per-row re-evaluation."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("sg_customer")
    return spark.sql(
        """
        SELECT c_custkey, round(c_acctbal, 2) AS acctbal
        FROM sg_customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM sg_customer)
        """
    )


@query(
    "subq_exists_correlated",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
    """,
)
def subq_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS — Catalyst decorrelates it to a left-semi hash join
    (the rewrite that makes correlated subqueries scale: one shuffle, no
    per-row probe)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("sg_orders")
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("sg_lineitem")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM sg_orders o
        WHERE EXISTS (SELECT 1 FROM sg_lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
        """
    )


@query(
    "join_salted_skew",
    oracle="""
    SELECT o_orderpriority, round(sum(l_extendedprice), 2) AS revenue,
           count(*) AS n
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated equi-join by salting: the build side is replicated once
    per salt bucket (8×), the probe side derives a deterministic salt, and
    the join key becomes (key, salt) — a hot key's rows now spread over 8
    reducers instead of one. Result is provably identical to the plain join
    (the oracle IS the plain join).

    100 TB: this is the manual fallback when AQE skew-join splitting isn't
    enough (e.g. one tenant id = 30% of rows); salt count scales with the
    observed skew factor, and only skewed keys need replicating."""
    n_salt = 8
    li = load(spark, sf_dir, "lineitem").withColumn(
        "salt", F.pmod(F.col("l_linenumber"), F.lit(n_salt))
    )
    o = (
        load(spark, sf_dir, "orders")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
    )
    j = li.join(o, (li.l_orderkey == o.o_orderkey) & (li.salt == o.salt))
    return j.groupBy("o_orderpriority").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        F.count("*").alias("n"),
    )


@query(
    "topk_argmax_group",
    oracle="""
    SELECT c_mktsegment,
           arg_max(c_custkey,
                   CAST(round(c_acctbal * 100) AS BIGINT) * 1000000000 + c_custkey)
             AS top_custkey,
           round(max(c_acctbal), 2) AS top_acctbal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def topk_argmax_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group argmax via max_by — the single-shuffle alternative to the
    row_number window for top-1-per-group (win_row_number_topk is the top-k
    generalization). Determinism across engines: the ordering key linearizes
    (cents, custkey) into one BIGINT — cents*1e9 + custkey is order-isomorphic
    to the lexicographic pair because custkey < 1e9 — so ties in acctbal are
    broken identically everywhere. At 100 TB this is a partial+final
    aggregate (max_by combines map-side); no window sort at all."""
    key = (F.round(F.col("c_acctbal") * 100).cast("long") * F.lit(1000000000).cast("long")
           + F.col("c_custkey"))
    return (
        load(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.max_by("c_custkey", key).alias("top_custkey"),
            F.round(F.max("c_acctbal"), 2).alias("top_acctbal"),
        )
    )


@query(
    "sample_hash_repro",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity,
           (l_orderkey * 1000003 + l_linenumber) % 97 AS bucket
    FROM lineitem
    WHERE (l_orderkey * 1000003 + l_linenumber) % 97 < 10
    """,
)
def sample_hash_repro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~10% sample by deterministic key-hash bucketing — the
    training-pipeline sampling primitive (df.sample is seed-dependent AND
    partition-layout-dependent; this is neither). The multiplier-mod
    arithmetic stays in BIGINT range up to orderkey ~9e12, is engine-agnostic,
    and — unlike xxhash64 — reproducible outside Spark, so a sample drawn
    here can be re-drawn byte-identically by any downstream system."""
    li = load(spark, sf_dir, "lineitem")
    bucket = (F.col("l_orderkey") * 1000003 + F.col("l_linenumber")) % 97
    return (
        li.select("l_orderkey", "l_linenumber", "l_quantity", bucket.alias("bucket"))
        .filter(F.col("bucket") < 10)
    )


@query(
    "subq_not_in_null_semantics",
    oracle="""
    SELECT
      (SELECT count(*) FROM customer
       WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 13) FROM orders))
        AS n_not_in_nullable,
      (SELECT count(*) FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o
                         WHERE nullif(o.o_custkey, 13) = c.c_custkey))
        AS n_not_exists,
      (SELECT count(*) FROM customer
       WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                               WHERE o_custkey IS NOT NULL AND o_custkey <> 13))
        AS n_not_in_filtered
    """,
)
def subq_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI NOT IN vs NOT EXISTS null semantics — the classic 3VL trap. A
    NULL in the NOT IN subquery makes every predicate UNKNOWN (count 0),
    while NOT EXISTS and the null-filtered NOT IN return real survivors.
    Catalyst plans the nullable NOT IN as null-aware anti join and the
    other two as plain anti joins — all three decorrelated, no per-row
    subquery execution at any scale."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("sg_nin_customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("sg_nin_orders")
    return spark.sql(
        """
        SELECT
          (SELECT count(*) FROM sg_nin_customer
           WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 13) FROM sg_nin_orders))
            AS n_not_in_nullable,
          (SELECT count(*) FROM sg_nin_customer c
           WHERE NOT EXISTS (SELECT 1 FROM sg_nin_orders o
                             WHERE nullif(o.o_custkey, 13) = c.c_custkey))
            AS n_not_exists,
          (SELECT count(*) FROM sg_nin_customer
           WHERE c_custkey NOT IN (SELECT o_custkey FROM sg_nin_orders
                                   WHERE o_custkey IS NOT NULL AND o_custkey <> 13))
            AS n_not_in_filtered
        """
    )


@query(
    "join_bucketed_colocate",
    oracle="""
    SELECT c_nationkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
)
def join_bucketed_colocate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join via bucketed tables: both sides written
    bucketBy(8, custkey) + sortBy, so the sort-merge join reads bucket i
    against bucket i directly — no Exchange on either side (asserted in
    tests/test_plan_shape.py).

    This is THE 100 TB strategy for repeated fact⋈fact joins on a stable
    key: pay one clustered write, then every subsequent join/aggregation on
    that key is exchange-free. Bucket count scales with data (8 here; 4096+
    on a cluster) and must match on both sides."""
    # table identity must include the sf_dir: catalog names are session-global
    # while the data is per-scale, so a shared name would serve stale buckets
    # to a second scale factor in the same session
    tag = sftag(sf_dir)
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    for name, df, key in (
        (f"sg_bucket_orders_{tag}", orders, "o_custkey"),
        (f"sg_bucket_customer_{tag}", cust, "c_custkey"),
    ):
        if not spark.catalog.tableExists(name):
            (
                df.write.bucketBy(8, key)
                .sortBy(key)
                .option("path", scratch_dir(f"{name}_"))
                .mode("overwrite")
                .format("parquet")
                .saveAsTable(name)
            )
    bo = spark.table(f"sg_bucket_orders_{tag}")
    bc = spark.table(f"sg_bucket_customer_{tag}")
    return (
        bo.join(bc, bo.o_custkey == bc.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# §2.B — projections / filters / predicates
# ---------------------------------------------------------------------------

@query(
    "project_rename_compute",
    oracle="""
    SELECT l_orderkey AS okey, l_linenumber AS line, l_quantity AS qty,
           l_extendedprice * (1 - l_discount) AS net_price
    FROM lineitem
    """,
)
def project_rename_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-row IEEE arithmetic is bit-identical across engines — no rounding
    # needed (rounding is reserved for aggregates, where summation order
    # varies; see SURVEY §5.3).
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("line"),
        F.col("l_quantity").alias("qty"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
    )


@query(
    "filter_compound",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_linestatus
    FROM lineitem
    WHERE (l_quantity > 30 AND l_discount < 0.05) AND NOT (l_linestatus = 'F')
    """,
)
def filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND/OR/NOT predicate — pushed to the parquet scan (PushedFilters)."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 30) & (F.col("l_discount") < 0.05) & ~(F.col("l_linestatus") == "F")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_linestatus")


@query(
    "filter_null_3vl",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_discount > 0.05 THEN l_quantity END AS qty_hi_disc
    FROM lineitem
    WHERE (CASE WHEN l_discount > 0.05 THEN l_quantity END) IS NULL
       OR (CASE WHEN l_discount > 0.05 THEN l_quantity END) > 40
    """,
)
def filter_null_3vl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued logic over a derived nullable column: NULL > 40 is
    UNKNOWN, so rows only pass via the explicit IS NULL branch."""
    li = load(spark, sf_dir, "lineitem")
    qty = F.when(F.col("l_discount") > 0.05, F.col("l_quantity"))
    df = li.select("l_orderkey", "l_linenumber", qty.alias("qty_hi_disc"))
    return df.filter(F.col("qty_hi_disc").isNull() | (F.col("qty_hi_disc") > 40))


@query(
    "filter_in_between_like",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal
    FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
      AND c_acctbal BETWEEN 100 AND 5000
      AND c_name LIKE '%1%'
    """,
)
def filter_in_between_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return c.filter(
        F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")
        & F.col("c_acctbal").between(100, 5000)
        & F.col("c_name").like("%1%")
    ).select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")


@query(
    "filter_rlike",
    oracle="""
    SELECT p_partkey, p_name
    FROM part
    WHERE regexp_matches(p_name, '^(red|small) [a-z]+$')
    """,
)
def filter_rlike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex predicate; pattern kept POSIX-safe so Java regex and DuckDB RE2
    agree."""
    p = load(spark, sf_dir, "part")
    return p.filter(F.col("p_name").rlike("^(red|small) [a-z]+$")).select("p_partkey", "p_name")


# ---------------------------------------------------------------------------
# §2.C — joins
# ---------------------------------------------------------------------------

@query(
    "join_inner_equi",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash equi-join. Catalyst picks BroadcastHashJoin (customer under the
    32 MB threshold at test SFs) or SortMergeJoin at scale; AQE can demote a
    planned SMJ to broadcast at runtime."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 300000) big
      ON c_custkey = big.o_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(big, c.c_custkey == big.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "join_right_outer",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM (SELECT * FROM customer WHERE c_acctbal > 5000) rich
      RIGHT JOIN orders ON rich.c_custkey = o_custkey
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    rich = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    o = load(spark, sf_dir, "orders")
    return rich.join(o, rich.c_custkey == o.o_custkey, "right").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "join_full_outer",
    oracle="""
    SELECT rich.c_custkey AS cust_key, rich.c_name AS cust_name,
           big.o_orderkey AS order_key, big.o_totalprice AS order_price
    FROM (SELECT * FROM customer WHERE c_acctbal > 5000) rich
      FULL JOIN (SELECT * FROM orders WHERE o_totalprice > 300000) big
      ON rich.c_custkey = big.o_custkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    rich = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    big = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return rich.join(big, rich.c_custkey == big.o_custkey, "full").select(
        F.col("c_custkey").alias("cust_key"),
        F.col("c_name").alias("cust_name"),
        F.col("o_orderkey").alias("order_key"),
        F.col("o_totalprice").alias("order_price"),
    )


@query(
    "join_left_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    f_orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(f_orders, c.c_custkey == f_orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    f_orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(f_orders, c.c_custkey == f_orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_cross",
    oracle="SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product — bounded dims only (5 × 25). Never on fact tables."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@query(
    "join_theta_range",
    oracle="""
    SELECT s_suppkey, c_custkey, s_acctbal, c_acctbal
    FROM supplier JOIN customer
      ON c_acctbal BETWEEN s_acctbal - 10 AND s_acctbal + 10
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi theta join → BroadcastNestedLoopJoin (supplier is the small,
    broadcast side). 100 TB: band-join rewrites to bucketed equi-join on
    floor(acctbal/band) + residual predicate; supplier stays broadcastable."""
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    cond = c.c_acctbal.between(s.s_acctbal - 10, s.s_acctbal + 10)
    return F.broadcast(s).join(c, cond).select("s_suppkey", "c_custkey", "s_acctbal", "c_acctbal")


@query(
    "join_asof",
    oracle="""
    SELECT event_id, user_id, asof_orderkey, asof_orderdate FROM (
      SELECT e.event_id, e.user_id, o.o_orderkey AS asof_orderkey,
             o.o_orderdate AS asof_orderdate,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM events e JOIN orders o
        ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    ) WHERE rn = 1
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (no native Spark operator): for each event, the user's
    latest order at-or-before ts. Equi-join on user + window rn=1, with a
    deterministic (o_orderdate, o_orderkey) DESC tie-break.

    100 TB: the equi-key bounds the blow-up to events×orders *per user*; for
    heavy-hitter users, pre-aggregate the right side to its per-(user,
    time-bucket) latest row before the join (cuts the window input by the
    bucket factor), or use a sort-merge within co-partitioned buckets.
    """
    e = load(spark, sf_dir, "events")
    o = load(spark, sf_dir, "orders")
    j = e.join(o, (e.user_id == o.o_custkey) & (o.o_orderdate <= e.ts), "inner")
    # rn=1 over (o_orderdate, o_orderkey) DESC == argmax of that struct:
    # max_by is a hash aggregate with MAP-SIDE partial aggregation, so the
    # per-event fan-out (events × qualifying orders, ~6M rows at sf0.1)
    # collapses to ≤ one row per event BEFORE the exchange, where the old
    # row_number shape shuffled and SORTED the full join output (r14,
    # guide §2.3 "aggregate before you shuffle"; measured ~1.9 s → ~1.1 s
    # med5 at sf0.1). Tie semantics are unchanged: a (date, key) tie can
    # only differ in payload when o_orderkey collides across rows, where
    # the window's pick was equally arbitrary (dup-id axis note).
    return (
        j.groupBy("event_id")
        .agg(
            F.max_by(
                F.struct("user_id", "o_orderkey", "o_orderdate"),
                F.struct("o_orderdate", "o_orderkey"),
            ).alias("k")
        )
        .select(
            "event_id",
            "k.user_id",
            F.col("k.o_orderkey").alias("asof_orderkey"),
            F.col("k.o_orderdate").alias("asof_orderdate"),
        )
    )


@query(
    "join_interval",
    oracle="""
    SELECT date_trunc('week', a.o_orderdate) AS wk, count(*) AS pair_cnt
    FROM orders a JOIN orders b
      ON b.o_orderdate >= a.o_orderdate
     AND b.o_orderdate < a.o_orderdate + INTERVAL 7 DAY
     AND a.o_orderkey <> b.o_orderkey
    GROUP BY 1
    """,
)
def join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: count order pairs whose dates fall within a 7-day window.

    Scale path (used here, not just documented): the pair space is O(n·w)
    — at sf0.1 already ~55M pairs — but the query only needs COUNTS, so we
    never enumerate pairs. Decompose: pre-aggregate orders to per-day counts
    (bounded by the date domain, ~2.4k rows at ANY scale factor), range-join
    the day table with itself (broadcast — it is tiny by construction), and
    multiply counts. The only row-scale work is one map-side-combinable
    groupBy(o_orderdate); everything after is O(days·7). Same-date self-pairs
    (a_key = b_key) are removed arithmetically: a day with c orders
    contributes c·c ordered same-day pairs of which exactly c are self-pairs,
    so subtracting sum(c) per week yields the a<>b count without touching
    order keys. For pair-ENUMERATING interval joins see join_theta_range /
    join_asof, which keep the explode-to-bucket equi-join shape.

    r14 dup-id axis: the oracle's a_key <> b_key excludes MORE than the
    diagonal when o_orderkey COLLIDES (a corrected order re-ingested under
    its key, possibly on a different date): every ordered pair of distinct
    rows sharing a key inside the window is excluded too. The subtraction
    is therefore computed exactly at (key, date) granularity — an
    equi-self-join on o_orderkey over the deduped (key, date, cnt) table,
    O(Σ per-key multiplicity²), which for the normal unique-key corpus
    degenerates to exactly the old Σ-count diagonal term."""
    o = load(spark, sf_dir, "orders")
    days = o.groupBy(F.col("o_orderdate").alias("a_date")).agg(
        F.count("*").alias("a_cnt")
    )
    bdays = days.select(
        F.col("a_date").alias("b_date"), F.col("a_cnt").alias("b_cnt")
    )
    in_window = (F.col("b_date") >= F.col("a_date")) & (
        F.col("b_date") < F.col("a_date") + F.expr("INTERVAL 7 DAY")
    )
    pairs = days.join(F.broadcast(bdays), in_window)
    wk = F.date_trunc("week", F.col("a_date")).alias("wk")
    allp = pairs.groupBy(wk).agg(
        F.sum(F.col("a_cnt") * F.col("b_cnt")).alias("all_cnt")
    )
    kd = o.groupBy(
        F.col("o_orderkey").alias("k"), F.col("o_orderdate").alias("a_date")
    ).agg(F.count("*").alias("a_cnt"))
    kb = kd.select(
        "k", F.col("a_date").alias("b_date"), F.col("a_cnt").alias("b_cnt")
    )
    selfp = (
        kd.join(kb, "k")
        .filter(in_window)
        .groupBy(wk)
        .agg(F.sum(F.col("a_cnt") * F.col("b_cnt")).alias("self_cnt"))
    )
    return (
        allp.join(selfp, "wk", "left")
        .select(
            "wk",
            (
                F.col("all_cnt") - F.coalesce(F.col("self_cnt"), F.lit(0))
            ).alias("pair_cnt"),
        )
        # the oracle's count(*) can't emit 0: a week whose only orders are
        # isolated single-order days decomposes to c*c - c = 0 pairs here
        # and to NO row there — drop the zeros to match.
        .filter(F.col("pair_cnt") > 0)
    )


@query(
    "join_broadcast_hint",
    oracle="""
    SELECT n_name, count(*) AS cust_cnt, round(sum(c_acctbal), 2) AS bal_sum
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_broadcast_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast hint on the dim side — same result, no shuffle of
    the fact table for the join (only for the following aggregation)."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("cust_cnt"), F.round(F.sum("c_acctbal"), 2).alias("bal_sum"))
    )


@query(
    "join_star_multiway",
    oracle="""
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def join_star_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 5-way star join, revenue by nation.

    100 TB: dims (region/nation/customer-filtered) broadcast; the single big
    shuffle is lineitem⋈orders on orderkey; Catalyst pushes r_name='ASIA'
    through the dim chain before it touches the facts.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


# ---------------------------------------------------------------------------
# §2.F — sorts / limits / top-k
# ---------------------------------------------------------------------------

@query(
    "sort_multi_nulls",
    oracle="""
    SELECT c_custkey, seg_nullable, c_acctbal,
           row_number() OVER (
             ORDER BY seg_nullable ASC NULLS FIRST, c_acctbal DESC, c_custkey ASC
           ) AS pos
    FROM (SELECT c_custkey, c_acctbal,
                 CASE WHEN c_acctbal > 1000 THEN c_mktsegment END AS seg_nullable
          FROM customer)
    """,
)
def sort_multi_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with explicit nulls placement. The driver hash is
    order-insensitive, so sort correctness is made hashable via the attached
    row_number over the same total order (unique tie-break: c_custkey)."""
    c = load(spark, sf_dir, "customer")
    df = c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") > 1000, F.col("c_mktsegment")).alias("seg_nullable"),
        "c_acctbal",
    )
    order = [
        F.col("seg_nullable").asc_nulls_first(),
        F.col("c_acctbal").desc(),
        F.col("c_custkey").asc(),
    ]
    return df.withColumn("pos", F.row_number().over(Window.orderBy(*order))).orderBy(*order)


@query(
    "topk_order_limit",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
)
def topk_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k → TakeOrderedAndProject (per-partition heaps + driver
    merge of k rows, never a full sort). Deterministic via o_orderkey tiebreak."""
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "limit_offset",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_orderkey LIMIT 50 OFFSET 100
    """,
)
def limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination over a deterministic total order."""
    o = load(spark, sf_dir, "orders")
    return o.orderBy("o_orderkey").offset(100).limit(50).select("o_orderkey", "o_totalprice")


# ---------------------------------------------------------------------------
# §2.G — set operations (two deterministic order projections)
# ---------------------------------------------------------------------------

_SET_A = "SELECT o_custkey, o_orderpriority FROM orders WHERE o_orderstatus = 'F'"


_SET_B = "SELECT o_custkey, o_orderpriority FROM orders WHERE o_orderstatus = 'O'"


def _set_sides(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select("o_custkey", "o_orderpriority")
    b = o.filter(F.col("o_orderstatus") == "O").select("o_custkey", "o_orderpriority")
    return a, b


@query("set_union_all", oracle=f"{_SET_A} UNION ALL {_SET_B}")
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _set_sides(spark, sf_dir)
    return a.unionByName(b)


@query("set_union_distinct", oracle=f"{_SET_A} UNION {_SET_B}")
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _set_sides(spark, sf_dir)
    return a.unionByName(b).distinct()


@query("set_intersect", oracle=f"{_SET_A} INTERSECT {_SET_B}")
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _set_sides(spark, sf_dir)
    return a.intersect(b)


@query("set_intersect_all", oracle=f"{_SET_A} INTERSECT ALL {_SET_B}")
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _set_sides(spark, sf_dir)
    return a.intersectAll(b)


@query("set_except", oracle=f"{_SET_A} EXCEPT {_SET_B}")
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _set_sides(spark, sf_dir)
    return a.subtract(b)


@query("set_except_all", oracle=f"{_SET_A} EXCEPT ALL {_SET_B}")
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _set_sides(spark, sf_dir)
    return a.exceptAll(b)


@query(
    "join_asof_forward",
    oracle="""
    SELECT e.event_id, e.user_id,
           arg_min(o.o_orderkey,
                   epoch(o.o_orderdate) * 1000000000 + o.o_orderkey) AS next_orderkey,
           min(o.o_orderdate) AS next_orderdate
    FROM (SELECT event_id, user_id,
                 ts - INTERVAL 28 YEAR
                    + to_years(CAST(event_id % 8 AS INT)) AS probe_ts
          FROM events WHERE user_id < 30) e
    JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate > e.probe_ts
    GROUP BY e.event_id, e.user_id
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each event matched to the SAME user's next order
    strictly after its probe time (join_asof is the backward twin).

    The corpus's events.ts (2024-01) postdates every order (1995..2001), so a
    raw ``o_orderdate > ts`` is vacuously empty (round-1 verdict item 1). The
    probe is derived INSIDE the orders domain on both engine and oracle
    sides: ``ts - 28 years + (event_id % 8) years`` spreads probes across
    1996..2003, so most events find a real next order AND the tail past
    2001-08 exercises the inner-join drop path (no later order -> row out).

    Range join + argmin — the ordering key linearizes (epoch seconds,
    orderkey) into one BIGINT so date ties resolve to the lowest orderkey
    identically in every engine. At 100 TB: bucket both sides by
    date_trunc('month') to equi-ize, as join_interval's docstring lays out."""
    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") < 30)
        .select(
            "event_id",
            "user_id",
            F.expr(
                "ts - INTERVAL 28 YEAR"
                " + make_interval(CAST(event_id % 8 AS INT))"
            ).alias("probe_ts"),
        )
    )
    o = load(spark, sf_dir, "orders")
    ordkey = (
        F.col("o_orderdate").cast("timestamp").cast("long") * F.lit(1000000000).cast("long")
        + F.col("o_orderkey")
    )
    return (
        e.join(o, (o.o_custkey == e.user_id) & (o.o_orderdate > e.probe_ts))
        .groupBy("event_id", "user_id")
        .agg(
            F.min_by("o_orderkey", ordkey).alias("next_orderkey"),
            F.min("o_orderdate").alias("next_orderdate"),
        )
    )


@query(
    "join_natural_using",
    oracle="""
    SELECT regionkey, n_name, r_name
    FROM (SELECT n_name, n_regionkey AS regionkey FROM nation)
    JOIN (SELECT r_name, r_regionkey AS regionkey FROM region) USING (regionkey)
    """,
)
def join_natural_using(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USING-clause join via the textual SQL path: the join column appears
    ONCE in the output (coalesced), unlike ON-joins which keep both sides —
    the SQL-surface parity detail that trips up ports. Same physical plan
    as the equivalent equi-join (broadcast here)."""
    load(spark, sf_dir, "nation").createOrReplaceTempView("sg_u_nation")
    load(spark, sf_dir, "region").createOrReplaceTempView("sg_u_region")
    return spark.sql(
        """
        SELECT regionkey, n_name, r_name
        FROM (SELECT n_name, n_regionkey AS regionkey FROM sg_u_nation)
        JOIN (SELECT r_name, r_regionkey AS regionkey FROM sg_u_region)
        USING (regionkey)
        """
    )


@query(
    "set_union_mixed_schema",
    oracle="""
    SELECT c_custkey AS id, c_name AS name, round(c_acctbal, 2) AS acctbal,
           NULL::VARCHAR AS segment
    FROM customer WHERE c_custkey < 300
    UNION ALL
    SELECT c_custkey, c_name, NULL::DOUBLE, c_mktsegment
    FROM customer WHERE c_custkey >= 300 AND c_custkey < 600
    """,
)
def set_union_mixed_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-mismatched union: unionByName(allowMissingColumns=True) aligns
    by NAME and null-fills the gaps — the append path for evolving sources
    (scan_merge_schema is the same property at the storage layer). Position
    -based union would silently mis-bind here; by-name is the only safe
    default for pipelines whose upstream adds columns."""
    c = load(spark, sf_dir, "customer")
    a = c.filter(F.col("c_custkey") < 300).select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.round("c_acctbal", 2).alias("acctbal"),
    )
    b = c.filter((F.col("c_custkey") >= 300) & (F.col("c_custkey") < 600)).select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
    )
    return a.unionByName(b, allowMissingColumns=True)


@query(
    "topk_rank_with_ties",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_nationkey, rnk
    FROM (SELECT c_mktsegment, c_custkey, c_nationkey,
                 rank() OVER (PARTITION BY c_mktsegment
                              ORDER BY c_nationkey) AS rnk
          FROM customer)
    WHERE rnk <= 3
    """,
)
def topk_rank_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k WITH TIES: rank() <= k keeps every row tied at the boundary
    (row_number() <= k would truncate arbitrarily — win_row_number_topk is
    that variant, made safe by a unique tie-break). Ranking on the
    low-cardinality nationkey guarantees real ties, so the semantic
    difference is exercised, not incidental. Same WindowGroupLimit
    optimization applies: per-partition top-k state, no full sort."""
    from pyspark.sql import Window

    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_nationkey")
    return (
        c.select("c_mktsegment", "c_custkey", "c_nationkey", F.rank().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3)
    )


@query(
    "join_asof_tolerance",
    oracle="""
    WITH m AS (
      SELECT event_id, asof_orderkey, asof_orderdate FROM (
        SELECT e.event_id, o.o_orderkey AS asof_orderkey,
               o.o_orderdate AS asof_orderdate,
               row_number() OVER (PARTITION BY e.event_id
                                  ORDER BY o.o_orderdate DESC,
                                           o.o_orderkey DESC) AS rn
        FROM events e JOIN orders o
          ON e.user_id = o.o_custkey
         AND o.o_orderdate <= e.ts
         AND o.o_orderdate >= e.ts - INTERVAL 7 DAY
      ) WHERE rn = 1)
    SELECT e.event_id, e.user_id, m.asof_orderkey, m.asof_orderdate
    FROM events e LEFT JOIN m ON e.event_id = m.event_id
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a tolerance window (pandas merge_asof's
    ``tolerance=``): each event matched to the user's latest order at or
    before ts but no older than 7 days — and, unlike join_asof's inner
    shape, events with NO order inside the window are KEPT with nulls
    (the left-join contract a feature pipeline needs: absence is a
    feature, not a dropped row). Completes the as-of family:
    backward (join_asof), forward (join_asof_forward), nearest
    (join_asof_nearest), bounded-backward-with-nulls (this).

    100 TB: the tolerance bound is also the performance bound — it caps
    the per-user candidate range regardless of history depth, which is
    what makes the range join feasible on years-deep order histories
    (bucket by time at the tolerance granularity for the bucketed-equi
    rewrite join_range_binned documents)."""
    e = load(spark, sf_dir, "events")
    o = load(spark, sf_dir, "orders")
    j = e.join(
        o,
        (e.user_id == o.o_custkey)
        & (o.o_orderdate <= e.ts)
        & (o.o_orderdate >= F.col("ts") - F.expr("INTERVAL 7 DAY")),
        "inner",
    )
    w = Window.partitionBy("event_id").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    m = (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            F.col("o_orderkey").alias("asof_orderkey"),
            F.col("o_orderdate").alias("asof_orderdate"),
        )
    )
    return e.select("event_id", "user_id").join(m, "event_id", "left")


# ---------------------------------------------------------------------------
# probabilistic structures as DataFrame ops
# ---------------------------------------------------------------------------

_BLOOM_WORDS = 1024  # 2^16 bits; k=5 → FP ≈ 5e-9 at sf0.01 (n≈300 EUROPE


# keys) and ≈ 3.6e-4 at sf0.1 (n≈3000) — sized for the BENCH scale, not the
# oracle scale. At 100 TB, m grows with the build-side key count (m ≈ 10n
# bits holds FP near 1%); the 8 KB array here broadcasts all the same.

_BLOOM_K = 5


@query(
    "join_bloom_prune",
    oracle="""
    SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
    GROUP BY n_name
    """,
)
def join_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter runtime pruning built from first principles: hash the
    EUROPE customer keys k=5 ways (xxhash64 with per-hash seeds) into a
    2^16-bit filter assembled as ONE array<long> row via bit_or aggregation,
    broadcast it, and drop orders whose o_custkey misses any bit BEFORE the
    exact join. The Bloom pass has no false negatives, and the exact join
    removes the rare false positives (≈3.6e-4 at the sf0.1 bench scale) — so the result equals the
    plain join, which IS the oracle. tests/test_datapipe.py asserts the
    prune actually rejects rows.

    100 TB: this is the semi-join-reduction pattern for selective dim⋈fact
    joins — ship a KB-size filter instead of shuffling the fact table; at
    cluster scale Spark's own runtime row-group filters do the same, but
    only for plans it recognizes. Build side is one small agg; probe side
    is a scan-local filter (no shuffle added); the filter array is
    mergeable via bit_or, so per-partition partial filters union for free."""
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    orders = load(spark, sf_dir, "orders")

    dim = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "EUROPE")
        .select("c_custkey", "n_name")
    )

    m_bits = _BLOOM_WORDS * 64

    def positions(key: str) -> F.Column:
        return F.array(
            *[
                F.pmod(F.xxhash64(F.col(key), F.lit(i)), F.lit(m_bits))
                for i in range(_BLOOM_K)
            ]
        )

    # Build: explode bit positions → per-word bit_or → one ordered
    # array<long> row (missing words 0-filled via the range outer join).
    bits = dim.select(F.explode(positions("c_custkey")).alias("pos")).select(
        (F.col("pos") / 64).cast("int").alias("word"),
        F.pmod(F.col("pos"), F.lit(64)).cast("int").alias("bit"),
    )
    # shiftleft() the function requires a literal bit count; the SQL form
    # accepts a column.
    words = bits.groupBy("word").agg(
        F.bit_or(F.expr("shiftleft(1L, bit)")).alias("w")
    )
    bloom = (
        spark.range(_BLOOM_WORDS)
        .select(F.col("id").cast("int").alias("word"))
        .join(words, "word", "left")
        .select("word", F.coalesce("w", F.lit(0).cast("long")).alias("w"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("word", "w"))), lambda s: s["w"]
            ).alias("bloom")
        )
    )

    probe = orders.crossJoin(F.broadcast(bloom))
    test = None
    for i in range(_BLOOM_K):
        cond = F.expr(
            f"(element_at(bloom, cast(pmod(xxhash64(o_custkey, {i}), {m_bits}) / 64"
            f" as int) + 1) & shiftleft(1L, cast(pmod(pmod(xxhash64(o_custkey, {i}),"
            f" {m_bits}), 64) as int))) != 0"
        )
        test = cond if test is None else (test & cond)
    pruned = probe.filter(test).drop("bloom")

    return (
        pruned.join(F.broadcast(dim), pruned.o_custkey == dim.c_custkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# sampling / binning / URL / embedding utilities
# ---------------------------------------------------------------------------

@query(
    "sample_reservoir_group",
    oracle="""
    SELECT source, doc_id, rk FROM (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    ) WHERE rk <= 10 ORDER BY source, rk
    """,
)
def sample_reservoir_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k=10 per-source document sample by md5-hash rank — the
    reproducible substitute for ORDER BY random(): the hash of the id is a
    fixed pseudo-random key, so the same corpus always yields the same
    sample, across engines and across reruns (md5 hex agrees between Spark
    and DuckDB, unlike xxhash64 which DuckDB lacks).

    100 TB: hash-rank sampling is mergeable — each partition keeps its own
    top-k by hash, then top-k of the union — so it runs as one
    WindowGroupLimit-optimized window, state O(k) per group, no global
    sort and no RNG-state coordination across executors. Compare
    sample_hash_repro (Bernoulli by hash) — this one is exact-k."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("source", "doc_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 10)
        .orderBy("source", "rk")
    )


@query(
    "join_range_binned",
    oracle="""
    SELECT s_suppkey, c_custkey, s_acctbal, c_acctbal
    FROM supplier JOIN customer
      ON c_acctbal BETWEEN s_acctbal - 10 AND s_acctbal + 10
    """,
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band join executed as a bucketed EQUI-join: bucket both acctbal
    domains at the band width (10), explode each supplier row to its 3
    candidate buckets (floor((s±10)/10) spans at most b−1..b+1), hash-join
    on bucket id, then apply the exact BETWEEN as a residual filter. Same
    result set as join_theta_range's BroadcastNestedLoopJoin, but the
    compare space is O(rows × 3) instead of O(n·m) — this IS the 100 TB
    rewrite that key's docstring prescribes; both sides hash-partition on
    the bucket id so neither needs to broadcast.

    100 TB: bucket width == band width bounds the fan-out at 3 regardless
    of data; skewed buckets (acctbal heaping) salt like any equi-join key.
    The residual keeps correctness exact — binning only prunes."""
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    band = 10
    sb = s.select(
        "s_suppkey",
        "s_acctbal",
        F.explode(
            F.array(
                *[
                    (F.floor(F.col("s_acctbal") / band) + d).cast("long")
                    for d in (-1, 0, 1)
                ]
            )
        ).alias("bucket"),
    )
    # NO dropDuplicates here: the 3 exploded buckets (b-1, b, b+1) are
    # distinct by construction per row, and keying a dedupe on
    # (s_suppkey, bucket) silently merged COLLIDING supplier ids carrying
    # different acctbals (r14 dup-id axis), dropping their join rows.
    cb = c.select(
        "c_custkey",
        "c_acctbal",
        F.floor(F.col("c_acctbal") / band).cast("long").alias("bucket"),
    )
    return (
        sb.join(cb, "bucket")
        .filter(
            F.col("c_acctbal").between(
                F.col("s_acctbal") - band, F.col("s_acctbal") + band
            )
        )
        .select("s_suppkey", "c_custkey", "s_acctbal", "c_acctbal")
    )


@query(
    "join_null_safe_eq",
    oracle="""
    WITH c AS (SELECT nullif(c_nationkey, 3) AS ck, count(*) AS nc
               FROM customer GROUP BY 1),
         s AS (SELECT nullif(s_nationkey, 3) AS sk, count(*) AS ns
               FROM supplier GROUP BY 1)
    SELECT c.ck AS nation_key, CAST(c.nc * s.ns AS BIGINT) AS n_pairs
    FROM c JOIN s ON c.ck IS NOT DISTINCT FROM s.sk
    ORDER BY nation_key NULLS FIRST
    """,
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / eqNullSafe): customer and supplier
    nation keys with nation 3 mapped to NULL — the null-safe join matches
    the NULL group to the NULL group (one extra result row), where a plain
    equi-join drops it (NULL = NULL is UNKNOWN). Pre-aggregated to
    per-key counts so the pair count is arithmetic, not enumeration.

    100 TB: <=> hash-partitions like any equi-key (NULL hashes to a
    bucket instead of being filtered), so the join stays a hash join —
    but all null-keyed rows land in ONE partition: a null-heavy corpus
    needs the same salting treatment as any skewed key
    (join_salted_skew)."""
    c = (
        load(spark, sf_dir, "customer")
        .groupBy(F.nullif(F.col("c_nationkey"), F.lit(3)).alias("ck"))
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    s = (
        load(spark, sf_dir, "supplier")
        .groupBy(F.nullif(F.col("s_nationkey"), F.lit(3)).alias("sk"))
        .agg(F.count(F.lit(1)).alias("ns"))
    )
    return (
        c.join(s, F.col("ck").eqNullSafe(F.col("sk")))
        .select(
            F.col("ck").alias("nation_key"),
            (F.col("nc") * F.col("ns")).alias("n_pairs"),
        )
        .orderBy(F.col("nation_key").asc_nulls_first())
    )


@query(
    "join_lateral_topk",
    oracle="""
    SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
    FROM (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000) o,
    LATERAL (
      SELECT l_linenumber, l_extendedprice
      FROM lineitem
      WHERE l_orderkey = o.o_orderkey
      ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2
    ) t
    ORDER BY o.o_orderkey, t.l_extendedprice DESC, t.l_linenumber
    """,
)
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery join (Spark 3.2+): for each high-value
    order, its top-2 lineitems by price — the per-row-parameterized
    subquery with ORDER BY ... LIMIT that a plain join cannot express and
    that pre-LATERAL SQL needed a window + filter rewrite for
    (win_row_number_topk is exactly that rewrite; this is the declarative
    form). Deterministic (price DESC, linenumber) tie-break.

    100 TB: Catalyst decorrelates the lateral into a join + per-key
    WindowGroupLimit-style evaluation — same physical cost as the window
    rewrite, so the form is a readability choice, not a performance one;
    the outer filter (o_totalprice > 400000) prunes the driving side
    before any lineitem work."""
    tag = sftag(sf_dir)
    load(spark, sf_dir, "orders").createOrReplaceTempView(f"sg_lat_orders_{tag}")
    load(spark, sf_dir, "lineitem").createOrReplaceTempView(f"sg_lat_li_{tag}")
    return spark.sql(
        f"""
        SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
        FROM (SELECT o_orderkey FROM sg_lat_orders_{tag}
              WHERE o_totalprice > 400000) o,
        LATERAL (
          SELECT l_linenumber, l_extendedprice
          FROM sg_lat_li_{tag}
          WHERE l_orderkey = o.o_orderkey
          ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2
        ) t
        ORDER BY o.o_orderkey, t.l_extendedprice DESC, t.l_linenumber
        """
    )


@query(
    "sample_temperature",
    oracle="""
    WITH n AS (SELECT source, count(*) AS n_s FROM documents GROUP BY 1),
    s AS (SELECT sum(sqrt(CAST(n_s AS DOUBLE))) AS sw,
                 sum(n_s) AS total FROM n),
    r AS (SELECT source, n_s,
                 round(least(1.0,
                   0.5 * CAST((SELECT total FROM s) AS DOUBLE)
                     * sqrt(CAST(n_s AS DOUBLE))
                     / (SELECT sw FROM s) / CAST(n_s AS DOUBLE)), 6) AS rate
          FROM n),
    h AS (SELECT doc_id, source,
                 (doc_id * 2654435761) % 2147483647 AS hk
          FROM documents),
    k AS (SELECT h.doc_id, h.source,
                 row_number() OVER (PARTITION BY h.source ORDER BY hk, doc_id)
                   AS rn
          FROM h)
    SELECT k.source, r.n_s AS n_orig,
           count(*) AS n_kept, min(r.rate) AS rate
    FROM k JOIN r ON k.source = r.source
    WHERE rn <= CAST(ceil(r.n_s * r.rate) AS BIGINT)
    GROUP BY k.source, r.n_s
    """,
)
def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (α = 0.5, target budget = 50% of
    the corpus): source s is resampled at rate ∝ n_s^α / n_s, which
    up-weights tail sources and down-weights head sources relative to
    proportional sampling — the standard multilingual/multi-domain
    temperature mix. Selection is the same deterministic multiplicative-
    hash rank as sample_source_mix (stable across runs, engines, and
    layouts); the per-source rate is rounded to 6 dp on both engines
    because the Σ sqrt(n_s) normalizer is an order-dependent double sum.
    Output: per-source original count, kept count, applied rate.

    100 TB: per-source counts are a tiny agg (broadcast back); rank
    selection is one window per source — at scale replace rank with an
    hk-threshold filter (rate-quantile of the hash space), dropping the
    sort as sample_source_mix documents."""
    d = load(spark, sf_dir, "documents")
    n = d.groupBy("source").agg(F.count("*").alias("n_s"))
    s = n.agg(
        F.sum(F.sqrt(F.col("n_s").cast("double"))).alias("sw"),
        F.sum("n_s").alias("total"),
    )
    r = (
        n.join(F.broadcast(s))
        .select(
            "source",
            "n_s",
            F.round(
                F.least(
                    F.lit(1.0),
                    0.5
                    * F.col("total").cast("double")
                    * F.sqrt(F.col("n_s").cast("double"))
                    / F.col("sw")
                    / F.col("n_s").cast("double"),
                ),
                6,
            ).alias("rate"),
        )
    )
    hk = (F.col("doc_id") * F.lit(2654435761)) % F.lit(2147483647)
    w = Window.partitionBy("source").orderBy("hk", "doc_id")
    k = (
        d.select("doc_id", "source", hk.alias("hk"))
        .withColumn("rn", F.row_number().over(w))
    )
    return (
        k.join(F.broadcast(r), "source")
        .filter(F.col("rn") <= F.ceil(F.col("n_s") * F.col("rate")).cast("long"))
        .groupBy("source", F.col("n_s").alias("n_orig"))
        .agg(F.count("*").alias("n_kept"), F.min("rate").alias("rate"))
    )


@query(
    "sample_negative_pairs",
    oracle="""
    WITH cand AS (
      SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
             b.vec_id AS neg_id, b.label AS neg_label,
             md5(CAST(a.vec_id AS VARCHAR) || ':' || CAST(b.vec_id AS VARCHAR))
               AS h
      FROM embeddings a
      JOIN embeddings b
        ON a.vec_id % 16 = b.vec_id % 16 AND a.label <> b.label
    )
    SELECT anchor_id, anchor_label, neg_id, neg_label
    FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
                                       ORDER BY h, neg_id,
                                                anchor_label, neg_label) AS rn
          FROM cand)
    WHERE rn = 1
    """,
)
def sample_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negative sampling: for every anchor
    vector, pick one negative (different label) from its hash bucket,
    chosen by the md5 of the pair key — reproducible across runs and
    engines, no rand(). The negative-pair generator a contrastive /
    embedding-training data pipeline needs.

    Plan: the candidate space is bucketed (vec_id % 16) so the self-join
    is an equi-join shuffle — per-bucket work is (n/B)² instead of a
    global n² cross join; the per-anchor argmin collapses via min_by
    partial aggregation (no row_number sort buffer). At 100 TB you raise
    B so buckets stay ~constant-size; the join never materializes the
    full pair space. Tie-break (h, neg_id, anchor_label, neg_label) is
    total even when a vec_id COLLIDES with two different labels (r14
    dup-id axis: h depends only on the id pair, so a replayed id made
    the winning row's labels an arbitrary pick) — and the anchor label
    is taken from the WINNING candidate row, never an independent
    first()."""
    emb = load(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        (F.col("vec_id") % 16).alias("b"),
    )
    b = emb.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        (F.col("vec_id") % 16).alias("b"),
    )
    cand = a.join(b, "b").filter(F.col("anchor_label") != F.col("neg_label"))
    h = F.md5(
        F.concat_ws(":", F.col("anchor_id").cast("string"), F.col("neg_id").cast("string"))
    )
    return (
        cand.withColumn("h", h)
        .groupBy("anchor_id")
        .agg(
            F.min_by(
                F.struct("anchor_label", "neg_id", "neg_label"),
                F.struct("h", "neg_id", "anchor_label", "neg_label"),
            ).alias("pick"),
        )
        .select(
            "anchor_id",
            F.col("pick.anchor_label").alias("anchor_label"),
            F.col("pick.neg_id").alias("neg_id"),
            F.col("pick.neg_label").alias("neg_label"),
        )
    )


@query(
    "join_scd2_pointintime",
    oracle="""
    WITH dim AS (
      SELECT user_id, value AS state_value, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM events WHERE event_type = 'signup'
    ),
    fact AS (
      SELECT event_id, user_id, ts, value AS purchase_value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT f.event_id, f.user_id, f.ts, f.purchase_value,
           d.state_value, d.valid_from AS state_from
    FROM fact f
    LEFT JOIN dim d
      ON f.user_id = d.user_id
     AND f.ts >= d.valid_from
     AND (d.valid_to IS NULL OR f.ts < d.valid_to)
    """,
)
def join_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join of a fact stream against SCD2 validity intervals:
    every purchase is enriched with the signup-state version that was
    current AT its timestamp (purchases before the first signup keep NULL
    state — the left join's null path is part of the contract). This is
    the consumption side of etl_scd2_intervals: CDC log → intervals →
    as-was enrichment, the pattern every warehouse dimension lookup needs.

    Plan: the interval build is one window shuffle on user_id; the join is
    an equi-join on user_id with the interval predicate as a residual
    filter — correct because intervals partition time per user (lead()
    guarantees no overlap), so each fact row survives in ≤1 interval. At
    100 TB both sides shuffle-partition on user_id and per-user version
    counts stay bounded, so the residual never explodes a partition."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        e.filter(F.col("event_type") == "signup")
        .select(
            "user_id",
            F.col("value").alias("state_value"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
        )
    )
    fact = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    f, d = fact.alias("f"), dim.alias("d")
    cond = (
        (F.col("f.user_id") == F.col("d.user_id"))
        & (F.col("f.ts") >= F.col("d.valid_from"))
        & (F.col("d.valid_to").isNull() | (F.col("f.ts") < F.col("d.valid_to")))
    )
    return f.join(d, cond, "left").select(
        F.col("f.event_id").alias("event_id"),
        F.col("f.user_id").alias("user_id"),
        F.col("f.ts").alias("ts"),
        "purchase_value",
        "state_value",
        F.col("d.valid_from").alias("state_from"),
    )


@query(
    "sample_kfold_assign",
    oracle="""
    WITH folds AS (
      SELECT doc_id, lang, n_chars,
             CAST((doc_id * 2654435761) % 5 AS INT) AS fold
      FROM documents
    )
    SELECT fold,
           count(*) AS n_docs,
           round(CAST(count(*) AS DOUBLE)
                 / (SELECT count(*) FROM documents), 6) AS frac,
           round(avg(n_chars), 4) AS avg_chars,
           count(DISTINCT lang) AS n_langs
    FROM folds GROUP BY fold
    """,
)
def sample_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment via the
    multiplicative-hash idiom (engine-agnostic integer arithmetic — the
    same rationale as sample_hash_repro: df.randomSplit is seed- AND
    layout-dependent, this is neither), summarized per fold with size,
    fraction, mean length, and language coverage. Folds are disjoint and
    complete by construction (a total function of doc_id).

    Plan: the fold column is row-local; one 5-group aggregate with the
    corpus count as a one-row broadcast scalar subquery. Per-fold training
    jobs downstream filter on `fold` — a pushed-down predicate, no
    materialized split copies."""
    d = load(spark, sf_dir, "documents")
    total = d.agg(F.count("*").alias("total"))  # 1-row relation, broadcast —
    # no driver-side count() action; the scalar rides the plan
    folds = d.select(
        "doc_id", "lang", "n_chars",
        ((F.col("doc_id") * 2654435761) % 5).cast("int").alias("fold"),
    )
    return (
        folds.groupBy("fold")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "fold",
            "n_docs",
            F.round(F.col("n_docs").cast("double") / F.col("total"), 6).alias(
                "frac"
            ),
            "avg_chars",
            "n_langs",
        )
    )


@query(
    "subq_multicol_in",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_orderpriority = '1-URGENT'
                    AND o_orderkey = l_orderkey AND l_linenumber = 1)
    """,
)
def subq_multicol_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-value (multi-column) IN subquery: first line items of urgent
    orders — `(a, b) IN (SELECT x, y ...)` compares the column tuple
    against the subquery rows, completing the subquery family beside the
    single-column NOT IN / EXISTS keys.

    Plan: Catalyst rewrites the tuple IN to a LEFT SEMI join on BOTH
    columns — one equi-join shuffle (or broadcast when the subquery side
    is small), never a per-row subquery execution. Null semantics don't
    bite here (both key columns are non-null), which is what makes the
    rewrite a plain semi join rather than the null-aware anti variant.
    (The oracle states the same semantics via correlated EXISTS — DuckDB's
    binder rejects the tuple-IN-subquery spelling.)"""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("li_mc_src")
    load(spark, sf_dir, "orders").createOrReplaceTempView("o_mc_src")
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM li_mc_src
        WHERE (l_orderkey, l_linenumber) IN
              (SELECT o_orderkey, 1 FROM o_mc_src
               WHERE o_orderpriority = '1-URGENT')
        """
    )


# LCG mixers for synthetic 2-D coordinates: pure 64-bit integer arithmetic,
# bit-identical across engines (ANSI mode needs the explicit BIGINT casts).

_AX, _BX = 1103515245, 12345


_AY, _BY = 69069, 362437


def _coord_sql(key: str, a: int, b: int) -> str:
    return f"(CAST({a} AS BIGINT) * {key} + {b}) % 100000 / 1000.0"


def _coord_col(key: str, a: int, b: int):
    return (
        (F.lit(a).cast("long") * F.col(key) + F.lit(b).cast("long")) % 100000
    ) / F.lit(1000.0)


@query(
    "join_spatial_grid",
    oracle=f"""
    WITH cpt AS (
      SELECT c_custkey, {_coord_sql('c_custkey', _AX, _BX)} AS x,
             {_coord_sql('c_custkey', _AY, _BY)} AS y
      FROM customer
    ),
    spt AS (
      SELECT s_suppkey, {_coord_sql('s_suppkey', _AX, _BX)} AS x,
             {_coord_sql('s_suppkey', _AY, _BY)} AS y
      FROM supplier
    )
    SELECT c.c_custkey, s.s_suppkey,
           round(sqrt((c.x - s.x) * (c.x - s.x)
                      + (c.y - s.y) * (c.y - s.y)), 4) AS dist
    FROM cpt c JOIN spt s
      ON sqrt((c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)) <= 2.0
    """,
)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D proximity join via grid binning: customers and suppliers get
    deterministic LCG coordinates in [0,100)², and the query finds every
    (customer, supplier) pair within Euclidean distance 2.0. The Spark
    plan snaps each point to a 5×5 grid cell, replicates the SMALL side
    (suppliers) into its 3×3 neighbor cells, equi-joins on cell id, and
    only then evaluates the exact distance — because the radius (2) is
    less than the cell size (5), every qualifying pair shares a
    neighbor-cell key, so the grid join is LOSSLESS vs the oracle's
    brute-force theta join.

    Plan note: the O(n·m) theta join becomes a hash equi-join whose
    candidate count is Σ_cell |customers(cell)| · |suppliers(3×3 ring)| —
    linear for data of bounded density. 9× replication happens on the
    supplier (dimension) side only. 100 TB: this is the standard
    geospatial bound (geohash/S2 cells); skewed cells (cities) get the
    same salting treatment as any hot join key."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey",
        _coord_col("c_custkey", _AX, _BX).alias("x"),
        _coord_col("c_custkey", _AY, _BY).alias("y"),
    )
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        _coord_col("s_suppkey", _AX, _BX).alias("x"),
        _coord_col("s_suppkey", _AY, _BY).alias("y"),
    )
    cell = 5.0
    c = c.withColumn("cx", F.floor(F.col("x") / cell)).withColumn(
        "cy", F.floor(F.col("y") / cell)
    )
    # Replicate each supplier into its 3x3 neighbor cells: any point within
    # r=2.0 < cell=5.0 of it must live in one of those cells.
    off = F.explode(
        F.expr("array(-1L, 0L, 1L)")
    )
    s9 = (
        s.withColumn("dx", off)
        .withColumn("dy", F.explode(F.expr("array(-1L, 0L, 1L)")))
        .select(
            "s_suppkey",
            "x",
            "y",
            (F.floor(F.col("x") / cell) + F.col("dx")).alias("cx"),
            (F.floor(F.col("y") / cell) + F.col("dy")).alias("cy"),
        )
    )
    dist = F.sqrt(
        (c["x"] - s9["x"]) * (c["x"] - s9["x"])
        + (c["y"] - s9["y"]) * (c["y"] - s9["y"])
    )
    return (
        c.join(s9, ["cx", "cy"])
        .filter(dist <= 2.0)
        .select("c_custkey", "s_suppkey", F.round(dist, 4).alias("dist"))
    )


# Poisson(1) CDF thresholds scaled to the [0, 100000) integer hash range:
# P(X<=k) for k = 0..4; draws above the last threshold clamp to 5.

_POIS_CDF = [36788, 73576, 91970, 98101, 99634]


def _pois_case_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_CDF)
    )
    return f"CASE {branches} ELSE 5 END"


@query(
    "sample_bootstrap_poisson",
    oracle=f"""
    WITH draws AS (
      SELECT o_orderpriority, o_totalprice,
             {_pois_case_sql("(o_orderkey * 2654435761 + 12345) % 100000")} AS k
      FROM orders
    )
    SELECT o_orderpriority,
           count(*) AS n_orig,
           CAST(sum(k) AS BIGINT) AS n_resampled,
           round(sum(o_totalprice), 2) AS sum_orig,
           round(sum(k * o_totalprice), 2) AS sum_resampled
    FROM draws GROUP BY o_orderpriority
    """,
)
def sample_bootstrap_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap: each row receives a deterministic Poisson(1)
    replication count k (inverse-CDF over the engine-agnostic
    multiplier-mod hash), and the per-priority aggregate is computed on
    both the original and the resampled weighting — one bootstrap
    replicate of the group sums. Repeating with other hash constants
    yields the replicate distribution that turns corpus statistics into
    confidence intervals.

    Why Poisson instead of multinomial resampling: the draw is row-LOCAL
    (no global n needed, no shuffle, no coordination), which is what
    makes bootstrap feasible on a 100 TB table — k rides along as a
    weight column and every aggregate downstream just multiplies by it.
    E[Σk] = n, so n_resampled ≈ n_orig per group (asserted in tests
    within 3σ). Zero Python, zero extra passes."""
    o = load(spark, sf_dir, "orders")
    u = (F.col("o_orderkey") * F.lit(2654435761).cast("long") + 12345) % 100000
    k = F.expr(_pois_case_sql("((o_orderkey * CAST(2654435761 AS BIGINT) + 12345) % 100000)"))
    _ = u  # documented twin of the SQL-side expression
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orig"),
            F.sum(k).alias("n_resampled"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_orig"),
            F.round(F.sum(k * F.col("o_totalprice")), 2).alias("sum_resampled"),
        )
    )


@query(
    "join_dynamic_partition_prune",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS n, round(sum(o.o_totalprice), 2) AS rev
    FROM orders o
    JOIN (VALUES ('1-URGENT', 'expedite'), ('2-HIGH', 'expedite'),
                 ('3-MEDIUM', 'standard'), ('4-NOT SPECIFIED', 'standard'),
                 ('5-LOW', 'standard'))
         AS dim(prio, tier)
      ON o.o_orderpriority = dim.prio
    WHERE dim.tier = 'expedite'
    GROUP BY o.o_orderpriority
    """,
)
def join_dynamic_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is laid out partitioned
    by the join key (o_orderpriority directories), the dimension side
    carries a selective filter (tier = 'expedite' → 2 of 5 priorities),
    and the optimizer injects the dim's surviving keys as a RUNTIME
    partition filter on the fact scan — only 2 of 5 directories are
    read, though the query text never names them. The plan pin (tests)
    asserts `dynamicpruning` inside the fact scan's PartitionFilters.

    Trigger subtlety (measured in this build): DPP's selective-predicate
    detector requires a COMPARISON on the dim (tier = 'expedite'); a
    bare boolean column filter (WHERE d.expedite) is NOT considered
    selective and no pruning subquery is inserted — model dims with
    attribute equality, not pre-computed flags.

    100 TB: DPP is THE star-schema accelerator — a date-dim filter like
    `d_year = 2025` prunes a decade of fact partitions at runtime,
    without the user copying the filter onto the fact table. Requires
    (a) fact partitioned on the join key, (b) broadcastable dim;
    both are layout decisions this repo's sink keys demonstrate."""
    base = scratch_dir(prefix=f"sg-dpp-{sftag(sf_dir)}-")
    o = load(spark, sf_dir, "orders")
    o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(base)
    # explicit schema: no inference pass, robust to a zero-row write
    fact = spark.read.schema(o.schema).parquet(base)
    dim = spark.createDataFrame(
        [
            ("1-URGENT", "expedite"),
            ("2-HIGH", "expedite"),
            ("3-MEDIUM", "standard"),
            ("4-NOT SPECIFIED", "standard"),
            ("5-LOW", "standard"),
        ],
        "prio string, tier string",
    )
    return (
        fact.join(
            F.broadcast(dim.filter(F.col("tier") == "expedite")),
            fact["o_orderpriority"] == F.col("prio"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("rev"),
        )
    )
