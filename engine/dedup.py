"""Deduplication operators (``dedup_`` keys) and the near-duplicate
machinery they share with the pipelines: word n-gram ids, MinHash
signatures, LSH banding with its bucket cap, exact pair verification and
connected components over candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.registry import query
from engine.tables import load
from engine.vectors import (
    _KMEANS_CTES,
    _fold_dot,
    _rep_lloyd_assign,
    kmeans_assign,
    spread_cpu,
)


def min_label_components(
    edges: DataFrame,
    nodes: DataFrame,
    *,
    broadcast_edges: bool = False,
    max_rounds: int = 32,
) -> DataFrame:
    """Pregel-style min-label propagation: connected components over
    ``edges`` (columns src, dst — one row per directed edge; callers pass
    the symmetrized graph) for ``nodes`` (column node), returning
    (node, label) with label = min node id in the component.

    Shared kernel for dedup_cluster_components and the large-batch path of
    pipeline_incremental_refresh. Rounds = graph diameter; each round is
    one shuffle on node id and the convergence probe collects ONE scalar
    (sum of labels — monotonically decreasing integers, so an unchanged
    sum ⇔ fixpoint), never row data. ``broadcast_edges`` is for callers
    whose edge list is known tiny (post-aggregation vocab graphs); the
    default shuffles the join, which is the 100 TB-safe shape."""
    if broadcast_edges:
        edges = F.broadcast(edges.cache())
    labels = nodes.select(F.col("node"), F.col("node").alias("label"))
    prev_sum = None
    for _ in range(max_rounds):  # hard bound >> any real diameter
        msgs = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        labels = (
            labels.join(msgs, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint()  # truncate the growing iterative lineage
        )
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def length_band_candidate_pairs(
    df: DataFrame, name_col: str, key_col: str, k: int
) -> DataFrame:
    """Lossless length-band candidate generation for levenshtein <= k
    matching over a vocabulary relation: |len(a)-len(b)| <= k is
    NECESSARY for lev <= k, so banding by floor(len/(k+1)) with ±1-band
    explosion on the a-side turns the all-pairs filter into a hash join
    on the band key — no cartesian, and the expensive levenshtein runs
    only on band survivors. Each qualifying pair is produced exactly
    once: the b-side sits in its single home band, array_distinct
    collapses the a-side explosion when adjacent bands coincide, and
    the key ordering (a < b) picks one orientation. The int cast
    truncates toward zero, so (len-k)/(k+1) at len < k lands in band 0
    rather than -1 — conservative (extra candidates, never lost ones).
    Returns every input column twice, prefixed a_/b_, for pairs with
    a_<key_col> < b_<key_col> and levenshtein <= k. Shared by
    dedup_fuzzy_edit and dedup_cluster_components."""
    band = (F.length(name_col) / (k + 1)).cast("int")
    a = df.select(
        *[F.col(c).alias(f"a_{c}") for c in df.columns],
        F.explode(
            F.array_distinct(
                F.array(
                    ((F.length(name_col) - k) / (k + 1)).cast("int"),
                    band,
                    ((F.length(name_col) + k) / (k + 1)).cast("int"),
                )
            )
        ).alias("band"),
    )
    b = df.select(
        *[F.col(c).alias(f"b_{c}") for c in df.columns],
        band.alias("band"),
    )
    an, bn = f"a_{name_col}", f"b_{name_col}"
    return a.join(b, "band").filter(
        (F.col(f"a_{key_col}") < F.col(f"b_{key_col}"))
        & (F.abs(F.length(an) - F.length(bn)) <= k)
        & (F.levenshtein(an, bn) <= k)
    )


@query(
    "dedup_fuzzy_edit",
    oracle="""
    WITH names AS (
      SELECT p_name, min(p_partkey) AS rep_key, count(*) AS n_parts
      FROM part GROUP BY p_name)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           a.rep_key AS rep_a, b.rep_key AS rep_b,
           a.n_parts AS cnt_a, b.n_parts AS cnt_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM names a JOIN names b
      ON a.rep_key < b.rep_key
     AND abs(length(a.p_name) - length(b.p_name)) <= 2
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def dedup_fuzzy_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy vocabulary dedup: collapse the value column to its distinct
    vocabulary (with representative key + support count), then find
    near-duplicate name pairs with levenshtein <= 2.

    Scale design: the vocabulary aggregate shrinks the data by orders of
    magnitude before any pairing (64 names from 2000 parts here; at 100 TB a
    name/URL/title vocabulary is MB-scale from TB-scale input). Candidate
    generation is a LOSSLESS length-band equi-join — |len(a)-len(b)| <= k is
    a necessary condition for lev <= k, so banding by floor(len/(k+1)) with
    +-1-band expansion on one side prunes the quadratic pair space without
    losing a single true pair (same inverted-index idea as
    dedup_ngram_jaccard). The expensive levenshtein runs only on survivors."""
    names = (
        load(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("rep_key"), F.count(F.lit(1)).alias("n_parts"))
    )
    return length_band_candidate_pairs(names, "p_name", "rep_key", k=2).select(
        F.col("a_p_name").alias("name_a"),
        F.col("b_p_name").alias("name_b"),
        F.col("a_rep_key").alias("rep_a"),
        F.col("b_rep_key").alias("rep_b"),
        F.col("a_n_parts").alias("cnt_a"),
        F.col("b_n_parts").alias("cnt_b"),
        F.levenshtein("a_p_name", "b_p_name").cast("long").alias("edit_dist"),
    )


# fixed permutation constants for the 4 minhash functions: h_i(x) = (a_i*x + b_i) mod p

_MH = [(1299721, 11), (2750161, 101), (4256249, 1009), (7368787, 10007)]


_P = 2147483647


def _mh_cols_sql_duck() -> str:
    return ",\n".join(
        f"           list_aggregate(list_transform(hh, h -> ({a} * h + {b}) % {_P}), 'min') AS mh{i}"
        for i, (a, b) in enumerate(_MH)
    )


@query(
    "dedup_minhash_signature",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                            i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) AS shingles
      FROM t),
    hs AS (
      SELECT doc_id,
             list_transform(shingles,
               s -> list_reduce(
                      list_prepend(0::BIGINT,
                        list_transform(range(1, length(s) + 1), j -> ascii(substr(s, j, 1)))),
                      (acc, c) -> (acc * 131 + c) % {_P})) AS hh
      FROM sh)
    SELECT doc_id,
{_mh_cols_sql_duck()}
    FROM hs
    """,
)
def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-oracle MinHash signatures: word-3-gram shingles → polynomial
    string hash (base 131 mod 2^31-1, the engine-agnostic hash shared with
    dedup_simhash) → 4 fixed affine permutations, min each.

    This is the hash-verifiable complement to dedup_near_minhash (which is
    ROWS-only because it uses Spark-side xxhash64 banding): here every
    arithmetic step is expressible in both engines, so the exact signature
    bytes are oracle-checked. Per-row array math only — zero shuffle, zero
    Python; signature width k=4 trades recall for column count and is a
    constant in both texts. a_i*h < 7.4e6 * 2^31 ~ 1.6e16 stays in int64.

    Sub-3-token docs produce an EMPTY shingle list, hence NULL signature
    columns — the oracle's range(1, 1) = [] → list_aggregate(min) = NULL.
    The CASE guard (not greatest()) avoids sequence(1, 0) = [1, 0], whose
    i=0 entry makes element_at() throw (r12 short-text fix)."""
    # toks is BOUND in its own projection (r13 long-doc fix): the old
    # inline element_at(split(text, ' '), i) re-tokenized the document per
    # shingle — O(tokens²) per doc, which hung this key on a 1M-token doc.
    # The inner per-char fold runs over split(s, '') (each shingle is ~3
    # words, so it was never the hot loop, but substring(s, j, 1) is
    # O(j) on UTF8String regardless).
    hh = F.expr(
        "CASE WHEN size(toks) < 3 THEN cast(array() as array<bigint>) ELSE "
        "transform(transform(sequence(1, size(toks) - 2),"
        " i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1])),"
        " s -> aggregate(transform(split(s, ''), c -> ascii(c)),"
        "      cast(0 as bigint), (acc, c) -> (acc * 131 + c) % 2147483647)) END"
    )
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .select("doc_id", hh.alias("hh"))
    )
    return d.select(
        "doc_id",
        *[
            F.array_min(F.expr(f"transform(hh, h -> ({a} * h + {b}) % {_P})")).alias(f"mh{i}")
            for i, (a, b) in enumerate(_MH)
        ],
    )


@query(
    "dedup_cluster_components",
    oracle="""
    WITH RECURSIVE
    vocab AS (SELECT p_name, min(p_partkey) AS rep_key FROM part GROUP BY p_name),
    edges AS (
      SELECT a.rep_key AS src, b.rep_key AS dst
      FROM vocab a JOIN vocab b
        ON a.rep_key < b.rep_key
       AND abs(length(a.p_name) - length(b.p_name)) <= 2
       AND levenshtein(a.p_name, b.p_name) <= 2),
    undirected AS (SELECT src, dst FROM edges
                   UNION ALL SELECT dst AS src, src AS dst FROM edges),
    walk(node, label) AS (
      SELECT rep_key, rep_key FROM vocab
      UNION
      SELECT u.dst, w.label FROM walk w JOIN undirected u ON u.src = w.node
    )
    SELECT v.p_name, w.node AS rep_key, min(w.label) AS cluster_id
    FROM walk w JOIN vocab v ON v.rep_key = w.node
    GROUP BY v.p_name, w.node
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERING: connected components over the fuzzy-match
    graph (nodes = distinct name vocabulary, edges = levenshtein <= 2 pairs
    from dedup_fuzzy_edit's lossless length-band join), cluster_id = min
    node id in the component — the canonicalization step that turns pairwise
    near-dup hits into dedup groups.

    This is the engine's iterative-algorithm surface: Spark has no recursive
    SQL, so components run as Pregel-style min-label propagation — each
    round joins labels to edges, takes min(neighbor label, own label), and
    stops when a round changes nothing. Rounds = graph diameter (<= 5 here);
    the convergence test collects ONE scalar per round (sum of labels — a
    monotonically decreasing integer, so unchanged sum ⇔ fixpoint), never
    row data. At 100 TB each round is one shuffle on node id; the oracle
    side is DuckDB's WITH RECURSIVE reachability closure — same fixpoint,
    declared instead of iterated."""
    vocab = (
        load(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("rep_key"))
    )
    # Candidate generation is dedup_fuzzy_edit's shared lossless
    # length-band equi-join (length_band_candidate_pairs) — no cartesian,
    # levenshtein only on band survivors. The vocabulary is
    # post-aggregation (64 names from 2k parts; MB-scale from TB-scale
    # input), but the band join costs the same here and stays
    # sub-quadratic if the vocabulary ever grows with the catalog.
    edges = length_band_candidate_pairs(vocab, "p_name", "rep_key", k=2).select(
        F.col("a_rep_key").alias("src"), F.col("b_rep_key").alias("dst")
    )
    und = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    labels = min_label_components(
        und,
        vocab.select(F.col("rep_key").alias("node")),
        broadcast_edges=True,  # post-aggregation vocab graph — tiny by construction
    )
    return (
        vocab.join(labels, vocab.rep_key == labels.node)
        .select("p_name", "rep_key", F.col("label").alias("cluster_id"))
    )


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------

@query(
    "dedup_exact",
    oracle="""
    SELECT doc_id, substr(text, 1, 40) AS prefix40 FROM documents
    QUALIFY row_number() OVER (PARTITION BY substr(text, 1, 40) ORDER BY doc_id) = 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with a deterministic survivor (min doc_id per key).

    Keyed on substr(text,1,40): the corpus has no exact-duplicate texts but
    does plant shared 40-char prefixes (FIXTURES). dropDuplicates() keeps an
    arbitrary row; the window form pins the survivor — required for oracle
    parity and for reproducible ETL reruns (upsert semantics).
    """
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("prefix40").orderBy("doc_id")
    return (
        d.select("doc_id", F.substring("text", 1, 40).alias("prefix40"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "dedup_key_latest",
    oracle="""
    SELECT user_id, event_type, event_id, ts, value FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def dedup_key_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ETL upsert semantics: one row per key, latest wins (ts, then event_id
    as the total-order tie-break). 100 TB: this is a single hash shuffle on
    the key; WindowGroupLimit keeps per-partition state at 1 row per key."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts", "value")
    )


@query(
    "dedup_near_minhash",
    # FULL oracle (r04): the LSH banding itself is not SQL-expressible, but
    # the *output contract* is — exact-verified pairs with Jaccard distance
    # <= 0.6. DuckDB computes the exact shingle-set Jaccard over all pairs
    # (O(n²) but fine at oracle scale: 500 docs at sf0.01). The comparison
    # is only valid because LSH recall is 1.0 on this corpus (unit-tested,
    # tests/test_llmops.py; near-dups sit at sim >= 0.83, far above the
    # b=16/r=2 s-curve threshold) — a recall regression now surfaces as a
    # driver hash mismatch instead of hiding behind a rows-only check.
    oracle="""
    WITH ch AS (
      SELECT doc_id, string_split(text, '') AS c
      FROM documents WHERE length(text) >= 5
    ),
    -- zip-unnest to (doc, pos, char) rows + 4 window leads (r14): the
    -- previous per-position substring(text, i, 5) is an O(offset) scan
    -- in DuckDB (O(len²) per doc — minutes on one 50k-char doc), and a
    -- lateral carrying the char ARRAY copies it into every position row
    -- (same quadratic, in bytes). Streaming chars once and rebuilding
    -- each 5-gram from 4 leads is the linear shape; the sub-5-char
    -- branch reproduces the old whole-text gram exactly.
    cr AS (
      SELECT doc_id, unnest(c) AS c1, unnest(range(1, len(c) + 1)) AS i
      FROM ch
    ),
    sh AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id,
               c1 || lead(c1, 1) OVER w || lead(c1, 2) OVER w
                  || lead(c1, 3) OVER w || lead(c1, 4) OVER w AS g
        FROM cr WINDOW w AS (PARTITION BY doc_id ORDER BY i)
        QUALIFY lead(c1, 4) OVER w IS NOT NULL)
      UNION
      SELECT DISTINCT doc_id, text AS g
      FROM documents WHERE length(text) < 5
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT a_id, b_id,
           round(1.0 - i / CAST(sa.n + sb.n - i AS DOUBLE), 4) AS jaccard_dist
    FROM inter
    JOIN sz sa ON sa.doc_id = a_id
    JOIN sz sb ON sb.doc_id = b_id
    WHERE 1.0 - i / CAST(sa.n + sb.n - i AS DOUBLE) <= 0.6
    ORDER BY a_id, b_id
    """,
)
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate doc pairs via MinHash-LSH over 5-char shingles,
    natively on DataFrame ops (r02 shape): hash every shingle ONCE
    (xxhash64), derive 32 minhash functions as int64 permutations
    ``(a_i*h + b_i) mod p`` — 32 vectorized codegen columns, NOT 32 string
    re-hashes — partial-agg ``min`` them in one narrow shuffle, band as
    16 bands x r=2 (bucket key = two adjacent minhashes), equi-join on
    (band, k1, k2), exact Jaccard on candidates, keep dist <= 0.6.

    Why r=2 + a bucket cap (round-2 fix): with r=1 a shared-vocabulary
    corpus puts the globally-min shingle of each band in thousands of docs —
    measured 2,077 docs in one bucket and 12.2M candidate pairs at sf0.1
    (~39 s warm, and quadratic in corpus size). r=2 alone still left 7.6M
    (the corpus's background sim ~0.17 sits on the b=16/r=2 s-curve), so
    buckets larger than 50 docs are DROPPED before pairing — such buckets
    are keyed by corpus-common shingle minima and are non-discriminative,
    while true near-dups (measured sim ≥ 0.83 here) also collide in small
    rare-shingle buckets. Measured at sf0.1: 213k candidates, recall 1.0 of
    all 256 true pairs; recall stays unit-tested (tests/test_llmops.py).
    The cap is the standard frequency-capping for set-similarity joins and
    is what bounds the worst case at 100 TB: candidate work is
    O(Σ_bucket min(|bucket|, cap)²), never O(n²).

    Chosen over pyspark.ml's MinHashLSH.approxSimilarityJoin, whose join key
    is a VectorUDT that cannot hash-partition — it degenerates to a
    nested-loop join. This formulation is explode -> partial-agg ->
    equi-join: every stage hash-partitions, the 100 TB shape.

    EXACT-DUP COLLAPSE prestage (r14, closing the 0.49 5× exponent): on a
    clone-heavy corpus (re-crawls; the 5× key-shifted rehearsal corpus IS
    one) identical texts multiply every band bucket by the clone factor —
    band-pair work grows quadratically in it, and worse, a true-dup
    bucket inflated past LSH_BUCKET_CAP gets DROPPED, silently losing
    real pairs. One rep per distinct text goes through the LSH (band
    rows constant in the clone factor); rep pairs expand to member cross
    pairs and clone groups emit their C(m,2) intra pairs at dist 0 —
    exactly the oracle's all-pairs semantics for identical shingle sets.
    Same gated shape as dedup_ngram_jaccard's collapse path (struct rep
    key, r14 dup-id-safe); on duplicate-free corpora (every sf corpus)
    the probe keeps the r13 single-pass plan unchanged.
    """
    from engine.tables import all_rows_distinct, swap_persist

    d = load(spark, sf_dir, "documents")
    path = f"{sf_dir}/documents.parquet"
    # Gate: collapse only when texts DUPLICATE and ids are UNIQUE. Under
    # COLLIDING ids this key's oracle semantics are per-doc_id UNION of
    # the id's texts' shingle sets (its sh CTE is DISTINCT (doc_id, g)),
    # which the direct path's groupBy(doc_id) min-agg reproduces
    # naturally — a per-TEXT collapse would instead pair each colliding
    # id's texts separately (r14 dup-id sweep caught exactly this).
    if all_rows_distinct(spark, path, d, "text") or not all_rows_distinct(
        spark, path, d, "doc_id"
    ):
        return minhash_near_pairs(d).orderBy("a_id", "b_id")

    grp = swap_persist(
        spark,
        d.groupBy("text")
        .agg(
            F.min("doc_id").alias("mid"),
            F.sort_array(F.collect_list("doc_id")).alias("members"),
            F.count("*").alias("w"),
        )
        .select(
            F.struct(
                F.col("mid").alias("i"), F.xxhash64("text").alias("h")
            ).alias("doc_id"),
            "text",
            "members",
            "w",
        ),
        "minhash_grp",
    )
    reps = grp.select("doc_id", "text")
    rep_pairs = minhash_near_pairs(reps).select("a_id", "b_id", "jaccard_dist")
    ma = grp.select(
        F.col("doc_id").alias("a_id"), F.col("members").alias("members_a")
    )
    mb = grp.select(
        F.col("doc_id").alias("b_id"), F.col("members").alias("members_b")
    )
    cross = (
        rep_pairs.join(ma, "a_id")
        .join(mb, "b_id")
        .select("jaccard_dist", F.explode("members_a").alias("m"), "members_b")
        .select("jaccard_dist", "m", F.explode("members_b").alias("m2"))
        # m != m2: a colliding doc_id carrying two different texts would
        # otherwise emit a degenerate self-pair (dup-id axis)
        .filter(F.col("m") != F.col("m2"))
        .select(
            F.least("m", "m2").alias("a_id"),
            F.greatest("m", "m2").alias("b_id"),
            "jaccard_dist",
        )
    )
    # Intra pairs: identical texts are distance 0 — but only for docs
    # that SHINGLE (text IS NOT NULL): the oracle's hash-of-NULL is NULL
    # and its gram join drops those docs, while an empty/short text DOES
    # carry its whole-text gram and pairs (both sides agree).
    intra = (
        grp.filter((F.col("w") >= 2) & F.col("text").isNotNull())
        .select(F.explode("members").alias("m"), "members")
        .select("m", F.explode("members").alias("m2"))
        .filter(F.col("m") < F.col("m2"))
        .select(
            F.col("m").alias("a_id"),
            F.col("m2").alias("b_id"),
            F.lit(0.0).alias("jaccard_dist"),
        )
    )
    return cross.unionByName(intra).orderBy("a_id", "b_id")


# MinHash-LSH kernel parameters, shared by the one-shot pair kernel below
# and the persisted band index (engine.pipeline): 16 bands x r=2 over 32
# permutations mod p = 2^31-1 (so (a*h+b) % p never overflows int64), with
# band buckets larger than 50 docs dropped as non-discriminative. A stored
# index and a fresh signature pass MUST agree on all three or cross-side
# candidate joins silently miss pairs — hence module constants, not locals.

LSH_N_PERM = 32


LSH_P = 2147483647


LSH_BUCKET_CAP = 50


_LSH_PERMS = [
    (((i + 1) * 2654435761) % LSH_P, ((i + 1) * 2246822519) % LSH_P)
    for i in range(LSH_N_PERM)
]


def minhash_signatures(d: DataFrame) -> DataFrame:
    """One pass over a (doc_id, text, ...) relation producing everything
    LSH needs downstream: 32 minhash columns m0..m31 (band keys + Jaccard
    estimation) and the exact shingle hash-set ``hs`` (candidate
    verification). This is the only stage that touches ``text``; a caller
    holding this output (or its parquet persistence — the refresh index)
    never re-shingles."""
    from engine.vectors import spread_cpu

    # Shingles are hashed INSIDE the transform (h0 = xxhash64 of the 5-gram)
    # so only int64s are deduped/exploded/shuffled — the strings never leave
    # the lambda; int64 set ops in the exact-Jaccard verify step are ~10x
    # cheaper than 5-char string arrays (measured 37 s -> ~5 s at sf0.1).
    # spread_cpu parallelizes past the 1-split scan; explode_nonempty keeps
    # the transform from being duplicated into a pushed-down size()>0 filter.
    # NULL text gets an EMPTY shingle set: Spark's xxhash64(NULL) returns
    # the seed constant (not NULL), so without the guard every NULL doc
    # shares one shingle and they all pair as near-dups — where the
    # oracles' hash-of-NULL is NULL and the gram equi-join drops them
    # (r12 NULL-text hardening).
    # chs (the per-char array) is BOUND in its own projection and shingles
    # are rebuilt from O(1) ELEMENT access (r13 long-doc fix):
    # substring(text, i, 5) scans from the string start every call (no
    # O(1) char offsets on UTF8String), and slice(chs, i, 5) inside the
    # lambda runs interpreted and copies the whole array per shingle —
    # both O(len²) per doc, which made ONE 1M-char doc hang the whole key.
    # concat of the 5 chars rebuilds the identical shingle string (same
    # xxhash64 input); a sub-5-char doc hashes the whole text, exactly the
    # old substring(text, 1, 5) behavior, and keeps the indices in bounds
    # for ANSI GetArrayItem.
    sh0 = (
        spread_cpu(d)
        .select("doc_id", "text", F.split("text", "").alias("chs"))
        .select(
            "doc_id",
            F.expr(
                "CASE WHEN text IS NULL THEN cast(array() as array<bigint>)"
                " WHEN length(text) < 5 THEN array(xxhash64(text))"
                " ELSE array_distinct(transform(sequence(1, length(text) - 4),"
                " i -> xxhash64(concat(chs[i-1], chs[i], chs[i+1], chs[i+2], chs[i+3])))) END"
            ).alias("hs0"),
        )
    )
    # h: h0 folded into [0, p) so the permutations (a*h+b) % p never
    # overflow int64.
    ex = explode_nonempty(sh0, "hs0", "h0").withColumn(
        "h", F.pmod(F.col("h0"), F.lit(LSH_P))
    )
    # One shuffle produces BOTH the 32 minhashes and the doc's exact shingle
    # hash-set (for candidate verification) — no second pass over the text.
    return ex.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(LSH_P)).alias(f"m{i}")
            for i, (a, b) in enumerate(_LSH_PERMS)
        ],
        F.collect_set("h0").alias("hs"),
    )


def lsh_band_rows(sig: DataFrame) -> DataFrame:
    """(doc_id, band, k1, k2) band-key rows from a minhash_signatures
    output — band i's bucket key is the adjacent minhash pair
    (m_{2i}, m_{2i+1}); r=2 keys are what keep shared-vocabulary corpora
    from collapsing into mega-buckets (see dedup_near_minhash)."""
    bands = F.array(
        *[
            F.struct(
                F.col(f"m{2 * i}").alias("k1"), F.col(f"m{2 * i + 1}").alias("k2")
            )
            for i in range(LSH_N_PERM // 2)
        ]
    )
    return sig.select("doc_id", F.posexplode(bands).alias("band", "bk")).select(
        "doc_id", "band", F.col("bk.k1").alias("k1"), F.col("bk.k2").alias("k2")
    )


def lsh_self_candidates(band_rows: DataFrame, *, pre_capped: bool = False) -> DataFrame:
    """Distinct within-corpus candidate pairs (a_id, b_id) from a
    (doc_id, band, k1, k2) band-row relation in ONE partitioned pass
    (r15, guide §2.3/§2.4): groupBy (band, k1, k2) collects each bucket's
    members, the bucket cap filters on the collected size (== the old
    window count), and in-bucket pairs come from an array-combinations
    expression — replacing the window-count cap + band self-join chain,
    whose plan paid an extra Sort+Window pass per join side plus a
    BroadcastExchange (a driver round-trip) to build the join's
    hash relation. A capped bucket holds ≤ LSH_BUCKET_CAP docs, so the
    combination expression emits ≤ C(cap,2)=1225 pairs per bucket — the
    same O(Σ min(|bucket|, cap)²) bound as the join form.

    Pair semantics are EXACTLY the old self-join's: rows with a NULL
    band key never pair (the equi-join dropped them; the isnotnull
    filter here mirrors the join's pushed predicate), and each unordered
    pair is emitted once, oriented by the SAME `<` comparison the join's
    `x.doc_id < y.doc_id` filter used (incomparable pairs — NULL
    comparison results — drop on both shapes). Cross-band duplicates are
    removed by the same final distinct. ``pre_capped=True`` skips the
    cap filter for inputs that are already capped band rows (the
    persisted refresh index path, where the stored relation has the cap
    applied at write time)."""
    rows = band_rows.filter(F.col("k1").isNotNull() & F.col("k2").isNotNull())
    buckets = rows.groupBy("band", "k1", "k2").agg(
        F.collect_list("doc_id").alias("ms")
    )
    if not pre_capped:
        buckets = buckets.filter(F.size("ms") <= LSH_BUCKET_CAP)
    pair = (
        "CASE WHEN u < v THEN struct(u AS a, v AS b)"
        " WHEN v < u THEN struct(v AS a, u AS b) END"
    )
    combos = (
        "flatten(transform(ms, (u, i) ->"
        f" filter(transform(slice(ms, i + 2, size(ms)), v -> {pair}),"
        " p -> p IS NOT NULL)))"
    )
    return (
        buckets.filter(F.size("ms") >= 2)
        .select(F.explode(F.expr(combos)).alias("p"))
        .select(F.col("p.a").alias("a_id"), F.col("p.b").alias("b_id"))
        .distinct()
    )


def verify_near_pairs(
    cand: DataFrame, sig_a: DataFrame, sig_b: DataFrame, detail: bool = False
) -> DataFrame:
    """Two-stage exact verification of LSH candidate pairs (a_id, b_id),
    reading each side's minhash columns + shingle set from sig_a / sig_b
    (minhash_signatures outputs — possibly one live and one loaded from a
    stored index). Returns (a_id, b_id, jaccard_dist <= 0.6), dist
    rounded to 4.

    Two-stage rationale (r03: 212k candidates for 256 true pairs at sf0.1
    made the exact array_intersect over ~1000-element shingle sets the
    cost center — ~2e8 element ops + the arrays shipped through two
    joins). Stage 1 estimates Jaccard from the 32 minhash columns already
    computed (matching-minhash fraction; 32 small ints per side, not the
    sets) and keeps est >= 0.2 — 2.3σ below the 0.4 target threshold
    (binomial σ = √(.4·.6/32) ≈ 0.087), so a true threshold pair is
    dropped with p ≈ 0.4% and the corpus's actual near-dups (sim ≥ 0.83)
    never are. Stage 2 runs the exact set intersection on the few
    survivors only.

    Any extra columns on ``cand`` beyond (a_id, b_id) ride through to the
    output — the refresh index tags candidates by gate and verifies both gates'
    candidates in ONE tree.

    ``detail=True`` additionally returns the exact per-pair evidence the
    verify stage computes anyway — (n_inter, n_a, n_b) shingle-set
    intersection and sizes — so audit consumers (dedup_pair_explain) can
    derive containment WITHOUT re-joining the heavy ``hs`` relation:
    those joins shuffle+sort every doc's hash set at honest size stats
    (measured +0.4 s at sf0.1, a heavy-side shuffle at scale), while
    these three ints are free here. Default False keeps the schema every
    existing consumer pins."""
    extra = [c for c in cand.columns if c not in ("a_id", "b_id")]
    est_cols = [f"m{i}" for i in range(LSH_N_PERM)]
    ma = sig_a.select(
        F.col("doc_id").alias("a_id"), *[F.col(m).alias(f"a_{m}") for m in est_cols]
    )
    mb = sig_b.select(
        F.col("doc_id").alias("b_id"), *[F.col(m).alias(f"b_{m}") for m in est_cols]
    )
    n_match = sum(
        F.when(F.col(f"a_{m}") == F.col(f"b_{m}"), 1).otherwise(0) for m in est_cols
    )
    pre = (
        cand.join(ma, "a_id")
        .join(mb, "b_id")
        .filter(n_match >= int(0.2 * LSH_N_PERM))
        .select("a_id", "b_id", *extra)
    )
    a = sig_a.select(F.col("doc_id").alias("a_id"), F.col("hs").alias("sa"))
    b = sig_b.select(F.col("doc_id").alias("b_id"), F.col("hs").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    dist = 1 - inter.cast("double") / (F.size("sa") + F.size("sb") - inter)
    detail_cols = (
        [
            inter.alias("n_inter"),
            F.size("sa").alias("n_a"),
            F.size("sb").alias("n_b"),
        ]
        if detail
        else []
    )
    return (
        pre.join(a, "a_id")
        .join(b, "b_id")
        .filter(dist <= 0.6)
        .select(
            "a_id",
            "b_id",
            F.round(dist, 4).alias("jaccard_dist"),
            *detail_cols,
            *extra,
        )
    )


def minhash_near_pairs(d: DataFrame, detail: bool = False) -> DataFrame:
    """The MinHash-LSH near-duplicate pair kernel behind dedup_near_minhash,
    factored over an arbitrary (doc_id, text, ...) relation so composed
    pipelines (pipeline_dedup_cascade) can run it on an intermediate stage's
    survivors instead of the raw documents table. Returns unordered
    (a_id, b_id, jaccard_dist<=0.6) with dist rounded to 4; ``detail=True``
    appends the verify stage's exact (n_inter, n_a, n_b) — see
    verify_near_pairs. Full design rationale + measured numbers:
    dedup_near_minhash's docstring above."""
    # Three consumers read the signature subtree (band self-join x/y + the
    # two verify-side joins); without a persist the shingle explode + 32-min
    # agg — the expensive part — executes once PER consumer. MEMORY_AND_DISK,
    # sized O(docs x (32 ints + shingle set)): ~80 MB at sf0.1, spills past
    # memory rather than failing at cluster scale. The cached copy is never
    # explicitly unpersisted — deliberate: the registry's plan memoization
    # builds this plan at most once per (session, sf_dir), so the session
    # holds ≤ one ~80 MB entry per sf_dir (bench + tests: 2), and repeat
    # invocations REUSE it (that is where the warm-run speedup comes from);
    # an unpersist-after-materialize would re-run the explode every call.
    from pyspark import StorageLevel

    mins = minhash_signatures(d).persist(StorageLevel.MEMORY_AND_DISK)
    # r15: candidate generation is one grouped pass over the raw band rows
    # (cap applied on the collected bucket size — identical semantics to
    # capped_lsh_band_rows + self-join; see lsh_self_candidates).
    cand = lsh_self_candidates(lsh_band_rows(mins))
    return verify_near_pairs(cand, mins, mins, detail=detail)


# --- shared expression builders (Spark side) --------------------------------

# polynomial string hash: fold chars as (acc*131 + ascii(char)) mod (2^31-1);
# products stay < 2^39, no overflow in int64 on either engine.

_POLY = "(acc * 131 + c) % 2147483647"


def _tok_hash_expr(col: str) -> str:
    """Spark SQL expr hashing a token string column. Folds over
    split(col, '') — a char array built ONCE — instead of per-index
    substring(col, j, 1), which scans from the string start every call
    (UTF8String has no O(1) char offsets), i.e. O(len²) on a long token
    (r13 long-doc fix). Empty token: split('','') = [''] and ascii('') =
    0, so the fold yields 0 — identical to the old sequence(1, 0) path
    and the oracles' list_reduce over range(1, 1) = []."""
    return (
        f"aggregate(transform(split({col}, ''), c -> ascii(c)), "
        f"cast(0 as bigint), (acc, c) -> {_POLY})"
    )


def word_ngram_ids(d: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, s: array<bigint>) — distinct word-n-gram ids per doc, as
    xxhash64 of the space-joined gram. Set ops and join keys on int64 are
    ~10x cheaper than on gram strings (the strings only exist inside the
    lambda); collision probability over a corpus-wide gram vocabulary is
    ~|V|²/2⁶⁴ — negligible against any similarity threshold."""
    # CASE guard, not greatest(): sequence(1, 0) infers step -1 and yields
    # [1, 0], whose i=0 entry makes slice() throw — a sub-n-gram doc
    # (empty/short text) must produce an EMPTY gram set, matching the
    # oracles' range(1, 0) = [] and their NULL 0/0 exclusion (r12 fix,
    # caught by the subset-dup collapse test).
    # toks is BOUND in its own projection and grams are built from O(1)
    # ELEMENT access (r13 long-doc fix): an inline split(text) inside the
    # lambda re-tokenizes the document per gram, and even over a bound
    # array, slice() inside a lambda runs interpreted (no whole-stage
    # codegen in higher-order functions) and copies the WHOLE array per
    # call — both are O(tokens²) per doc (probe: 2k/8k/32k chars →
    # 0.9/3.3/41 s for slice vs flat 0.2-0.4 s for arr[i]). Indices are
    # provably in bounds under the size guard, so ANSI GetArrayItem never
    # throws.
    gram = ", ".join(f"toks[i + {j - 1}]" for j in range(n))
    expr = (
        f"CASE WHEN size(toks) < {n} THEN cast(array() as array<bigint>)"
        f" ELSE array_distinct(transform(sequence(1, size(toks)-{n - 1}),"
        f" i -> xxhash64(concat_ws(' ', {gram})))) END"
    )
    return (
        spread_cpu(d)
        .select("doc_id", F.split("text", " ").alias("toks"))
        .select("doc_id", F.expr(expr).alias("s"))
    )


def explode_nonempty(df: DataFrame, arr: str, out: str) -> DataFrame:
    """explode() that does NOT re-evaluate the array expression: plain
    explode(outer=false) implies a `size(arr) > 0` filter that Catalyst
    pushes into the scan, duplicating the (expensive) array computation in
    the plan; explode_outer emits one null row instead, filtered after."""
    return df.select(*[c for c in df.columns if c != arr], F.explode_outer(arr).alias(out)).filter(
        F.col(out).isNotNull()
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

@query(
    "dedup_simhash",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             list_reduce(list_prepend(0::BIGINT,
               list_transform(range(1, length(token) + 1),
                 j -> ascii(substr(token, j, 1)))),
               (acc, c) -> (acc * 131 + c) % 2147483647) AS h
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)),
    bits AS (
      SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM tok, unnest(range(0, 32)) AS u(j) GROUP BY 1, 2)
    SELECT doc_id,
           sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document over frequency-weighted token hashes:
    bit j of the signature is the sign of Σ_tokens (±1 by bit j of the token
    hash). Near-duplicate docs land within small Hamming distance
    (tests/test_textops.py); banding the signature turns pair search into an
    equi-join, same as MinHash-LSH.

    Two hash aggregations keyed (doc, bit) then (doc) — the 32× bit expansion
    happens map-side and collapses immediately; linear in corpus size."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).select("doc_id", F.expr(_tok_hash_expr("token")).alias("h"))
    bits = (
        tok.select("doc_id", "h", F.explode(F.expr("sequence(0, 31)")).alias("j"))
        .groupBy("doc_id", "j")
        .agg(F.sum(F.expr("CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END")).alias("s"))
    )
    return bits.groupBy("doc_id").agg(
        F.sum(F.expr("CASE WHEN s > 0 THEN shiftleft(cast(1 as bigint), j) ELSE 0 END"))
        .alias("simhash")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (inverted-index candidate join)
# ---------------------------------------------------------------------------

@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH tok AS MATERIALIZED (
      -- MATERIALIZED: bind the split array ONCE per row (r14, mirroring
      -- the engine's r13 bound-array fix) — string_split inside the
      -- lambda re-splits per element, O(tokens²) per doc
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
      SELECT doc_id, list_distinct(list_transform(
               range(1, greatest(len(w) - 2, 0) + 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      FROM tok),
    inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
    cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
             FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id)
    SELECT a_id, b_id,
           round(len(list_intersect(x.s, y.s))::DOUBLE
                 / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))), 4) AS jaccard
    FROM cand JOIN sh x ON x.doc_id = a_id JOIN sh y ON y.doc_id = b_id
    WHERE len(list_intersect(x.s, y.s))::DOUBLE
          / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (≥ 0.2) via the
    count-aggregated inverted-index join (r02 shape): the gram equi-join
    emits one row per (pair, shared gram); a single groupBy(a,b).count()
    IS the intersection size |A∩B| (grams are per-doc distinct), so Jaccard
    falls out of c/(|A|+|B|−c) with two broadcast size joins. This replaces
    the old distinct-pairs shuffle PLUS the array_intersect re-verify join
    (which re-shuffled every candidate with both full shingle arrays) —
    lossless, same rows, ~3× faster at sf0.1 (16.5 s → ~5 s warm).

    100 TB: map-side partial aggregation collapses the (pair, gram) stream
    before the shuffle, so shuffle volume is O(distinct candidate pairs),
    not O(shared-gram occurrences); hot-gram blow-up is bounded the same way
    as dedup_near_minhash (df-cap) when the threshold allows it.

    r02 plan fixes (19 s → ~2 s warm at sf0.1): grams are int64 xxhash64 ids
    (word_ngram_ids), the shingling stage is parallelized past the 1-split
    scan (spread_cpu), and the explode no longer duplicates the transform
    into a pushed-down size()>0 scan filter (explode_nonempty).

    r11 exact-dup collapse (fourth of the family: rp_lsh r07, IVF r09,
    semdedup r11): the gram equi-join emits Σ_g f_g² rows, so a clone
    corpus multiplies join output by clone², — the r11 100× rehearsal's
    first warm run was still grinding that join after 12 minutes (vs
    ~1 s at 1×; 5× had read exponent 0.86). One probe (footer rows vs
    countDistinct(xxhash64(text)); a collision only UNDER-counts, which
    routes to the collapse path whose grouping key is the full text)
    decides: with dups the kernel runs once per DISTINCT text — identical
    text ⇒ identical gram set ⇒ identical candidate membership and
    Jaccard — then rep pairs expand to all cross member pairs
    (least/greatest keeps the a<b orientation, Jaccard rides along
    unchanged) and intra-group pairs emit jaccard 1.0 directly (identical
    sets; guarded on a non-empty gram set, matching the oracle's NULL
    0/0 exclusion of gramless docs). Dup-free corpora take the original
    path bit-identically at the cost of the one probe job."""
    from engine.tables import all_rows_distinct, swap_persist

    d = load(spark, sf_dir, "documents")
    path = f"{sf_dir}/documents.parquet"
    # The direct kernel keys its inverted index on doc_id, which merges a
    # COLLIDING id's two different texts into one garbage gram multiset
    # (r14 dup-id axis) — it requires BOTH distinct texts and unique ids.
    # The collapse path below is the general form: it operates per
    # distinct TEXT and expands to member rows, which reproduces the
    # oracle's per-row-combination fan under colliding ids too.
    if all_rows_distinct(spark, path, d, "text") and all_rows_distinct(
        spark, path, d, "doc_id"
    ):
        return _ngram_jaccard_kernel(d)

    # Collapse path: rep pairs feed two member joins and the intra branch
    # reads grp again — persist via the shared swap. The rep key is
    # struct(min member id, xxhash64(text)) — min id ALONE collides when
    # one doc_id carries two different texts whose groups both bottom out
    # at that id (r14); the text-hash disambiguates (same negligible-
    # collision rationale as word_ngram_ids' int64 gram ids, and a
    # collision needs BOTH the same min id and the same 64-bit hash).
    grp = swap_persist(
        spark,
        d.groupBy("text")
        .agg(
            F.min("doc_id").alias("mid"),
            F.sort_array(F.collect_list("doc_id")).alias("members"),
            F.count("*").alias("w"),
        )
        .select(
            F.struct(
                F.col("mid").alias("i"), F.xxhash64("text").alias("h")
            ).alias("doc_id"),
            "text",
            "members",
            "w",
        ),
        "ngram_grp",
    )
    reps = grp.select("doc_id", "text")
    # persisted BEFORE the kernel: the intra branch's nn join below would
    # otherwise push an inferred isnotnull filter into the gram projection
    # and re-inline split(text) per lambda element (see kernel docstring).
    # Via swap_persist (r14 ADVICE): per-tag eviction on re-invocation,
    # and the kernel skips its own persist for a caller-provided sh, so
    # the relation is no longer persisted twice.
    sh_reps = swap_persist(spark, word_ngram_ids(reps, 3), "ngram_reps_sh")
    rep_pairs = _ngram_jaccard_kernel(reps, sh=sh_reps)
    ma = grp.select(F.col("doc_id").alias("a_id"), F.col("members").alias("members_a"))
    mb = grp.select(F.col("doc_id").alias("b_id"), F.col("members").alias("members_b"))
    cross = (
        rep_pairs.join(ma, "a_id")
        .join(mb, "b_id")
        .select("jaccard", F.explode("members_a").alias("m"), "members_b")
        .select("jaccard", "m", F.explode("members_b").alias("m2"))
        # m != m2: two DIFFERENT texts sharing a colliding doc_id would
        # otherwise emit a degenerate (id, id) self-pair the oracle's
        # a_id < b_id excludes (r14 dup-id axis); disjoint member sets on
        # unique-id corpora make this a no-op there
        .filter(F.col("m") != F.col("m2"))
        .select(
            F.least("m", "m2").alias("a_id"),
            F.greatest("m", "m2").alias("b_id"),
            "jaccard",
        )
    )
    nn = sh_reps.select("doc_id", F.size("s").alias("n"))
    intra = (
        grp.join(nn, "doc_id")
        .filter((F.col("w") >= 2) & (F.col("n") > 0))
        .select(F.explode("members").alias("m"), "members")
        .select("m", F.explode("members").alias("m2"))
        .filter(F.col("m") < F.col("m2"))
        .select(
            F.col("m").alias("a_id"),
            F.col("m2").alias("b_id"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(intra)


_NGRAM_JAC_T = 0.2  # the kernel's Jaccard threshold (oracle-pinned)


# Grams appearing in more documents than this take the HOT path (r14
# boilerplate defense). On every swept corpus the max gram df is ~25, so
# the cap never engages there and the plan is byte-identical to r13's;
# the hot-shingle rehearsal corpus (90% of docs share a header) hits
# df = 0.9n and would otherwise generate O(0.81 n² · H) candidate rows.

_NGRAM_DF_CAP = 1000


# Loud guard, not a silent fallback: this many DISTINCT hot grams means
# the corpus is not "boilerplate among content" but wholesale clone soup
# — the right tool is the exact-dup collapse prestage / MinHash, and the
# kernel refuses rather than silently running the quadratic join.

_NGRAM_HOT_MAX = 100_000


# Tiny-doc branch bound (see proof in the kernel): if more than this many
# docs are small enough to pass the threshold on hot grams alone, fall
# back to the exact full join (correct, pre-r14 shape) with a warning.

_NGRAM_TINY_MAX = 200_000


def _ngram_jaccard_kernel(d: DataFrame, sh: DataFrame | None = None) -> DataFrame:
    """The count-aggregated inverted-index Jaccard join over a documents
    relation (see dedup_ngram_jaccard) — extracted r11 so the collapse
    path can run it over representatives with an identical plan. Pass a
    precomputed `sh` (word_ngram_ids output) to share the shingle
    subtree with other consumers.

    sh is PERSISTED here when the kernel builds it (r13 long-doc fix): it
    feeds four join inputs (inv×2, sizes×2), and joins make
    InferFiltersFromConstraints push an inferred isnotnull(size(grams))
    filter BELOW the defining projection — alias substitution re-inlines
    split(text) INTO the gram lambda, resurrecting the O(tokens²) per-doc
    shape no projection binding can prevent. The materialization barrier
    stops pushdown/inlining AND the 4× recompute; same persist rationale
    as minhash_near_pairs' mins. Routed through swap_persist (r14
    ADVICE): per-tag eviction on re-invocation, no accumulation across a
    sweep; a caller-provided sh arrives already persisted by the caller
    and is NOT re-persisted here.

    Pair counts come from exact_gram_pair_counts below — the r14
    hot-gram (boilerplate) defense lives there; this kernel only applies
    the Jaccard threshold algebra (tiny_k = (1+t)/t = 6 at t = 0.2)."""
    if sh is None:
        from engine.tables import swap_persist

        sh = swap_persist(d.sparkSession, word_ngram_ids(d, 3), "ngram_kernel_sh")
    sizes = sh.select("doc_id", F.size("s").alias("n"))
    # tiny bound k = (1+t)/t = 6 at t = 0.2: a pair sharing NO light gram
    # needs c = ch and jac >= t, forcing na+nb <= c(1+t)/t <= 6·min(Ha,Hb)
    co = exact_gram_pair_counts(sh, tiny_k=6, who="_ngram_jaccard_kernel")
    x = sizes.select(F.col("doc_id").alias("a_id"), F.col("n").alias("na"))
    y = sizes.select(F.col("doc_id").alias("b_id"), F.col("n").alias("nb"))
    jac = F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))
    # no broadcast hint: sizes is O(docs) — tiny here, executor-sized at
    # 100 TB; Catalyst picks broadcast when stats allow, shuffle otherwise
    return (
        co.join(x, "a_id")
        .join(y, "b_id")
        .filter(jac >= _NGRAM_JAC_T)
        .select("a_id", "b_id", F.round(jac, 4).alias("jaccard"))
    )


def exact_gram_pair_counts(
    sh: DataFrame, tiny_k: int, who: str = "gram-pair kernel"
) -> DataFrame:
    """EXACT unordered shared-gram counts (a_id, b_id, c), a_id < b_id,
    with the r14 hot-gram (boilerplate) defense — shared by
    _ngram_jaccard_kernel and text_containment.

    Contract: emits exact c for (1) every pair sharing >= 1 LIGHT gram
    (df <= _NGRAM_DF_CAP) and (2) every hot-gram-sharing pair where
    EITHER doc is tiny (n <= tiny_k · its own hot-gram count). Any pair
    it omits shares only hot grams between two non-tiny docs, so
    c <= min(Ha, Hb) while both sizes exceed tiny_k · hot-count — which
    the caller's threshold (whose algebra defines tiny_k) provably
    rejects. Thresholds: Jaccard >= t gives na+nb <= c(1+t)/t, so
    tiny_k = (1+t)/t and BOTH docs must be tiny (one-sided is a safe
    superset); containment c/na >= t gives na <= c/t <= Ha/t, so
    tiny_k = 1/t on the source side.

    Plan shape: the light join's volume is <= cap · Σdf (linear in the
    corpus for a fixed cap); light candidates are completed with
    ch = |hot(a) ∩ hot(b)| from per-doc hot arrays (<= H elements); the
    tiny branch joins tiny docs' hot rows against all hot rows and
    completes from full gram arrays. When no gram exceeds the cap —
    every swept corpus; max df there is ~25 — the plan is the plain
    inverted-index join, unchanged from r13."""
    inv = explode_nonempty(sh, "s", "g")
    sizes = sh.select("doc_id", F.size("s").alias("n"))
    hot = (
        inv.groupBy("g")
        .agg(F.count("*").alias("dfg"))
        .filter(F.col("dfg") > _NGRAM_DF_CAP)
    )
    n_hot = hot.count()  # one agg job over the persisted sh subtree
    if n_hot > _NGRAM_HOT_MAX:
        raise ValueError(
            f"{who}: {n_hot} grams exceed df cap {_NGRAM_DF_CAP} — this"
            " corpus is clone soup, not boilerplate over content; run the"
            " exact-dup collapse / MinHash family instead of the exact"
            " gram join."
        )

    def _pair_counts(rel):
        a = rel.select(F.col("doc_id").alias("a_id"), "g")
        b = rel.select(F.col("doc_id").alias("b_id"), "g")
        return (
            a.join(b, "g")
            .filter(F.col("a_id") < F.col("b_id"))
            .groupBy("a_id", "b_id")
            .agg(F.count("*").alias("c"))
        )

    if n_hot == 0:
        return _pair_counts(inv)

    hotg = F.broadcast(hot.select("g"))
    inv_h = inv.join(hotg, "g", "left_semi")
    hot_sets = inv_h.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("g")).alias("hg")
    )
    empty = F.expr("cast(array() as array<bigint>)")
    ha = hot_sets.select(F.col("doc_id").alias("a_id"), F.col("hg").alias("ha"))
    hb = hot_sets.select(F.col("doc_id").alias("b_id"), F.col("hg").alias("hb"))
    ch = F.size(
        F.array_intersect(F.coalesce("ha", empty), F.coalesce("hb", empty))
    )
    light = (
        _pair_counts(inv.join(hotg, "g", "left_anti"))
        .withColumnRenamed("c", "cl")
        .join(ha, "a_id", "left")
        .join(hb, "b_id", "left")
        .select("a_id", "b_id", (F.col("cl") + ch).alias("c"))
    )

    tiny_docs = (
        hot_sets.join(sizes, "doc_id")
        .filter(F.col("n") <= tiny_k * F.size("hg"))
        .select("doc_id")
    )
    n_tiny = tiny_docs.count()
    if n_tiny > _NGRAM_TINY_MAX:
        import warnings

        warnings.warn(
            f"{who}: {n_tiny} hot-dominated tiny docs — output is"
            " near-quadratic by construction; running the exact full join."
        )
        return _pair_counts(inv)
    at = inv_h.join(tiny_docs, "doc_id", "left_semi")
    # one-sided: tiny docs' hot rows against ALL hot rows, normalized to
    # a_id < b_id (a pair of two tiny docs appears from both sides —
    # the distinct collapses it)
    cand = (
        at.select(F.col("doc_id").alias("t_id"), "g")
        .join(inv_h.select(F.col("doc_id").alias("o_id"), "g"), "g")
        .filter(F.col("t_id") != F.col("o_id"))
        .select(
            F.least("t_id", "o_id").alias("a_id"),
            F.greatest("t_id", "o_id").alias("b_id"),
        )
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("a_id"), F.col("s").alias("sa"))
    sb = sh.select(F.col("doc_id").alias("b_id"), F.col("s").alias("sb"))
    tiny_pairs = (
        cand.join(light.select("a_id", "b_id"), ["a_id", "b_id"], "left_anti")
        .join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            "a_id", "b_id", F.size(F.array_intersect("sa", "sb")).alias("c")
        )
    )
    return light.unionByName(tiny_pairs)


_COS_THRESH = 0.4  # corpus max pair-sim is 0.51; 0.4 keeps a small stable set


@query(
    "dedup_embedding_cosine",
    # dim filter in a CTE, not a WHERE conjunct: DuckDB may evaluate the
    # list_dot_product conjunct before the dim check on the same filter,
    # crashing on mismatched lengths (r13 ragged hardening)
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE embedding IS NOT NULL
        AND len(embedding) = (SELECT len(embedding) FROM embeddings WHERE embedding IS NOT NULL GROUP BY 1 ORDER BY count(*) DESC, len(embedding) LIMIT 1)
    )
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= {_COS_THRESH}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ 0.4 (cosine ≡ dot on the
    L2-normalized corpus). Blocked BLAS matmul per Arrow batch against a
    broadcast matrix — same kernel as sim_topk_pairs but threshold-cut
    instead of top-k, so output size is data-dependent and exact.

    100 TB: swap the broadcast side for IVF buckets (sim_ann_ivf's layout)
    and run the identical block kernel per bucket. The broadcast side rides
    vectors._broadcast_side: pyarrow-direct (no collect job) and LOUDLY
    size-gated at ~1M vectors — past the gate the key refuses and points at
    the bucketed path rather than collecting unbounded data to the driver
    (round-1 verdict item 2).

    Kernel (r02, same select/refine split as sim_topk_pairs): one f32
    boolean pass finds candidates above thresh − 2e-4 (margin covers f32 dot
    error on unit vectors); exact f64 dots decide the REAL >= thresh cut on
    the small candidate set, so the published sims are full-precision."""
    import numpy as np
    import pyarrow as pa

    from engine.vectors import _side_broadcast
    from engine.tables import vectors

    emb = vectors(spark, sf_dir)
    bc, side_key = _side_broadcast(spark, sf_dir, emb)
    thresh = _COS_THRESH

    # Probe side = block index over the SAME gated ≤1M-row table (see
    # sim_topk_pairs r11 note): partitioning spark.range(width) drops the
    # second parquet scan and the spread_cpu exchange; each task slices its
    # probe block from the per-worker-cached f32 side.
    width = 8

    def block_pairs(batches):
        try:  # per-worker cache of the f32 side (see vectors._side_value)
            from engine.vectors import _side_value

            ids_all, m32 = _side_value(bc, side_key)
        except ImportError:
            ids_all, m32 = bc.value
        n = len(ids_all)
        for rb in batches:
            for blk in rb.column("id").to_pylist():
                lo = n * blk // width
                hi = n * (blk + 1) // width
                if lo >= hi:
                    continue
                a_ids = ids_all[lo:hi]
                a32 = m32[lo:hi]
                sims = a32 @ m32.T
                sims[a_ids[:, None] >= ids_all[None, :]] = -2.0  # a_id < b_id
                ai, bi = np.nonzero(sims >= thresh - 2e-4)
                # f32→f64 upcast is exact (source column is array<float>)
                exact = np.einsum(
                    "ij,ij->i",
                    a32[ai].astype(np.float64),
                    m32[bi].astype(np.float64),
                )
                keep = exact >= thresh
                ai, bi, exact = ai[keep], bi[keep], exact[keep]
                yield pa.RecordBatch.from_pydict(
                    {
                        "a_id": pa.array(a_ids[ai], pa.int64()),
                        "b_id": pa.array(ids_all[bi], pa.int64()),
                        "sim": pa.array(np.round(exact, 4), pa.float64()),
                    }
                )

    return spark.range(0, width, 1, width).mapInArrow(
        block_pairs, "a_id long, b_id long, sim double"
    )


@query(
    "dedup_semdedup",
    oracle=_KMEANS_CTES
    + """
    , pairs AS (
      SELECT x.vec_id AS a, y.vec_id AS b
      FROM a2 x JOIN a2 y ON x.cid = y.cid AND x.vec_id < y.vec_id
      JOIN emb ex ON ex.vec_id = x.vec_id
      JOIN emb ey ON ey.vec_id = y.vec_id
      WHERE list_dot_product(ex.x, ey.x) >= 0.4)
    SELECT b AS dropped_vec_id, min(a) AS keeper_vec_id,
           count(*) AS n_suppressors
    FROM pairs GROUP BY b
    """,
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023 shape): semantic near-duplicates found
    by clustering embeddings (the shared Lloyd step) and comparing pairs
    ONLY within a cluster — the cluster is the blocking structure that
    turns O(n²) into Σ_c |c|². A vector is dropped when a lower-id vector
    in its cluster has cosine ≥ 0.4; output = every dropped vector with
    its deterministic keeper (lowest suppressor id) and suppressor count.
    29–333 drops across the SFs — non-vacuous everywhere. Complements the
    lexical dedup family (minhash/simhash/ngram): this catches
    paraphrases with zero token overlap.

    100 TB: per-cluster self-join after one shuffle on cid — with k grown
    ~n/5000 (SemDeDup's regime) cluster sizes stay bounded, so candidate
    work is linear in n at fixed cluster size. Embeddings ride the
    shuffle (no broadcast matrix, no size gate — the same posture the r04
    verdict required of sim_ann_rp_lsh). The dot is the ordered JVM fold,
    so the τ comparison is bit-identical to the oracle's.

    r11 exact-dup collapse (third member of the family: rp_lsh r07, IVF
    r09): a clone corpus routes every duplicate into one cluster and the
    within-cluster pairwise stage explodes quadratically in clone count —
    the r11 100× rehearsal measured exponent 0.90 (2.9 s → 183 s) where
    25× had read 0.39. One dup probe (footer rows vs
    countDistinct(xxhash64(embedding)); a hash collision only
    UNDER-counts, which routes to the collapse path whose grouping key is
    the full array) decides: with dups the Lloyd step runs once per
    DISTINCT embedding via _rep_lloyd_assign (k/seeds/update from the
    full corpus — see its docstring for why that reproduces every
    member's assignment), the ≥τ test runs once per qualifying REP pair,
    and member-level output is recovered arithmetically: for dropped
    member b, n_suppressors = Σ over qualifying suppressor groups of
    |members < b| (an array filter, no join, no dots) and keeper = the
    smallest qualifying group-min below b (group mins are the reps).
    Dup-free corpora (every driver/test SF) take the original path
    bit-identically at the cost of the one probe job."""
    from engine.tables import all_rows_distinct, swap_persist

    from engine.tables import vectors as _vectors

    emb_raw = _vectors(spark, sf_dir)
    emb = emb_raw.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    if all_rows_distinct(
        spark, f"{sf_dir}/embeddings.parquet", emb_raw, "embedding"
    ):
        a2 = kmeans_assign(spark, sf_dir).select("vec_id", "cid")
        av = a2.join(emb, "vec_id")
        x = av.select(
            F.col("cid"), F.col("vec_id").alias("a"), F.col("x").alias("xa")
        )
        y = av.select(
            F.col("cid"), F.col("vec_id").alias("b"), F.col("x").alias("xb")
        )
        pairs = (
            x.join(y, "cid")
            .filter(F.col("a") < F.col("b"))
            .filter(_fold_dot(F.col("xa"), F.col("xb")) >= 0.4)
        )
        return pairs.groupBy(F.col("b").alias("dropped_vec_id")).agg(
            F.min("a").alias("keeper_vec_id"),
            F.count("*").alias("n_suppressors"),
        )

    # Collapse path. grp feeds the rep pipeline twice and the pair join
    # twice more — persist via the shared swap (at most one grp cached
    # per session).
    grp = swap_persist(
        spark,
        emb.groupBy("x").agg(
            F.min("vec_id").alias("vec_id"),
            F.sort_array(F.collect_list("vec_id")).alias("members"),
            F.count("*").alias("grp_n"),
        ),
        "semdedup_grp",
    )
    reps = grp.select("vec_id", "x", "grp_n")
    a2r = _rep_lloyd_assign(emb, reps).select("vec_id", "cid")
    g = a2r.join(grp, "vec_id")
    ga = g.select(
        "cid",
        F.col("vec_id").alias("gid_a"),
        F.col("x").alias("xa"),
        F.col("members").alias("members_a"),
    )
    gb = g.select(
        "cid",
        F.col("x").alias("xb"),
        F.col("members").alias("members_b"),
    )
    # Symmetric rep-pair join INCLUDING the self pair (ga == gb): a
    # group suppresses its own later members iff dot(x, x) ≥ τ, the
    # same test the oracle applies to each identical member pair.
    qual = ga.join(gb, "cid").filter(
        _fold_dot(F.col("xa"), F.col("xb")) >= 0.4
    )
    ex = qual.select("gid_a", "members_a", F.explode("members_b").alias("b"))
    cnt = F.size(
        F.filter("members_a", lambda m: m < F.col("b"))
    )
    return (
        ex.select(
            F.col("b"),
            cnt.alias("cnt"),
            F.when(F.col("gid_a") < F.col("b"), F.col("gid_a")).alias("kc"),
        )
        .groupBy(F.col("b").alias("dropped_vec_id"))
        .agg(
            F.min("kc").alias("keeper_vec_id"),
            F.sum("cnt").alias("n_suppressors"),
        )
        .filter(F.col("n_suppressors") >= 1)
        .select("dropped_vec_id", "keeper_vec_id", "n_suppressors")
    )


@query(
    "dedup_cross_source",
    oracle="""
    SELECT md5(array_to_string(string_split(text, ' ')[1:16], ' ')) AS fp,
           count(*) AS n_copies,
           count(DISTINCT source) AS n_sources,
           min(doc_id) AS keeper_doc_id
    FROM documents
    GROUP BY 1
    HAVING count(DISTINCT source) >= 2
    """,
)
def dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate groups: documents whose 16-token prefix
    fingerprint appears under ≥2 distinct sources — the cross-dump dedup
    pass (same page in two crawls) that exact whole-text hashing misses
    when boilerplate tails differ. Reports group size, source spread, and
    the deterministic keeper (lowest doc_id). 21 groups at sf0.01 —
    non-vacuous at every SF (exact whole-text duplicates are 0 in this
    corpus, which is why the prefix fingerprint is the right key).

    100 TB: one hash shuffle on the 16-token fingerprint (bytes-bounded
    key), count-distinct on source collapses map-side via partial
    distinct aggregation."""
    d = load(spark, sf_dir, "documents")
    # concat_ws SKIPS null args (md5('') for NULL text) where the oracle's
    # array_to_string(NULL) is NULL — null-propagate explicitly so NULL
    # texts group under fp NULL on both engines (r12 NULL-text hardening)
    fp = F.md5(
        F.when(
            F.col("text").isNull(), F.lit(None).cast("string")
        ).otherwise(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 16)))
    )
    return (
        d.groupBy(fp.alias("fp"))
        .agg(
            F.count("*").alias("n_copies"),
            F.countDistinct("source").alias("n_sources"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_sources") >= 2)
    )


@query(
    "dedup_paragraph_chunks",
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    c AS (SELECT doc_id,
                 md5(array_to_string(toks[(k-1)*10+1:k*10], ' ')) AS h
          FROM d, unnest(range(1, 1 + len(toks) // 10)) AS u(k)),
    dup AS (SELECT h FROM c GROUP BY h HAVING count(DISTINCT doc_id) > 1),
    per AS (SELECT c.doc_id,
                   count(*) AS n_chunks,
                   CAST(sum(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_dup
            FROM c LEFT JOIN dup ON c.h = dup.h
            GROUP BY c.doc_id)
    SELECT doc_id, n_chunks, n_dup,
           round(CAST(n_dup AS DOUBLE) / CAST(n_chunks AS DOUBLE), 4) AS dup_frac
    FROM per
    WHERE CAST(n_dup AS DOUBLE) / CAST(n_chunks AS DOUBLE) >= 0.3
    """,
)
def dedup_paragraph_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level duplication scoring (the RefinedWeb/Falcon pass):
    documents cut into non-overlapping 10-token chunks ("paragraphs" in
    this whitespace corpus), a chunk is duplicated if it occurs in more
    than one document, and documents whose duplicated-chunk fraction is
    ≥ 0.3 are flagged for removal. Complements text_containment (directed
    subset detection) and dedup_near_minhash (whole-doc similarity):
    chunk-level granularity catches stitched/boilerplate contamination
    that whole-doc measures dilute. 47 flagged docs at sf0.01.

    100 TB: chunking is a map-side array transform; duplication needs one
    shuffle on chunk hash; the flag join ships only duplicated hashes
    (a small fraction — broadcastable after the HAVING)."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    n_chunks = F.floor(F.size("toks") / 10).cast("int")
    chunks = d.select(
        "doc_id",
        F.explode(
            F.when(
                n_chunks >= 1,
                F.transform(
                    F.sequence(F.lit(1), n_chunks),
                    lambda k: F.md5(
                        F.concat_ws(" ", F.slice("toks", (k - 1) * 10 + 1, 10))
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("h"),
    )
    dup = (
        chunks.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("h", F.lit(1).alias("is_dup"))
    )
    per = (
        chunks.join(F.broadcast(dup), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("n_dup"),
        )
    )
    frac = F.col("n_dup").cast("double") / F.col("n_chunks").cast("double")
    return per.filter(frac >= 0.3).select(
        "doc_id", "n_chunks", "n_dup", F.round(frac, 4).alias("dup_frac")
    )


@query(
    "dedup_pair_explain",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 5) AS g
      FROM documents, UNNEST(range(1, greatest(length(text) - 4, 1) + 1)) AS t(i)
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a_id, b_id, i, sa.n AS na, sb.n AS nb
      FROM inter
      JOIN sz sa ON sa.doc_id = a_id
      JOIN sz sb ON sb.doc_id = b_id
      WHERE 1.0 - i / CAST(sa.n + sb.n - i AS DOUBLE) <= 0.6
    )
    SELECT p.a_id, p.b_id,
           round(1.0 - p.i / CAST(p.na + p.nb - p.i AS DOUBLE), 4)
             AS jaccard_dist,
           round(CAST(least(length(da.text), length(db.text)) AS DOUBLE)
                 / greatest(length(da.text), length(db.text)), 4) AS len_ratio,
           round(p.i / CAST(least(p.na, p.nb) AS DOUBLE), 4) AS containment,
           (substring(da.text, 1, 40) = substring(db.text, 1, 40))
             AS prefix40_equal
    FROM pairs p
    JOIN documents da ON da.doc_id = p.a_id
    JOIN documents db ON db.doc_id = p.b_id
    """,
)
def dedup_pair_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair explainability: every pair the MinHash kernel flags
    (dedup_near_minhash, shared kernel) joined back to its texts and
    annotated with the reviewer's evidence — exact shingle Jaccard
    distance, length ratio, shingle CONTAINMENT (intersection over the
    smaller set: high containment at moderate Jaccard = one doc embeds
    the other, a different dedup decision than two co-edited variants),
    and the 40-char shared-prefix marker this corpus's planted near-dups
    carry [DATA].

    Plan: the kernel's capped-bucket candidate generation bounds the
    pair set, and containment comes from the kernel's ``detail=True``
    columns — the EXACT (n_inter, n_a, n_b) its verify stage computes
    anyway — so this operator adds no join that touches a shingle set:
    the only additions are two hash joins against a (length, prefix40)
    projection of the corpus. (History: the first version re-shingled
    the corpus as string 5-grams — a second corpus-wide transform; the
    second reused the persisted ``hs`` sets but their honest in-memory
    size stats pushed the pair joins to sort-merge, shuffling every
    doc's hash set twice — measured +0.4 s at sf0.1 and a heavy-side
    shuffle at 100 TB. Pair-bounded arithmetic on already-computed ints
    beats both.) n_inter over xxhash64 sets equals the oracle's
    string-shingle arithmetic unless xxhash64 collides within a doc's
    ~1k-shingle set (≪1e-9; the kernel's jaccard_dist already relies on
    this). 100 TB: audit tables like this are the governance artifact
    dedup ships with — attrition manifests say HOW MANY
    (pipeline_dedup_cascade), this says WHY each."""
    d = load(spark, sf_dir, "documents")
    pairs = minhash_near_pairs(d.select("doc_id", "text"), detail=True)
    meta = d.select(
        "doc_id",
        F.length("text").alias("len"),
        F.substring("text", 1, 40).alias("p40"),
    )
    j = pairs.join(
        meta.select(
            F.col("doc_id").alias("a_id"),
            F.col("len").alias("la"),
            F.col("p40").alias("pa"),
        ),
        "a_id",
    ).join(
        meta.select(
            F.col("doc_id").alias("b_id"),
            F.col("len").alias("lb"),
            F.col("p40").alias("pb"),
        ),
        "b_id",
    )
    # EXACT intersection per pair — deriving i back from the ROUNDED
    # distance would carry up to (na+nb)*5e-5 ≈ 0.1 shingles of error,
    # enough to flip containment's 4-dp rounding.
    return j.select(
        "a_id",
        "b_id",
        "jaccard_dist",
        F.round(
            F.least("la", "lb").cast("double") / F.greatest("la", "lb"), 4
        ).alias("len_ratio"),
        F.round(
            F.col("n_inter").cast("double")
            / F.least("n_a", "n_b").cast("double"),
            4,
        ).alias("containment"),
        (F.col("pa") == F.col("pb")).alias("prefix40_equal"),
    )


@query(
    "dedup_exact_embedding",
    oracle="""
    WITH canon AS (
      SELECT vec_id, label,
             md5(array_to_string(
               list_transform(embedding,
                 x -> printf('%.6f', CAST(x AS DOUBLE))), ',')) AS vhash
      FROM embeddings
    ),
    grouped AS (
      SELECT vhash, min(vec_id) AS keeper, count(*) AS n_copies
      FROM canon GROUP BY vhash
    )
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST((SELECT count(*) FROM grouped) AS BIGINT) AS n_distinct,
           CAST((SELECT count(*) FROM grouped WHERE n_copies > 1) AS BIGINT)
             AS n_dup_groups,
           CAST((SELECT coalesce(sum(n_copies - 1), 0) FROM grouped)
                AS BIGINT) AS n_removable
    FROM canon
    """,
)
def dedup_exact_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate vectors: embeddings canonicalized through a fixed
    6-dp component rendering and hashed — identical vectors collapse to
    one keeper (min vec_id), and the audit reports corpus size, distinct
    count, duplicate-group count, and removable rows. The embedding-side
    sibling of dedup_exact: re-encoded or re-ingested shards produce
    byte-identical vectors long before they produce near-duplicates,
    and this O(n) hash pass removes them before any LSH work runs.

    The canonical rendering (not raw float bytes) is deliberate: it
    makes the hash portable across engines and storage float widths —
    float32 parquet and float64 compute agree at 6 dp. Plan: one
    row-local hash + one hash-keyed aggregate; at 100 TB this is the
    zeroth, cheapest stage of the dedup cascade (pipeline_dedup_cascade
    runs the same idea on text via md5)."""
    e = load(spark, sf_dir, "embeddings")
    vhash = F.md5(
        F.array_join(
            F.transform(
                F.col("embedding"),
                lambda x: F.format_string("%.6f", x.cast("double")),
            ),
            ",",
        )
    )
    canon = e.select("vec_id", vhash.alias("vhash"))
    grouped = canon.groupBy("vhash").agg(
        F.min("vec_id").alias("keeper"), F.count(F.lit(1)).alias("n_copies")
    )
    stats = grouped.agg(
        F.count(F.lit(1)).alias("n_distinct"),
        F.coalesce(F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_dup_groups"),
        F.coalesce(F.sum(F.col("n_copies") - 1), F.lit(0))
        .cast("long")
        .alias("n_removable"),
    )
    total = canon.agg(F.count(F.lit(1)).alias("n_vectors"))
    return total.crossJoin(F.broadcast(stats)).select(
        "n_vectors", "n_distinct", "n_dup_groups", "n_removable"
    )
