"""Text operators (``text_``, ``doc_`` keys): tokenization, n-grams,
TF-IDF and BM25, quality and language scoring, decontamination, packing
and chunking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.dedup import _POLY, word_ngram_ids
from engine.registry import query
from engine.tables import load
from engine.vectors import spread_cpu


@query(
    "text_containment",
    oracle="""
    WITH tok AS MATERIALIZED (
      -- MATERIALIZED: bind the split array ONCE per row (r14, mirroring
      -- the engine's r13 bound-array fix) — string_split referenced
      -- inside the list_transform lambda re-splits the whole text per
      -- element, O(tokens²) per doc, which is what kept the long-doc
      -- parity fixture capped at 5k tokens
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
      SELECT doc_id, list_distinct(list_transform(
               range(1, greatest(len(w) - 2, 0) + 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      FROM tok),
    inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
    co AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
           FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id <> b.doc_id
           GROUP BY a.doc_id, b.doc_id)
    SELECT a_id, b_id, round(c::DOUBLE / len(x.s), 4) AS containment
    FROM co JOIN sh x ON x.doc_id = a_id
    WHERE c::DOUBLE / len(x.s) >= 0.5
    """,
)
def text_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed 3-gram containment C(A→B) = |A∩B| / |A| ≥ 0.5: the near-dup
    measure for SUBSET duplication (a doc quoted inside a larger one), which
    symmetric Jaccard misses — |A∩B|/|A∪B| shrinks as B grows while |A∩B|/|A|
    stays at 1. Directed, so (a,b) and (b,a) carry different scores.

    Same count-aggregated inverted-index join as dedup_ngram_jaccard: the
    gram equi-join emits (pair, shared-gram) rows, one groupBy counts them
    into |A∩B| (grams per-doc distinct), one size join divides by |A|.

    100 TB: shuffle volume is O(candidate pairs) after map-side partial agg;
    hot grams get the df-cap treatment (dedup_near_minhash) when thresholds
    allow — a gram in f docs contributes f² pair rows, so capping f bounds
    the worst case without touching recall above the cap's support.

    r02 plan fixes (20 s → ~2 s warm at sf0.1): int64 gram ids, parallelized
    shingling, no duplicated transform in a pushed-down explode filter —
    see engine.dedup.word_ngram_ids / explode_nonempty."""
    d = load(spark, sf_dir, "documents")
    # persisted: sh feeds three join inputs, and the joins push inferred
    # isnotnull filters into the gram projection, re-inlining split(text)
    # per lambda element — O(tokens²) on a long doc (r13; see
    # _ngram_jaccard_kernel's docstring for the full mechanism). Routed
    # through swap_persist (r14 ADVICE) so each re-invocation evicts the
    # previous cached relation instead of accumulating across a sweep.
    from engine.tables import all_rows_distinct, swap_persist
    from engine.dedup import exact_gram_pair_counts

    def directed(sh, who):
        # shared-gram counts via the hot-gram-defended exact counter
        # (r14): unordered (u, v, c) expanded to both directions —
        # containment is directed but |A∩B| is symmetric. tiny_k = 1/t =
        # 2 at t = 0.5: a pair sharing no light gram needs
        # c = ch <= min(Ha, Hb), and c/na >= 0.5 forces na <= 2·Ha — the
        # source side is tiny, which the counter's one-sided tiny branch
        # covers.
        co = exact_gram_pair_counts(sh, tiny_k=2, who=who)
        both = co.unionByName(
            co.select(
                F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id"), "c"
            )
        )
        sizes = sh.select(
            F.col("doc_id").alias("a_id"), F.size("s").alias("na")
        )
        cont = F.col("c").cast("double") / F.col("na")
        return (
            both.join(sizes, "a_id")
            .filter(cont >= 0.5)
            .select("a_id", "b_id", F.round(cont, 4).alias("containment"))
        )

    path = f"{sf_dir}/documents.parquet"
    # Collapse gating (r14, mirroring dedup_near_minhash): clone-heavy
    # corpora (re-crawls) make the clone pairs quadratic THROUGH the gram
    # join; one rep per distinct text runs the join, and clone pairs are
    # generated by member expansion instead (intra pairs are containment
    # 1.0 both ways by definition). Colliding ids keep the direct path —
    # this key's oracle is per-row and the dup-id sweep pins the direct
    # shape there.
    if all_rows_distinct(spark, path, d, "text") or not all_rows_distinct(
        spark, path, d, "doc_id"
    ):
        sh = swap_persist(spark, word_ngram_ids(d, 3), "containment_sh")
        return directed(sh, "text_containment")

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
        "containment_grp",
    )
    reps = grp.select("doc_id", "text")
    sh_reps = swap_persist(
        spark, word_ngram_ids(reps, 3), "containment_reps_sh"
    )
    rep_cont = directed(sh_reps, "text_containment[collapse]")
    ma = grp.select(
        F.col("doc_id").alias("a_id"), F.col("members").alias("members_a")
    )
    mb = grp.select(
        F.col("doc_id").alias("b_id"), F.col("members").alias("members_b")
    )
    # DIRECTED expansion: the source group's members keep the source
    # role, so no least/greatest normalization
    cross = (
        rep_cont.join(ma, "a_id")
        .join(mb, "b_id")
        .select(
            "containment", F.explode("members_a").alias("m"), "members_b"
        )
        .select("containment", "m", F.explode("members_b").alias("m2"))
        .filter(F.col("m") != F.col("m2"))
        .select(
            F.col("m").alias("a_id"),
            F.col("m2").alias("b_id"),
            "containment",
        )
    )
    # Intra pairs: identical texts contain each other fully (1.0, both
    # directions) — but only when the gram set is non-empty: a sub-3-word
    # doc has c = na = 0 and the oracle's 0/0 division excludes it.
    nn = sh_reps.select("doc_id", F.size("s").alias("n"))
    intra = (
        grp.join(nn, "doc_id")
        .filter((F.col("w") >= 2) & (F.col("n") > 0))
        .select(F.explode("members").alias("m"), "members")
        .select("m", F.explode("members").alias("m2"))
        .filter(F.col("m") != F.col("m2"))
        .select(
            F.col("m").alias("a_id"),
            F.col("m2").alias("b_id"),
            F.lit(1.0).alias("containment"),
        )
    )
    return cross.unionByName(intra)


@query(
    "text_repetition_ratio",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                 FROM documents),
         tf  AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2)
    SELECT doc_id, sum(c)::BIGINT AS n_tokens, max(c)::BIGINT AS top_freq,
           round(max(c)::DOUBLE / sum(c), 6) AS rep_ratio
    FROM tf GROUP BY doc_id
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition score: frequency of the single most repeated token
    over total tokens — the cheap tier of the Gopher/C4 repetition filters
    (docs dominated by one token are boilerplate/spam). Two hash aggs, both
    keyed by doc_id, so the second is shuffle-FREE: partial counts collapse
    map-side and the (doc_id, token) grouping already co-locates every row
    of a doc.

    100 TB: linear; no joins; state per task is O(distinct tokens per
    partition). The same tf relation feeds text_vocab_coverage — at pipeline
    scale you'd materialize it once."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    tf = tok.groupBy("doc_id", "t").agg(F.count("*").alias("c"))
    return tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.max("c").alias("top_freq"),
        F.round(F.max("c").cast("double") / F.sum("c"), 6).alias("rep_ratio"),
    )


@query(
    "doc_length_histogram",
    oracle="""
    SELECT floor(log2(n_chars))::BIGINT AS len_bucket,
           count(*) AS n_docs,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars,
           round(avg(n_chars), 4) AS avg_chars
    FROM documents WHERE n_chars > 0
    GROUP BY 1 ORDER BY 1
    """,
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length profile: log2-bucketed doc-length histogram — the
    standard first look at a crawl dump (truncation spikes, boilerplate
    shelves, length-filter thresholds all show up as bucket anomalies).

    100 TB: reads ONE int column (ReadSchema prunes text itself), collapses
    to ~20 buckets map-side; this is the cheapest possible full-corpus scan
    and the template for any metadata-only profiling pass."""
    d = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    return (
        d.groupBy(F.floor(F.log2("n_chars")).alias("len_bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("len_bucket")
    )


@query(
    "text_vocab_coverage",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                 FROM documents),
         vocab AS (SELECT t FROM (SELECT t, count(*) AS c FROM tok
                                  GROUP BY t ORDER BY c DESC, t LIMIT 20)),
         hit AS (SELECT doc_id,
                        count(*) AS n_tokens,
                        sum(CASE WHEN t IN (SELECT t FROM vocab)
                                 THEN 1 ELSE 0 END)::BIGINT AS in_vocab
                 FROM tok GROUP BY doc_id)
    SELECT doc_id, n_tokens, in_vocab,
           round(in_vocab::DOUBLE / n_tokens, 6) AS coverage
    FROM hit
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc coverage by the corpus's top-20 vocabulary: the fraction of a
    doc's tokens that are corpus-frequent — low coverage flags outlier docs
    (wrong language, encoding garbage, code-in-text) for the cleaning queue.

    Two-phase: (1) global term counts -> top-20 (a map-side-collapsed agg +
    tiny sort), (2) re-tokenize with a broadcast membership check — a
    broadcast LEFT join, counted per doc. The token stream is never
    shuffled twice: phase 2's agg keys on doc_id only.

    100 TB: vocab is O(20) rows broadcast; both apexes are linear passes.
    The deliberate double tokenization trades recompute for never
    materializing the token stream — the standard choice when tokens
    outweigh the text 5:1."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    vocab = (
        tok.groupBy("t")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "t")
        .limit(20)
        .select("t", F.lit(1).alias("hit"))
    )
    cov = F.col("in_vocab").cast("double") / F.col("n_tokens")
    return (
        tok.join(F.broadcast(vocab), "t", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("bigint").alias("in_vocab"),
        )
        .select("doc_id", "n_tokens", "in_vocab", F.round(cov, 6).alias("coverage"))
    )


@query(
    "text_keyword_topterm",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         dfreq AS (SELECT token, count(DISTINCT doc_id) AS dfq FROM tok GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         scored AS (
           SELECT doc_id, token,
                  round(tf * ln(n_docs::DOUBLE / dfq::DOUBLE), 6) AS tfidf
           FROM tf JOIN dfreq USING (token) CROSS JOIN n)
    SELECT doc_id, token AS keyword, tfidf FROM (
      SELECT doc_id, token, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, token) AS rn
      FROM scored) WHERE rn = 1
    """,
)
def text_keyword_topterm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: each document's single highest-tf-idf term (the
    minimal useful auto-tagger, and the composition test that the tf-idf
    relation supports downstream per-doc argmax). Deterministic token
    tie-break.

    100 TB: tf and df are the same two aggregations text_tfidf runs (at
    pipeline scale, materialize the scored relation once and feed both);
    the argmax is WindowGroupLimit-able per doc — rn=1 state, no full
    per-doc sort materialization."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    tok = _tokens(d)
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("token").agg(F.count_distinct("doc_id").alias("dfq"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("dfq")), 6
            ).alias("tfidf"),
        )
    )
    # rn=1 over (tfidf DESC, token ASC) == argmin of (-tfidf, token):
    # min_by partial-aggregates map-side, replacing the window's shuffle +
    # per-doc sort of the full scored relation (r14, guide §2.3; same
    # rewrite as join_asof). A (tfidf, token) tie emits identical columns
    # either way.
    return (
        scored.groupBy("doc_id")
        .agg(
            F.min_by(
                F.struct("token", "tfidf"),
                F.struct((-F.col("tfidf")).alias("nt"), "token"),
            ).alias("k")
        )
        .select("doc_id", F.col("k.token").alias("keyword"), F.col("k.tfidf").alias("tfidf"))
    )


@query(
    "text_decontaminate",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    -- zip-unnest to (doc, pos, token) rows + 4 window leads (r14): the
    -- previous lateral over positions carried the WHOLE token list into
    -- every generated row — O(tokens²) bytes per doc (172 s on one
    -- 50k-token doc, and MATERIALIZED doesn't help because the copy IS
    -- the lateral's output) — where the unnest streams each token once
    -- and the leads rebuild the identical 5-token shingles
    tr AS (SELECT doc_id, unnest(t) AS w,
                  unnest(range(1, len(t) + 1)) AS i
           FROM tok),
    sh AS (SELECT doc_id,
                  w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win
                    || ' ' || lead(w, 3) OVER win || ' ' || lead(w, 4) OVER win
                    AS sh
           FROM tr WINDOW win AS (PARTITION BY doc_id ORDER BY i)
           QUALIFY lead(w, 4) OVER win IS NOT NULL),
    ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 11 = 0)
    SELECT s.doc_id, count(DISTINCT s.sh) AS n_shared
    FROM sh s JOIN ev USING (sh)
    WHERE s.doc_id % 11 <> 0
    GROUP BY 1
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: flag training docs sharing any 5-token
    shingle with a held-out eval set (docs with doc_id % 11 == 0 stand in
    for the benchmark suite). Output = contaminated doc → count of distinct
    shared shingles; dropping those rows from the corpus is the standard
    n-gram-overlap decontamination pass (GPT-3/PaLM-style window, shortened
    to 5 tokens because the synthetic corpus' 31-token vocabulary makes
    longer exact runs vanishingly rare — mod 11 / k=5 is the smallest
    setting that yields real hits at every SF: 7 / 6 / 222 contaminated
    docs at sf0.001/0.01/0.1, i.e. non-vacuous on all driver checks).

    Shape: per-doc shingle transform (zero shuffle) → explode → broadcast
    semi-style join against the DISTINCT eval shingles → one hash agg.
    100 TB: the eval set is fixed-size (benchmarks, not corpus-scale), so
    its distinct-shingle set always broadcasts; corpus-side work is one
    explode + one shuffle on doc_id for the count-distinct — linear, and
    the shingle strings can be xxhash64'd to int64 before the shuffle when
    the corpus vocabulary is real text (kept as strings here for the
    cross-engine oracle)."""
    d = load(spark, sf_dir, "documents")
    # t is BOUND in its own projection (r13 long-doc fix): an inline
    # split(text) referenced inside the transform lambda re-tokenizes the
    # document per shingle — O(tokens²) per doc on a long document.
    t = F.col("t")
    # sequence(1, n) with n < 1 would generate a DESCENDING range in Spark
    # (step defaults to -1), so gate short docs to an empty shingle array.
    n_sh = F.size(t) - 4
    # shingle tokens via O(1) element_at, not slice() — slice inside a
    # lambda runs interpreted and copies the whole token array per
    # shingle; i..i+4 are in bounds (1-based) under the n_sh >= 1 gate
    shingles = F.when(
        n_sh >= 1,
        F.transform(
            F.sequence(F.lit(1), n_sh),
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, i + j) for j in range(5)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = d.select("doc_id", F.split("text", " ").alias("t")).select(
        "doc_id", F.explode(shingles).alias("sh")
    )
    ev = sh.filter(F.col("doc_id") % 11 == 0).select("sh").distinct()
    return (
        sh.filter(F.col("doc_id") % 11 != 0)
        .join(F.broadcast(ev), "sh")
        .groupBy("doc_id")
        .agg(F.countDistinct("sh").alias("n_shared"))
    )


@query(
    "text_pack_sequences",
    oracle="""
    WITH t AS (SELECT doc_id, source,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
               FROM documents),
    w AS (SELECT doc_id, source, n_tokens,
                 -- ORDER BY doc_id, n_tokens: the n_tokens term keeps the
                 -- layout order TOTAL when a doc_id collides with two
                 -- different payloads in one source (r14 dup-id axis)
                 CAST(coalesce(sum(n_tokens) OVER (
                        PARTITION BY source ORDER BY doc_id, n_tokens
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS cum_before
          FROM t)
    SELECT doc_id, source, n_tokens,
           CAST(cum_before // 512 AS BIGINT) AS seq_id,
           CAST(cum_before % 512 AS BIGINT) AS offset_in_seq
    FROM w
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-context sequence packing (concat-and-chunk): docs are laid out
    in deterministic order within each source shard, and each doc gets the
    512-token training sequence id + offset where its first token lands —
    the standard packing bookkeeping a tokenizer/dataloader needs (docs may
    straddle a boundary; offset_in_seq is where the doc STARTS).

    100 TB (r12 rewrite, r13 quantile bounds): source cardinality is
    ~20, so a plain partitionBy(source) running-sum window serializes
    the corpus into ~20 single-threaded sorts — the same parallelism
    ceiling the r11 agg_weighted_percentile rehearsal measured at
    exponent 0.98. The cumsum instead uses agg_weighted_percentile's two-level
    range-bucket pattern: 64 doc_id buckets per source; a bucket-level
    cumsum over the ~20×64 partial sums (trivial window) yields each
    bucket's starting offset; the per-row window partitions by
    (source, bkt) — ~1280-way parallel — and adds the offset. r13: the
    bucket bounds are QUANTILE split points (percentile_approx over
    doc_id), not fixed-width [mn,mx]/64 — the r13 skew rehearsal showed
    the fixed grid collapsing 90% of a source's rows into ONE bucket
    when its doc_ids cluster in a dense band under one outlier id
    (max-task 4 → 4500 of 5001 at sf0.1); quantile buckets hold ~equal
    row counts for ANY id distribution. Bucket assignment (count of
    splits ≤ doc_id) is a pure monotone function of doc_id, so
    bucket-major + within-bucket doc_id order IS the per-source order,
    and n_tokens is integral, so every partial sum is exact regardless
    of association — cum_before is bit-identical to the
    single-partition window's (the sketch need not be deterministic:
    any monotone bucketing gives the same result, only load balance
    varies). The (doc_id, source, n_tokens, bkt) projection feeds both
    the bucket-sum agg and the final join: persist it (~40 B/row vs the
    ~KB text column) so tokenization — the hottest stage — runs once,
    not twice. The stats scan reads only (doc_id, source): Catalyst
    prunes the split(text) out of the quantile agg.

    NULL source (r13, ADVICE): the oracle's PARTITION BY keeps NULL as
    its own group, and groupBy produces a NULL-source stats row — but a
    plain equi-join on source would silently drop those rows. Both
    joins in the bucket rewrite are therefore eqNullSafe on source, so
    the NULL-source shard packs exactly like any other source shard."""
    from engine.tables import swap_persist

    d = load(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " ")).cast("long")
    t = d.select("doc_id", "source", n_tok.alias("n_tokens"))
    stats = t.groupBy("source").agg(
        F.percentile_approx(
            "doc_id", [i / 64.0 for i in range(1, 64)], 10000
        ).alias("splits")
    )
    bkt = F.aggregate(
        F.col("splits"),
        F.lit(0),
        lambda acc, s: acc + F.when(F.col("doc_id") >= s, 1).otherwise(0),
    )
    rows = swap_persist(
        spark,
        t.join(F.broadcast(stats), t["source"].eqNullSafe(stats["source"]))
        .drop(stats["source"])
        .select("doc_id", "source", "n_tokens", bkt.alias("bkt")),
        "pack_rows",
    )
    bo = Window.partitionBy("source").orderBy("bkt")
    boff = (
        rows.groupBy("source", "bkt")
        # coalesce: a bucket whose docs ALL have NULL token counts (NULL
        # texts) sums to NULL, which would poison every later bucket's
        # offset — the single-window oracle shape just skips NULLs (r12)
        .agg(F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("bw"))
        .select(
            "source",
            "bkt",
            (
                F.sum("bw").over(bo.rowsBetween(Window.unboundedPreceding, 0))
                - F.col("bw")
            ).alias("off"),
        )
    )
    # orderBy(doc_id, n_tokens): total even under colliding doc_ids with
    # different payloads (r14); bucket assignment is monotone in doc_id
    # alone, so a collided id's rows share a bucket and the within-bucket
    # tie-break fully determines the layout.
    w = (
        Window.partitionBy("source", "bkt")
        .orderBy("doc_id", "n_tokens")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = (
        F.col("off") + F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).cast("long")
    return (
        rows.join(
            F.broadcast(boff),
            rows["source"].eqNullSafe(boff["source"])
            & (rows["bkt"] == boff["bkt"]),
        )
        .drop(boff["source"])
        .drop(boff["bkt"])
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.floor(cum / 512).cast("long").alias("seq_id"),
            (cum % 512).cast("long").alias("offset_in_seq"),
        )
    )


CHUNK = 32  # tokens per chunk


STRIDE = 24  # tokens between chunk starts (CHUNK - STRIDE = 8 overlap)


@query(
    "text_chunk_overlap",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           CAST(s / {STRIDE} AS BIGINT) AS chunk_idx,
           CAST(len(list_slice(toks, s + 1, s + {CHUNK})) AS BIGINT) AS n_tokens,
           array_to_string(list_slice(toks, s + 1, s + {CHUNK}), ' ') AS chunk_text
    FROM t, unnest(generate_series(0, len(toks) - 1, {STRIDE})) AS u(s)
    """,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: 32-token chunks every 24 tokens
    (8-token overlap) — the context-window packing step of a pretraining
    pipeline. Pure array expressions (split/sequence/explode/slice): no
    Python, no shuffle — chunking is embarrassingly parallel and the explode
    fan-out (~n_tokens/stride per doc) happens inside whole-stage codegen.
    At 100 TB the only knob is output partition sizing: chunk fan-out
    multiplies bytes ~1.33x (overlap/stride), so repartition before a
    parquet sink to keep file sizes bounded."""
    # r13 long-doc fix: the old shape exploded chunk starts alongside the
    # full toks array, copying the whole token array into EVERY chunk row
    # (O(tokens × n_chunks) bytes on a long doc). The chunks are now built
    # as a per-doc struct array — total bytes ~1.33× the text — and only
    # the small (s, chunk) structs are exploded.
    # chunk elements via O(1) access, not slice() — slice inside a lambda
    # runs interpreted and copies the WHOLE token array per chunk
    chunks = F.expr(
        f"transform(sequence(0, size(toks) - 1, {STRIDE}),"
        f" s -> struct(s AS s,"
        f" transform(sequence(s, least(size(toks), s + {CHUNK}) - 1),"
        f" j -> toks[j]) AS c))"
    )
    df = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .select("doc_id", F.explode(chunks).alias("ch"))
    )
    return df.select(
        "doc_id",
        (F.col("ch.s") / STRIDE).cast("long").alias("chunk_idx"),
        F.size("ch.c").cast("long").alias("n_tokens"),
        F.array_join("ch.c", " ").alias("chunk_text"),
    )


@query(
    "text_normalize_stopwords",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '),
                         t -> NOT list_contains(['the', 'a', 'of', 'to', 'and'], t)
                              AND length(t) > 1) AS kept
      FROM documents)
    SELECT doc_id,
           CAST(len(kept) AS BIGINT) AS n_kept,
           array_to_string(kept, ' ') AS normalized
    FROM t
    """,
)
def text_normalize_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization: lowercase, drop stopwords and 1-char tokens,
    re-join. The filter lambda runs as a JVM higher-order function over the
    token array — one narrow projection, zero shuffle, fully codegen'd.
    The stopword list is inlined as a literal array; at scale a large list
    would become a broadcast join against an exploded token table instead
    (that variant is text_lang_id's shape)."""
    kept = F.expr(
        "filter(split(lower(text), ' '), "
        "t -> NOT array_contains(array('the', 'a', 'of', 'to', 'and'), t) "
        "AND length(t) > 1)"
    )
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(kept, " ").alias("normalized"),
    )


@query(
    "text_tfidf_cosine_docs",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents WHERE doc_id < 60),
    tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n FROM tf),
    w AS (SELECT doc_id, term, tf * ln((SELECT n FROM n) / df) AS w
          FROM tf JOIN df USING (term)),
    norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dot
      FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(dot / (na.nrm * nb.nrm), 4) AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = doc_a
    JOIN norms nb ON nb.doc_id = doc_b
    ORDER BY cosine DESC, doc_a, doc_b
    LIMIT 20
    """,
)
def text_tfidf_cosine_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-document similarity by tf-idf cosine over the sparse term
    space — the classic IR pairing, computed relationally: the dot product
    of two sparse vectors IS a join on term + sum of weight products, so no
    dense vectors ever materialize.

    Scale shape: tf and df are hash aggregates; the pair 'join on term' is
    an inverted index — each term contributes df² pair-partials, so at
    100 TB you cap or drop ultra-common terms first (df ceiling = stopword
    removal; here the corpus is small enough not to). One shuffle per CTE
    stage, all JVM-side."""
    tok = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 60)
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).cast("double").alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    n = tf.select("doc_id").distinct().count()  # scalar: one tiny agg, collected once
    w = tf.join(df, "term").select(
        "doc_id", "term", (F.col("tf") * F.log(F.lit(float(n)) / F.col("df"))).alias("w")
    )
    norms = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    a = w.select(F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 4).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "doc_a", "doc_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def _tokens(d: DataFrame) -> DataFrame:
    """explode(split) tokenization — corpus is space-separated lowercase."""
    return d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))


@query(
    "text_token_counts",
    oracle="""
    SELECT token, count(*) AS cnt FROM (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ) t GROUP BY token
    ORDER BY cnt DESC, token ASC LIMIT 20
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 token frequencies (count aliased cnt, alphabetical
    tie-break)."""
    d = load(spark, sf_dir, "documents")
    return (
        _tokens(d)
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(20)
    )


@query(
    "text_tfidf",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         dfreq AS (SELECT token, count(DISTINCT doc_id) AS dfq FROM tok GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, token, round(tf * ln(n_docs::DOUBLE / dfq::DOUBLE), 6) AS tfidf
    FROM tf JOIN dfreq USING (token) CROSS JOIN n
    ORDER BY tfidf DESC, doc_id, token LIMIT 100
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf per (doc, term), top-100 — pure DataFrame (no ml.IDF) so it
    stays SQL-expressible. N arrives via a broadcast 1-row cross join, not a
    driver-side collect."""
    d = load(spark, sf_dir, "documents")
    tok = _tokens(d)
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("token").agg(F.count_distinct("doc_id").alias("dfq"))
    n = d.agg(F.count("*").alias("n_docs"))
    return (
        tf.join(dfreq, "token")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf")
                * F.ln(F.col("n_docs").cast("double") / F.col("dfq").cast("double")),
                6,
            ).alias("tfidf"),
        )
        .orderBy(F.col("tfidf").desc(), "doc_id", "token")
        .limit(100)
    )


@query(
    "text_ngram_freq",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents)
    SELECT s[i] || ' ' || s[i + 1] AS bigram, count(*) AS cnt
    FROM t, unnest(range(1, len(s))) AS u(i)
    GROUP BY 1 ORDER BY cnt DESC, bigram ASC LIMIT 20
    """,
)
def text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram frequencies via JVM-side transform over the token array
    (no Python UDF, no ml.NGram — keeps it SQL-expressible for the oracle)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("s"))
    # CASE guard, not greatest(): sequence(1, 0) is [1, 0] (step -1), whose
    # out-of-range s[] accesses emit null bigrams the oracle's empty
    # range(1, 1) never produces (r12 short-text fix).
    bigrams = toks.select(
        F.explode(
            F.expr(
                "CASE WHEN size(s) < 2 THEN cast(array() as array<string>)"
                " ELSE transform(sequence(1, size(s) - 1), i -> s[i-1] || ' ' || s[i]) END"
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("bigram").asc())
        .limit(20)
    )


_POS_WORDS = ["fast", "key", "value"]


_NEG_WORDS = ["slow", "big", "scan"]


@query(
    "text_sentiment_lexicon",
    oracle=f"""
    WITH lex(token, polarity) AS (VALUES
      {", ".join(f"('{w}', 1)" for w in _POS_WORDS)},
      {", ".join(f"('{w}', -1)" for w in _NEG_WORDS)}),
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    score AS (SELECT doc_id, sum(polarity) AS raw FROM tok JOIN lex USING (token) GROUP BY 1)
    SELECT d.doc_id,
           round(coalesce(raw, 0)::DOUBLE / len(string_split(text, ' '))::DOUBLE, 6)
             AS sentiment
    FROM documents d LEFT JOIN score ON d.doc_id = score.doc_id
    """,
)
def text_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based polarity: (Σ polarity of matched tokens) / token count,
    via a broadcast join against the in-code lexicon (all words exist in the
    corpus vocabulary). Docs with no lexicon hits score 0."""
    d = load(spark, sf_dir, "documents")
    from engine.tables import lit_table

    lex = lit_table(
        spark,
        [(w, 1) for w in _POS_WORDS] + [(w, -1) for w in _NEG_WORDS],
        ["token", "polarity"],
    )
    score = (
        _tokens(d)
        .join(F.broadcast(lex), "token")
        .groupBy("doc_id")
        .agg(F.sum("polarity").alias("raw"))
    )
    return d.join(score, "doc_id", "left").select(
        "doc_id",
        F.round(
            F.coalesce(F.col("raw"), F.lit(0)).cast("double")
            / F.size(F.split("text", " ")).cast("double"),
            6,
        ).alias("sentiment"),
    )


# ---------------------------------------------------------------------------
# language ID
# ---------------------------------------------------------------------------

# (lang, token, weight) profiles — the classic n-gram/keyword profile
# heuristic: score(doc, lang) = Σ weight over profile tokens present in the
# doc (with multiplicity); argmax wins, alphabetical tie-break.

_LANG_PROFILES = [
    ("en", "the", 2.0), ("en", "a", 1.0), ("en", "data", 0.5),
    ("de", "der", 2.0), ("de", "und", 2.0), ("de", "batch", 0.5),
    ("es", "el", 2.0), ("es", "los", 2.0), ("es", "row", 0.5),
    ("fr", "le", 2.0), ("fr", "les", 2.0), ("fr", "join", 0.5),
    ("zh", "scan", 0.7), ("zh", "hash", 0.6),
]


@query(
    "text_lang_id",
    oracle=f"""
    WITH prof(lang, token, w) AS (VALUES
      {", ".join(f"('{l}', '{t}', {w})" for l, t, w in _LANG_PROFILES)}),
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    sc AS (SELECT doc_id, lang, round(sum(w), 4) AS score
           FROM tok JOIN prof USING (token) GROUP BY 1, 2)
    SELECT doc_id, lang AS pred_lang, score FROM sc
    QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) = 1
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by weighted keyword-profile scoring (tiny deterministic
    stand-in for the char-n-gram profile method; the corpus vocabulary is
    synthetic so the profiles are illustrative). One explode + broadcast
    lexicon join + two hash aggs — linear at any corpus size."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    from engine.tables import lit_table

    prof = lit_table(spark, _LANG_PROFILES, ["lang", "token", "w"])
    # spread: the corpus is one parquet split; without it the whole
    # explode+join+partial-agg stage runs in a single task (SCALE.md rule 2).
    tok = spread_cpu(d).select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    sc = (
        tok.join(F.broadcast(prof), "token")
        .groupBy("doc_id", "lang")
        .agg(F.round(F.sum("w"), 4).alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("lang").asc())
    return (
        sc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("pred_lang"), "score")
    )


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

@query(
    "text_quality_score",
    oracle="""
    WITH q AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_distinct,
             len(list_filter(string_split(text, ' '), t -> t IN ('a', 'the')))
               AS n_stop,
             length(text) AS n_char
      FROM documents)
    SELECT doc_id, n_tokens,
           round(n_distinct::DOUBLE / n_tokens, 6) AS ttr,
           round(n_stop::DOUBLE / n_tokens, 6) AS stop_ratio,
           round((n_char - n_tokens + 1)::DOUBLE / n_tokens, 6) AS avg_word_len,
           round(0.4 * least(n_tokens / 100.0, 1.0)
                 + 0.3 * (1 - n_stop::DOUBLE / n_tokens)
                 + 0.3 * (n_distinct::DOUBLE / n_tokens), 6) AS quality
    FROM q
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic doc-quality score: length term + (1 − stopword ratio) +
    type-token ratio, the standard cheap pre-filter shape for training-data
    curation. Single narrow projection — no shuffle at all."""
    d = load(spark, sf_dir, "documents")
    s = F.split("text", " ")
    n_tok = F.size(s)
    n_dis = F.size(F.array_distinct(s))
    n_stop = F.size(F.filter(s, lambda t: t.isin("a", "the")))
    n_char = F.length("text")
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(n_dis.cast("double") / n_tok, 6).alias("ttr"),
        F.round(n_stop.cast("double") / n_tok, 6).alias("stop_ratio"),
        F.round((n_char - n_tok + 1).cast("double") / n_tok, 6).alias("avg_word_len"),
        F.round(
            0.4 * F.least(n_tok / 100.0, F.lit(1.0))
            + 0.3 * (1 - n_stop.cast("double") / n_tok)
            + 0.3 * (n_dis.cast("double") / n_tok),
            6,
        ).alias("quality"),
    )


# ---------------------------------------------------------------------------
# token statistics (whitespace + BPE-ish regex)
# ---------------------------------------------------------------------------

_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]+"


@query(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '{_BPE_RE}')) AS bpe_tokens,
           len(list_distinct(string_split(text, ' '))) AS distinct_tokens
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (letter runs / digit runs / punctuation runs — the shape of a byte-level
    BPE pre-tokenizer). Regex kept to POSIX classes so Java and RE2 agree."""
    d = load(spark, sf_dir, "documents")
    s = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(s).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0)).alias("bpe_tokens"),
        F.size(F.array_distinct(s)).alias("distinct_tokens"),
    )


# ---------------------------------------------------------------------------
# document fingerprinting (rolling hash)
# ---------------------------------------------------------------------------

@query(
    "text_fingerprint",
    oracle="""
    WITH codes AS MATERIALIZED (
      -- MATERIALIZED char-code array (r14, mirroring the engine's r13
      -- bound code array): substr(text, i+j, 1) inside the nested lambda
      -- is an O(offset) scan in DuckDB — O(len²) per doc (182 s on one
      -- 50k-token doc; sub-second bound)
      SELECT doc_id,
             list_transform(string_split(text, ''), c -> ascii(c)) AS cd,
             length(text) AS n
      FROM documents),
    h AS (
      SELECT doc_id,
             list_transform(range(1, greatest(n - 7, 0) + 1),
               i -> list_reduce(
                      list_prepend(0::BIGINT,
                        list_transform(range(0, 8), j -> cd[i + j])),
                      (acc, c) -> (acc * 131 + c) % 2147483647)) AS hs
      FROM codes)
    SELECT doc_id,
           list_aggregate(hs, 'min') AS fingerprint,
           len(list_distinct(hs)) AS n_distinct_windows
    FROM h
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: rolling polynomial hash over every 8-char window
    (base 131 mod 2^31−1), keeping the minimum (winnowing with one band) plus
    the distinct-window count. All JVM-side array expressions — the windows
    array never leaves the row, so memory is O(doc length) per row."""
    d = load(spark, sf_dir, "documents")
    # CASE guard, not greatest(): sequence(1, 0) is [1, 0] (step -1), which
    # hashes two phantom windows for a sub-8-char doc; the oracle's
    # range(1, 1) = [] yields NULL fingerprint + 0 windows instead (r12
    # short-text fix — array_min(empty) is null on both engines).
    # cd (the per-char code array) is BOUND in its own projection and each
    # window folds via O(1) ELEMENT access (r13 long-doc fix): per-index
    # substring(text, i + j, 1) scans from the string start every call,
    # and slice(cd, i, 8) inside a lambda runs interpreted and copies the
    # whole array per window — both O(len²) per doc. cd[i + j - 1] (ANSI
    # 0-based, provably in bounds under the size guard) is O(1).
    hs = F.expr(
        "CASE WHEN cd IS NULL OR size(cd) < 8 THEN cast(array() as array<bigint>)"
        " ELSE transform(sequence(1, size(cd) - 7),"
        " i -> aggregate(transform(sequence(0, 7), j -> cd[i + j - 1]),"
        f" cast(0 as bigint), (acc, c) -> {_POLY})) END"
    )
    return d.select(
        "doc_id",
        F.expr(
            "CASE WHEN text IS NULL OR length(text) < 8 THEN"
            " cast(NULL as array<int>)"
            " ELSE transform(split(text, ''), c -> ascii(c)) END"
        ).alias("cd"),
    ).select(
        "doc_id",
        F.array_min(hs).alias("fingerprint"),
        F.size(F.array_distinct(hs)).alias("n_distinct_windows"),
    )


# ---------------------------------------------------------------------------
# corpus statistics for training-data quality
# ---------------------------------------------------------------------------

@query(
    "text_perplexity_ngram",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    big AS (
      SELECT doc_id, ts[CAST(i AS INT)] AS w1, ts[CAST(i AS INT) + 1] AS w2
      FROM tok, UNNEST(range(1, len(ts))) AS t(i)
    ),
    cb AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY 1, 2),
    cu AS (SELECT w1, count(*) AS c1 FROM big GROUP BY 1),
    v AS (SELECT count(DISTINCT token) AS vocab
          FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)),
    scored AS (
      SELECT b.doc_id,
             ln((cb.c2 + 1.0) / (cu.c1 + v.vocab)) AS lp
      FROM big b JOIN cb ON b.w1 = cb.w1 AND b.w2 = cb.w2
      JOIN cu ON b.w1 = cu.w1 CROSS JOIN v
    )
    SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 4) AS avg_logprob
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_perplexity_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average bigram log-probability under an add-one-smoothed
    corpus LM: P(w2|w1) = (C(w1,w2)+1)/(C(w1)+V). The classic cheap fluency
    score for training-data filtering — word-soup or repeated-template docs
    separate from natural ones by this number alone. All JVM: bigrams via
    transform+explode, counts via two groupBys, scoring via two equi-joins
    on token keys. round(,4) ON THE AGGREGATE only (ln is libm-backed,
    SURVEY §5.3).

    100 TB: the bigram count table is the only state (vocab², sparse —
    shuffle-partitioned by w1); scoring is fact⋈count joins that hash on
    the same key, and the doc-level agg is a partial+final on doc_id. To
    cap the model table at scale, frequency-floor the counts (C≥2) or
    hash-bucket the vocab — both order-preserving on this score."""
    d = load(spark, sf_dir, "documents")
    # Guard: a <2-token doc has no bigrams. Without the filter,
    # sequence(1, size-1) at size==1 is sequence(1, 0) = [1, 0] (Spark
    # infers step -1) and element_at(ts, 2) throws under ANSI mode. The
    # oracle's range(1, len) is empty for such docs, so dropping them
    # matches exactly.
    toks = d.select("doc_id", F.split("text", " ").alias("ts")).filter(
        F.size("ts") >= 2
    )
    from engine.tables import swap_persist

    # THREE consumers read the bigram relation (cb, cu, scored's fact side);
    # unpersisted, each re-ran the split + bigram explode over documents
    # (~1.3M rows at sf0.1) — persist once per run, evicted per-tag on the
    # next invocation (r14, guide §5 persist-multi-consumer rule; warm A/B
    # at sf0.1: med5 1.63 → 1.48 s, min 1.55 → 1.26 s).
    big = swap_persist(
        spark,
        toks.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - 1),
                    lambda i: F.struct(
                        F.element_at("ts", i).alias("w1"),
                        F.element_at("ts", i + 1).alias("w2"),
                    ),
                )
            ).alias("b"),
        ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")),
        "pplx_big",
    )
    cb = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    cu = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("t"))
        .agg(F.count_distinct("t").alias("vocab"))
    )
    scored = (
        big.join(cb, ["w1", "w2"])
        .join(cu, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("vocab"))).alias("lp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("lp"), 4).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_zipf_fit",
    oracle="""
    WITH freq AS (
      SELECT token, count(*) AS f
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY token
    ),
    ranked AS (
      SELECT f, row_number() OVER (ORDER BY f DESC, token) AS r FROM freq
    ),
    top AS (SELECT ln(r::DOUBLE) AS lr, ln(f::DOUBLE) AS lf FROM ranked WHERE r <= 100)
    SELECT count(*) AS n_terms,
           round(regr_slope(lf, lr), 4) AS zipf_slope,
           round(regr_intercept(lf, lr), 4) AS zipf_intercept,
           round(regr_r2(lf, lr), 4) AS fit_r2
    FROM top
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit of the corpus token distribution: OLS of ln(freq)
    on ln(rank) over the top-100 tokens, via the NATIVE regression
    aggregates (regr_slope/intercept/r2 — no collect, no numpy). Natural
    corpora fit slope ≈ −1; synthetic word-soup (this corpus) flattens —
    making the slope a one-number distribution-shift detector between
    training-data batches.

    100 TB: token frequency is one groupBy; ranking the top-100 is a
    WindowGroupLimit-style top-k (bounded state), and the regression is a
    6-number partial+final aggregate. Nothing O(vocab) leaves the
    executors."""
    d = load(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    ranked = freq.select(
        "f",
        F.row_number()
        .over(Window.orderBy(F.col("f").desc(), F.col("token")))
        .alias("r"),
    ).filter(F.col("r") <= 100)
    top = ranked.select(
        F.log(F.col("r").cast("double")).alias("lr"),
        F.log(F.col("f").cast("double")).alias("lf"),
    )
    return top.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.regr_slope("lf", "lr"), 4).alias("zipf_slope"),
        F.round(F.regr_intercept("lf", "lr"), 4).alias("zipf_intercept"),
        F.round(F.regr_r2("lf", "lr"), 4).alias("fit_r2"),
    )


_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")


@query(
    "text_quality_logreg",
    oracle="""
    WITH f AS (
      SELECT doc_id, lang,
        CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
        CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
          / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ttr,
        CAST(len(list_filter(string_split(text, ' '),
               x -> x IN ('the','a','of','and','to','in','is','on','for','with')))
             AS DOUBLE)
          / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopr,
        CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
          / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mlen
      FROM documents)
    SELECT doc_id, lang,
           4.0 * ttr + 5.0 * stopr + 0.2 * mlen + 0.01 * n_tok - 3.75 AS margin,
           (4.0 * ttr + 5.0 * stopr + 0.2 * mlen + 0.01 * n_tok - 3.75) > 0
             AS passes
    FROM f
    """,
)
def text_quality_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen linear quality classifier: four engineered features
    (type-token ratio, stopword ratio, mean token length, token count)
    through fixed trained weights; the decision margin is the linear score
    (the sigmoid is monotone, so classification needs only the margin —
    and avoiding exp() keeps the value bit-identical across engines, libm
    exp is not IEEE-pinned). This is the Spark shape of "apply a trained
    quality model at 100 TB": feature extraction and scoring as pure
    columnar expressions, zero Python per row, no shuffle at all — the
    entire key is a map over the scan.

    The weights are illustrative (a real pipeline loads them from the
    model registry); the margin expression is written with identical
    left-association in both engines (SURVEY §5.3 raw-IEEE rule)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks).cast("double")
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tok
    stopr = (
        F.size(
            F.filter(toks, lambda x: x.isin(*_STOPWORDS))
        ).cast("double")
        / n_tok
    )
    mlen = (F.length("text") - (F.size(toks) - 1)).cast("double") / n_tok
    margin = 4.0 * ttr + 5.0 * stopr + 0.2 * mlen + 0.01 * n_tok - 3.75
    return d.select(
        "doc_id", "lang", margin.alias("margin"), (margin > 0).alias("passes")
    )


_BM25_TERMS = ("table", "join", "spark")


_K1 = 1.2


_B = 0.75


@query(
    "text_bm25_rank",
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                     CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
              FROM d),
    dfc AS (SELECT
              CAST(sum(CASE WHEN list_contains(toks, 'table') THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
              CAST(sum(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END) AS DOUBLE) AS df2,
              CAST(sum(CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END) AS DOUBLE) AS df3
            FROM d),
    sc AS (
      SELECT doc_id,
        ln(((SELECT n FROM stats) - df1 + 0.5) / (df1 + 0.5) + 1.0)
          * (tf1 * 2.2) / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (SELECT avgdl FROM stats)))
        + ln(((SELECT n FROM stats) - df2 + 0.5) / (df2 + 0.5) + 1.0)
          * (tf2 * 2.2) / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (SELECT avgdl FROM stats)))
        + ln(((SELECT n FROM stats) - df3 + 0.5) / (df3 + 0.5) + 1.0)
          * (tf3 * 2.2) / (tf3 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (SELECT avgdl FROM stats)))
          AS score
      FROM (
        SELECT doc_id,
               CAST(len(toks) AS DOUBLE) AS dl,
               CAST(len(list_filter(toks, x -> x = 'table')) AS DOUBLE) AS tf1,
               CAST(len(list_filter(toks, x -> x = 'join')) AS DOUBLE) AS tf2,
               CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) AS tf3
        FROM d) t
      CROSS JOIN dfc
      WHERE tf1 + tf2 + tf3 > 0)
    SELECT doc_id, round(score, 6) AS score
    FROM sc ORDER BY round(score, 6) DESC, doc_id LIMIT 20
    """,
)
def text_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 for the fixed query {table, join, spark}
    (k1=1.2, b=0.75): per-term idf = ln((N−df+0.5)/(df+0.5)+1) with
    saturating, length-normalized tf. The per-term contributions are
    summed in EXPLICIT fixed order (never a group-sum) and the score is
    rounded to 6 dp before the (score DESC, doc_id) top-20 cut, so the
    selection is deterministic cross-engine.

    100 TB: corpus stats (N, avgdl, per-term df) are ONE aggregate pass
    collapsed to a single broadcast row; scoring is then a pure map over
    the scan — no per-doc shuffle, no inverted index needed for a fixed
    small query. (A full search engine materializes the inverted index —
    that shape is text_tfidf's term join.)"""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    def _tf(term: str):
        # NB: the lambda must be unary — pyspark treats a second parameter
        # (even a defaulted one) as the element-index argument of filter().
        return F.size(F.filter("toks", lambda x: x == F.lit(term))).cast("double")

    tf = {t: _tf(t) for t in _BM25_TERMS}
    stats = d.agg(
        F.count("*").cast("double").alias("n"),
        (F.sum(F.size("toks")).cast("double") / F.count("*")).alias("avgdl"),
        *[
            F.sum(
                F.when(F.array_contains("toks", t), 1).otherwise(0)
            ).cast("double").alias(f"df{i + 1}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    per = d.select(
        "doc_id",
        F.size("toks").cast("double").alias("dl"),
        *[tf[t].alias(f"tf{i + 1}") for i, t in enumerate(_BM25_TERMS)],
    )
    j = per.join(F.broadcast(stats))
    score = None
    for i in range(len(_BM25_TERMS)):
        tf_i = F.col(f"tf{i + 1}")
        df_i = F.col(f"df{i + 1}")
        idf = F.log(
            (F.col("n") - df_i + 0.5) / (df_i + 0.5) + 1.0
        )
        part = idf * (tf_i * 2.2) / (
            tf_i + 1.2 * (1.0 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))
        )
        score = part if score is None else score + part
    return (
        j.filter(F.col("tf1") + F.col("tf2") + F.col("tf3") > 0)
        .select("doc_id", F.round(score, 6).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


@query(
    "text_cooccurrence_pmi",
    oracle="""
    WITH d AS (SELECT string_split(text, ' ') AS toks FROM documents),
    uni AS (SELECT unnest(toks) AS w FROM d),
    uc AS (SELECT w, CAST(count(*) AS DOUBLE) AS c FROM uni GROUP BY 1),
    nu AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM uni),
    bi AS (SELECT toks[k] AS w1, toks[k+1] AS w2
           FROM d, unnest(range(1, len(toks))) AS u(k)),
    bc AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c FROM bi GROUP BY 1, 2),
    nb AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM bi),
    top AS (SELECT w1, w2, c FROM bc
            ORDER BY c DESC, w1, w2 LIMIT 30)
    SELECT t.w1, t.w2, CAST(t.c AS BIGINT) AS n_pair,
           round(ln((t.c / (SELECT n FROM nb))
                    / ((a.c / (SELECT n FROM nu))
                       * (b.c / (SELECT n FROM nu)))), 6) AS pmi
    FROM top t JOIN uc a ON t.w1 = a.w
               JOIN uc b ON t.w2 = b.w
    """,
)
def text_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information for the corpus's 30 most frequent
    adjacent word pairs: pmi = ln(p(ab)/(p(a)p(b))) from exact unigram and
    bigram counts — the classic collocation statistic (positive = the pair
    sticks together more than chance; ~0 here because the synthetic corpus
    is near-unigram-random, which is itself a faithful health reading).
    Deterministic (count DESC, w1, w2) top-30, 6-dp rounding over the
    exact-rational ln inputs.

    100 TB: bigram explode is map-side; two count aggs with partial
    combine; the PMI join touches only the top-30 pairs and their two
    unigram rows each — broadcastable."""
    d = load(spark, sf_dir, "documents").select(F.split("text", " ").alias("toks"))
    uni = d.select(F.explode("toks").alias("w"))
    uc = uni.groupBy("w").agg(F.count("*").cast("double").alias("c"))
    nu = uni.agg(F.count("*").cast("double").alias("nu"))
    bi = d.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda k: F.struct(
                    F.element_at("toks", k).alias("w1"),
                    F.element_at("toks", k + 1).alias("w2"),
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bc = bi.groupBy("w1", "w2").agg(F.count("*").cast("double").alias("c"))
    nb = bi.agg(F.count("*").cast("double").alias("nb"))
    top = bc.orderBy(F.col("c").desc(), "w1", "w2").limit(30)
    a = uc.select(F.col("w").alias("w1"), F.col("c").alias("ca"))
    b = uc.select(F.col("w").alias("w2"), F.col("c").alias("cb"))
    pmi = F.log(
        (F.col("c") / F.col("nb"))
        / ((F.col("ca") / F.col("nu")) * (F.col("cb") / F.col("nu")))
    )
    return (
        top.join(F.broadcast(a), "w1")
        .join(F.broadcast(b), "w2")
        .join(F.broadcast(nu))
        .join(F.broadcast(nb))
        .select(
            "w1",
            "w2",
            F.col("c").cast("bigint").alias("n_pair"),
            F.round(pmi, 6).alias("pmi"),
        )
    )


@query(
    "text_source_vocab_jaccard",
    oracle="""
    WITH vocab AS (
      SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    sizes AS (SELECT source, count(*) AS n FROM vocab GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
      FROM vocab a JOIN vocab b ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b, i.n_common,
           sa.n AS n_a, sb.n AS n_b,
           round(CAST(i.n_common AS DOUBLE)
                 / (sa.n + sb.n - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.src_a = sa.source
    JOIN sizes sb ON i.src_b = sb.source
    """,
)
def text_source_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level vocabulary overlap: Jaccard similarity of the distinct
    token sets of every source pair — the corpus-composition diagnostic
    that flags near-identical crawls before any document-level dedup.

    Plan: the corpus collapses to distinct (source, token) in one shuffle
    (partial distinct map-side); the pairwise intersection is a token-keyed
    equi-join over that deduplicated relation — pair partials collapse per
    token, so shuffle volume is O(vocab × source-pairs-sharing-a-token),
    never O(docs²). Sizes are broadcast (≤ sources rows). Jaccard stays in
    integer arithmetic until one rounded division."""
    d = load(spark, sf_dir, "documents")
    vocab = d.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    ).distinct()
    sizes = vocab.groupBy("source").agg(F.count("*").alias("n"))
    a = vocab.select(F.col("source").alias("src_a"), "tok")
    b = vocab.select(F.col("source").alias("src_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


@query(
    "text_ngram_novelty",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id,
             t[k] || ' ' || t[k+1] || ' ' || t[k+2] AS gram
      FROM toks, unnest(range(1, len(t) - 1)) AS u(k)
      WHERE len(t) >= 3
    ),
    firsts AS (
      SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY gram
    )
    SELECT g.doc_id,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           round(CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS novelty
    FROM grams g JOIN firsts f ON g.gram = f.gram
    GROUP BY g.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty curve: per document, the fraction of its distinct
    trigrams whose FIRST corpus occurrence (lowest doc_id) is this
    document — the diminishing-returns diagnostic for corpus growth (late
    documents with low novelty add little new text).

    Plan (r06 reshape, 4.2 s -> ~1.3 s at sf0.1): tokenize ONCE in a
    projection (the old expression re-evaluated split(text) four times
    inside the transform lambda — Catalyst does not CSE across lambda
    scopes), trigram fan-out stays codegen (transform over a sequence, no
    shuffle), then ONE shuffle on gram: groupBy(gram) with min(doc_id) +
    collect_set(doc_id) — the partial aggregate dedups (doc_id, gram)
    map-side, so the old separate DISTINCT shuffle and the window
    shuffle+string-sort both collapse into it. Explode the doc sets and
    roll up per doc (doc_id shuffle — was already needed). Per-gram state
    is bounded by the gram's document frequency; at 100 TB cap or
    hash-prefix ultra-common grams the way tf-idf caps document frequency
    (they are never novel past their first doc anyway)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("t") >= 3,
                F.expr(
                    "transform(sequence(0, size(t) - 3), "
                    "i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
                ),
            ).otherwise(F.array(F.lit(None).cast("string")))
        ).alias("gram"),
    ).filter(F.col("gram").isNotNull())
    per_gram = grams.groupBy("gram").agg(
        F.min("doc_id").alias("first_doc"),
        F.collect_set("doc_id").alias("docs"),
    )
    ex = per_gram.select("first_doc", F.explode("docs").alias("doc_id"))
    is_novel = F.col("first_doc") == F.col("doc_id")
    return ex.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(is_novel.cast("bigint")).alias("n_novel"),
        F.round(F.sum(is_novel.cast("double")) / F.count("*"), 6).alias("novelty"),
    )


@query(
    "text_hapax_ratio",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    counts AS (
      SELECT source, t, count(*) AS c FROM tok GROUP BY source, t
    )
    SELECT source,
           count(*) AS vocab,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS hapax_ratio
    FROM counts GROUP BY source
    """,
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena ratio per source: the share of each source's
    vocabulary that occurs exactly once — the vocabulary-richness /
    OCR-noise diagnostic (noisy sources show inflated hapax mass; the
    companion tail view of text_zipf_fit's head).

    Plan: one (source, token) count with map-side partial aggregation,
    then a per-source rollup of those counts — the second aggregate's
    input is vocabulary-sized, not corpus-sized. Integer arithmetic until
    one rounded division."""
    d = load(spark, sf_dir, "documents")
    counts = (
        d.select("source", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count("*").alias("c"))
    )
    return counts.groupBy("source").agg(
        F.count("*").alias("vocab"),
        F.sum((F.col("c") == 1).cast("bigint")).alias("hapax"),
        F.round(
            F.sum((F.col("c") == 1).cast("double")) / F.count("*"), 6
        ).alias("hapax_ratio"),
    )


@query(
    "text_top_bigrams_per_lang",
    oracle="""
    WITH toks AS (
      SELECT lang, string_split(text, ' ') AS t FROM documents
    ),
    bg AS (
      SELECT lang, t[k] || ' ' || t[k+1] AS bigram
      FROM toks, unnest(range(1, len(t))) AS u(k)
      WHERE len(t) >= 2
    ),
    counts AS (
      SELECT lang, bigram, count(*) AS cnt FROM bg GROUP BY lang, bigram
    )
    SELECT lang, bigram, cnt, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY lang
                                       ORDER BY cnt DESC, bigram) AS rnk
          FROM counts)
    WHERE rnk <= 5
    """,
)
def text_top_bigrams_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-5 bigrams — the corpus-reporting shape behind
    datasheet 'most common phrases' tables: explode generated features,
    count per group, grouped top-k with a total order (count DESC,
    bigram).

    Plan: tokenize ONCE in a projection (r06 — Catalyst does not CSE a
    repeated split(text) across lambda scopes, so the old inline
    expression re-split every row three times), bigram fan-out inside
    codegen (transform over a sequence, no shuffle), one (lang, bigram)
    count with map-side partial aggregation, then the rank window runs
    per lang over the counted relation — vocabulary-sized, not
    corpus-sized. WindowGroupLimit prunes rank state to k rows per
    partition (same plan shape win_row_number_topk pins)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("lang", F.split("text", " ").alias("t"))
    bg = toks.select(
        "lang",
        F.explode(
            F.when(
                F.size("t") >= 2,
                F.expr(
                    "transform(sequence(0, size(t) - 2), "
                    "i -> concat_ws(' ', t[i], t[i+1]))"
                ),
            ).otherwise(F.array(F.lit(None).cast("string")))
        ).alias("bigram"),
    ).filter(F.col("bigram").isNotNull())
    counts = bg.groupBy("lang", "bigram").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), "bigram")
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 5)
    )


@query(
    "text_gopher_quality_rules",
    oracle="""
    WITH feat AS (
      SELECT doc_id,
             len(string_split(trim(text), ' ')) AS n_words,
             round(CAST(len(replace(text, ' ', '')) AS DOUBLE)
                   / len(string_split(trim(text), ' ')), 4) AS mean_word_len,
             round(CAST(len(text) - len(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
                        AS DOUBLE) / len(text), 4) AS symbol_ratio,
             (text LIKE '% the %' OR text LIKE '% and %' OR text LIKE '% of %'
              OR text LIKE '% to %' OR text LIKE '% in %') AS has_stopword
      FROM documents
    )
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, has_stopword,
           (n_words BETWEEN 5 AND 100000
            AND mean_word_len BETWEEN 2.0 AND 12.0
            AND symbol_ratio <= 0.30
            AND has_stopword) AS keep
    FROM feat
    """,
)
def text_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based corpus quality gate in the Gopher/C4 style: per document
    emit word count, mean word length, symbol-to-character ratio, and an
    English-stopword-presence flag, then AND the rule thresholds into one
    `keep` verdict (word count in [5, 100k], mean word length in [2, 12],
    ≤30% symbol characters, at least one common stopword). The individual
    features stay in the output so downstream audits can attribute every
    rejection to the rule that fired.

    Plan note: entirely row-local string expressions inside whole-stage
    codegen — zero shuffles, zero Python. 100 TB: this is the first,
    cheapest pass of a pretraining pipeline (runs at scan speed, prunes
    the corpus before any shuffle-bearing dedup stage); the thresholds
    are the published Gopher ranges adapted to this corpus's synthetic
    text. Ratios round once at the end (§5.3)."""
    d = load(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), " ")
    n_words = F.size(words)
    mean_wl = F.round(
        F.length(F.regexp_replace(F.col("text"), " ", "")).cast("double")
        / n_words.cast("double"),
        4,
    )
    sym = F.round(
        (
            F.length(F.col("text"))
            - F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", ""))
        ).cast("double")
        / F.length(F.col("text")).cast("double"),
        4,
    )
    stop = (
        F.col("text").like("% the %")
        | F.col("text").like("% and %")
        | F.col("text").like("% of %")
        | F.col("text").like("% to %")
        | F.col("text").like("% in %")
    )
    feat = d.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        sym.alias("symbol_ratio"),
        stop.alias("has_stopword"),
    )
    return feat.withColumn(
        "keep",
        F.col("n_words").between(5, 100000)
        & F.col("mean_word_len").between(2.0, 12.0)
        & (F.col("symbol_ratio") <= 0.30)
        & F.col("has_stopword"),
    )


@query(
    "text_html_strip",
    oracle="""
    WITH wrapped AS (
      SELECT doc_id,
             '<html><body><h1>Doc ' || CAST(doc_id AS VARCHAR)
               || '</h1><p class="body">' || text
               || '</p><br/><footer>&copy; corpus</footer></body></html>'
               AS html,
             text
      FROM documents
    )
    SELECT doc_id,
           len(html) - len(regexp_replace(html, '<[^>]*>', '', 'g'))
             AS tag_chars,
           regexp_replace(
             replace(regexp_replace(html, '<[^>]*>', ' ', 'g'),
                     '&copy;', ' '),
             ' +', ' ', 'g') = ' Doc ' || CAST(doc_id AS VARCHAR) || ' '
               || regexp_replace(text, ' +', ' ', 'g') || ' corpus '
             AS strip_roundtrip_ok,
           md5(trim(regexp_replace(regexp_replace(html, '<[^>]*>', ' ', 'g'),
                                   ' +', ' ', 'g'))) AS clean_hash
    FROM wrapped
    """,
)
def text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML stripping, the first transform of every web-crawl pipeline:
    each document is deterministically wrapped in markup (tags + an HTML
    entity), then the C4-style cleaner removes tags (replacing with a
    space so adjacent text doesn't fuse), decodes the entity, and
    collapses whitespace. Output: tag-character count, a row-level flag
    proving strip(wrap(text)) recovers exactly the expected cleaned
    string, and the md5 of the cleaned text (the content fingerprint a
    downstream dedup stage would key on).

    Synthetic wrapping, on purpose: the corpus has no real HTML [DATA],
    and building the markup from the text itself makes the cleaner
    verifiable per-row instead of spot-checkable. Plan: pure row-local
    regex codegen, zero shuffles — at 100 TB this runs at scan speed
    alongside the quality rules (text_gopher_quality_rules)."""
    d = load(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><body><h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit('</h1><p class="body">'),
        F.col("text"),
        F.lit("</p><br/><footer>&copy; corpus</footer></body></html>"),
    )
    detagged = F.regexp_replace(html, "<[^>]*>", " ")
    decoded = F.regexp_replace(detagged, "&copy;", " ")
    collapsed = F.regexp_replace(decoded, " +", " ")
    expected = F.concat(
        F.lit(" Doc "),
        F.col("doc_id").cast("string"),
        F.lit(" "),
        F.regexp_replace(F.col("text"), " +", " "),
        F.lit(" corpus "),
    )
    clean_for_hash = F.trim(
        F.regexp_replace(F.regexp_replace(html, "<[^>]*>", " "), " +", " ")
    )
    return d.select(
        "doc_id",
        (
            F.length(html) - F.length(F.regexp_replace(html, "<[^>]*>", ""))
        ).alias("tag_chars"),
        (collapsed == expected).alias("strip_roundtrip_ok"),
        F.md5(clean_for_hash).alias("clean_hash"),
    )


@query(
    "text_chat_template_render",
    oracle="""
    WITH base AS (
      SELECT doc_id, lang, source, text,
             len(string_split(text, ' ')) AS n_words
      FROM documents
    ),
    rendered AS (
      SELECT doc_id,
             '<|system|>You are a concise assistant.<|end|>'
               || '<|user|>Summarize the following ' || lang
               || ' document from ' || source || '.<|end|>'
               || '<|assistant|>'
               || CASE WHEN n_words > 64
                       THEN array_to_string((string_split(text, ' '))[1:64], ' ')
                       ELSE text END
               || '<|end|>' AS prompt,
             (n_words > 64) AS truncated,
             least(n_words, 64) + 14 AS approx_tokens
      FROM base
    )
    SELECT doc_id, md5(prompt) AS prompt_md5,
           CAST(len(prompt) AS BIGINT) AS prompt_chars,
           truncated,
           CAST(approx_tokens AS BIGINT) AS approx_tokens
    FROM rendered
    """,
)
def text_chat_template_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-template rendering — the formatting leg of an
    instruction-tuning pipeline: each document becomes a three-turn
    conversation (system / user / assistant) in a ChatML-style tag
    format, with the assistant turn budget-truncated at 64 words and a
    per-row truncation flag + approximate token count (word budget + the
    template's fixed overhead). Output carries the rendered prompt's md5
    and length, not the string itself (keeps the compare compact; the
    hash pins every byte of the template).

    Plan: pure row-local string assembly in codegen — zero shuffles,
    scan-speed, exactly like the quality-rule and HTML-strip passes it
    would pipeline with. 100 TB: rendering is never the bottleneck;
    budget accounting here (flag + estimate) is what lets the downstream
    packer (text_pack_sequences) bin-pack without re-tokenizing."""
    d = load(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    body = F.when(
        n_words > 64, F.array_join(F.slice(words, 1, 64), " ")
    ).otherwise(F.col("text"))
    prompt = F.concat(
        F.lit("<|system|>You are a concise assistant.<|end|>"),
        F.lit("<|user|>Summarize the following "),
        F.col("lang"),
        F.lit(" document from "),
        F.col("source"),
        F.lit(".<|end|>"),
        F.lit("<|assistant|>"),
        body,
        F.lit("<|end|>"),
    )
    return d.select(
        "doc_id",
        F.md5(prompt).alias("prompt_md5"),
        F.length(prompt).cast("long").alias("prompt_chars"),
        (n_words > 64).alias("truncated"),
        (F.least(n_words, F.lit(64)) + 14).cast("long").alias("approx_tokens"),
    )


@query(
    "text_eval_token_f1",
    oracle="""
    WITH ref AS (
      SELECT doc_id, u.tok, count(*) AS rc
      FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)
      GROUP BY doc_id, u.tok
    ),
    hyp AS (
      SELECT doc_id, CASE WHEN (k - 1) % 7 = 0 THEN 'UNK' ELSE t[k] END AS tok,
             count(*) AS hc
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           UNNEST(range(1, len(t) + 1)) AS u(k)
      GROUP BY 1, 2
    ),
    ov AS (
      SELECT r.doc_id, sum(least(r.rc, h.hc)) AS overlap
      FROM ref r JOIN hyp h ON r.doc_id = h.doc_id AND r.tok = h.tok
      GROUP BY r.doc_id
    ),
    tot AS (
      SELECT doc_id, sum(rc) AS n_ref FROM ref GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(coalesce(o.overlap, 0) AS BIGINT) AS overlap,
           CAST(t.n_ref AS BIGINT) AS n_tokens,
           round(2.0 * coalesce(o.overlap, 0) / (t.n_ref + t.n_ref), 4) AS f1
    FROM tot t LEFT JOIN ov o ON o.doc_id = t.doc_id
    """,
)
def text_eval_token_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQuAD-style token F1, relationally: the 'model hypothesis' is the
    document with every 7th token masked to UNK (a deterministic stand-in
    for generation noise), the reference is the document itself, and F1
    is computed from the token-MULTISET intersection (sum of min counts
    per token — duplicate tokens must not double-credit). Hypothesis and
    reference have equal length here, so P = R = F1 = overlap/n — the
    multiset machinery is what the key exercises.

    Plan: two explode→count aggregations (token-grain), one
    (doc, token)-keyed join whose partials collapse per token, one
    per-doc sum — every stage hash-partitions; no Python. 100 TB: this
    IS the eval-harness scoring shape — hypothesis table joins reference
    table on (example_id, token); a million-example eval scores in one
    such pass."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    ref = (
        toks.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("rc"))
    )
    hyp = (
        toks.select(
            "doc_id",
            F.posexplode("t").alias("k0", "tok0"),
        )
        .select(
            "doc_id",
            F.when(F.col("k0") % 7 == 0, F.lit("UNK"))
            .otherwise(F.col("tok0"))
            .alias("tok"),
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("hc"))
    )
    ov = (
        ref.join(hyp, ["doc_id", "tok"])
        .groupBy("doc_id")
        .agg(F.sum(F.least("rc", "hc")).alias("overlap"))
    )
    tot = ref.groupBy("doc_id").agg(F.sum("rc").alias("n_ref"))
    return (
        tot.join(ov, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("overlap", F.lit(0)).cast("long").alias("overlap"),
            F.col("n_ref").cast("long").alias("n_tokens"),
            F.round(
                2.0
                * F.coalesce("overlap", F.lit(0))
                / (F.col("n_ref") + F.col("n_ref")),
                4,
            ).alias("f1"),
        )
    )
