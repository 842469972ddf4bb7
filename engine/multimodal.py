"""Multimodal operators (``multimodal_`` keys) over a binary table of
synthetic media derived from the corpus: metadata, decode pipelines,
frame sampling, chunk fingerprints and signal energy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.tables import load


THUMB = 4  # fake "thumbnail" is a 4×4 grid of byte-block means


def binary_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, payload binary, meta struct<mime,n_bytes,md5>)."""
    d = load(spark, sf_dir, "documents")
    payload = F.encode("text", "utf-8")
    return d.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("text/plain;fake-image").alias("mime"),
            F.octet_length(payload).alias("n_bytes"),
            F.md5(payload).alias("checksum"),
        ).alias("meta"),
    )


@query(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS checksum,
           'text/plain;fake-image' AS mime
    FROM documents
    """,
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata projection over the binary table: byte length + MD5 checksum
    + mime. The payload column is pruned out of the parquet scan (only
    metadata is touched) — the access pattern that keeps metadata queries
    cheap when payloads are megabytes each."""
    b = binary_table(spark, sf_dir)
    return b.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.checksum").alias("checksum"),
        F.col("meta.mime").alias("mime"),
    )


def _decode_real(payload: bytes) -> "object":
    """Real decoder — unavailable in this container (no image/audio libs)."""
    try:
        from PIL import Image  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "real image decode needs PIL/pillow, absent in this container; "
            "the deterministic fake path (_decode_fake) exercises the same "
            "Spark plumbing"
        ) from exc
    raise NotImplementedError("wire Image.open(BytesIO(payload)) here")


def _decode_fake(buf: "bytes", n_cells: int) -> "list[float]":
    """Deterministic fake decode: split the payload into n_cells byte blocks
    and emit each block's mean — a stand-in 'thumbnail' with fixed shape."""
    import numpy as np

    a = np.frombuffer(buf, dtype=np.uint8).astype(np.float64)
    if len(a) == 0:
        return [0.0] * n_cells
    pads = (-len(a)) % n_cells
    a = np.pad(a, (0, pads), constant_values=0)
    # 8 dp (r13): 4 dp capped the integer-exact byte_sum reconstruction at
    # ~10 KB payloads; 8 dp + per-block rounding extends it to ~1.6 GB
    return np.round(a.reshape(n_cells, -1).mean(axis=1), 8).tolist()


def decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode / feature-extract over binary payloads with ``mapInPandas``:
    each Arrow batch of (doc_id, payload, meta) rows yields (doc_id, width,
    height, n_bytes, features) — the real-decoder signature, minus the
    absent codec libs (see _decode_real). Feature = 4×4 byte-block-mean
    'thumbnail', deterministic. The feature vector is emitted as a
    fixed-format CSV string, not array<float>: the driver's canonicalizer
    sorts result columns with pandas, which cannot order array cells
    (scalar-columns-only output convention)."""
    import pandas as pd

    b = binary_table(spark, sf_dir)

    def decode(batches):
        for pb in batches:
            # a NULL payload (NULL source text / failed fetch) decodes to
            # NULL metadata + NULL features — the downstream byte_sum
            # arithmetic NULL-propagates exactly like the oracle's (r12)
            feats = [
                None
                if buf is None
                else ",".join(f"{v:.8f}" for v in _decode_fake(buf, THUMB * THUMB))
                for buf in pb["payload"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pb["doc_id"],
                    "width": THUMB,
                    "height": THUMB,
                    "n_bytes": [
                        None if buf is None else len(buf) for buf in pb["payload"]
                    ],
                    "features": feats,
                }
            )

    return b.mapInPandas(
        decode, "doc_id long, width int, height int, n_bytes long, features string"
    )


@query(
    "multimodal_decode_pipeline",
    # FULL oracle (r06 graduation from ROWS-only, the r04 self-validating
    # pattern): the decoded features are pinned per doc by an INTEGER-exact
    # reconstruction — Σ(block means) × block_len equals the payload's
    # total byte sum, which DuckDB recomputes independently from the text's
    # code points. r13 unicode hardening: the old oracle summed raw code
    # points (== byte sum only for ASCII); it now maps each code point to
    # the sum of its UTF-8 encoding bytes arithmetically (1-4 byte forms),
    # so the parity check survives multibyte corpora. A regression anywhere
    # in the decode (batching, padding, block split, mean) shifts byte_sum
    # and hash-mismatches. Full 16-cell feature vectors stay covered by
    # tests/test_trainops.py against decode_features().
    oracle=f"""
    SELECT doc_id,
           {THUMB} AS width, {THUMB} AS height,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           -- empty-text guard (ADVICE r06): DuckDB's split('', '') yields
           -- [''] and unicode('') = -1, which would score an empty doc as
           -- -1 while the engine emits 0; no current corpus has empty
           -- texts, but a regenerated one must not break the attestation
           CAST(CASE WHEN length(text) = 0 THEN 0
                ELSE list_sum(list_transform(split(text, ''), c ->
                  CASE WHEN unicode(c) < 128 THEN unicode(c)
                       WHEN unicode(c) < 2048 THEN
                         320 + (unicode(c) // 64) + (unicode(c) % 64)
                       WHEN unicode(c) < 65536 THEN
                         480 + (unicode(c) // 4096)
                             + ((unicode(c) // 64) % 64) + (unicode(c) % 64)
                       ELSE
                         624 + (unicode(c) // 262144)
                             + ((unicode(c) // 4096) % 64)
                             + ((unicode(c) // 64) % 64) + (unicode(c) % 64)
                  END))
                END AS BIGINT) AS byte_sum
    FROM documents
    """,
)
def multimodal_decode_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-validating per-doc summary over the decode pipeline (see
    decode_features for the mapInPandas decode itself): the 16 decoded
    block means are parsed back from the CSV JVM-side and folded into the
    payload's reconstructed byte total — Σ round(feature × block_len),
    integer-exact because each block's 8-decimal mean bounds the
    per-block error by 5e-9·block_len < 0.5, i.e. block_len < 1e8 ⇔
    payloads under ~1.6 GB (r13: the old Σ-then-round at 4 dp capped at
    ~10 KB, which the long-document rehearsal corpus exceeds). A payload
    PAST the envelope still raises loudly instead of silently drifting
    the reconstruction off by one and hash-mismatching the oracle."""
    d = decode_features(spark, sf_dir)
    block_len = F.ceil(F.col("n_bytes") / F.lit(THUMB * THUMB)).cast("long")
    # Per-BLOCK rounding (r13): each block's true byte sum is an integer
    # S_i and its 8-dp mean satisfies |m_i·L − S_i| ≤ 5e-9·L, so
    # round(m_i·L) = S_i exactly while L < 1e8 — payloads to ~1.6 GB
    # (the old Σ-then-round at 4 dp capped out at ~10 KB, which a
    # long-document corpus exceeds routinely).
    blocks_sum = F.aggregate(
        F.transform(F.split("features", ","), lambda s: s.cast("double")),
        F.lit(0).cast("long"),
        lambda a, x: a
        + F.round(x * block_len.cast("double")).cast("long"),
    )
    byte_sum = F.when(
        block_len > 100_000_000,
        F.raise_error(
            F.concat(
                F.lit(
                    "multimodal_decode_pipeline: payload exceeds the "
                    "integer-exact reconstruction envelope (~1.6 GB) for doc_id "
                ),
                F.col("doc_id").cast("string"),
            )
        ).cast("long"),
    ).otherwise(blocks_sum)
    return d.select(
        "doc_id",
        "width",
        "height",
        "n_bytes",
        byte_sum.alias("byte_sum"),
    ).orderBy("doc_id")


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id,
           CAST(s / 4 AS BIGINT) AS frame_idx,
           CAST(s * 16 AS BIGINT) AS byte_offset,
           md5(substring(text, s * 16 + 1, 16)) AS frame_md5
    FROM (SELECT doc_id, text, length(text) // 16 AS n_frames FROM documents),
         unnest(generate_series(0, n_frames - 1, 4)) AS u(s)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over a binary payload: fixed 16-byte 'frames', keep
    every 4th — the video-keyframe-extraction shape (stride sampling by
    offset arithmetic, never decoding the whole payload). The corpus payload
    is the UTF-8 text bytes (ASCII ⇒ byte offset = char offset), so the
    sampled frame content is oracle-checkable via md5. A real codec would
    replace the substring with a mapInPandas decode at the SAME offsets —
    the partitioning/explode plumbing is identical
    (multimodal_decode_pipeline has that half)."""
    d = load(spark, sf_dir, "documents")
    n_frames = F.floor(F.length("text") / 16)
    # when-guard: a sub-16-byte payload has no frames — sequence(0, -1, 4)
    # is an "illegal boundaries" ERROR in Spark (explicit step), where the
    # oracle's generate_series(0, -1, 4) is just empty (r12 short-payload
    # hardening); NULL payloads already explode to nothing on both engines.
    # r13 long-doc fix: the old shape exploded frame indices FIRST and
    # substring'd the text per frame row — substring(text, s*16+1, ..) is
    # an O(offset) scan (O(len²/16) per doc) AND the full text column was
    # copied into every generated row. The frames are now built as a
    # per-doc struct array over a bound char array (slice is O(16)), and
    # only the small (s, md5) structs are exploded.
    # frame chars via O(1) access, not slice() — slice inside a lambda
    # runs interpreted and copies the whole char array per frame; indices
    # s*16 .. s*16+15 are in bounds by nf = floor(len/16)
    frames = F.expr(
        "transform(frame_starts, s -> struct(s AS s,"
        " md5(cast(concat_ws('', transform(sequence(s * 16, s * 16 + 15),"
        " j -> chs[j])) as binary)) AS frame_md5))"
    )
    d = d.select(
        "doc_id",
        F.split("text", "").alias("chs"),
        F.when(
            n_frames >= 1,
            F.sequence(F.lit(0), (n_frames - 1).cast("int"), F.lit(4)),
        )
        .otherwise(F.array().cast("array<int>"))
        .alias("frame_starts"),
    ).select("doc_id", F.explode(frames).alias("fr"))
    return d.select(
        "doc_id",
        (F.col("fr.s") / 4).cast("long").alias("frame_idx"),
        (F.col("fr.s") * 16).cast("long").alias("byte_offset"),
        F.col("fr.frame_md5").alias("frame_md5"),
    )


@query(
    "multimodal_join",
    oracle="""
    SELECT label, count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM documents JOIN embeddings ON doc_id = vec_id
    GROUP BY label
    """,
)
def multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text↔embedding modality join (doc_id = vec_id; inner join because the
    modalities scale differently at sf0.1 — FIXTURES), per-label doc stats."""
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    return (
        d.join(e, d.doc_id == e.vec_id)
        .groupBy("label")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


@query(
    "multimodal_chunk_fingerprint",
    oracle="""
    WITH docs AS (
      SELECT doc_id, text, length(text) AS n
      FROM documents WHERE doc_id % 4 = 0
    ),
    chunks AS (
      SELECT doc_id, n, CAST(k AS INT) AS chunk_idx,
             substr(text, k * 192 + 1, 256) AS chunk
      FROM docs, unnest(range(0, ((n - 1) // 192) + 1)) AS t(k)
    )
    SELECT doc_id, chunk_idx,
           CAST(length(chunk) AS INT) AS chunk_len,
           md5(chunk) AS chunk_md5,
           (chunk_idx = 0) AS is_first
    FROM chunks
    """,
)
def multimodal_chunk_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping chunk fingerprints: 256-byte windows with a 192-byte
    stride (64-byte overlap) over each payload, one md5 per chunk — the
    shingling step for payload-level near-dup detection and content-
    addressed chunk storage (CDC-style indexing). Runs on the text bytes
    here because the DuckDB oracle lacks BLOB substring/md5; the Spark
    plan is type-generic — substring and md5 accept BinaryType unchanged
    (the corpus is ASCII, so char offsets ARE byte offsets).

    Plan: chunk offsets come from explode(sequence(...)) — codegen fan-out
    with no shuffle at all; per-row output is ceil(n/192) chunks. At
    100 TB this is embarrassingly parallel; the downstream group-by-md5
    (not part of this key) would be the first shuffle."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 0)
    n = F.length("text")
    d = d.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0), ((n - 1) / 192).cast("int"))).alias(
            "chunk_idx"
        ),
    )
    chunk = F.substring(
        F.col("text"), F.col("chunk_idx") * 192 + 1, 256
    )
    return d.select(
        "doc_id",
        "chunk_idx",
        F.length(chunk).cast("int").alias("chunk_len"),
        F.md5(chunk).alias("chunk_md5"),
        (F.col("chunk_idx") == 0).alias("is_first"),
    )


@query(
    "multimodal_signal_energy",
    oracle="""
    WITH docs AS (
      -- rid: the oracle explodes to per-sample rows and must re-aggregate
      -- per SOURCE ROW, not per doc_id — a colliding id carrying two
      -- different payloads (r14 dup-id axis) would otherwise merge two
      -- frames' samples into one garbage energy
      SELECT row_number() OVER (ORDER BY doc_id, text) AS rid,
             doc_id, text, length(text) AS n
      FROM documents WHERE doc_id % 6 = 0
    ),
    frames AS (
      SELECT rid, doc_id, text, CAST(k AS INT) AS frame_idx,
             CAST(k * 32 AS INT) AS off,
             CAST(least(32, n - k * 32) AS INT) AS flen
      FROM docs, unnest(range(0, ((n - 1) // 32) + 1)) AS t(k)
    ),
    samples AS (
      SELECT rid, doc_id, frame_idx, flen,
             ascii(substr(text, off + CAST(j AS INT), 1)) AS code
      FROM frames, unnest(range(1, flen + 1)) AS u(j)
    )
    SELECT doc_id, frame_idx, flen,
           CAST(max(code) AS INT) AS peak,
           round(sqrt(CAST(sum(code * code) AS DOUBLE) / flen), 4) AS energy
    FROM samples GROUP BY rid, doc_id, frame_idx, flen
    """,
)
def multimodal_signal_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signal-frame feature extraction over an opaque byte payload: the
    payload is framed into 32-byte windows and each frame yields RMS
    energy and peak amplitude — the audio-feature shape (treating bytes as
    samples) with a FULL oracle because the math is integer until one
    sqrt. The real-codec twin (multimodal_decode_pipeline) stays
    ROWS-gated; this key proves the framing/feature plumbing exactly.

    Plan: Spark computes each frame's Σcode² with transform+aggregate —
    a sequential in-array fold, zero row explosion and zero shuffle (the
    oracle explodes to per-sample rows because DuckDB lacks the fold; both
    reduce to identical integer sums). Output is one row per frame:
    ceil(n/32) per doc."""
    # r13 long-doc fix: the old shape exploded frame indices FIRST, copied
    # the full text into every frame row, and substring'd per sample —
    # substring(text, off + j, 1) is an O(offset) scan, so a long payload
    # cost O(len²) per doc. The per-char code array is now bound ONCE per
    # doc, each frame folds over an O(32) slice of it, and only the small
    # (frame_idx, flen, peak, sumsq) structs are exploded.
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 6 == 0)
    # frame windows via O(1) element access, not slice() — slice inside a
    # lambda runs interpreted and copies the whole code array per frame
    frames = F.expr(
        "transform(sequence(0, cast((size(cd) - 1) / 32 as int)),"
        " k -> named_struct("
        "   'frame_idx', k,"
        "   'flen', cast(least(32, size(cd) - k * 32) as int),"
        "   'peak', cast(array_max(transform("
        "     sequence(k * 32, least(size(cd), k * 32 + 32) - 1),"
        "     j -> cd[j])) as int),"
        "   'sumsq', aggregate(transform("
        "     sequence(k * 32, least(size(cd), k * 32 + 32) - 1),"
        "     j -> cd[j]), 0L, (acc, x) -> acc + CAST(x AS BIGINT) * x)))"
    )
    return (
        d.select(
            "doc_id",
            # empty text has NO frames (the oracle's range(0, (-1//32)+1)
            # is empty); split('','') would be [''] (size 1), so gate to
            # NULL — transform/sequence/explode of NULL emit nothing
            F.expr(
                "CASE WHEN text IS NULL OR length(text) = 0"
                " THEN cast(NULL as array<int>)"
                " ELSE transform(split(text, ''), c -> ascii(c)) END"
            ).alias("cd"),
        )
        .select("doc_id", F.explode(frames).alias("fr"))
        .select(
            "doc_id",
            F.col("fr.frame_idx").alias("frame_idx"),
            F.col("fr.flen").alias("flen"),
            F.col("fr.peak").alias("peak"),
            F.round(
                F.sqrt(F.col("fr.sumsq").cast("double") / F.col("fr.flen")), 4
            ).alias("energy"),
        )
    )
