"""Sources and sinks (``scan_``, ``sink_`` keys): parquet, ORC, CSV,
JSON, XML, text and binary round-trips, Python data sources, partitioned
and clustered layouts.

A key that writes files reads them back from a fresh
``tmpdirs.scratch_dir``, so a second build never overwrites the files a
first, still lazy, result reads.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.cache import fixture
from engine.registry import query
from engine.tables import SCHEMAS, load, sftag
from engine.tmpdirs import scratch_dir


@query(
    "scan_text_lines",
    oracle="SELECT doc_id, text FROM documents",
)
def scan_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text source: documents written as one `doc_id\\ttext`
    line each (spark.write.text), read back with spark.read.text and
    re-parsed — the raw-corpus ingestion format (a .txt/.jsonl sibling of the
    csv/json/orc/parquet sources already covered). Corpus text is
    space-separated words, so the tab delimiter is collision-free.

    100 TB: text is splittable by line, so a directory of .txt shards fans
    out like any other source; parsing is per-row projection (zero shuffle).
    The tab-split uses instr+substring, not split(), to keep any tabs INSIDE
    the payload intact."""
    path = scratch_dir("spark_graft_text_lines_")
    d = load(spark, sf_dir, "documents")
    d.select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), F.col("text"))
    ).coalesce(1).write.mode("overwrite").text(path)
    lines = spark.read.text(path)
    tab = F.instr(F.col("value"), "\t")
    # A NULL text writes as a tab-less line (concat_ws skips nulls), so a
    # missing tab parses back to (doc_id, NULL) — NULL survives the text
    # round-trip, and '' (which writes "id\t") stays distinct (r12).
    return lines.select(
        F.when(tab == 0, F.col("value"))
        .otherwise(F.substring(F.col("value"), F.lit(1), tab - 1))
        .cast("long")
        .alias("doc_id"),
        F.when(tab == 0, F.lit(None).cast("string"))
        .otherwise(F.col("value").substr(tab + 1, F.length("value")))
        .alias("text"),
    )


@query(
    "scan_binary_files",
    # FULL oracle (r06 graduation from ROWS-only): DuckDB's read_blob()
    # reads the same files byte-for-byte — name, size, and the first 4
    # payload bytes (hex) are all independently recomputable. The path is
    # sf0.01-bound because oracle strings are static and the driver runs
    # them at sf=0.01 only (driver contract; driver_sim at another SF
    # would need the matching dir).
    oracle="""
    SELECT parse_filename(filename) AS name,
           CAST(size AS BIGINT) AS length,
           substring(hex(content), 1, 8) AS head_hex
    FROM read_blob('/root/testdata/sf0.01/*.parquet')
    """,
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-file ingestion (spark.read.format('binaryFile')): how opaque
    image/audio/video payloads enter a multimodal pipeline — one row per
    file with (path, length, content bytes), here over the corpus's own
    parquet files as stand-in blobs. Emits (name, length, head_hex: first
    4 bytes) — parquet's magic 'PAR1' — proving content bytes actually
    arrive, not just metadata.

    100 TB: binaryFile loads each file WHOLE into one row — right for
    images/audio clips (KB–MB), wrong for large archives; cap input file
    size and set maxPartitionBytes ≥ largest file. Downstream decode is
    multimodal_decode_pipeline's mapInPandas stage; pathGlobFilter +
    recursiveFileLookup do the directory fan-in."""
    b = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        # r06 directory-layout audit: a Spark-written corpus stores each
        # table as a DIRECTORY of part files; without recursive lookup the
        # flat glob finds zero blobs there. The driver corpus is flat, so
        # this is a no-op for the oracle (same 10 files either way).
        .option("recursiveFileLookup", "true")
        .load(sf_dir)
    )
    return (
        b.select(
            F.element_at(F.split(F.col("path"), "/"), -1).alias("name"),
            F.col("length"),
            F.hex(F.substring(F.col("content"), 1, 4)).alias("head_hex"),
        )
        .orderBy("name")
    )


def _register_seq_source(spark: SparkSession) -> None:
    """Register the demo Python DataSource once per session."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class SeqReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n", 1000))
            self.parts = int(options.get("parts", 8))

        def partitions(self):
            # Explicit input-partition planning: each partition is an
            # independent slice — this is what makes the source parallel
            # and, at scale, lets Spark schedule N readers.
            step = (self.n + self.parts - 1) // self.parts
            return [
                InputPartition((i * step, min((i + 1) * step, self.n)))
                for i in range(self.parts)
            ]

        def read(self, partition):
            # Yield pyarrow.RecordBatch, not Python tuples: the runtime
            # detects Arrow batches and skips per-row pickling entirely —
            # one columnar buffer per partition crosses the Python/JVM
            # boundary instead of (hi - lo) serialized rows. This is the
            # scale path for any real source on this API.
            import numpy as np
            import pyarrow as pa

            lo, hi = partition.value
            i = np.arange(lo, hi, dtype=np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(i),
                    pa.array(i * i),
                    pa.array([f"row-{v}" for v in i]),
                ],
                names=["i", "sq", "tag"],
            )

    class SeqDataSource(DataSource):
        @classmethod
        def name(cls):
            return "sg_seq"

        def schema(self):
            return "i bigint, sq bigint, tag string"

        def reader(self, schema):
            return SeqReader(self.options)

    try:
        spark.dataSource.register(SeqDataSource)
    except Exception:
        pass  # already registered in this session


@query(
    "scan_python_datasource",
    oracle="""
    SELECT i, i * i AS sq, 'row-' || CAST(i AS VARCHAR) AS tag
    FROM generate_series(0, 999) AS g(i)
    """,
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom batch source through the Spark 4 Python DataSource API: a
    deterministic sequence source with explicit partition planning (8 input
    partitions → 8 parallel reader tasks). The FULL oracle pins the
    contract: a user-defined source feeds the same DataFrame machinery as
    any built-in format.

    100 TB: the reader yields one pyarrow.RecordBatch per partition (the
    Arrow fast path of the API — no per-row pickling), so a bespoke-API
    source scales horizontally exactly like a file scan; the partitions()
    plan is where you encode splits (key ranges, shard ids, file
    manifests)."""
    _register_seq_source(spark)
    return spark.read.format("sg_seq").option("n", "1000").option("parts", "8").load()


@query(
    "scan_orc_roundtrip",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source round-trip with pinned schema (the other columnar
    format Spark ships a vectorized reader for; splittable + predicate
    pushdown, same scan properties as parquet)."""
    path = scratch_dir("spark_graft_orc_supplier_")
    load(spark, sf_dir, "supplier").write.mode("overwrite").orc(path)
    return spark.read.schema(SCHEMAS["supplier"]).orc(path)


@query(
    "scan_csv_malformed",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input tolerance: a CSV batch with corrupt rows injected
    (wrong arity, un-castable types), read in DROPMALFORMED mode — survivors
    are exactly the clean rows. The PERMISSIVE/_corrupt_record variant is
    the quarantine route (etl_validate_quarantine has the routing shape);
    DROPMALFORMED is the ingest-and-continue route. Parsing is per-row and
    partition-local — tolerance costs nothing in plan shape at any scale."""
    path = scratch_dir("spark_graft_csv_malformed_")
    n = load(spark, sf_dir, "nation")
    n.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
    import glob as _glob

    csv_file = _glob.glob(f"{path}/part-*.csv")[0]
    with open(csv_file, "a") as fh:
        fh.write("not_an_int,BROKENLAND,also_not_int\n")
        fh.write("99\n")
        fh.write("98,TOO,5,MANY,COLS\n")
    # the append invalidates Hadoop's .crc sidecars; drop them or the local
    # FS read fails with ChecksumException before the parser ever runs
    import os as _os

    for crc in _glob.glob(f"{path}/.*.crc"):
        _os.remove(crc)
    return (
        spark.read.schema(SCHEMAS["nation"])
        .option("header", True)
        .option("mode", "DROPMALFORMED")
        .csv(path)
    )


@query(
    "sink_sorted_clustered",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-02-01 00:00:00'
    """,
)
def sink_sorted_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered parquet layout: repartitionByRange(l_shipdate) +
    sortWithinPartitions before the write, so each output file covers a
    narrow shipdate range and parquet row-group min/max statistics make
    time-range scans skip almost everything (the pushed filter prunes whole
    files/row-groups, not just rows). This is THE layout optimization for
    time-series fact tables at 100 TB — same data, same query, a fraction
    of the I/O. Boundaries come from sampling (nondeterministic splits, but
    content-identical), so the read-back equals the plain filtered table."""
    path = scratch_dir("spark_graft_clustered_lineitem_")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice"
    )
    (
        li.repartitionByRange(4, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    return spark.read.parquet(path).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-02-01").cast("timestamp_ntz"))
    )


@query(
    "scan_merge_schema",
    oracle="""
    SELECT p_partkey, p_name, CAST(NULL AS DOUBLE) AS p_retailprice
    FROM part WHERE p_partkey % 2 = 0
    UNION ALL
    SELECT p_partkey, p_name, p_retailprice
    FROM part WHERE p_partkey % 2 = 1
    """,
)
def scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution: two batches written with different schemas
    (the second adds p_retailprice), read back with mergeSchema=true — the
    unioned schema null-extends the old batch. This is the append-only data
    lake pattern: adding a column never rewrites history. At 100 TB, keep
    mergeSchema OFF for steady-state reads (footer sampling costs a listing
    pass) and declare the evolved schema explicitly; it's enabled here to
    prove the reconciliation semantics."""
    part = load(spark, sf_dir, "part")
    base = scratch_dir("spark_graft_merge_schema_")
    old = part.filter(F.col("p_partkey") % 2 == 0).select("p_partkey", "p_name")
    new = part.filter(F.col("p_partkey") % 2 == 1).select("p_partkey", "p_name", "p_retailprice")
    old.write.mode("overwrite").parquet(f"{base}/batch=0")
    new.write.mode("overwrite").parquet(f"{base}/batch=1")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{base}/batch=0", f"{base}/batch=1")
        .select("p_partkey", "p_name", "p_retailprice")
    )


# ---------------------------------------------------------------------------
# §2.A — scans / sources / sinks
# ---------------------------------------------------------------------------

@query("scan_parquet", oracle="SELECT * FROM lineitem")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized parquet scan, all columns (Batched: true in the plan)."""
    return load(spark, sf_dir, "lineitem")


@query(
    "scan_csv_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source with explicit schema + header: write nation to CSV, read it
    back with a pinned StructType — proves lossless type coercion.

    100 TB: CSV reads are splittable (uncompressed/bzip2); schema is always
    explicit so no inference pass over the data.
    """
    path = scratch_dir("spark_graft_csv_nation_")
    load(spark, sf_dir, "nation").write.mode("overwrite").option("header", True).csv(path)
    return spark.read.schema(SCHEMAS["nation"]).option("header", True).csv(path)


@query(
    "scan_json_lines",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def scan_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source with explicit schema (no sampling-based inference)."""
    path = scratch_dir("spark_graft_json_region_")
    load(spark, sf_dir, "region").write.mode("overwrite").json(path)
    return spark.read.schema(SCHEMAS["region"]).json(path)


_LINEITEM_COLS = ", ".join(f.name for f in SCHEMAS["lineitem"].fields)


@query(
    "sink_parquet_roundtrip",
    oracle=f"SELECT {_LINEITEM_COLS} FROM lineitem WHERE l_quantity <= 10",
)
def sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink + read-back.

    100 TB: partitionBy on a low-cardinality column (3 values) keeps file
    counts bounded; high-cardinality keys would use bucketing instead.
    """
    path = scratch_dir("spark_graft_sink_lineitem_")
    (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") <= 10)
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(path)
    )
    # Explicit schema on read-back: skips the footer-inference pass AND
    # survives a zero-row write (no data files → nothing to infer from;
    # partition values still parse from the key=value paths). Also
    # restores canonical column order (partition column comes back last
    # under inference).
    return spark.read.schema(SCHEMAS["lineitem"]).parquet(path).select(
        *[f.name for f in SCHEMAS["lineitem"].fields]
    )


@query(
    "scan_partition_prune",
    oracle=f"SELECT {_LINEITEM_COLS} FROM lineitem WHERE l_returnflag = 'R'",
)
def scan_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned scan: filter on the partition column only touches the
    matching directory (PartitionFilters in the plan — asserted in tests).

    The partitioned copy is fixture PREP (the demonstrated semantic is the
    pruned SCAN), built once per corpus file version; the query still
    computes fresh from the fixture every run."""
    path = fixture(
        f"sg-prune-{sftag(sf_dir)}-",
        [f"{sf_dir}/lineitem.parquet"],
        ["_SUCCESS"],
        lambda d: load(spark, sf_dir, "lineitem")
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(d),
    )
    # explicit schema: no inference pass, robust to a zero-row write
    df = spark.read.schema(SCHEMAS["lineitem"]).parquet(path).filter(
        F.col("l_returnflag") == "R"
    )
    return df.select(*[f.name for f in SCHEMAS["lineitem"].fields])


def _register_seq_stream_source(spark: SparkSession) -> None:
    """Register the demo streaming Python DataSource once per session."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class SeqStreamReader(SimpleDataSourceStreamReader):
        def __init__(self, options):
            self.n = int(options.get("n", 1000))

        def initialOffset(self):
            return {"i": 0}

        def read(self, start):
            i = start["i"]
            if i >= self.n:
                return iter([]), start
            # One read() call returns the whole sequence: Python stream
            # sources don't support Trigger.AvailableNow (Spark falls back
            # to single-batch execution), so the batch must be the full
            # deterministic payload for the FULL oracle to hold.
            return iter([(x, x * x, f"ev-{x}") for x in range(i, self.n)]), {
                "i": self.n
            }

        def readBetweenOffsets(self, start, end):
            return iter(
                [(x, x * x, f"ev-{x}") for x in range(start["i"], end["i"])]
            )

    class SeqStreamSource(DataSource):
        @classmethod
        def name(cls):
            return "sg_seq_stream"

        def schema(self):
            return "i bigint, sq bigint, tag string"

        def simpleStreamReader(self, schema):
            return SeqStreamReader(self.options)

    try:
        spark.dataSource.register(SeqStreamSource)
    except Exception:
        pass  # already registered in this session


@query(
    "scan_python_stream_source",
    oracle="""
    SELECT i, i * i AS sq, 'ev-' || CAST(i AS VARCHAR) AS tag
    FROM generate_series(0, 999) AS g(i)
    ORDER BY i
    """,
)
def scan_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING half of the Spark 4 Python DataSource API: a custom
    source implementing SimpleDataSourceStreamReader (initialOffset / read
    / readBetweenOffsets) feeding a real Structured Streaming query into a
    memory sink. Offset management — the contract that gives a bespoke API
    exactly-once replay — is the point: readBetweenOffsets re-serves a
    committed range after failure. Python stream sources don't support
    Trigger.AvailableNow (single-batch fallback, warned at runtime), so
    the demo source emits its full deterministic sequence in one batch,
    making the memory-sink contents FULL-oracle-checkable.

    100 TB/day: this is the entry point for queue-like internal APIs with
    no native connector; the simple reader funnels through the driver
    (prefetch + serialize), so high-throughput sources should implement
    the partition-planning DataSourceStreamReader variant instead — same
    trade as the batch reader's Arrow path (scan_python_datasource)."""
    from engine.session import tune

    tune(spark)
    _register_seq_stream_source(spark)
    df = spark.readStream.format("sg_seq_stream").option("n", "1000").load()
    ckpt = scratch_dir(prefix=f"sg-pysds-{sftag(sf_dir)}-")
    name = f"sg_pysds_{sftag(sf_dir)}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(120)
    if not finished:
        q.stop()
        raise TimeoutError(
            "scan_python_stream_source: streaming query missed the 120s "
            "deadline — failing loudly rather than returning a partial "
            "memory-sink table that would misread as a correctness bug"
        )
    return spark.table(name).orderBy("i")


@query(
    "sink_compression_codecs",
    oracle="""
    SELECT 'csv_gzip' AS fmt, count(*) AS n,
           round(sum(l_extendedprice), 2) AS total
    FROM lineitem WHERE l_orderkey < 10000
    UNION ALL
    SELECT 'parquet_zstd', count(*), round(sum(l_extendedprice), 2)
    FROM lineitem WHERE l_orderkey < 10000
    ORDER BY fmt
    """,
)
def sink_compression_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec round-trips: the same slice written as zstd parquet and gzip
    CSV, read back through each codec, and aggregated — identical numbers
    from both paths (and from the oracle's direct scan) prove compression
    is storage-layer only. zstd is the modern parquet default (better
    ratio AND speed than snappy); gzip CSV is the interchange format
    everything legacy emits.

    100 TB: codec choice moves TBs — zstd parquet ≈ 2-4× smaller than
    snappy on text-heavy columns at similar scan CPU; gzip CSV is
    NON-SPLITTABLE (one task per file — keep files ≤ a few hundred MB or
    use bzip2/no compression for parallel ingest of giant files)."""
    base = scratch_dir(prefix=f"sg-codecs-{sftag(sf_dir)}-")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 10000).select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    li.write.mode("overwrite").option("compression", "zstd").parquet(f"{base}/pq")
    li.write.mode("overwrite").option("compression", "gzip").option(
        "header", "true"
    ).csv(f"{base}/csv")
    pq = spark.read.parquet(f"{base}/pq")
    cs = spark.read.option("header", "true").schema(
        "l_orderkey long, l_linenumber int, l_extendedprice double"
    ).csv(f"{base}/csv")
    return (
        pq.agg(
            F.lit("parquet_zstd").alias("fmt"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("total"),
        )
        .unionByName(
            cs.agg(
                F.lit("csv_gzip").alias("fmt"),
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("l_extendedprice"), 2).alias("total"),
            )
        )
        .orderBy("fmt")
    )


@query(
    "scan_csv_multiline_quoted",
    oracle="""
    SELECT doc_id,
           lang || chr(10) || substr(text, 1, 40) || '"q"' AS payload,
           CAST(1 + length(lang || chr(10) || substr(text, 1, 40) || '"q"')
                  - length(replace(
                      lang || chr(10) || substr(text, 1, 40) || '"q"',
                      chr(10), '')) AS INT) AS n_lines
    FROM documents
    """,
)
def scan_csv_multiline_quoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip with embedded newlines AND embedded quotes inside a
    quoted field — the multiLine parse path (scan_csv_roundtrip covers
    the plain path, scan_csv_malformed the corrupt-row path; this is the
    third CSV contract: a record spanning physical lines). A payload with
    a real LF and a double-quoted substring is written by Spark's CSV
    sink (quote-escaping applied) and read back with multiLine=true +
    matching escape; the oracle recomputes the payload directly, so any
    write- or read-side mangling (naive line splitting, double-escaping)
    breaks the hash.

    100 TB caveat (documented trade-off): multiLine CSV files are NOT
    splittable — each file parses as one unit because record boundaries
    can't be found mid-file. Keep files small at the sink (this writer
    emits one shard per input partition) or land multiline data as
    parquet instead."""
    d = load(spark, sf_dir, "documents")
    payload = F.concat(
        F.col("lang"), F.lit("\n"), F.substring("text", 1, 40), F.lit('"q"')
    )
    src = d.select("doc_id", payload.alias("payload"))
    out = os.path.join(
        scratch_dir(prefix=f"sg-csvml-{sftag(sf_dir)}-"), "data"
    )
    src.write.mode("overwrite").option("header", "true").option(
        "escape", '"'
    ).csv(out)
    back = (
        spark.read.schema("doc_id long, payload string")
        .option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .csv(out)
    )
    n_lines = (
        1
        + F.length("payload")
        - F.length(F.regexp_replace("payload", "\n", ""))
    ).cast("int")
    return back.select("doc_id", "payload", n_lines.alias("n_lines"))


@query(
    "scan_recursive_glob",
    oracle="""
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY 1
    """,
)
def scan_recursive_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive directory ingest with a glob filter: the documents table
    split across a nested tree (top level + two levels deep) with a
    non-parquet decoy file alongside, read back via recursiveFileLookup +
    pathGlobFilter='*.parquet' — the lake-layout contract for ingesting
    arbitrarily nested vendor drops without a partition scheme. The
    oracle aggregates the original table; equality proves nothing was
    missed (deep files), duplicated, or wrongly included (the decoy).

    100 TB: file listing is driver/metastore work proportional to file
    count — the reason real lakes either register partitions or compact
    (etl_compact_small_files); the scan itself parallelizes per file
    split as usual."""

    def build(src: str) -> None:
        d = load(spark, sf_dir, "documents")
        os.makedirs(f"{src}/a/b")
        d.filter(F.col("doc_id") % 2 == 0).write.parquet(f"{src}/a/even.parquet")
        d.filter(F.col("doc_id") % 2 == 1).write.parquet(f"{src}/a/b/odd.parquet")
        with open(f"{src}/a/decoy.json", "w") as fh:
            fh.write('{"not": "parquet"}\n')

    src = fixture(
        f"sg-globsrc-{sftag(sf_dir)}-",
        [f"{sf_dir}/documents.parquet"],
        ["a/even.parquet/_SUCCESS", "a/b/odd.parquet/_SUCCESS", "a/decoy.json"],
        build,
    )
    back = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .schema(load(spark, sf_dir, "documents").schema)
        .parquet(src)
    )
    return back.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


@query(
    "sink_python_datasource",
    oracle="""
    SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY 1
    """,
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python DataSource WRITER API — the write-side sibling of
    scan_python_datasource's reader: a custom `DataSourceWriter` whose
    `write(iterator)` receives each partition's rows in Python, persists
    them as JSON-lines shards (one per partition, named by
    TaskContext.partitionId), and returns a commit message the driver's
    `commit()` sees — the full two-phase write protocol (write per task →
    driver commit/abort). The key writes per-language aggregates through
    the custom sink, reads the shards back with the native JSON reader,
    and re-aggregates; the oracle recomputes from the source table, so a
    dropped shard, duplicated task output, or mangled row breaks the
    hash.

    100 TB: each task writes its own shard and reports via commit
    messages; nothing funnels through the driver except the O(#tasks)
    commit metadata — the same contract parquet committers implement. A
    real connector adds abort() cleanup + idempotent task retries (write
    to temp, rename on commit)."""
    import json as _json

    from pyspark.sql.datasource import DataSource, DataSourceWriter, WriterCommitMessage

    out_dir = scratch_dir(prefix=f"sg-pyds-sink-{sftag(sf_dir)}-")

    class JsonShardWriter(DataSourceWriter):
        def __init__(self, options):
            self.path = options.get("path")

        def write(self, iterator):
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            n = 0
            shard = f"{self.path}/part-{pid:05d}.jsonl"
            with open(shard, "w") as fh:
                for row in iterator:
                    fh.write(
                        _json.dumps(
                            {"lang": row["lang"], "n_docs": row["n_docs"],
                             "total_chars": row["total_chars"]}
                        )
                        + "\n"
                    )
                    n += 1
            return WriterCommitMessage()

    class JsonShardSink(DataSource):
        @classmethod
        def name(cls):
            return "sg_jsonl_sink"

        def writer(self, schema, overwrite):
            return JsonShardWriter(self.options)

    try:
        spark.dataSource.register(JsonShardSink)
    except Exception:
        pass  # already registered in this session

    agg = (
        load(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        # shard count should track data volume, not the shuffle-partition
        # conf: 32 near-empty Python writer tasks cost ~4 s of worker forks
        # for a |languages|-row relation.
        .coalesce(4)
    )
    agg.write.format("sg_jsonl_sink").option("path", out_dir).mode("append").save()
    back = spark.read.schema("lang string, n_docs long, total_chars long").json(
        out_dir
    )
    return back.select("lang", "n_docs", "total_chars")


@query(
    "scan_csv_dialect",
    oracle="""
    SELECT event_id, event_type, value, props
    FROM events WHERE event_id % 50 = 0
    """,
)
def scan_csv_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV dialect round-trip: pipe separator, single-quote quoting,
    backslash escape, custom NULL token, header — written and read back
    with the same dialect and a pinned schema; the oracle is the source
    slice itself, so any mis-parse (a quote swallowed, a delimiter split
    inside the JSON props) breaks the hash. Completes the CSV matrix
    beside roundtrip/malformed/multiline.

    Plan: the write partitions map-side (no shuffle); the read is a
    header-skipping parallel text scan with the pinned schema (no
    inference job). Dialect parsing is per-row, stays in the scan."""
    e = load(spark, sf_dir, "events").filter(F.col("event_id") % 50 == 0)
    src = e.select("event_id", "event_type", "value", "props")
    out = scratch_dir("sg_csv_dialect_")
    opts = {
        "sep": "|",
        "quote": "'",
        "escape": "\\",
        "nullValue": "@NULL@",
        "header": "true",
    }
    src.write.mode("overwrite").options(**opts).csv(out)
    return (
        spark.read.options(**opts)
        .schema("event_id bigint, event_type string, value double, props string")
        .csv(out)
    )


@query(
    "scan_xml_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey % 40 = 0
    """,
)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML round-trip (Spark 4 built-in XML source): an orders
    slice written with rowTag granularity and read back with a pinned
    schema — the oracle is the source slice, so element naming, escaping,
    and numeric re-parse must all survive. Completes the format matrix
    beside parquet/ORC/CSV×4/JSON-lines/text/binary.

    Plan: both sides are parallel map-side scans (XML parse is per-row
    within rowTag splits); the pinned schema avoids the inference job.
    XML is the interchange format here, not the analytics format — at
    100 TB you land XML once and convert to parquet (this key IS that
    landing step)."""
    src = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 40 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    )
    out = scratch_dir("sg_xml_rt_")
    src.write.mode("overwrite").option("rowTag", "order").format("xml").save(out)
    return (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema(
            "o_orderkey bigint, o_orderstatus string, "
            "o_totalprice double, o_orderpriority string"
        )
        .load(out)
    )


@query(
    "sink_parquet_bloom_filter",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
    FROM orders
    WHERE o_custkey IN (7, 42, 99)
    """,
)
def sink_parquet_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filtered parquet sink: orders re-written with a parquet bloom
    filter + dictionary on o_custkey, then point-looked-up through the
    new files. Values come back identical to a direct scan (the oracle) —
    blooms are a file-skipping accelerator, never a semantics change.

    Plan note: the rewritten files carry per-row-group bloom filters, so
    a point IN-list scan skips every row group whose bloom rejects the
    probes — at 100 TB that turns a needle-in-haystack lookup from a full
    column scan into touching a handful of row groups. Blooms complement
    min/max stats (which only help when the file is SORTED by the probe
    column — pair with sink_sorted_clustered for the full story); the
    filter itself is also pushed (PushedFilters: In(o_custkey, ...))."""
    base = scratch_dir(prefix=f"sg-bloom-{sftag(sf_dir)}-")
    load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    ).write.mode("overwrite").option(
        "parquet.bloom.filter.enabled#o_custkey", "true"
    ).option(
        "parquet.bloom.filter.expected.ndv#o_custkey", "20000"
    ).parquet(base)
    back = spark.read.parquet(base)
    return back.filter(F.col("o_custkey").isin(7, 42, 99)).select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice"), 2).alias("price"),
    )


@query(
    "scan_json_corrupt_permissive",
    oracle="""
    SELECT count(*) FILTER (WHERE event_id % 7 != 0) AS n_good,
           count(*) FILTER (WHERE event_id % 7 = 0) AS n_corrupt,
           round(sum(value) FILTER (WHERE event_id % 7 != 0), 2) AS value_good
    FROM events
    """,
)
def scan_json_corrupt_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE JSON ingest with a corrupt-record column: events are
    serialized to JSON lines, every 7th record (event_id % 7 == 0) is
    deliberately truncated mid-object, and the reader ingests the file
    anyway — clean rows parse, broken rows land whole in
    `_corrupt_record` with NULL data fields. The query audits the split:
    good count, corrupt count, value sum over good rows; the oracle
    recomputes all three from the source relation, proving PERMISSIVE
    loses nothing it shouldn't and quarantines exactly the broken 1/7th.

    100 TB: PERMISSIVE + corrupt-column is the only ingest posture that
    survives real crawl dumps — FAILFAST kills a 10-hour job on one bad
    byte, DROPMALFORMED silently biases the corpus. Quarantined raw
    strings stay queryable for repair. Per-file work is embarrassingly
    parallel; the audit aggregate is one partial-agg pass."""
    base = scratch_dir(prefix=f"sg-json-corrupt-{sftag(sf_dir)}-")
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    line = F.to_json(F.struct("event_id", "user_id", "value"))
    # Truncate every 7th line: drop the closing brace and tail — guaranteed
    # invalid JSON, deterministic in content and in which rows break.
    broken = F.when(
        F.col("event_id") % 7 == 0, F.expr("substring(js, 1, length(js) - 5)")
    ).otherwise(F.col("js"))
    e.select("event_id", line.alias("js")).select(
        broken.alias("value")
    ).write.mode("overwrite").text(base)
    back = (
        spark.read.schema("event_id long, user_id long, value double, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(base)
    )
    return back.agg(
        F.count(F.col("event_id")).alias("n_good"),
        F.count(F.col("_corrupt_record")).alias("n_corrupt"),
        F.round(F.sum("value"), 2).alias("value_good"),
    )


@query(
    "sink_hive_partitioned",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
    """,
)
def sink_hive_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-layout partitioned sink: events written `partitionBy
    (event_type)` into key=value directories, re-discovered on read-back
    (the partition column comes from the PATH, not the files), and
    queried with a partition-pruning filter. The oracle recomputes from
    the source — the layout round-trip loses nothing, and the read plan
    touches only the two matching directories (PartitionFilters, pinned
    in tests).

    100 TB: directory partitioning is the coarsest and cheapest pruning
    layer — a filter on the partition key skips entire directories at
    PLANNING time, before any file IO. Rule of thumb: partition on
    low-cardinality operational keys (date, source, type), never on
    high-cardinality ones (file-per-value explosion — the small-files
    problem etl_compact_small_files handles)."""
    base = scratch_dir(prefix=f"sg-hivepart-{sftag(sf_dir)}-")
    slim = load(spark, sf_dir, "events").select(
        "event_id", "value", "event_type"
    )
    slim.write.mode("overwrite").partitionBy("event_type").parquet(base)
    # explicit schema: no inference pass, robust to a zero-row write
    back = spark.read.schema(slim.schema).parquet(base)
    return (
        back.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
    )


@query(
    "scan_csv_schema_drift",
    oracle="""
    SELECT count(*) AS n_rows,
           count(c_acctbal) AS n_with_balance,
           count(*) - count(c_acctbal) AS n_drifted,
           round(sum(c_acctbal), 2) AS balance_sum
    FROM (
      SELECT c_acctbal FROM customer WHERE c_custkey % 2 = 0
      UNION ALL
      SELECT NULL AS c_acctbal FROM customer WHERE c_custkey % 2 = 1
    )
    """,
)
def scan_csv_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift CSV ingest: two CSV batches of the same feed — an old
    export missing the c_acctbal column and a new export carrying it —
    each read with ITS OWN explicit schema and aligned by
    `unionByName(allowMissingColumns=True)`, which materializes the
    missing column as NULL instead of shifting neighbors (CSV is
    positional: one shared 3-column schema over 2-column files is a
    read error, not a NULL — Spark refuses rather than guessing, and
    the per-batch-schema union is the idiomatic drift pattern). The
    audit counts total rows, populated vs drifted rows, and the balance
    sum over rows that have one; the oracle rebuilds the same split
    from the source relation.

    100 TB: feeds drift — schema-per-batch + name-based union survives a
    column added upstream without rewriting history, and it generalizes
    to any number of generations (fold unionByName over the batch list).
    Per-file parse stays embarrassingly parallel; the union is a plan
    concat, not a shuffle."""
    base = scratch_dir(prefix=f"sg-drift-{sftag(sf_dir)}-")
    c = load(spark, sf_dir, "customer")
    c.filter(F.col("c_custkey") % 2 == 1).select(
        "c_custkey", "c_name"
    ).write.mode("overwrite").option("header", "true").csv(f"{base}/old")
    c.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey", "c_name", "c_acctbal"
    ).write.mode("overwrite").option("header", "true").csv(f"{base}/new")
    old = (
        spark.read.schema("c_custkey long, c_name string")
        .option("header", "true")
        .csv(f"{base}/old")
    )
    new = (
        spark.read.schema("c_custkey long, c_name string, c_acctbal double")
        .option("header", "true")
        .csv(f"{base}/new")
    )
    back = old.unionByName(new, allowMissingColumns=True)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("c_acctbal").alias("n_with_balance"),
        (F.count(F.lit(1)) - F.count("c_acctbal")).alias("n_drifted"),
        F.round(F.sum("c_acctbal"), 2).alias("balance_sum"),
    )


@query(
    "scan_metadata_columns",
    oracle="""
    SELECT CAST(least(4, count(*)) AS BIGINT) AS n_files,
           count(*) AS n_rows,
           CASE WHEN count(*) = 0 THEN NULL ELSE TRUE END AS all_sizes_positive,
           TRUE AS paths_distinct_per_file
    FROM events
    """,
)
def scan_metadata_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reader's hidden `_metadata` struct: events re-written as
    exactly 4 parquet files, read back selecting `_metadata.file_name` /
    `file_size` / `file_path` alongside the data — per-row provenance
    with no custom source. The audit proves the metadata is real: 4
    distinct file names, every file size positive, and path↔name
    consistency; row count matches the source.

    100 TB: `_metadata` is the lineage column — which physical file did
    this row come from — used for incremental reprocessing (join against
    a bad-file manifest), audit trails, and debugging skewed files. It
    is populated from the scan's own file listing: zero extra IO, and
    filters on it prune at the FILE level like partition filters.

    Degenerate-source semantics (r12, hardened r13): Spark writes no
    part files for empty partitions, so an n-row source yields
    min(n, 4) files and an empty one a vacuous (NULL) min-size flag —
    the oracle's least(4, count(*)) + CASE mirror exactly that. The
    write uses repartitionByRange on the distinct event_id (NOT
    round-robin repartition(4): each input partition round-robins from
    its own seeded start, so a tiny MULTI-partition input can collide
    n < 4 rows into fewer than n output files and flake the parity
    check; the range partitioner provably places k <= 4 distinct keys
    in k distinct partitions — probed at n=1..7,100, ADVICE r12)."""
    base = scratch_dir(prefix=f"sg-meta-{sftag(sf_dir)}-")
    load(spark, sf_dir, "events").select("event_id", "value").repartitionByRange(
        4, "event_id"
    ).write.mode("overwrite").parquet(base)
    back = spark.read.parquet(base).select(
        "event_id",
        F.col("_metadata.file_name").alias("fname"),
        F.col("_metadata.file_path").alias("fpath"),
        F.col("_metadata.file_size").alias("fsize"),
    )
    return back.agg(
        F.countDistinct("fname").alias("n_files"),
        F.count(F.lit(1)).alias("n_rows"),
        (F.min("fsize") > 0).alias("all_sizes_positive"),
        (F.countDistinct("fpath") == F.countDistinct("fname")).alias(
            "paths_distinct_per_file"
        ),
    )


@query(
    "scan_text_wholefile",
    oracle="""
    WITH parts AS (
      SELECT n_regionkey,
             string_agg(n_name, chr(10) ORDER BY n_name) AS body
      FROM nation GROUP BY n_regionkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(len(body)) AS BIGINT) AS total_chars,
           CAST(sum(len(body) - len(replace(body, chr(10), '')) + 1) AS BIGINT)
             AS total_lines
    FROM parts
    """,
)
def scan_text_wholefile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file text ingest: one document per region (its nations, one
    per line) written as individual .txt files, read back with the
    `wholetext` option — ONE ROW PER FILE, newlines preserved — and
    audited by file count, total characters, and total line count
    against a source recompute. Contrast scan_text_lines (default mode:
    one row per LINE, file identity lost).

    100 TB: wholetext is the ingest mode for file-per-document corpora
    (web pages, transcripts, source files) where a document must stay
    one record. Caveat at scale: each file must fit in one task's memory
    — it is deliberately NOT splittable; shard oversized documents
    upstream or switch to line/offset framing."""
    base = scratch_dir(prefix=f"sg-whole-{sftag(sf_dir)}-")
    n = load(spark, sf_dir, "nation")
    parts = (
        n.groupBy("n_regionkey")
        .agg(F.array_join(F.array_sort(F.collect_list("n_name")), "\n").alias("body"))
        .collect()
    )
    for r in parts:
        with open(f"{base}/region_{r['n_regionkey']}.txt", "w") as fh:
            fh.write(r["body"])
    back = spark.read.text(base, wholetext=True)
    return back.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.length("value")).cast("long").alias("total_chars"),
        F.sum(
            F.length("value")
            - F.length(F.regexp_replace("value", "\n", ""))
            + 1
        )
        .cast("long")
        .alias("total_lines"),
    )


@query(
    "scan_csv_multichar_delim",
    oracle="""
    SELECT count(*) AS n,
           count(DISTINCT s_nationkey) AS n_nations,
           round(sum(s_acctbal), 2) AS total_bal
    FROM supplier
    """,
)
def scan_csv_multichar_delim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-character delimiter CSV: the supplier table round-tripped
    through a `||`-separated file — the dialect legacy mainframe/ERP
    feeds actually emit (single-char delimiters collide with free-text
    name fields; a 2-char sep is the usual fix). Explicit schema on
    read-back; the audit (count, distinct keys, balance sum) must equal
    a direct source scan.

    100 TB: multi-char-sep parsing runs in the uniVocity parser like any
    CSV — splittable by line, embarrassingly parallel per file; the
    dialect costs nothing at scale, unlike non-splittable gzip
    (sink_compression_codecs' caveat)."""
    base = scratch_dir(prefix=f"sg-mcd-{sftag(sf_dir)}-")
    load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    ).write.mode("overwrite").option("sep", "||").option("header", "true").csv(base)
    back = (
        spark.read.schema(
            "s_suppkey long, s_name string, s_nationkey int, s_acctbal double"
        )
        .option("sep", "||")
        .option("header", "true")
        .csv(base)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("s_nationkey").alias("n_nations"),
        F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
    )


@query(
    "sink_atomic_publish",
    oracle="""
    SELECT CAST(2 AS INT) AS current_version,
           count(*) AS n_rows,
           round(sum(o_totalprice), 2) AS total,
           TRUE AS previous_version_retained
    FROM orders WHERE o_orderstatus IN ('O', 'F')
    """,
)
def sink_atomic_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic snapshot publishing: each publish writes a COMPLETE
    snapshot to its own versioned directory (v1, v2, ...) and then
    atomically rewrites a one-line pointer file naming the current
    version — the reader resolves the pointer first, so it always sees
    exactly one committed snapshot (old or new, never a mix), and
    superseded versions remain on disk for time travel / rollback. Two
    publishes run here (v1 = open orders, v2 = open+finished); the audit
    reads THROUGH the pointer and proves it sees v2 while v1 is
    retained.

    100 TB: this pointer-swap is the core of every table format's commit
    protocol (Delta's _last_checkpoint + log, Iceberg's version-hint /
    catalog pointer) — the data write is big and non-atomic, the COMMIT
    is one tiny atomic rename. Readers pay one extra small read; writers
    never block readers."""
    base = scratch_dir(prefix=f"sg-pub-{sftag(sf_dir)}-")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )

    def publish(version: int, df: DataFrame) -> None:
        df.write.mode("overwrite").parquet(f"{base}/v{version}")
        tmp = f"{base}/.pointer.tmp"
        with open(tmp, "w") as fh:
            fh.write(str(version))
        os.rename(tmp, f"{base}/POINTER")  # atomic commit

    publish(1, o.filter(F.col("o_orderstatus") == "O"))
    publish(2, o.filter(F.col("o_orderstatus").isin("O", "F")))

    with open(f"{base}/POINTER") as fh:
        current = int(fh.read().strip())
    snap = spark.read.parquet(f"{base}/v{current}")
    v1_retained = os.path.isdir(f"{base}/v1") and any(
        f.endswith(".parquet") for f in os.listdir(f"{base}/v1")
    )
    return snap.agg(
        F.lit(current).cast("int").alias("current_version"),
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.lit(v1_retained).alias("previous_version_retained"),
    )


@query(
    "scan_parquet_nested_pushdown",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
    FROM events
    WHERE user_id BETWEEN 10 AND 40
    GROUP BY event_type
    """,
)
def scan_parquet_nested_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-struct scan contract: events re-written with their
    dimensions folded into a `meta STRUCT<user_id, event_type>` column,
    then queried with a RANGE FILTER ON THE NESTED FIELD
    (meta.user_id BETWEEN ...). The plan must show both halves of the
    contract (pinned in tests): the predicate pushed into the parquet
    scan as a nested-column filter, and schema pruning reading only the
    struct fields the query touches — nested data is not an excuse for
    full-struct IO.

    100 TB: event payloads ARE nested in practice; without nested
    pushdown + pruning every query pays the whole struct's IO and
    post-scan filtering. The capability is conf-on-by-default
    (spark.sql.optimizer.nestedSchemaPruning.enabled); this key keeps it
    regression-pinned."""
    base = scratch_dir(prefix=f"sg-nested-{sftag(sf_dir)}-")
    load(spark, sf_dir, "events").select(
        "event_id",
        F.struct("user_id", "event_type").alias("meta"),
        "value",
    ).write.mode("overwrite").parquet(base)
    back = spark.read.parquet(base)
    return (
        back.filter(F.col("meta.user_id").between(10, 40))
        .groupBy(F.col("meta.event_type").alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
    )
