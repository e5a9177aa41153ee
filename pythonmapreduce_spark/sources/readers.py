"""Source connectors beyond parquet: CSV and JSON(L), with explicit
schemas (never inferSchema in production paths — it forces an extra full
scan), plus round-trip queries proving sink+source fidelity.

The reference reads exactly one format — newline-delimited text files
(/root/reference/master.py:25-31). This module is the engine's format
surface: text (text_corpus.py), parquet (catalog.py), CSV, JSON here;
JDBC/Kafka need driver jars not present in this environment and are
stubbed with a clear error.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from pythonmapreduce_spark.catalog import SCHEMAS, load
from pythonmapreduce_spark.plans.materialize import release_at_run_end, run_scratch
from pythonmapreduce_spark.plans.registry import register
from pythonmapreduce_spark.sources.text_corpus import BOOKS_DIR


def write_csv(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").option("header", True).csv(path)


def read_csv(spark: SparkSession, path: str, table: str) -> DataFrame:
    return spark.read.schema(SCHEMAS[table]).option("header", True).csv(path)


def write_jsonl(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def read_jsonl(spark: SparkSession, path: str, table: str) -> DataFrame:
    return spark.read.schema(SCHEMAS[table]).json(path)


_DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def write_jdbc(df: DataFrame, url: str, dbtable: str, driver: str = _DERBY_DRIVER) -> None:
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", dbtable)
        .option("driver", driver)
        .mode("overwrite")
        .save()
    )


def read_jdbc(
    spark: SparkSession,
    url: str,
    dbtable: str,
    driver: str = _DERBY_DRIVER,
    partition_column: str | None = None,
    bounds: tuple[int, int] | None = None,
    num_partitions: int = 8,
) -> DataFrame:
    """JDBC source. Exercised locally against embedded Derby (Spark ships
    the Derby jars for its metastore); any server-grade driver works the
    same way with its jar on the executor classpath.

    At scale the partitioned form is mandatory: without partitionColumn the
    whole table streams through ONE task; with it, Spark issues
    num_partitions range-predicated queries in parallel — the JDBC analog
    of parquet's split-per-row-group.
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", dbtable)
        .option("driver", driver)
    )
    if partition_column is not None and bounds is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(bounds[0]))
            .option("upperBound", str(bounds[1]))
            .option("numPartitions", str(num_partitions))
        )
    return reader.load()


def _shutdown_derby(spark: SparkSession, db: str) -> None:
    try:
        spark._jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{db};shutdown=true")
    except Py4JJavaError:
        pass  # Derby reports a clean shutdown as SQLException 08006


@register("source_roundtrip_csv", oracle="SELECT * FROM nation")
def source_roundtrip_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation → CSV sink → CSV source must be lossless (header + explicit
    schema; no type inference)."""
    path = run_scratch("nation_csv_")
    write_csv(load(spark, sf_dir, "nation"), path)
    return read_csv(spark, path, "nation")


@register("source_roundtrip_jdbc", oracle="SELECT * FROM nation")
def source_roundtrip_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation → JDBC sink → partitioned JDBC source must be lossless.

    Runs against embedded Derby (jars ship with Spark); the read-back uses
    the partitioned range-query form (4 partitions on n_nationkey), proving
    the parallel-scan path, not just the single-task one.
    """
    # Derby creates the database directory itself, so it is a child of the
    # run's scratch directory; the run's end shuts the database down before
    # removing it, so a long-lived JVM keeps no database booted per run.
    db = os.path.join(run_scratch("derby_"), "db")
    release_at_run_end(lambda: _shutdown_derby(spark, db))
    url = f"jdbc:derby:{db};create=true"
    write_jdbc(load(spark, sf_dir, "nation"), url, "nation")
    return read_jdbc(
        spark, url, "nation", partition_column="n_nationkey", bounds=(0, 25), num_partitions=4
    )


@register("source_roundtrip_json", oracle="SELECT * FROM region")
def source_roundtrip_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region → JSONL sink → JSONL source must be lossless."""
    path = run_scratch("region_json_")
    write_jsonl(load(spark, sf_dir, "region"), path)
    return read_jsonl(spark, path, "region")


def write_xml(df: DataFrame, path: str, row_tag: str) -> None:
    df.write.mode("overwrite").option("rowTag", row_tag).format("xml").save(path)


def read_xml(spark: SparkSession, path: str, table: str, row_tag: str) -> DataFrame:
    # Explicit schema, like every other connector here: XML inference would
    # both cost an extra full scan and widen integers to long.
    return (
        spark.read.schema(SCHEMAS[table])
        .option("rowTag", row_tag)
        .format("xml")
        .load(path)
    )


@register("source_roundtrip_xml", oracle="SELECT * FROM part")
def source_roundtrip_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part → XML sink → XML source must be lossless (Spark 4's built-in
    native XML connector, the spark-xml package folded into core).

    part is the widest-typed small table (long/int/string/double), so the
    round trip pins numeric text fidelity too: the writer emits Java
    ``Double.toString`` forms, which parse back bit-exact. Entity escaping
    (&, <, >) is the connector's job — nothing here assumes clean strings,
    unlike the refwire format whose no-escaping quirk is reference parity.
    Each executor task writes one part-file and the reader splits on row
    tags per file, so both directions stay executor-parallel at any scale.
    """
    path = run_scratch("part_xml_")
    write_xml(load(spark, sf_dir, "part"), path, "part")
    return read_xml(spark, path, "part", "part")


@register("sink_partitioned_parquet", oracle="SELECT doc_id, lang, n_chars FROM documents")
def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → parquet sink partitionBy(lang) → read back, lossless.

    Hive-style partitioned layout (one directory per lang) is the physical
    organization that makes partition pruning work at 100 TB: a later
    ``WHERE lang = 'en'`` scan touches only that directory. The oracle
    proves the round trip preserves every row and value.
    """
    path = run_scratch("documents_by_lang_")
    (
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(path)
    )
    # explicit schema on read-back: partition-column discovery needs at
    # least one partition directory, so an empty write would otherwise fail
    # schema inference (degenerate-input robustness, tests/test_empty_input)
    out = spark.read.schema("doc_id long, n_chars long, lang string").parquet(path)
    # partition column comes back typed as read; restore column order/type
    return out.select("doc_id", "lang", F.col("n_chars").cast("long"))


@register("source_roundtrip_orc", oracle="SELECT * FROM supplier")
def source_roundtrip_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier → ORC sink → ORC source must be lossless.

    ORC is Spark's other built-in columnar format (vectorized reader,
    predicate pushdown, zlib/zstd) — the interchange format when the
    surrounding warehouse is Hive/Trino-based rather than parquet-native.
    """
    path = run_scratch("supplier_orc_")
    load(spark, sf_dir, "supplier").write.mode("overwrite").orc(path)
    return spark.read.schema(SCHEMAS["supplier"]).orc(path)


@register(
    "source_schema_evolution",
    oracle="""
    SELECT p_partkey, p_name,
           CASE WHEN p_partkey % 2 = 0 THEN NULL ELSE p_retailprice END
               AS p_retailprice
    FROM part
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet batches written with different
    schemas (a column added in batch 2) merge into the union schema, old
    rows NULL-filled — the append-only ingestion reality of any long-lived
    100 TB table. ``mergeSchema`` reconciles footers at planning time; the
    oracle pins exactly which rows carry the late column.
    """
    part = load(spark, sf_dir, "part")
    p1 = run_scratch("part_v1_")
    p2 = run_scratch("part_v2_")
    part.where(F.col("p_partkey") % 2 == 0).select("p_partkey", "p_name").write.mode(
        "overwrite"
    ).parquet(p1)
    part.where(F.col("p_partkey") % 2 == 1).select(
        "p_partkey", "p_name", "p_retailprice"
    ).write.mode("overwrite").parquet(p2)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(p1, p2)
        .select("p_partkey", "p_name", "p_retailprice")
    )


@register("sink_compaction", oracle="SELECT doc_id, lang, n_chars FROM documents")
def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: a fragmented write (one file per shuffle
    partition) rewritten into few large files, losslessly.

    The nightly operational job every 100 TB table needs — file-count
    pressure on the metastore/driver listing is a real scale failure mode.
    ``coalesce`` (not repartition) does the rewrite without a shuffle: it
    only merges partitions on read. tests/test_sources.py asserts the
    physical file count actually dropped.
    """
    frag = run_scratch("documents_fragmented_")
    compact = run_scratch("documents_compacted_")
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    docs.repartition(32).write.mode("overwrite").parquet(frag)
    spark.read.parquet(frag).coalesce(2).write.mode("overwrite").parquet(compact)
    return spark.read.parquet(compact).select(
        "doc_id", "lang", F.col("n_chars").cast("long")
    )


@register(
    "join_partition_pruned",
    oracle="""
    WITH sel AS (SELECT DISTINCT lang FROM documents WHERE lang <= 'en')
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents d JOIN sel USING (lang)
    GROUP BY d.lang
    """,
)
def join_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning over a Hive-partitioned fact: the fact
    side is documents re-laid-out as parquet partitionBy(lang); joining
    it against a filtered dim makes Catalyst plant a
    ``dynamicpruningexpression`` in the fact scan's PartitionFilters
    (reusing the dim's broadcast as the pruning subquery), so only the
    surviving langs' DIRECTORIES are listed and read.

    This is the 100 TB star-join workhorse: a date/tenant-partitioned
    fact joined to a filtered dimension skips whole partitions at file-
    listing time — orders of magnitude cheaper than row-level filters.
    The plan shape is pinned by tests/test_plans.py (DPP marker present
    in the executed plan); the oracle proves the pruned read returns
    exactly the rows the logical join demands.
    """
    path = run_scratch("dpp_documents_by_lang_")
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    docs.write.mode("overwrite").partitionBy("lang").parquet(path)
    fact = spark.read.schema("doc_id long, n_chars long, lang string").parquet(path)
    dim = docs.select("lang").distinct().where(F.col("lang") <= "en")
    return (
        fact.join(dim, "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


@register(
    "source_binaryfile",
    oracle=rf"""
    SELECT regexp_extract(filename, '[^/]+$') AS file_name,
           CAST(octet_length(encode(content)) AS BIGINT) AS n_bytes,
           md5(content) AS digest
    FROM read_text('{BOOKS_DIR}/*.txt')
    """,
)
def source_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in `binaryFile` source over the books/ corpus
    (``text_corpus.BOOKS_DIR``): whole files as opaque binary payloads
    with typed metadata (path, length, content) — the ingestion shape for
    multimodal blobs (multimodal.py consumes exactly this schema once
    images/audio are real files instead of synthesized columns).

    Emits per-file byte length + md5 digest, oracle-checked against
    DuckDB's read_text (md5 over the UTF-8 payload; DuckDB's blob→varchar
    cast escapes bytes, so read_blob cannot feed its md5) — proving
    byte-exact ingestion, not just schema
    shape. Fixed read-only corpus path, same convention as
    wordcount_text. At scale binaryFile parallelizes per-file (one
    partition per file up to maxPartitionBytes); digests reduce each
    blob to 16 bytes before any exchange.
    """
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(BOOKS_DIR)
        .select(
            F.regexp_extract(F.col("path"), r"[^/]+$", 0).alias("file_name"),
            F.col("length").cast("long").alias("n_bytes"),
            F.md5(F.col("content")).alias("digest"),
        )
    )


@register(
    "source_libsvm",
    oracle="""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding[1:4], x -> ROUND(CAST(x AS DOUBLE), 3)) AS v
        FROM embeddings WHERE vec_id <= 100 AND embedding IS NOT NULL
    )
    SELECT CAST(vec_id AS DOUBLE) AS label,
           array_to_string(list_transform(v, x -> CAST(ROUND(x * 1000) AS BIGINT)),
                           ',') AS fvec_milli
    FROM e
    """,
)
def source_libsvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `libsvm` source bundled with Spark ML — the sparse
    (label, index:value) text format classic ML tooling exchanges.
    A bounded slice of the embeddings table is serialized to libsvm lines
    BY A SPARK JOB (text sink, no driver loop), read back through
    ``format("libsvm")`` into ml sparse vectors, and re-emitted as
    integer-milli feature strings — the oracle recomputes the same
    values straight from the embeddings, so format serialization,
    1-based→0-based index mapping, and vector reconstruction must all be
    lossless for the hash to match.

    Values are fixed to 3 decimals BEFORE writing (the libsvm text is
    the system of record, and ROUND(x·1000) on the read-back is exact on
    those values), keeping the comparison float-artifact-free. The
    vector column is flattened via vector_to_array — driver
    canonicalizers reject UDT cells.
    """
    from pyspark.ml.functions import vector_to_array

    from pythonmapreduce_spark.catalog import load

    emb = (
        load(spark, sf_dir, "embeddings")
        .where((F.col("vec_id") <= 100) & F.col("embedding").isNotNull())
        .select(
            "vec_id",
            F.transform(
                F.slice("embedding", 1, 4),
                lambda x: F.round(x.cast("double"), 3),
            ).alias("v"),
        )
    )
    line = F.concat(
        F.col("vec_id").cast("double").cast("string"),
        F.lit(" 1:"), F.element_at("v", 1).cast("string"),
        F.lit(" 2:"), F.element_at("v", 2).cast("string"),
        F.lit(" 3:"), F.element_at("v", 3).cast("string"),
        F.lit(" 4:"), F.element_at("v", 4).cast("string"),
    )
    out_dir = run_scratch("libsvm_")
    emb.select(line.alias("value")).write.mode("overwrite").text(out_dir)
    back = spark.read.format("libsvm").option("numFeatures", "4").load(out_dir)
    arr = vector_to_array(F.col("features"))
    milli = F.transform(arr, lambda x: F.round(x * 1000).cast("long").cast("string"))
    return back.select("label", F.array_join(milli, ",").alias("fvec_milli"))


@register(
    "sink_dynamic_overwrite",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_corrected
    FROM (
        SELECT lang, doc_id FROM documents WHERE lang <> 'en'
        UNION ALL
        SELECT lang, -doc_id AS doc_id FROM documents WHERE lang = 'en'
    )
    GROUP BY lang
    """,
)
def sink_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the backfill primitive: rewriting one
    partition's corrected data replaces ONLY the partitions present in
    the incoming frame and leaves every other partition's files untouched
    (static mode would silently TRUNCATE the whole table first — the
    classic warehouse data-loss foot-gun this mode exists to prevent).

    Here the full table lands partitioned by lang, then a corrected 'en'
    batch (doc_id negated as the visible marker) overwrites in dynamic
    mode; the read-back must show corrected 'en' rows alongside intact
    originals for every other lang — which is exactly what the oracle
    states. At 100 TB this is the nightly-restatement path: work scales
    with the restated partition, never the table.
    """
    path = run_scratch("documents_dyn_overwrite_")
    base = load(spark, sf_dir, "documents").select("doc_id", "lang")
    base.write.mode("overwrite").partitionBy("lang").parquet(path)
    corrected = base.where(F.col("lang") == "en").select(
        (-F.col("doc_id")).alias("doc_id"), "lang"
    )
    (
        corrected.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("lang")
        .parquet(path)
    )
    out = spark.read.schema("doc_id long, lang string").parquet(path)
    return out.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("doc_id") < 0).cast("long")).cast("long").alias("n_corrected"),
    )


@register(
    "source_file_provenance",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY lang
    """,
)
def source_file_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level file provenance via ``input_file_name()`` — the audit
    column every ingestion pipeline adds so a bad record can be traced to
    the exact source file (and the file re-ingested or quarantined). The
    table is first written as a lang-partitioned layout, read back with
    the provenance pseudo-column, and the lang parsed OUT OF THE FILE
    PATH must reproduce the partition column exactly — proving the
    provenance column is consistent with physical layout.

    Scale: input_file_name() is a zero-cost scan-local expression (the
    task already knows its split); grouping by provenance costs the same
    as any low-cardinality aggregate.
    """
    path = run_scratch("documents_prov_")
    (
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(path)
    )
    out = spark.read.schema("doc_id long, lang string").parquet(path)
    from_path = F.regexp_extract(F.expr("input_file_name()"), r"lang=([^/]+)/", 1)
    return (
        out.select("doc_id", from_path.alias("lang"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
        )
    )
