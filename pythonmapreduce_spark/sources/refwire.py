"""A Spark Python DataSource that speaks the reference's wire format.

The reference frames every input record as ``#\\r#{file}#\\r#{line}`` and
concatenates frames into one string per mapper (its KV-store input value,
/root/reference/master.py:33-40); workers re-split on the delimiter and
pair up (file, chunk) records (/root/reference/mapper_node.py:78-82).
This module implements that format as a FIRST-CLASS Spark source via the
Python DataSource API (Spark 4): ``spark.read.format("refwire")`` returns
a (file_name, chunk) DataFrame, one input partition per wire file, with
the decode running distributed on executors — so the reference's own
on-the-wire data (not just its text corpus) is directly queryable, and
every relational operator in this engine composes on top.

The decode mirrors the reference exactly: split on the literal
``#\\r#``, drop the leading empty segment, pair adjacent segments as
(file, chunk) — including its quirk that a chunk CONTAINING the
delimiter corrupts framing (no escaping exists; SURVEY §1.3), which the
hostile-delimiter parity test pins at the tokenizer level.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from pythonmapreduce_spark.plans.materialize import run_scratch
from pythonmapreduce_spark.plans.registry import register
from pythonmapreduce_spark.sources.text_corpus import BOOKS_DIR

_DELIM = "#\r#"


class RefWireDataSource(DataSource):
    """``format("refwire")``: reads directories of ``*.wire`` frame files."""

    @classmethod
    def name(cls) -> str:
        return "refwire"

    def schema(self) -> str:
        return "file_name string, chunk string"

    def reader(self, schema) -> "_RefWireReader":  # noqa: ANN001
        return _RefWireReader(self.options)

    def simpleStreamReader(self, schema) -> "_RefWireStreamReader":  # noqa: ANN001
        return _RefWireStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> "_RefWireWriter":  # noqa: ANN001
        return _RefWireWriter(self.options, overwrite)


class _RefWireReader(DataSourceReader):
    def __init__(self, options) -> None:  # noqa: ANN001
        self.path = options.get("path")

    def partitions(self) -> list[InputPartition]:
        # One partition per wire file — the natural split boundary (frames
        # never cross files), so executors decode files in parallel.
        return [
            InputPartition(p)
            for p in sorted(glob.glob(os.path.join(self.path, "*.wire")))
        ]

    def read(self, partition: InputPartition):
        # errors='ignore' matches the reference's decode everywhere
        # (/root/reference/kvstore.py:14,23,32,51,57).
        # newline="" in _decode_wire_file disables universal-newline
        # translation: the delimiter contains a literal \r that text mode
        # would silently fold to \n.
        # partition is None when partitions() returned [] (empty wire
        # directory): Spark still schedules one default partition.
        if partition is None:
            return
        yield from _decode_wire_file(partition.value)


def _decode_wire_file(path: str):
    """Decode one wire file into (file_name, chunk) pairs — the exact
    re-split loop of /root/reference/mapper_node.py:78-82."""
    with open(path, encoding="utf-8", errors="ignore", newline="") as f:
        segments = f.read().split(_DELIM)[1:]
    for i in range(0, len(segments) - 1, 2):
        yield (segments[i], segments[i + 1])


class _RefWireStreamReader(SimpleDataSourceStreamReader):
    """Streaming tail of a wire directory — the Spark-native analog of the
    reference's socket feed (its master pushes framed chunks to mappers as
    they arrive, /root/reference/master.py:100-106; here new ``.wire``
    files landing in the directory are the arrival events).

    Offset = number of files consumed in sorted order, so recovery via
    readBetweenOffsets replays exactly the files a lost batch covered
    (exactly-once over an append-only directory). The simple-reader API
    runs decode driver-side per micro-batch; the batch ``reader()`` above
    is the executor-parallel path — the right split for a tailing source
    whose per-batch increment is small while backfills go through batch.
    """

    def __init__(self, options) -> None:  # noqa: ANN001
        self.path = options.get("path")

    def _files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.path, "*.wire")))

    def initialOffset(self) -> dict:
        return {"n_files": 0}

    def read(self, start: dict):
        files = self._files()
        n0 = start["n_files"]
        rows: list[tuple] = []
        for p in files[n0:]:
            rows.extend(_decode_wire_file(p))
        return iter(rows), {"n_files": len(files)}

    def readBetweenOffsets(self, start: dict, end: dict):
        files = self._files()
        rows: list[tuple] = []
        for p in files[start["n_files"] : end["n_files"]]:
            rows.extend(_decode_wire_file(p))
        return iter(rows)


class _RefWireWriter(DataSourceWriter):
    """Executor-parallel WRITE of the reference's wire format — the sink
    half of the connector (the reference's master produces this framing
    driver-side over a socket, /root/reference/master.py:33-40; here each
    task frames its own partition into one ``.wire`` file).

    Frames are emitted exactly as the reference does: ``#\r#{file}#\r#
    {chunk}`` concatenated with no record separator (the format is
    self-delimiting as long as chunks never contain the delimiter — the
    reference has no escaping, SURVEY §1.3, and neither do we). One file
    per non-empty partition, named by partition id; overwrite clears the
    target directory at plan time (driver-side), matching parquet's
    overwrite contract at this scale of fidelity."""

    def __init__(self, options, overwrite: bool) -> None:  # noqa: ANN001
        self.path = options.get("path")
        if overwrite and os.path.isdir(self.path):
            for old_file in glob.glob(os.path.join(self.path, "*.wire")):
                os.remove(old_file)
        os.makedirs(self.path, exist_ok=True)

    def write(self, iterator) -> WriterCommitMessage:  # noqa: ANN001
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        frames: list[str] = []
        for row in iterator:
            frames.append(f"{_DELIM}{row.file_name}{_DELIM}{row.chunk}")
        if frames:
            out = os.path.join(self.path, f"part-{pid:05d}.wire")
            with open(out, "w", encoding="utf-8", newline="") as f:
                f.write("".join(frames))
        return WriterCommitMessage()


_REGISTERED: set[int] = set()


def register_refwire(spark: SparkSession) -> None:
    if id(spark) not in _REGISTERED:
        spark.dataSource.register(RefWireDataSource)
        _REGISTERED.add(id(spark))


def _frame_books(cache_dir: str) -> str:
    """Encode the books corpus (``text_corpus.BOOKS_DIR``) into the
    reference's wire format, one ``.wire`` file per book — the exact
    framing loop of master.py:25-40 (line-per-frame; leading BOM stripped
    to match Spark's text-reader semantics so the oracle tokenization
    agrees). Returns the framed directory.

    The frames live in ``cache_dir/<corpus digest>``, so an edited corpus
    never reads stale frames; the cache is shared across runs and
    processes, and nothing removes it."""
    srcs = sorted(glob.glob(os.path.join(BOOKS_DIR, "*.txt")))
    digest = hashlib.sha1()
    for src in srcs:
        with open(src, "rb") as f:
            digest.update(os.path.basename(src).encode() + b"\0" + f.read())
    out_dir = os.path.join(cache_dir, digest.hexdigest()[:16])
    if os.path.isdir(out_dir):
        return out_dir
    os.makedirs(cache_dir, exist_ok=True)
    tmp_dir = tempfile.mkdtemp(dir=cache_dir)
    for src in srcs:
        name = os.path.basename(src)
        with open(src, encoding="utf-8", errors="ignore", newline="") as f:
            text = f.read().lstrip("\ufeff")
        text = text.replace("\r\n", "\n")
        frames = "".join(f"{_DELIM}{name}{_DELIM}{line}" for line in text.split("\n"))
        with open(os.path.join(tmp_dir, name + ".wire"), "w", encoding="utf-8", newline="") as f:
            f.write(frames)
    try:
        os.rename(tmp_dir, out_dir)  # atomic publish; readers never see a partial dir
    except OSError:  # another caller published the same digest first
        shutil.rmtree(tmp_dir, ignore_errors=True)
    return out_dir


@register(
    "wordcount_refwire",
    oracle=rf"""
    SELECT word, COUNT(*) AS cnt
    FROM (
        SELECT UNNEST(list_filter(string_split_regex(content, '\s+'), t -> t <> ''))
            AS word
        FROM (SELECT regexp_replace(content, '^\x{{FEFF}}', '') AS content
              FROM read_text('{BOOKS_DIR}/*.txt'))
    )
    GROUP BY word
    """,
)
def wordcount_refwire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference word count, ingested THROUGH the reference's own wire
    format via the custom Python DataSource — end-to-end proof that the
    refwire source decodes frames losslessly (the oracle reads the
    original text files directly; only a byte-exact decode of the framed
    corpus produces identical token counts).
    """
    register_refwire(spark)
    wire_dir = _frame_books(os.path.join(tempfile.gettempdir(), "pmr_spark_io", "refwire_books"))
    corpus = spark.read.format("refwire").option("path", wire_dir).load()
    toks = F.filter(F.split(F.col("chunk"), r"\s+"), lambda t: t != F.lit(""))
    return (
        corpus.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "stream_wordcount_refwire",
    oracle=rf"""
    SELECT word, COUNT(*) AS cnt
    FROM (
        SELECT UNNEST(list_filter(string_split_regex(content, '\s+'), t -> t <> ''))
            AS word
        FROM (SELECT regexp_replace(content, '^\x{{FEFF}}', '') AS content
              FROM read_text('{BOOKS_DIR}/*.txt'))
    )
    GROUP BY word
    """,
)
def stream_wordcount_refwire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's word count over its wire format as a STREAM: the
    custom DataSource's streaming reader tails the wire directory
    (file-count offsets, exactly-once replay via readBetweenOffsets), and
    a bounded availableNow run drains it through the same explode +
    partial-agg wordcount. Shares wordcount_refwire's oracle over the
    unframed originals — the streamed decode must be byte-identical to
    the batch decode AND to the plain text files for this to hash-match.
    """
    from pythonmapreduce_spark.streaming.stream_jobs import _run_to_memory

    register_refwire(spark)
    wire_dir = _frame_books(os.path.join(tempfile.gettempdir(), "pmr_spark_io", "refwire_books"))
    corpus = spark.readStream.format("refwire").option("path", wire_dir).load()
    toks = F.filter(F.split(F.col("chunk"), r"\s+"), lambda t: t != F.lit(""))
    counts = (
        corpus.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    _, name = _run_to_memory(counts, "complete")
    return spark.table(name)


@register(
    "sink_roundtrip_refwire",
    oracle="SELECT source AS file_name, text AS chunk FROM documents",
)
def sink_roundtrip_refwire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless WRITE→READ round trip through the reference's wire format
    as a Spark sink: the documents table is framed by the custom
    DataSource's executor-parallel writer (one ``.wire`` file per
    partition) and read back through its reader; the oracle is the
    original table, so any framing or decode loss breaks the hash
    compare. Completes the refwire connector — the reference's format is
    now both a queryable source AND a writable sink, like every other
    connector in sources/ (CSV/JSON/ORC/JDBC round trips).

    The format has no escaping (reference parity, SURVEY §1.3): the
    fixture corpus contains no delimiter bytes, which is exactly the
    assumption the reference itself lives on.
    """
    from pythonmapreduce_spark.catalog import load

    register_refwire(spark)
    out_dir = run_scratch("refwire_rt_")
    docs = load(spark, sf_dir, "documents").select(
        F.col("source").alias("file_name"), F.col("text").alias("chunk")
    )
    docs.write.format("refwire").mode("overwrite").option("path", out_dir).save()
    return spark.read.format("refwire").option("path", out_dir).load()
