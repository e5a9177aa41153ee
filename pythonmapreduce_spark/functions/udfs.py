"""UDF surface: vectorized scalar UDFs and grouped-map UDAFs.

This supersedes the reference's UDF mechanism — marshal-serialized bare code
objects rebuilt with an empty globals dict (/root/reference/mapper_node.py:
55-56, mapreduce_wc.py:13-16; no closures, no imports) — with cloudpickled,
Arrow-vectorized Pandas UDFs.

Performance contract: everything here is Arrow-batched (pandas_udf /
applyInPandas), never row-at-a-time Python. The scalar UDF processes a
pd.Series per batch; the grouped UDAF gets one pandas DataFrame per group.
At 100 TB the grouped path shuffles once on the group key — same shape as a
built-in aggregation — and group size, not table size, bounds worker memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pythonmapreduce_spark.catalog import load, register_views
from pythonmapreduce_spark.plans.registry import register


@F.pandas_udf(T.LongType())
def _token_count_udf(texts: pd.Series) -> pd.Series:
    """Reference-contract tokenizer (split \\s+, drop empties), vectorized;
    a NULL text counts NULL, as in the oracle."""
    return texts.str.split().map(len, na_action="ignore").astype("Int64")


@register(
    "udf_scalar",
    oracle=r"""
    SELECT doc_id,
           CAST(LEN(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS BIGINT)
               AS n_tokens_udf
    FROM documents
    """,
)
def udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas (Arrow-vectorized) scalar UDF with SQL-expressible semantics:
    the reference's tokenizer as a count. ``str.split()`` with no argument
    is exactly the reference's whitespace contract
    (/root/reference/mapreduce_wc.py:4)."""
    return load(spark, sf_dir, "documents").select(
        "doc_id", _token_count_udf(F.col("text")).alias("n_tokens_udf")
    )


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-group z-score of o_totalprice (sample stddev, ddof=1).

    Singleton groups are dropped (stddev undefined) — the oracle's QUALIFY
    mirrors this, so neither side emits NaN/NULL rows.
    """
    if len(pdf) < 2:
        return pdf.iloc[0:0].assign(z_price=pd.Series(dtype="float64"))
    mean = pdf["o_totalprice"].mean()
    std = pdf["o_totalprice"].std(ddof=1)
    z = (pdf["o_totalprice"] - mean) / std
    return pd.DataFrame(
        {
            "o_orderpriority": pdf["o_orderpriority"],
            "o_orderkey": pdf["o_orderkey"],
            "o_totalprice": pdf["o_totalprice"],
            "z_price": z.round(4),
        }
    )


@register(
    "udaf_grouped",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           ROUND((o_totalprice - AVG(o_totalprice) OVER (PARTITION BY o_orderpriority))
                 / STDDEV_SAMP(o_totalprice) OVER (PARTITION BY o_orderpriority), 4) AS z_price
    FROM orders
    QUALIFY COUNT(*) OVER (PARTITION BY o_orderpriority) >= 2
    """,
)
def udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map UDAF via applyInPandas: z-score normalize order prices
    within each priority class. The oracle is the equivalent window-
    function SQL, so the Python grouped path runs against a pure-SQL twin.

    Group-size note (the applyInPandas efficiency contract): the grouped-
    map path pays a Python-function call + pandas construction PER GROUP,
    so it wants few, large groups — 5 priority classes × thousands of rows
    here. Grouping the same data by o_custkey (~1.5k groups of ~10 rows)
    measured 7 s at sf0.01, ~50× the cost of this shape, with identical
    semantics; for tiny groups the window-function form (this query's own
    oracle) is the right tool and the Python path is the wrong one. The
    kernel itself (mean/std/normalize per group) is the real use case:
    anything NOT expressible as a SQL window — per-group model fits,
    sklearn transforms — rides this exact plan shape.
    """
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
        .groupBy("o_orderpriority")
        .applyInPandas(
            _zscore_group,
            schema="o_orderpriority string, o_orderkey long, o_totalprice double, z_price double",
        )
    )


@register(
    "udtf_tokenize",
    oracle=r"""
    SELECT word, COUNT(*) AS cnt
    FROM (
        SELECT UNNEST(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS word
        FROM documents
    )
    GROUP BY word
    """,
)
def udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count through a Python UDTF — the reference's map surface, 1:1.

    The reference's user map fn is exactly a `(key, value) -> list[(k, v)]`
    table function (/root/reference/mapper_node.py:51-57,
    mapreduce_wc.py:3-4); a Python UDTF in a SQL LATERAL join is its
    modern, typed equivalent — with cloudpickle (closures/imports work) in
    place of bare marshal'd code objects. Arrow-batched execution keeps it
    off the row-at-a-time path; the built-in-expression wordcount remains
    the preferred plan (this exists for surface parity, not speed).
    """
    from pyspark.sql.functions import udtf

    spark.conf.set("spark.sql.execution.pythonUDTF.arrow.enabled", "true")

    @udtf(returnType="word: string")
    class Tokenize:
        def eval(self, text: str):
            # Reference tokenizer contract: str.split() ≡ split on \s+,
            # drop empties, case-sensitive, punctuation kept.
            if text:
                for w in text.split():
                    yield (w,)

    spark.udtf.register("tokenize_udtf", Tokenize)
    register_views(spark, sf_dir, ["documents"])
    return spark.sql(
        """
        SELECT t.word, COUNT(*) AS cnt
        FROM documents, LATERAL tokenize_udtf(text) t
        GROUP BY t.word
        """
    )


@register(
    "cogroup_reconcile",
    oracle="""
    SELECT o.o_orderkey,
           ROUND(o.o_totalprice, 2) AS order_total,
           ROUND(COALESCE(SUM(l.l_extendedprice * (1 - l.l_discount)), 0), 2)
               AS line_revenue,
           COUNT(l.l_orderkey) AS n_lines
    FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey <= 400
    GROUP BY o.o_orderkey, o.o_totalprice
    """,
)
def cogroup_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas: both tables grouped on the same key arrive
    as aligned pandas frames per key — the reconciliation/audit shape
    (header total vs sum of detail lines) that needs BOTH sides of a key
    in one function.

    This completes the engine's Python UDF surface (scalar pandas_udf,
    grouped applyInPandas, UDTF, mapInPandas, applyInPandasWithState, and
    cogrouped applyInPandas — superseding the reference's marshal'd
    map/reduce fns, /root/reference/mapper_node.py:51-57). Both sides
    shuffle once on the cogroup key; the oracle is the equivalent
    join+aggregate, proving the cogrouped path agrees with the relational
    one.
    """
    import numpy as np
    import pandas as pd

    orders = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 400)
        .select("o_orderkey", "o_totalprice")
    )
    # The key predicate must be applied on BOTH cogroup sides: cogrouped
    # applyInPandas is a full-outer cogroup that invokes the Python fn once
    # per DISTINCT KEY on either side, so an unfiltered detail side drags
    # every order's lines through the Arrow+Python path just to hit the
    # odf.empty early-out (measured 39 s vs <1 s at sf0.01 — and at 100 TB
    # it would be the whole fact table).
    lines = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") <= 400)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )

    def reconcile(odf: pd.DataFrame, ldf: pd.DataFrame) -> pd.DataFrame:
        if odf.empty:
            return pd.DataFrame(
                columns=["o_orderkey", "order_total", "line_revenue", "n_lines"]
            )
        rev = float((ldf["l_extendedprice"] * (1 - ldf["l_discount"])).sum())
        # round half away from zero (SQL ROUND semantics, not banker's)
        r2 = lambda x: float(np.floor(abs(x) * 100 + 0.5) / 100 * (1 if x >= 0 else -1))
        return pd.DataFrame(
            {
                "o_orderkey": odf["o_orderkey"].iloc[:1],
                "order_total": [r2(float(odf["o_totalprice"].iloc[0]))],
                "line_revenue": [r2(rev)],
                "n_lines": [len(ldf)],
            }
        )

    return (
        orders.groupBy("o_orderkey")
        .cogroup(lines.groupBy("l_orderkey"))
        .applyInPandas(
            reconcile,
            "o_orderkey long, order_total double, line_revenue double, n_lines long",
        )
    )


@F.udf(returnType=T.LongType(), useArrow=True)
def _token_count_arrow(text: str) -> int:
    """Row-signature tokenizer with Arrow transport (Spark 4 optimized
    Python UDF): scalar in/out like a classic UDF, Arrow-batched I/O like
    a pandas_udf."""
    return len(text.split()) if text is not None else 0


@register(
    "udf_arrow",
    oracle=r"""
    SELECT doc_id,
           CAST(LEN(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS BIGINT)
               AS n_tokens_arrow
    FROM documents
    """,
)
def udf_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third point on the Python-UDF spectrum: an Arrow-OPTIMIZED
    scalar UDF (useArrow=True) — per-row function signature (the easy
    authoring model, exactly the reference's map-fn shape,
    /root/reference/mapreduce_wc.py:3-4) with Arrow-batched transport
    instead of pickled row-at-a-time serialization.

    Spectrum, same tokenizer contract and the same oracle family:
    - udf_scalar: pandas_udf, Series-at-a-time — fastest, vectorized
      authoring required;
    - udf_arrow (this): scalar authoring, Arrow transport — ~pickle-UDF
      ergonomics at a fraction of its overhead;
    - the classic pickled udf() is the one tier this engine deliberately
      never uses (the row-serialization tax at 100 TB is the whole
      reason the performance contract in this module exists).
    """
    return load(spark, sf_dir, "documents").select(
        "doc_id", _token_count_arrow(F.col("text")).alias("n_tokens_arrow")
    )


def _arrow_byte_stats(batches):
    """mapInArrow worker: per-batch pyarrow.compute, zero pandas overhead."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        text = batch.column(batch.schema.get_field_index("text"))
        yield pa.RecordBatch.from_arrays(
            [
                batch.column(batch.schema.get_field_index("doc_id")),
                pc.cast(pc.binary_length(text), pa.int64()),
                pc.cast(pc.utf8_length(text), pa.int64()),
            ],
            names=["doc_id", "n_bytes", "n_codepoints"],
        )


@register(
    "udf_map_arrow",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(length(text) AS BIGINT) AS n_codepoints
    FROM documents
    """,
)
def udf_map_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The final point on the Python-UDF spectrum: ``mapInArrow`` — the
    batch-level entry that hands the RAW Arrow RecordBatch to Python with
    no pandas materialization at all. The worker runs pyarrow.compute
    kernels (C++ vectorized, zero-copy on the batch), making this the
    lowest-overhead Python path for columnar-kernel work that needs
    neither pandas semantics nor per-group state — e.g. byte-level stats
    feeding storage planning.

    Completes the matrix: pandas_udf (Series), Arrow-optimized scalar
    udf (row authoring), applyInPandas (grouped), cogrouped, state,
    UDTF, mapInPandas (iterator of DataFrames), mapInArrow (iterator of
    RecordBatches). UTF-8 byte length vs codepoint count is the honest
    kernel pair: identical only for pure-ASCII documents, so the oracle
    would catch a batch path that silently re-encoded.
    """
    return load(spark, sf_dir, "documents").mapInArrow(
        _arrow_byte_stats, "doc_id long, n_bytes long, n_codepoints long"
    )


@register(
    "pandas_api_stats",
    oracle="""
    SELECT lang,
           CAST(COUNT(doc_id) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(AVG(n_chars), 4) AS avg_chars
    FROM documents GROUP BY lang
    """,
)
def pandas_api_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas-on-Spark API surface (``pyspark.pandas``): a groupby
    aggregation authored in pandas idiom that COMPILES to the same
    Catalyst plan the DataFrame API produces — the migration path for
    pandas codebases onto the engine, distinct from pandas_udf (which
    runs pandas IN workers; this runs NO pandas at execution time).

    ``distributed`` default-index keeps index creation shuffle-free (the
    default attaches a sequence — a global sort at scale). ``to_spark()``
    hands back the logical plan, so downstream operators and the oracle
    compare see an ordinary DataFrame; the whole query stays one
    partial+final aggregation.
    """
    import pyspark.pandas as ps

    from pythonmapreduce_spark.catalog import table_path

    prev = ps.get_option("compute.default_index_type")
    ps.set_option("compute.default_index_type", "distributed")
    try:
        pdf = ps.read_parquet(table_path(sf_dir, "documents"))
        out = pdf.groupby("lang").agg(
            n_docs=("doc_id", "count"),
            total_chars=("n_chars", "sum"),
            avg_chars=("n_chars", "mean"),
        )
        sdf = out.reset_index().to_spark()
    finally:
        ps.set_option("compute.default_index_type", prev)
    return sdf.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_chars").cast("long").alias("total_chars"),
        F.round("avg_chars", 4).alias("avg_chars"),
    )


def _arrow_lang_stats(table):  # noqa: ANN001
    """Grouped-Arrow kernel: per-group byte/codepoint totals via
    pyarrow.compute — C++ vectorized, no pandas materialization."""
    import pyarrow as pa
    import pyarrow.compute as pc

    text = table.column("text")
    # explicit schema: a NULL group key would otherwise infer pa.null()
    # for the lang column and fail the result-type check
    return pa.table(
        {
            "lang": pa.array([table.column("lang")[0].as_py()], pa.string()),
            "n_docs": pa.array([table.num_rows], pa.int64()),
            "total_bytes": pa.array(
                [pc.sum(pc.binary_length(text)).as_py() or 0], pa.int64()
            ),
            "total_codepoints": pa.array(
                [pc.sum(pc.utf8_length(text)).as_py() or 0], pa.int64()
            ),
        }
    )


@register(
    "udf_group_arrow",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(SUM(length(text)) AS BIGINT) AS total_codepoints
    FROM documents GROUP BY lang
    """,
)
def udf_group_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``applyInArrow`` — the GROUPED Arrow entry point (Spark 4): each
    group arrives as one pyarrow.Table and the kernel runs
    pyarrow.compute (C++ vectorized) with zero pandas materialization —
    the grouped sibling of udf_map_arrow's mapInArrow, closing the last
    cell of the Python-UDF matrix (scalar/pandas/arrow × map/grouped/
    cogrouped/state/UDTF).

    Byte length vs codepoint count is again the honest kernel pair: they
    differ exactly on non-ASCII documents, so an oracle mismatch exposes
    any silent re-encoding in the Arrow transport. Grouped shuffle on
    the lang key, then per-group C++ kernels; output is |langs| rows.
    """
    return (
        load(spark, sf_dir, "documents")
        .select("lang", "text")
        .groupBy("lang")
        .applyInArrow(
            _arrow_lang_stats,
            "lang string, n_docs long, total_bytes long, total_codepoints long",
        )
    )


@F.pandas_udf(T.DoubleType())
def _scored_length_iter_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Iterator-form scalar pandas UDF (Iterator[pd.Series] ->
    Iterator[pd.Series]): the prologue below runs ONCE PER PYTHON WORKER
    before any batch — the hook for loading a model/tokenizer/codec a
    single time instead of per batch. The 'model' here is a deterministic
    weight table standing in for real weights."""
    import numpy as np

    # one-time per-worker init (a real pipeline loads the model here)
    weights = np.array([0.25, 0.5, 0.25], dtype=np.float64)

    for texts in batches:
        # (?a) pins ASCII \S, matching the engine-wide Java/RE2 \s+
        # tokenizer contract (pandas str.split() would split on Unicode
        # whitespace the oracle's regex does not)
        n = texts.str.count(r"(?a)\S+").astype("float64")
        # toy 3-tap scoring against the preloaded weights
        yield (
            n * weights[1] + (n - 1.0).clip(lower=0) * weights[0]
            + (n + 1.0) * weights[2]
        ).round(4)


@register(
    "udf_scalar_iter",
    oracle=r"""
    WITH n AS (
        SELECT doc_id,
               CAST(LEN(list_filter(string_split_regex(text, '\s+'),
                                    t -> t <> '')) AS DOUBLE) AS nt
        FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id,
           ROUND(nt * 0.5 + GREATEST(nt - 1.0, 0) * 0.25 + (nt + 1.0) * 0.25, 4)
               AS score
    FROM n
    """,
)
def udf_scalar_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATOR-form scalar pandas UDF (``Iterator[pd.Series] ->
    Iterator[pd.Series]``) — the variant whose whole reason to exist is
    EXPENSIVE PER-WORKER INITIALIZATION: code before the first ``yield``
    runs once per Python worker, every Arrow batch then streams through
    the already-initialized state. For a 100 TB scoring pass with a
    model/tokenizer that takes seconds to load, the series-at-a-time form
    (udf_scalar) has nowhere to express that one-time init at all — this
    form is how
    model-based quality scoring (quality_classifier's real-weights
    version) actually deploys. Completes the Python-UDF matrix next to
    pandas_udf / Arrow scalar / grouped / cogrouped / state / UDTF /
    mapInPandas / mapInArrow.
    """
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return docs.select(
        "doc_id", _scored_length_iter_udf(F.col("text")).alias("score")
    )
