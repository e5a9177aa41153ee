"""Generate a FULL perturbed fixture dir for the robustness sweep.

The external driver regenerates its parquet fixtures every round, so any
query whose oracle or plan silently depends on the CURRENT fixture's data
distribution (value ranges, group sizes, id density, vocabulary) is a
latent red driver row. This tool builds /tmp/pmr_robust: all ten tables,
derived from sf0.01 by 3× replication with foreign-key-consistent id
offsets (customer/supplier/part/orders/lineitem), replica-suffixed
vocabulary for documents, fresh same-moment embeddings, and offset
events — a DIFFERENT corpus with the same schema/semantics. Running the
whole oracle differential against it (tools/driver_sim.py --sf-dir
/tmp/pmr_robust) checks every query's Spark-vs-DuckDB agreement on data
neither side has seen; disagreements are data-dependence bugs, exactly
the class the round-3/4 reviews kept finding one at a time.

Deterministic; measurement/validation only — never used by the committed
correctness gates. Run: python tools/gen_robust_fixture.py
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.01"
OUT = "/tmp/pmr_robust"
R = 3
SEED = 42


def _gen_documents(con: duckdb.DuckDBPyConnection, out_dir: str, r: int) -> None:
    """``r`` replicas of the documents; replica i > 0 suffixes every token
    with ``_r{i}``, so the vocabulary grows with the corpus and replicas are
    not near-duplicates of replica 0."""
    parts = []
    for i in range(r):
        if i == 0:
            parts.append(
                f"SELECT doc_id, text, lang, source, n_chars "
                f"FROM read_parquet('{SRC}/documents.parquet')"
            )
        else:
            # \s+ split + empty-token filter matches the engine-wide
            # tokenizer contract — a bare string_split(text, ' ') would
            # mint spurious '_rN' tokens from consecutive-whitespace runs
            # and skew the replica's token/shingle distribution
            parts.append(
                f"""
                SELECT doc_id + {i} * (1 + (SELECT MAX(doc_id) FROM
                           read_parquet('{SRC}/documents.parquet'))) AS doc_id,
                       array_to_string(
                           list_transform(
                               list_filter(string_split_regex(text, '\\s+'),
                                           t -> t <> ''),
                               t -> t || '_r{i}'), ' ') AS text,
                       lang, source,
                       CAST(LENGTH(array_to_string(
                           list_transform(
                               list_filter(string_split_regex(text, '\\s+'),
                                           t -> t <> ''),
                               t -> t || '_r{i}'), ' ')) AS BIGINT)
                           AS n_chars
                FROM read_parquet('{SRC}/documents.parquet')
                """
            )
    con.sql(
        "COPY (" + " UNION ALL ".join(parts) + f") TO '{out_dir}/documents.parquet'"
        " (FORMAT PARQUET)"
    )


def _gen_embeddings(out_dir: str, r: int) -> None:
    """``r`` replicas of the embeddings; replica i > 0 draws fresh iid
    vectors from the source's coordinate moments, with the same labels."""
    base = pq.read_table(f"{SRC}/embeddings.parquet")
    emb = np.array(base.column("embedding").to_pylist(), dtype=np.float64)
    labels = np.array(base.column("label").to_pylist())
    vec_ids = np.array(base.column("vec_id").to_pylist(), dtype=np.int64)
    mu, sd = emb.mean(), emb.std()
    n, d = emb.shape
    rng = np.random.default_rng(SEED)
    out_ids, out_emb, out_lab = [vec_ids], [emb.astype(np.float32)], [labels]
    off = vec_ids.max() + 1
    for i in range(1, r):
        out_ids.append(vec_ids + i * off)
        out_emb.append(rng.normal(mu, sd, size=(n, d)).astype(np.float32))
        out_lab.append(labels)
    tbl = pa.table(
        {
            "vec_id": pa.array(np.concatenate(out_ids), type=pa.int64()),
            "embedding": pa.array(
                [list(map(float, row)) for row in np.concatenate(out_emb)],
                type=pa.list_(pa.float32()),
            ),
            "label": pa.array(
                np.concatenate(out_lab).tolist(),
                type=base.schema.field("label").type,
            ),
        }
    )
    pq.write_table(tbl, f"{out_dir}/embeddings.parquet")


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()

    def mx(table: str, col: str) -> int:
        return con.sql(
            f"SELECT MAX({col}) FROM read_parquet('{SRC}/{table}.parquet')"
        ).fetchone()[0]

    off = {
        "cust": mx("customer", "c_custkey") + 1,
        "supp": mx("supplier", "s_suppkey") + 1,
        "part": mx("part", "p_partkey") + 1,
        "order": mx("orders", "o_orderkey") + 1,
        "event": mx("events", "event_id") + 1,
        # no "user" offset on purpose: events.user_id is an FK into
        # customer.c_custkey, so replica events shift by {cust} — a
        # max(user_id)-derived offset would cross-wire replica events
        # onto base customers (review r4.2)
    }

    def copy(table: str) -> None:
        con.sql(
            f"COPY (SELECT * FROM read_parquet('{SRC}/{table}.parquet'))"
            f" TO '{OUT}/{table}.parquet' (FORMAT PARQUET)"
        )

    def replicate(table: str, select_tpl: str) -> None:
        parts = [select_tpl.format(i=i, **off) for i in range(R)]
        con.sql(
            "COPY (" + " UNION ALL ".join(parts) + f")"
            f" TO '{OUT}/{table}.parquet' (FORMAT PARQUET)"
        )

    # fixed-cardinality dims stay as-is (25 nations / 5 regions at any SF)
    copy("region")
    copy("nation")
    replicate(
        "customer",
        f"SELECT c_custkey + {{i}} * {{cust}} AS c_custkey, c_name,"
        f" c_nationkey, c_acctbal, c_mktsegment"
        f" FROM read_parquet('{SRC}/customer.parquet')",
    )
    replicate(
        "supplier",
        f"SELECT s_suppkey + {{i}} * {{supp}} AS s_suppkey, s_name,"
        f" s_nationkey, s_acctbal"
        f" FROM read_parquet('{SRC}/supplier.parquet')",
    )
    replicate(
        "part",
        f"SELECT p_partkey + {{i}} * {{part}} AS p_partkey, p_name, p_brand,"
        f" p_type, p_size, p_retailprice"
        f" FROM read_parquet('{SRC}/part.parquet')",
    )
    replicate(
        "orders",
        f"SELECT o_orderkey + {{i}} * {{order}} AS o_orderkey,"
        f" o_custkey + {{i}} * {{cust}} AS o_custkey, o_orderstatus,"
        f" o_totalprice, o_orderdate, o_orderpriority"
        f" FROM read_parquet('{SRC}/orders.parquet')",
    )
    replicate(
        "lineitem",
        f"SELECT l_orderkey + {{i}} * {{order}} AS l_orderkey,"
        f" l_partkey + {{i}} * {{part}} AS l_partkey,"
        f" l_suppkey + {{i}} * {{supp}} AS l_suppkey,"
        f" l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,"
        f" l_returnflag, l_linestatus, l_shipdate"
        f" FROM read_parquet('{SRC}/lineitem.parquet')",
    )
    # events.user_id is an FK into customer.c_custkey (the streaming
    # enrichment join, GDPR erasure), so replica events must shift by the
    # CUSTOMER offset — shifting by max(user_id)+1 would cross-wire
    # replica events onto base customers (review r4.2)
    replicate(
        "events",
        f"SELECT event_id + {{i}} * {{event}} AS event_id, ts,"
        f" user_id + {{i}} * {{cust}} AS user_id, event_type, value, props"
        f" FROM read_parquet('{SRC}/events.parquet')",
    )

    _gen_documents(con, OUT, R)
    _gen_embeddings(OUT, R)


if __name__ == "__main__":
    main()
    for t in ("documents", "embeddings", "lineitem", "events"):
        n = duckdb.sql(
            f"SELECT COUNT(*) FROM read_parquet('{OUT}/{t}.parquet')"
        ).fetchone()[0]
        print(t, n)
