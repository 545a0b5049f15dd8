"""Deterministic generator for the `corpus_queries` tables.

Writes the ten tables `graft.Tables` reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the column names, types and parquet encodings of the
repository's test data (TESTDATA.md; timestamps as TIMESTAMP_MICROS without UTC adjustment,
embeddings as FLOAT lists). Values come from DuckDB's `hash()` of the row key
and a fixed corpus seed, so the files are identical on every run; that is
what lets `corpus_expected.json` pin each query's answer.
"""
import os

import duckdb

CORPUS_SEED = 20260101

SIZES = {"customer": 300, "supplier": 20, "part": 400, "orders": 3000,
         "lineitem": 12000, "events": 2000, "documents": 120,
         "embeddings": 120}

VOCAB = ("key agg row scan slow fast table value part hash a the line sort "
         "window order data column join small customer query big stream "
         "group filter batch merge spark vector").split()


def _u(*parts):
    """SQL for a uniform integer hash of the given SQL expressions."""
    return f"(hash({', '.join(parts)}, {CORPUS_SEED}) >> 1)::BIGINT"


def generate(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    n = SIZES
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    tables = {
        "region": """
            SELECT i::INTEGER AS r_regionkey,
                   ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE',
                    'MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": f"""
            SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
                   (i % 5)::INTEGER AS n_regionkey
            FROM range(25) t(i)""",
        "customer": f"""
            SELECT i::BIGINT AS c_custkey,
                   'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
                   ({_u('i', "'cn'")} % 25)::INTEGER AS c_nationkey,
                   ({_u('i', "'cb'")} % 1000000) / 100.0 - 999.0 AS c_acctbal,
                   ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD',
                    'MACHINERY'][1 + {_u('i', "'cs'")} % 5] AS c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""
            SELECT i::BIGINT AS s_suppkey,
                   'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
                   ({_u('i', "'sn'")} % 25)::INTEGER AS s_nationkey,
                   ({_u('i', "'sb'")} % 1000000) / 100.0 AS s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""
            SELECT i::BIGINT AS p_partkey,
                   ['small', 'red', 'large', 'blue', 'steel'][1 + {_u('i', "'p1'")} % 5]
                     || ' ' ||
                   ['ring', 'widget', 'bolt', 'gear', 'valve'][1 + {_u('i', "'p2'")} % 5]
                     AS p_name,
                   'Brand#' || (1 + {_u('i', "'pb'")} % 25) AS p_brand,
                   ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL',
                    'STANDARD'][1 + {_u('i', "'pt'")} % 6] AS p_type,
                   (1 + {_u('i', "'ps'")} % 50)::INTEGER AS p_size,
                   900.0 + (i % 1000) / 10.0 AS p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""
            SELECT i::BIGINT AS o_orderkey,
                   ({_u('i', "'oc'")} % {n['customer']})::BIGINT AS o_custkey,
                   ['F', 'O', 'P'][1 + {_u('i', "'os'")} % 3] AS o_orderstatus,
                   ({_u('i', "'op'")} % 50000000) / 100.0 AS o_totalprice,
                   TIMESTAMP '1995-01-01'
                     + to_days(({_u('i', "'od'")} % 2400)::INTEGER) AS o_orderdate,
                   ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED',
                    '5-LOW'][1 + {_u('i', "'oq'")} % 5] AS o_orderpriority
            FROM range({n['orders']}) t(i)""",
        "lineitem": f"""
            SELECT ({_u('i', "'lo'")} % {n['orders']})::BIGINT AS l_orderkey,
                   ({_u('i', "'lp'")} % {n['part']})::BIGINT AS l_partkey,
                   ({_u('i', "'ls'")} % {n['supplier']})::BIGINT AS l_suppkey,
                   (1 + {_u('i', "'ln'")} % 7)::INTEGER AS l_linenumber,
                   (1 + {_u('i', "'lq'")} % 50)::DOUBLE AS l_quantity,
                   ({_u('i', "'le'")} % 10000000) / 100.0 AS l_extendedprice,
                   ({_u('i', "'ld'")} % 11) / 100.0 AS l_discount,
                   ({_u('i', "'lt'")} % 9) / 100.0 AS l_tax,
                   ['A', 'N', 'R'][1 + {_u('i', "'lr'")} % 3] AS l_returnflag,
                   ['F', 'O'][1 + {_u('i', "'lx'")} % 2] AS l_linestatus,
                   TIMESTAMP '1995-01-02'
                     + to_days(({_u('i', "'lh'")} % 2500)::INTEGER) AS l_shipdate
            FROM range({n['lineitem']}) t(i)""",
        "events": f"""
            SELECT i::BIGINT AS event_id,
                   TIMESTAMP '2024-01-01'
                     + to_microseconds((i * 259000000
                        + {_u('i', "'et'")} % 250000000)::BIGINT) AS ts,
                   ({_u('i', "'eu'")} % 60)::BIGINT AS user_id,
                   ['click', 'view', 'purchase', 'signup',
                    'error'][1 + {_u('i', "'ey'")} % 5] AS event_type,
                   (1 + {_u('i', "'ev'")} % 49000) / 100.0 AS value,
                   '{{"k": ' || ({_u('i', "'ek'")} % 100) || '}}' AS props
            FROM range({n['events']}) t(i)""",
        "documents": f"""
            WITH s AS (
              -- every 12th document repeats an earlier one verbatim and
              -- every 12th (offset 10) repeats one with a word changed, so
              -- the dedup queries have groups to find
              SELECT d, CASE d % 12 WHEN 11 THEN d - 11 WHEN 10 THEN d - 10
                             ELSE d END AS src
              FROM range({n['documents']}) a(d)),
            w AS (
              SELECT d, p,
                     {vocab}[1 + CASE WHEN d % 12 = 10 AND p = 3
                                      THEN {_u('d', "'dm'")}
                                      ELSE {_u('src', 'p', "'dw'")} END
                             % {len(VOCAB)}] AS word
              FROM s, range(120) b(p)
              WHERE p < 20 + {_u('src', "'dl'")} % 100),
            t AS (SELECT d, string_agg(word, ' ' ORDER BY p) AS text
                  FROM w GROUP BY d)
            SELECT d::BIGINT AS doc_id, text,
                   ['en', 'en', 'en', 'zh', 'de', 'es', 'fr'][1 + {_u('d', "'dg'")} % 7]
                     AS lang,
                   'src' || (d % 20) AS source,
                   length(text)::BIGINT AS n_chars
            FROM t""",
        "embeddings": f"""
            WITH c AS (
              SELECT v, j, (({_u('v', 'j', "'ve'")} % 20001) / 20000.0 - 0.5)
                             * 0.5 AS x
              FROM range({n['embeddings']}) a(v), range(64) b(j))
            SELECT v::BIGINT AS vec_id,
                   list(x::FLOAT ORDER BY j) AS embedding,
                   ({_u('v', "'vl'")} % 10)::INTEGER AS label
            FROM c GROUP BY v""",
    }
    order = {"region": "r_regionkey", "nation": "n_nationkey",
             "customer": "c_custkey", "supplier": "s_suppkey",
             "part": "p_partkey", "orders": "o_orderkey",
             "lineitem": "l_orderkey, l_linenumber, l_partkey, l_suppkey",
             "events": "event_id", "documents": "doc_id",
             "embeddings": "vec_id"}
    for name, sql in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY (SELECT * FROM ({sql}) ORDER BY {order[name]}) "
                    f"TO '{path}' (FORMAT parquet, COMPRESSION snappy)")
    con.close()
    return {"input_rows": sum(n.values()) + 30,
            "input_bytes": sum(os.path.getsize(os.path.join(out_dir, f))
                               for f in os.listdir(out_dir))}
