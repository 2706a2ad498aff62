"""Seeded generator of the tables the `SparkEntry` queries read.

Writes documents, embeddings, events and the TPC-H-like star schema
(lineitem, orders, customer, part, supplier, nation, region) as one parquet
file each, with the row counts and the duplicate structure of the shared
sf0.1 test data at scale 1:

  - 5,000 documents of 10-100 words from a 31-word vocabulary, about 5% of
    them near copies of another document with one `dup` token appended
    (word 5-shingle Jaccard 0.9-0.99), about 0.16% exact copies of another
    document; language and source are drawn independently of the copy;
  - 2,000 64-dimensional embeddings with 10 labels;
  - 100,000 events of 1,500 users over 30 days;
  - 600,000 lineitems, 150,000 orders, 15,000 customers, 20,000 parts,
    1,000 suppliers, 25 nations, 5 regions.

Every value is a hash of (row, column, seed), so one seed always yields the
same tables.
"""

import os

import duckdb

VOCAB = ("row the query stream fast spark line small customer group key agg scan slow "
         "table part a merge window order column join vector value hash batch sort data "
         "big filter dup").split()


def _pick(options, h):
    arr = "[" + ", ".join("'%s'" % o for o in options) + "]"
    return "%s[1 + (%s) %% %d]" % (arr, h, len(options))


# per 10,000 documents: exact copies and near copies (sf0.1 has 8 and 243
# of each in its 5,000)
EXACT_PER_10K = 16
NEAR_PER_10K = 486


def statements(seed, scale=1.0):
    """(table, SELECT) pairs; `scale` multiplies every row count except
    nation and region."""
    s = int(seed)
    n_docs = max(50, int(5000 * scale))
    n_emb = max(50, int(2000 * scale))
    n_orders = max(100, int(150000 * scale))
    n_cust = max(50, int(15000 * scale))
    n_part = max(50, int(20000 * scale))
    n_supp = max(10, int(1000 * scale))
    n_events = max(200, int(100000 * scale))
    n_users = max(10, n_events * 3 // 200)
    copies = EXACT_PER_10K + NEAR_PER_10K
    step = 30 * 86400 * 10**6 // n_events  # events span 30 days

    def h(*parts):
        return "CAST(hash(%s, %d) >> 1 AS BIGINT)" % (", ".join(str(p) for p in parts), s)

    vocab = "[" + ", ".join("'%s'" % w for w in VOCAB) + "]"
    # base(i): 10-100 random words; a planted row copies the base text of a
    # row that is not planted itself, exactly or with ` dup` appended
    docs = f"""
      WITH b AS MATERIALIZED (
        SELECT i, any_value({h('i', 1)} % 10000) AS r,
               list({vocab}[1 + {h('i', 'j', 3)} % {len(VOCAB)}] ORDER BY j) AS w
        FROM range({n_docs}) t(i), range(101) s(j) WHERE j < 10 + {h('i', 2)} % 91
        GROUP BY i),
      u AS (SELECT w, row_number() OVER (ORDER BY i) - 1 AS k FROM b WHERE r >= {copies}),
      c AS (
        SELECT i, r, w, {h('i', 40)} % n AS k
        FROM b, (SELECT count(*) AS n FROM u)),
      d AS (
        SELECT i, CASE WHEN r >= {copies} THEN c.w
                       WHEN r < {EXACT_PER_10K} THEN u.w
                       ELSE list_append(u.w, 'dup') END AS w
        FROM c LEFT JOIN u ON u.k = c.k)
      SELECT i AS doc_id, array_to_string(w, ' ') AS text,
             {_pick(['en', 'en', 'en', 'es', 'de', 'fr', 'zh'], h('i', 4))} AS lang,
             'src' || CAST(i % 20 AS VARCHAR) AS source,
             CAST(length(array_to_string(w, ' ')) AS BIGINT) AS n_chars
      FROM d"""
    emb = f"""
      SELECT i AS vec_id,
             list_transform(range(64), j -> CAST(CAST({h('i', 'j', 4)} % 2000001 AS DOUBLE) / 1000000 - 1 AS FLOAT)) AS embedding,
             CAST(i % 10 AS INTEGER) AS label
      FROM range({n_emb}) t(i)"""
    events = f"""
      SELECT i AS event_id,
             TIMESTAMP '2024-01-01' + to_microseconds(CAST(i * {step} + {h('i', 5)} % {step} AS BIGINT)) AS ts,
             CAST({h('i', 6)} % {n_users} AS BIGINT) AS user_id,
             {_pick(['view', 'click', 'purchase', 'signup', 'error'], h('i', 7))} AS event_type,
             round(0.01 + CAST({h('i', 8)} % 49001 AS DOUBLE) / 100, 2) AS value,
             '{{"k": ' || CAST({h('i', 9)} % 100 AS VARCHAR) || '}}' AS props
      FROM range({n_events}) t(i)"""
    lineitem = f"""
      SELECT CAST(i // 4 AS BIGINT) AS l_orderkey, CAST({h('i', 10)} % {n_part} AS BIGINT) AS l_partkey,
             CAST({h('i', 11)} % {n_supp} AS BIGINT) AS l_suppkey, CAST(1 + i % 4 AS INTEGER) AS l_linenumber,
             CAST(1 + {h('i', 12)} % 50 AS DOUBLE) AS l_quantity,
             round(900 + CAST({h('i', 13)} % 10410000 AS DOUBLE) / 100, 2) AS l_extendedprice,
             CAST({h('i', 14)} % 11 AS DOUBLE) / 100 AS l_discount,
             CAST({h('i', 15)} % 9 AS DOUBLE) / 100 AS l_tax,
             {_pick(['A', 'N', 'R'], h('i', 16))} AS l_returnflag,
             {_pick(['F', 'O'], h('i', 17))} AS l_linestatus,
             CAST(DATE '1995-01-02' + CAST({h('i', 18)} % 2500 AS INTEGER) AS TIMESTAMP) AS l_shipdate
      FROM range({n_orders * 4}) t(i)"""
    orders = f"""
      SELECT i AS o_orderkey, CAST({h('i', 19)} % {n_cust} AS BIGINT) AS o_custkey,
             {_pick(['F', 'O', 'P'], h('i', 20))} AS o_orderstatus,
             round(1000 + CAST({h('i', 21)} % 49900000 AS DOUBLE) / 100, 2) AS o_totalprice,
             CAST(DATE '1995-01-01' + CAST({h('i', 22)} % 2400 AS INTEGER) AS TIMESTAMP) AS o_orderdate,
             {_pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], h('i', 23))} AS o_orderpriority
      FROM range({n_orders}) t(i)"""
    customer = f"""
      SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
             CAST({h('i', 24)} % 25 AS INTEGER) AS c_nationkey,
             round(-999.99 + CAST({h('i', 25)} % 1099999 AS DOUBLE) / 100, 2) AS c_acctbal,
             {_pick(['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'], h('i', 26))} AS c_mktsegment
      FROM range({n_cust}) t(i)"""
    part = f"""
      SELECT i AS p_partkey,
             {_pick(['small', 'red', 'blue', 'green', 'large'], h('i', 27))} || ' ' ||
             {_pick(['ring', 'widget', 'bolt', 'gear', 'panel'], h('i', 28))} AS p_name,
             'Brand#' || CAST(1 + {h('i', 29)} % 25 AS VARCHAR) AS p_brand,
             {_pick(['ECONOMY', 'SMALL', 'STANDARD', 'LARGE', 'PROMO'], h('i', 30))} AS p_type,
             CAST(1 + {h('i', 31)} % 50 AS INTEGER) AS p_size,
             round(900 + CAST(i % 1000 AS DOUBLE) / 10, 2) AS p_retailprice
      FROM range({n_part}) t(i)"""
    supplier = f"""
      SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
             CAST({h('i', 32)} % 25 AS INTEGER) AS s_nationkey,
             round(-999.99 + CAST({h('i', 33)} % 1099999 AS DOUBLE) / 100, 2) AS s_acctbal
      FROM range({n_supp}) t(i)"""
    nation = """
      SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || CAST(i AS VARCHAR) AS n_name,
             CAST(i % 5 AS INTEGER) AS n_regionkey
      FROM range(25) t(i)"""
    region = """
      SELECT CAST(i AS INTEGER) AS r_regionkey,
             ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name
      FROM range(5) t(i)"""
    return [("documents", docs), ("embeddings", emb), ("events", events),
            ("lineitem", lineitem), ("orders", orders), ("customer", customer),
            ("part", part), ("supplier", supplier), ("nation", nation), ("region", region)]


def generate(out_dir, seed, scale=1.0):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        for name, sql in statements(seed, scale):
            path = os.path.join(out_dir, name + ".parquet")
            con.execute(f"COPY ({sql} ORDER BY 1) TO '{path}' (FORMAT PARQUET)")
    finally:
        con.close()

