"""Seeded generator for the query_mix tables.

Writes the ten parquet tables the query modules read (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
with the schemas and value domains of the engine's star-schema test data.
Every value is a hash of (seed, table, row, column), so a seed gives the
same bytes on every run and at any DuckDB thread count.
"""
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]


def _u(seed, salt, key="i"):
    """Uniform [0, 1) from a hash of (seed, salt, key)."""
    return f"((hash({seed}, '{salt}', {key}) % 1000000007) / 1000000007.0)"


def _pick(seed, salt, values, key="i"):
    arr = "[" + ", ".join(f"'{v}'" for v in values) + "]"
    return f"{arr}[1 + (hash({seed}, '{salt}', {key}) % {len(values)})::BIGINT]"


def generate(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb, n_user = int(50000 * sf), int(20000 * sf), int(15000 * sf)
    s = int(seed)
    u = lambda salt, key="i": _u(s, salt, key)
    pick = lambda salt, vals, key="i": _pick(s, salt, vals, key)
    money = lambda salt, lo, hi: f"round({lo} + {u(salt)} * {hi - lo}, 2)"
    rng = lambda n: f"(SELECT range AS i FROM range({n}))"
    q = {
        "region": """SELECT i::INTEGER AS r_regionkey,
            ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
            FROM """ + rng(5),
        "nation": """SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
            (i % 5)::INTEGER AS n_regionkey FROM """ + rng(25),
        "customer": f"""SELECT i::BIGINT AS c_custkey,
            'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
            (hash({s}, 'cn', i) % 25)::INTEGER AS c_nationkey,
            {money('cb', -999.99, 9999.99)} AS c_acctbal,
            {pick('cs', ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])}
              AS c_mktsegment FROM {rng(n_cust)}""",
        "supplier": f"""SELECT i::BIGINT AS s_suppkey,
            'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
            (hash({s}, 'sn', i) % 25)::INTEGER AS s_nationkey,
            {money('sb', -999.99, 9999.99)} AS s_acctbal FROM {rng(n_supp)}""",
        "part": f"""SELECT i::BIGINT AS p_partkey,
            {pick('pa', ['blue', 'hot', 'large', 'new', 'red', 'small'])} || ' ' ||
              {pick('pn', ['anvil', 'bolt', 'gear', 'gizmo', 'plate', 'ring', 'rod', 'widget'])}
              AS p_name,
            'Brand#' || (1 + hash({s}, 'pb', i) % 25) AS p_brand,
            {pick('pt', ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'])} AS p_type,
            (1 + hash({s}, 'ps', i) % 50)::INTEGER AS p_size,
            round(900 + (i % 1000) * 0.1, 1)::DOUBLE AS p_retailprice FROM {rng(n_part)}""",
        "orders": f"""SELECT i::BIGINT AS o_orderkey,
            (hash({s}, 'oc', i) % {n_cust})::BIGINT AS o_custkey,
            {pick('os', ['F', 'O', 'P'])} AS o_orderstatus,
            {money('ot', 1000, 500000)} AS o_totalprice,
            (TIMESTAMP '1995-01-01' + to_days((hash({s}, 'od', i) % 2404)::INTEGER))
              AS o_orderdate,
            {pick('op', ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])}
              AS o_orderpriority FROM {rng(n_ord)}""",
        "lineitem": f"""SELECT (hash({s}, 'lo', i) % {n_ord})::BIGINT AS l_orderkey,
            (hash({s}, 'lp', i) % {n_part})::BIGINT AS l_partkey,
            (hash({s}, 'ls', i) % {n_supp})::BIGINT AS l_suppkey,
            (1 + hash({s}, 'ln', i) % 7)::INTEGER AS l_linenumber,
            (1 + hash({s}, 'lq', i) % 50)::DOUBLE AS l_quantity,
            {money('le', 900, 105000)} AS l_extendedprice,
            ((hash({s}, 'ld', i) % 11) / 100.0)::DOUBLE AS l_discount,
            ((hash({s}, 'lt', i) % 9) / 100.0)::DOUBLE AS l_tax,
            {pick('lr', ['A', 'N', 'R'])} AS l_returnflag,
            {pick('lst', ['F', 'O'])} AS l_linestatus,
            (TIMESTAMP '1995-01-02' + to_days((hash({s}, 'lsd', i) % 2498)::INTEGER))
              AS l_shipdate FROM {rng(n_line)}""",
        "events": f"""SELECT i::BIGINT AS event_id,
            (TIMESTAMP '2024-01-01' + to_microseconds(
              (i * (2592000000000 // {n_ev}) + hash({s}, 'et', i) % (2592000000000 // {n_ev}))::BIGINT))
              AS ts,
            (hash({s}, 'eu', i) % {n_user})::BIGINT AS user_id,
            {pick('ety', ['click', 'error', 'purchase', 'signup', 'view'])} AS event_type,
            round(-ln(1 - {u('ev')}) * 60, 2) AS value,
            '{{"k": ' || (hash({s}, 'ek', i) % 100) || '}}' AS props FROM {rng(n_ev)}""",
        "embeddings": f"""WITH b AS (SELECT i, (hash({s}, 'el', i) % 10)::INTEGER AS label
              FROM {rng(n_emb)}),
            raw AS (SELECT i, label, list_transform(range(64), j ->
              0.8 * (((hash({s}, 'ec', label, j) % 2001) / 1000.0) - 1.0)
              + sqrt(-2 * ln(1 - ((hash({s}, 'eg1', i, j) % 1000003) / 1000003.0)))
                * cos(2 * pi() * ((hash({s}, 'eg2', i, j) % 1000003) / 1000003.0)) * 0.3) AS v
              FROM b)
            SELECT i::BIGINT AS vec_id,
              list_transform(v, x -> (x / sqrt(list_sum(list_transform(v, y -> y * y))))::FLOAT)
              AS embedding, label FROM raw""",
    }
    # documents: word soup over a fixed vocabulary; ~2 % exact copies and ~3 %
    # one-word edits of an earlier document feed the dedup entries
    words = "[" + ", ".join(f"'{w}'" for w in WORDS) + "]"
    q["documents"] = f"""WITH base AS (
          SELECT i, (10 + hash({s}, 'dn', i) % 91)::INTEGER AS n FROM {rng(n_doc)}),
        txt AS (SELECT i, array_to_string(list_transform(range(n), j ->
              {words}[1 + (hash({s}, 'dw', i, j) % {len(WORDS)})::BIGINT]), ' ') AS t
          FROM base),
        kind AS (SELECT i, hash({s}, 'dk', i) % 100 AS k,
              (hash({s}, 'dsrc', i) % greatest(i, 1))::BIGINT AS src FROM base)
        SELECT k.i::BIGINT AS doc_id,
          CASE WHEN k.i > 0 AND k.k < 2 THEN o.t
               WHEN k.i > 0 AND k.k < 5 THEN regexp_replace(o.t, '^[a-z]+', 'dup')
               ELSE x.t END AS text,
          {pick('dl', ['en', 'en', 'en', 'en', 'de', 'de', 'es', 'es', 'fr', 'fr', 'zh', 'zh'], 'k.i')}
            AS lang,
          'src' || (k.i % 20) AS source
        FROM kind k JOIN txt x ON x.i = k.i JOIN txt o ON o.i = k.src"""
    for t in TABLES:
        path = os.path.join(out_dir, f"{t}.parquet")
        sql = q[t]
        if t == "documents":
            sql = f"SELECT *, length(text)::BIGINT AS n_chars FROM ({sql}) ORDER BY doc_id"
        elif t in ("lineitem", "orders", "events", "embeddings", "customer", "part",
                   "supplier"):
            sql = f"SELECT * FROM ({sql}) ORDER BY 1"
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
    con.close()


if __name__ == "__main__":
    import sys
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
