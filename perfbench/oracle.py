"""DuckDB oracles for the workload benchmark's output checks.

Every check runs outside the timed region and reads what the engine
left on disk (staged parquet tables, exported shards) with DuckDB, so
no check adds Spark jobs to the traced event log. Table equality is a
multiset hash: row count plus the sum of DuckDB's ``hash()`` over the
business columns, each cast to one canonical type on both sides.
"""

from __future__ import annotations

import os

import duckdb

# business columns (staged name, canonical type); the audit columns and
# the _load_date partition column are lineage, not data
ORDERS_COLS = [
    ("o_orderkey", "BIGINT"), ("o_custkey", "BIGINT"),
    ("o_orderstatus", "VARCHAR"), ("o_totalprice", "DOUBLE"),
    ("o_orderdate", "TIMESTAMP"), ("o_orderpriority", "VARCHAR"),
]
LINEITEM_COLS = [
    ("o_orderkey", "BIGINT"), ("l_partkey", "BIGINT"),
    ("l_suppkey", "BIGINT"), ("l_linenumber", "BIGINT"),
    ("l_quantity", "DOUBLE"), ("l_extendedprice", "DOUBLE"),
    ("l_discount", "DOUBLE"), ("l_tax", "DOUBLE"),
    ("l_returnflag", "VARCHAR"), ("l_linestatus", "VARCHAR"),
    ("l_shipdate", "TIMESTAMP"),
]
CUSTOMER_COLS = [
    ("c_custkey", "BIGINT"), ("c_name", "VARCHAR"),
    ("c_nationkey", "BIGINT"), ("c_acctbal", "DOUBLE"),
    ("c_mktsegment", "VARCHAR"),
]
NATION_COLS = [
    ("n_nationkey", "BIGINT"), ("n_name", "VARCHAR"),
    ("n_regionkey", "BIGINT"),
]
PAGE_COLS = [
    ("doc_id", "BIGINT"), ("html", "VARCHAR"), ("text", "VARCHAR"),
    ("lang", "VARCHAR"), ("source", "VARCHAR"),
]
STAGED_COLS = {
    "stg_orders": ORDERS_COLS, "stg_lineitem": LINEITEM_COLS,
    "stg_customer": CUSTOMER_COLS, "stg_nation": NATION_COLS,
}


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _pq(path: str) -> str:
    return "'" + path.replace("'", "''") + "'"


def staged(root: str, table: str) -> str:
    """A DuckDB relation over a staged table's parquet files."""
    return (f"read_parquet({_pq(os.path.join(root, table, '**', '*.parquet'))}"
            ", union_by_name = true, hive_partitioning = false)")


def source(src_dir: str, name: str) -> str:
    return f"read_parquet({_pq(os.path.join(src_dir, name + '.parquet'))})"


def multiset_hash(con, relation: str, cols) -> tuple[int, int]:
    exprs = ", ".join(f"CAST({c} AS {t})" for c, t in cols)
    n, h = con.execute(
        f"SELECT count(*), COALESCE(sum(hash({exprs})), 0) FROM {relation}"
    ).fetchone()
    return int(n), int(h)


# -- ERP: the staged tables predicted from one source snapshot ---------------

def erp_expected(src_dir: str, data_start: str) -> dict[str, str]:
    """Relations the four staged tables must equal after a load from
    ``src_dir``: orders filtered by the full-load lower bound (each
    refresh only upserts rows of the same snapshot, so after refresh k
    the staged orders ARE snapshot k's), lineitem restricted to those
    orders with the parent key renamed, dimensions whole."""
    o = source(src_dir, "orders")
    li = source(src_dir, "lineitem")
    orders = (f"(SELECT * FROM {o} "
              f"WHERE o_orderdate >= TIMESTAMP '{data_start}')")
    lines = (f"(SELECT l.* EXCLUDE (l_orderkey), l.l_orderkey AS o_orderkey "
             f"FROM {li} l SEMI JOIN {orders} o "
             f"ON l.l_orderkey = o.o_orderkey)")
    return {
        "stg_orders": orders, "stg_lineitem": lines,
        "stg_customer": source(src_dir, "customer"),
        "stg_nation": source(src_dir, "nation"),
    }


def check_staged(con, root: str, expected: dict[str, str]) -> list[str]:
    """Empty when every staged table hash-equals its expected relation;
    otherwise one message per mismatching table."""
    bad = []
    for table, rel in expected.items():
        cols = STAGED_COLS[table]
        got = multiset_hash(con, staged(root, table), cols)
        want = multiset_hash(con, rel, cols)
        if got != want:
            bad.append(f"{table}: staged (rows, hash) {got} != {want}")
    return bad


READ_BACK_SQL = """
SELECT n.n_name, o.o_orderstatus,
       count(*) AS n_lines,
       sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue
FROM {lineitem} l
JOIN {orders} o ON l.o_orderkey = o.o_orderkey
JOIN {customer} c ON o.o_custkey = c.c_custkey
JOIN {nation} n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name, o.o_orderstatus
"""


def read_back_expected(con, expected: dict[str, str]) -> dict:
    rows = con.execute(READ_BACK_SQL.format(
        lineitem=expected["stg_lineitem"], orders=expected["stg_orders"],
        customer=expected["stg_customer"], nation=expected["stg_nation"],
    )).fetchall()
    return {(r[0], r[1]): (int(r[2]), float(r[3])) for r in rows}


def same_read_back(got: dict, want: dict) -> bool:
    """Counts exact; revenue sums to 1e-9 relative (summation order
    differs between engines)."""
    if got.keys() != want.keys():
        return False
    for k, (n, rev) in want.items():
        gn, grev = got[k]
        if gn != n or abs(grev - rev) > 1e-9 * max(1.0, abs(rev)):
            return False
    return True


# -- curation: extraction rule chained into the DSIR capstone oracle --------

# member_tag: 48-bit md5 prefix of the doc id summed mod 2^61 - 1
_MEMBER_TAG = (
    "CAST(SUM(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) "
    "AS BIGINT)) % 2305843009213693951 AS BIGINT)"
)

CURATION_ORACLE_SQL = r"""
WITH src AS (
    SELECT doc_id, source, lang, COALESCE(text, '') AS t, cut FROM pages
), halves AS (
    SELECT doc_id, source, lang, t,
           trim(regexp_replace(substr(t, 1, cut),
                '[ ' || chr(9) || chr(13) || chr(10) || ']+', ' ', 'g'), ' ') AS p1,
           trim(regexp_replace(substr(t, cut + 1),
                '[ ' || chr(9) || chr(13) || chr(10) || ']+', ' ', 'g'), ' ') AS p2
    FROM src
), ext AS (
    SELECT doc_id, source, lang, t,
           concat_ws(chr(10),
                     CASE WHEN length(p1) >= 25 THEN p1 END,
                     CASE WHEN length(p2) >= 25 THEN p2 END) AS content
    FROM halves
), qtok AS (
    SELECT doc_id,
           list_filter(string_split_regex(trim(lower(content)), '\s+'), x -> x <> '') AS t
    FROM ext
), qbig AS (
    SELECT doc_id,
           CAST('0x' || substr(md5(t[i] || ' ' || t[i+1]), 1, 12) AS BIGINT) % {n_buckets} AS f
    FROM qtok, LATERAL (SELECT UNNEST(range(1, GREATEST(len(t) - 1, 0) + 1)) AS i)
), ptok AS (
    SELECT list_filter(string_split_regex(trim(lower(t)), '\s+'), x -> x <> '') AS t
    FROM ext WHERE lang = 'en'
), pbig AS (
    SELECT CAST('0x' || substr(md5(t[i] || ' ' || t[i+1]), 1, 12) AS BIGINT) % {n_buckets} AS f
    FROM ptok, LATERAL (SELECT UNNEST(range(1, GREATEST(len(t) - 1, 0) + 1)) AS i)
), pc AS (SELECT f, COUNT(*) AS pc FROM pbig GROUP BY f),
qc AS (SELECT f, COUNT(*) AS qc FROM qbig GROUP BY f),
pt AS (SELECT SUM(pc) AS pt FROM pc),
qt AS (SELECT SUM(qc) AS qt FROM qc),
ratio AS (
    SELECT f,
           FLOOR((LN((COALESCE(pc, 0) + 0.5) / (pt + 0.5 * {n_buckets}))
                  - LN((COALESCE(qc, 0) + 0.5) / (qt + 0.5 * {n_buckets})))
                 * 1000000 + 0.5) / 1000000 AS lr
    FROM pc FULL JOIN qc USING (f) CROSS JOIN pt CROSS JOIN qt
), dsir AS (
    SELECT b.doc_id,
           FLOOR(CAST(SUM(CAST(r.lr AS DECIMAL(18,6))) AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS log_weight
    FROM qbig b JOIN ratio r USING (f) GROUP BY b.doc_id
), sel AS (
    SELECT doc_id FROM dsir WHERE log_weight > 0
), toks AS (
    SELECT e.doc_id AS doc,
           list_filter(string_split_regex(trim(lower(e.content)), '\s+'),
                       x -> x <> '') AS t
    FROM ext e JOIN sel USING (doc_id)
), w AS (
    SELECT doc, i.pos, CAST(i.pos // {width} AS BIGINT) AS line_no,
           t[CAST(i.pos + 1 AS INT)] AS tok
    FROM toks, LATERAL (SELECT UNNEST(range(len(t))) AS pos) i
), lines AS (
    SELECT doc, line_no, string_agg(tok, ' ' ORDER BY pos) AS line
    FROM w GROUP BY doc, line_no
), boiler AS (
    SELECT line FROM (
        SELECT line, COUNT(DISTINCT doc) AS dfreq FROM lines GROUP BY line
    ) WHERE dfreq >= {min_docs}
), flagged AS (
    SELECT l.doc, l.line_no, l.line, (b.line IS NOT NULL) AS dup
    FROM lines l LEFT JOIN boiler b ON l.line = b.line
), cleaned AS (
    SELECT doc AS doc_id,
           string_agg(CASE WHEN NOT dup THEN line END,
                      chr(10) ORDER BY line_no) AS text2
    FROM flagged GROUP BY doc
    HAVING SUM(CASE WHEN dup THEN 0 ELSE 1 END) > 0
), scored AS (
    SELECT c.doc_id, e.source,
           CAST(len(list_filter(string_split_regex(trim(text2), '\s+'), x -> x <> '')) AS BIGINT)
               AS n_tokens,
           CAST(LEN(regexp_extract_all(text2, '[A-Za-z]')) AS DOUBLE)
               / CAST(GREATEST(LENGTH(text2), 1) AS DOUBLE) AS s
    FROM cleaned c JOIN ext e USING (doc_id)
), b AS (
    SELECT scored.*,
           CAST(LEAST(FLOOR((GREATEST(LEAST(s, 1.0), 0.0) - 0.0)
                            * 10000.0 / 1.0), 9999) AS BIGINT) AS qb
    FROM scored
), hist AS (SELECT qb, COUNT(*) AS c FROM b GROUP BY qb
), cdf AS (
    SELECT qb, CAST(SUM(c) OVER (ORDER BY qb ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
    FROM hist
), n AS (SELECT COUNT(*) AS n FROM b
), thr AS (
    SELECT COALESCE(MAX(qb), -1) AS t FROM cdf, n
    WHERE cum <= (n.n * {drop_num}) // {drop_den}
), gated AS (SELECT b.* FROM b, thr WHERE b.qb > thr.t
), ranked AS (
    SELECT doc_id, source, n_tokens,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY 1.0 - s, doc_id) AS rk
    FROM gated
), admitted AS (SELECT * FROM ranked WHERE rk <= {cap})
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       {member_tag} AS member_tag
FROM admitted GROUP BY source
"""


def curation_expected(con, pages_path: str, cuts_path: str,
                      params: dict) -> dict:
    """Per-source (n_docs, total_tokens, member_tag) the export must
    hold, from the raw pages (doc_id, source, lang, text) and each
    page's body split offset (doc_id, cut)."""
    con.execute(
        f"CREATE OR REPLACE TEMP VIEW pages AS "
        f"SELECT * FROM read_parquet({_pq(pages_path)}) p "
        f"JOIN read_parquet({_pq(cuts_path)}) c USING (doc_id)")
    rows = con.execute(CURATION_ORACLE_SQL.format(
        member_tag=_MEMBER_TAG, **params)).fetchall()
    return {r[0]: (int(r[1]), int(r[2]), int(r[3])) for r in rows}


def curation_exported(con, shard_dir: str) -> dict:
    """The same per-source report over the exported shards' rows (the
    token budget from the boilerplate stage's ``_n_tokens`` sums) —
    shard count and layout are never consulted."""
    rows = con.execute(
        f"SELECT source, CAST(COUNT(*) AS BIGINT), "
        f"CAST(SUM(_n_tokens) AS BIGINT), {_MEMBER_TAG} "
        f"FROM read_parquet({_pq(os.path.join(shard_dir, '**', '*.parquet'))}) "
        f"GROUP BY source"
    ).fetchall()
    return {r[0]: (int(r[1]), int(r[2]), int(r[3])) for r in rows}
