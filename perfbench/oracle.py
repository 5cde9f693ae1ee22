"""Correctness oracle: DuckDB recomputes every answer the benchmark received.

Serving answers are checked against entity views rebuilt in DuckDB the way
graft.queries.Views rebuilds them, extended to documents and telemetry and
to the default ACL (the view no user and unknown users get). Async answers
are per-branch, as graft's async path runs the query once per leaf source
and tags each row with its provenance. Suite answers are checked against
SparkEntry.oracleSqlFor, as tools/compare.py does.

All of this runs after the JVM has exited, outside every timed window.
"""
import io
import os
import re

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.ipc
import pyarrow.parquet as pq

RAW = ["region", "nation", "customer", "supplier", "part", "orders",
       "lineitem", "events", "documents", "embeddings"]

_LINEITEM_COLS = """l_orderkey AS orderkey, l_partkey AS partkey, {supp} AS suppkey,
  CAST(l_linenumber AS BIGINT) AS linenumber, l_quantity AS quantity,
  l_extendedprice AS extendedprice, l_discount * 100 AS discount_percent,
  l_tax * 100 AS tax_percent, l_tax * l_extendedprice AS tax_amount,
  l_extendedprice / l_quantity AS unitprice, l_returnflag AS returnflag,
  l_linestatus AS linestatus, CAST(l_shipdate AS DATE) AS shipdate,
  CAST(NULL AS DATE) AS commitdate, CAST(NULL AS DATE) AS receiptdate"""

# (relay, source id, l_orderkey % 3) of lineitem's three leaf slices
LINEITEM_LEAVES = [("na_us", "na_us_lineitem_parquet", 0),
                   ("emea", "emea_lineitem_parquet", 1),
                   ("apac", "apac_lineitem_parquet", 2)]


def acl_of(user):
    return "admin" if user == "admin" else "default"


def connect(sf_dir):
    con = duckdb.connect()
    con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
    for t in RAW:
        path = os.path.join(sf_dir, f"{t}.parquet")
        glob = path if os.path.isfile(path) else f"{path}/*.parquet"
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{glob}')")
    for acl in ("admin", "default"):
        supp = "l_suppkey" if acl == "admin" else "CAST(NULL AS BIGINT)"
        rows = "true" if acl == "admin" else "l_returnflag = 'N'"
        for _, _, mod in LINEITEM_LEAVES:
            con.execute(f"CREATE VIEW lineitem_{acl}_{mod} AS SELECT "
                        f"{_LINEITEM_COLS.format(supp=supp)} FROM lineitem "
                        f"WHERE l_orderkey % 3 = {mod} AND {rows}")
        con.execute(f"CREATE VIEW lineitem_{acl} AS " + " UNION ALL ".join(
            f"SELECT * FROM lineitem_{acl}_{m}" for _, _, m in LINEITEM_LEAVES))
        con.execute(f"""CREATE VIEW orders_{acl} AS SELECT o_orderkey AS orderkey,
            o_custkey AS custkey, o_orderstatus AS orderstatus,
            o_totalprice AS totalprice, CAST(o_orderdate AS DATE) AS orderdate,
            o_orderpriority AS orderpriority FROM orders""")
        con.execute(f"""CREATE VIEW customer_{acl} AS SELECT c_custkey AS custkey,
            c_name AS customername, CAST(c_nationkey AS BIGINT) AS nationkey,
            c_acctbal AS acctbal, c_mktsegment AS mktsegment FROM customer""")
        if acl == "admin":
            con.execute("""CREATE VIEW documents_admin AS SELECT doc_id, text, lang,
                source, n_chars FROM documents""")
        else:
            con.execute("""CREATE VIEW documents_default AS SELECT doc_id, text, lang,
                CAST(NULL AS VARCHAR) AS source, n_chars FROM documents
                WHERE lang <> 'zh'""")
        con.execute(f"""CREATE VIEW telemetry_{acl} AS SELECT event_id, event_type,
            CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events""")
    return con


def _point(sql, entity, view):
    return re.sub(rf"\b{entity}\b", view, sql)


def expected(con, kind, entity, sql, user):
    """The answer graft must give, as an Arrow table."""
    acl = acl_of(user)
    if kind != "async":
        return con.execute(_point(sql, entity, f"{entity}_{acl}")).fetch_arrow_table()
    if entity == "lineitem":
        leaves = [(r, s, f"lineitem_{acl}_{m}") for r, s, m in LINEITEM_LEAVES]
    else:
        leaves = [("global", f"global_{entity}_parquet", f"{entity}_{acl}")]
    parts = [f"SELECT *, '{r}' AS _source_relay_, '{s}' AS _source_id_ "
             f"FROM ({_point(sql, entity, v)})" for r, s, v in leaves]
    return con.execute(" UNION ALL ".join(parts)).fetch_arrow_table()


def decode(path):
    """A stored response body: parquet, Arrow IPC stream, or an empty
    result whose schema crossed in a header."""
    if path.endswith(".empty"):
        return None
    with open(path, "rb") as f:
        data = f.read()
    if path.endswith(".arrow"):
        return pa.ipc.open_stream(io.BytesIO(data)).read_all()
    return pq.read_table(io.BytesIO(data))


def _first_bad(a, b):
    """Index of the first position where columns `a` and `b` differ, or
    None. Numbers compare as float64 with a 1e-9 relative tolerance: a
    sum's last bits depend on the order the engine adds in. Nested types
    fall back to Python values."""
    a = a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a
    b = b.combine_chunks() if isinstance(b, pa.ChunkedArray) else b
    na, nb = a.is_null(), b.is_null()
    if not pc.all(pc.equal(na, nb)).as_py():
        return pc.index(pc.equal(na, nb), False).as_py()
    num = lambda t: pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_decimal(t)
    if num(a.type) and num(b.type):
        fa, fb = pc.cast(a, pa.float64()), pc.cast(b, pa.float64())
        lim = pc.multiply(pc.max_element_wise(
            pc.max_element_wise(pc.abs(fa), pc.abs(fb)), pa.scalar(1.0)), 1e-9)
        ok = pc.or_(pc.less_equal(pc.abs(pc.subtract(fa, fb)), lim),
                    pc.and_(pc.is_nan(fa), pc.is_nan(fb)))
    elif pa.types.is_nested(a.type) or pa.types.is_nested(b.type):
        ok = pa.array([x == y for x, y in zip(a.to_pylist(), b.to_pylist())])
    else:
        ok = pc.equal(a, b.cast(a.type))
    ok = pc.or_(ok.fill_null(False), na)
    return None if pc.all(ok).as_py() else pc.index(ok, False).as_py()


def _sorted(t):
    """Rows in a canonical order: non-float columns first, so rows that
    differ only by float noise still line up."""
    cols = sorted(t.column_names, key=lambda c: (
        pa.types.is_floating(t.schema.field(c).type), c))
    cols = [c for c in cols if not pa.types.is_nested(t.schema.field(c).type)]
    return t.take(pc.sort_indices(t, sort_keys=[(c, "ascending") for c in cols],
                                  null_placement="at_start"))


def compare(got, exp, ordered):
    """None if `got` matches `exp`, else a one-line reason. Columns must
    match by name; rows match in order when `ordered`, else as multisets."""
    gcols = [] if got is None else got.column_names
    if got is not None and sorted(gcols) != sorted(exp.column_names):
        return f"columns {gcols} != {exp.column_names}"
    grows = 0 if got is None else got.num_rows
    if grows != exp.num_rows:
        return f"rows {grows} != {exp.num_rows}"
    if grows == 0:
        return None
    cols = sorted(gcols)
    g, e = got.select(cols), exp.select(cols)
    if not ordered:
        g, e = _sorted(g), _sorted(e)
    for c in cols:
        i = _first_bad(g.column(c), e.column(c))
        if i is not None:
            return (f"row {i} column {c}: got {g.column(c)[i].as_py()!r}, "
                    f"expected {e.column(c)[i].as_py()!r}")
    return None


def check_serving(sf_dir, ops, body_dir):
    """Check every operation with a body; returns {op id: reason} for the
    operations whose answer is wrong. Identical (body, text, user) triples
    are checked once."""
    con = connect(sf_dir)
    verdicts = {}
    bad = {}
    for op in ops:
        if not op.get("body") or op["kind"] not in ("sync", "async"):
            continue
        key = (op["body"], op["sql"], op["user"], op["kind"])
        if key not in verdicts:
            try:
                got = decode(os.path.join(body_dir, op["body"]))
                exp = expected(con, op["kind"], op["entity"], op["sql"], op["user"])
                verdicts[key] = compare(got, exp, ordered=op["kind"] == "sync")
            except Exception as e:  # an unreadable body is a wrong answer
                verdicts[key] = f"check failed: {e}"
        if verdicts[key]:
            bad[op["id"]] = verdicts[key]
    return bad


def check_suite(sf_dir, result_dir, oracle_sql, names):
    """{query: reason} for suite queries whose first result disagrees with
    the DuckDB oracle. Queries without an oracle entry are only checked for
    stable results across executions (done in the JVM)."""
    con = duckdb.connect()
    con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
    for t in RAW:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')")
    bad = {}
    for name in names:
        if name not in oracle_sql:
            continue
        try:
            got = pq.read_table(os.path.join(result_dir, name))
            exp = con.execute(oracle_sql[name]).fetch_arrow_table()
            why = compare(got, exp, ordered=True)
        except Exception as e:
            why = f"check failed: {e}"
        if why:
            bad[name] = why
    return bad
