"""Expected outputs of generated ops, computed by DuckDB over the raw
parquet tables with the path mapping of FIXTURES.md (path = /<table>/<key>,
foreign keys as reference fields), and the comparison rules of
tools/check.py: exact values, row order compared where the op defines one.
Floats are compared at 9 significant digits, so an aggregate summed in a
different order still matches while any perturbed value does not.

Approximate ops would be held to a recall floor against the exact answer;
every op the workloads generate today is exact."""
import json
import re

import duckdb

TABLES = ["customer", "supplier", "part", "orders", "lineitem", "events",
          "documents"]
ONT = "cmwell://ont#"
XSD = "http://www.w3.org/2001/XMLSchema#"

# qp field -> (table, column) for the two tables the qp generator uses
COLUMNS = {
    "customer": {"mktsegment": "c_mktsegment", "acctbal": "c_acctbal",
                 "nationkey": "c_nationkey", "name": "c_name",
                 "custkey": "c_custkey"},
    "orders": {"orderstatus": "o_orderstatus",
               "orderpriority": "o_orderpriority",
               "totalprice": "o_totalprice", "custkey": "o_custkey",
               "orderkey": "o_orderkey"},
}
KEY = {"customer": "c_custkey", "orders": "o_orderkey", "part": "p_partkey",
       "supplier": "s_suppkey"}
# fields of a loaded order: its six columns plus the refCustomer reference
ORDER_FIELDS = 7
TOKENS_SQL = ("list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), "
              "t -> t <> '')")


def canon(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float)):
        return float(f"{float(v):.9g}")
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return str(v)


def sql_str(s):
    return "'" + s.replace("'", "''") + "'"


def split_top(qp):
    """Split a qp on top-level commas (commas inside [...] stay)."""
    out, depth, cur = [], 0, ""
    for ch in qp:
        if ch == "[":
            depth += 1
        elif ch == "]":
            depth -= 1
        if ch == "," and depth == 0:
            out.append(cur)
            cur = ""
        else:
            cur += ch
    out.append(cur)
    return [c for c in out if c]


CLAUSE = re.compile(r"^([A-Za-z_]+)(::|>>|>|<<|<)(.*)$")


def qp_sql(qp, table):
    """SQL condition for the qp subset the generator emits: Must clauses,
    '-' MustNot, and one '[*a,*b]' Should group, over :: > >> < <<."""
    cols = COLUMNS[table]

    def clause(c):
        m = CLAUSE.match(c)
        if not m:
            raise ValueError(f"unsupported qp clause {c!r}")
        f, op, v = m.groups()
        col = cols[f]
        if op == "::":
            return f"{col} = {sql_str(v)}"
        sql_op = {">": ">", ">>": ">=", "<": "<", "<<": "<="}[op]
        return f"{col} {sql_op} {float(v)!r}"

    conds = []
    for c in split_top(qp):
        if c.startswith("["):
            alts = [clause(a.lstrip("*")) for a in split_top(c[1:-1])]
            conds.append("(" + " OR ".join(alts) + ")")
        elif c.startswith("-"):
            conds.append(f"NOT ({clause(c[1:])})")
        else:
            conds.append(clause(c))
    return " AND ".join(conds) if conds else "TRUE"


class Oracle:
    def __init__(self, data_dir):
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                         f"read_parquet({sql_str(f'{data_dir}/{t}.parquet')})")
        self.con.sql("""CREATE VIEW points AS
            SELECT '/customer/' || c_custkey AS path, c_name AS name,
                   c_acctbal AS acctbal, NULL::DOUBLE AS totalprice FROM customer
            UNION ALL SELECT '/orders/' || o_orderkey, NULL, NULL, o_totalprice
              FROM orders
            UNION ALL SELECT '/part/' || p_partkey, p_name, NULL, NULL FROM part
            UNION ALL SELECT '/supplier/' || s_suppkey, s_name, s_acctbal, NULL
              FROM supplier""")

    def q(self, sql):
        return [tuple(r) for r in self.con.sql(sql).fetchall()]

    def table_from_path(self, p):
        return p.strip("/").split("/")[0]

    # --- per-template expectations: (rows, ordered) ---------------------

    def expected(self, op, files):
        t, a = op[1], op[2:]
        return getattr(self, "exp_" + t)(a, files)

    def page(self, a):
        path, qp, sort, off, length = a[:5]
        table = self.table_from_path(path)
        field = sort.lstrip("-*")
        col = COLUMNS[table][field]
        direction = "DESC" if sort.startswith("-") else "ASC"
        return self.q(
            f"SELECT '/{table}/' || {KEY[table]} AS path, {col} FROM {table} "
            f"WHERE {qp_sql(qp, table)} ORDER BY {col} {direction} NULLS LAST, "
            f"path ASC LIMIT {int(length)} OFFSET {int(off)}")

    def exp_read(self, a, files):
        paths = ",".join(sql_str(p) for p in a[0].split(","))
        return self.q(f"SELECT * FROM points WHERE path IN ({paths})"), False

    def exp_search(self, a, files):
        return self.page(a), True

    def exp_agg(self, a, files):
        path, qp, kind, field, param = a
        table = self.table_from_path(path)
        col = COLUMNS[table][field]
        where = qp_sql(qp, table)
        if kind == "term":
            return self.q(f"SELECT {col}, count(*) FROM {table} WHERE {where} "
                          f"GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT {int(param)}"), False
        if kind == "stats":
            s = f"sum({col}::DECIMAL(30,2))::DOUBLE"
            return self.q(f"SELECT count({col}), min({col}), max({col}), {s}, "
                          f"{s} / count({col}) FROM {table} WHERE {where}"), True
        if kind == "hist":
            i = float(param)
            return self.q(f"SELECT floor({col} / {i!r}) * {i!r} AS b, count(*) "
                          f"FROM {table} WHERE {where} GROUP BY 1 ORDER BY 1"), True
        if kind == "card":
            return self.q(f"SELECT count(DISTINCT {col}) FROM {table} "
                          f"WHERE {where}"), True
        raise ValueError(kind)

    def exp_compound(self, a, files):
        parent, off, length = a
        table = parent.strip("/")
        return self.q(
            f"SELECT child, count(*) OVER () FROM (SELECT '/{table}/' || "
            f"{KEY[table]} AS child FROM {table}) ORDER BY child "
            f"LIMIT {int(length)} OFFSET {int(off)}"), True

    def exp_format(self, a, files):
        if a[0] == "jsonld":
            # one document per page row: its @id, the sort field's value,
            # and how many fields it carries
            return [("cmwell:/" + p, v, ORDER_FIELDS)
                    for p, v in self.page(a[1:])], True
        keys = ",".join(p.rsplit("/", 1)[1] for p in a[1].split(","))
        rows = self.q(f"SELECT c_custkey, c_name, c_nationkey, c_acctbal, "
                      f"c_mktsegment FROM customer WHERE c_custkey IN ({keys})")
        lines = []
        for k, name, nation, bal, seg in rows:
            s = f"<cmwell://customer/{k}>"
            lines += [
                (f'{s} <{ONT}custkey> "{k}"^^<{XSD}long> .',),
                (f'{s} <{ONT}name> "{name}" .',),
                (f'{s} <{ONT}nationkey> "{nation}"^^<{XSD}long> .',),
                (f'{s} <{ONT}acctbal> "{bal!r}"^^<{XSD}double> .',),
                (f'{s} <{ONT}mktsegment> "{seg}" .',),
                (f"{s} <{ONT}refNation> <cmwell://nation/{nation}> .",)]
        return lines, False

    def reach(self, base_sql, levels):
        """Paths of an xg expansion: the base plus every level's targets.
        `base_sql` selects (path, key) of orders or customers."""
        parts = ["SELECT path FROM base"]
        ctes = [f"base AS ({base_sql})"]
        frontier = "base"
        for i, lvl in enumerate(levels):
            if lvl == "refCustomer":
                sel = (f"SELECT '/customer/' || o_custkey AS path, o_custkey "
                       f"AS key FROM orders WHERE o_orderkey IN "
                       f"(SELECT key FROM {frontier})")
            elif lvl == "refNation":
                sel = (f"SELECT '/nation/' || c_nationkey AS path, c_nationkey "
                       f"AS key FROM customer WHERE c_custkey IN "
                       f"(SELECT key FROM {frontier})")
            else:
                raise ValueError(lvl)
            parts.append(f"SELECT path FROM l{i}")
            ctes.append(f"l{i} AS ({sel})")
            frontier = f"l{i}"
        return self.q(f"WITH {', '.join(ctes)} "
                      f"SELECT DISTINCT path FROM ({' UNION ALL '.join(parts)})")

    def exp_xg(self, a, files):
        base, qp, expr = a
        table = self.table_from_path(base)
        base_sql = (f"SELECT '/{table}/' || {KEY[table]} AS path, {KEY[table]} "
                    f"AS key FROM {table} WHERE {qp_sql(qp, table)}")
        return self.reach(base_sql, expr.split(">")), False

    def exp_yg(self, a, files):
        """The base customers, the orders that reference them, and their
        nations: q_yg_multi's oracle over a qp base, without hop filters."""
        base, qp, expr = a
        assert expr == "<refCustomer|>refNation", expr
        where = qp_sql(qp, "customer")
        return self.q(f"""
            SELECT '/customer/' || c_custkey FROM customer WHERE {where}
            UNION SELECT '/orders/' || o_orderkey FROM orders
              JOIN customer ON o_custkey = c_custkey WHERE {where}
            UNION SELECT '/nation/' || c_nationkey FROM customer
              WHERE {where}"""), False

    def exp_gqp(self, a, files):
        """The base customers that some order references: q_gqp's oracle
        over a qp base, without the hop filter."""
        base, qp, expr = a
        assert expr == "<refCustomer", expr
        return self.q(f"""
            SELECT '/customer/' || c_custkey FROM customer
            WHERE {qp_sql(qp, "customer")} AND EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey)"""), False

    def exp_text(self, a, files):
        """q_text_quality's oracle over the slice of documents."""
        lo, hi = int(a[0]), int(a[1])
        return self.q(f"""
            WITH t AS (SELECT doc_id, text, {TOKENS_SQL} AS ts FROM documents
              WHERE doc_id >= {lo} AND doc_id < {hi})
            SELECT doc_id, len(ts),
              CAST(len(list_filter(ts, x -> list_contains(
                ['the','a','an','and','of','to','in','is','it','for'], x)))
                AS DOUBLE) / len(ts),
              length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) * 1.0
                / length(text),
              length(regexp_replace(text, '\\s+', '', 'g')) * 1.0 / len(ts),
              1.0 - CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts)
            FROM t"""), False

    def exp_sparql(self, a, files):
        q = re.search(r"FILTER \(\?q > (\d+)\)", a[0]).group(1)
        return self.q(f"""
            SELECT '/lineitem/' || l_orderkey || '-' || l_linenumber || '-'
              || l_partkey || '-' || l_suppkey AS l, '/customer/' || o_custkey
              AS c FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_quantity > {q} ORDER BY l, c"""), True

    def exp_gremlin(self, a, files):
        m = re.match(r'g\.v\("/orders/(\d+)"\)\.out\("refCustomer"\)'
                     r'\.out\("refNation"\)\.path$', a[0])
        return self.q(f"""SELECT '/orders/' || o_orderkey || '>/customer/'
            || o_custkey || '>/nation/' || c_nationkey FROM orders
            JOIN customer ON o_custkey = c_custkey
            WHERE o_orderkey = {m.group(1)}"""), False

    def exp_consume(self, a, files):
        path, qp, chunk = a
        m = re.match(r"^event_type::(\w+),value>([0-9.]+)$", qp)
        et, v = sql_str(m.group(1)), float(m.group(2))
        return self.q(f"""
            SELECT (row_number() OVER (ORDER BY ts, event_id) - 1) // {int(chunk)},
              event_id, epoch_us(ts) FROM events
            WHERE event_type = {et} AND value > {v!r}"""), False

    def exp_ingest(self, a, files):
        """Read-back after the merge: updated customers carry the new
        balance and keep their name, new subjects carry their fields, and
        deleted customers read back as tombstones."""
        name, _, touched = a
        fields, deleted = {}, set()
        for line in files[name].splitlines():
            subj, pred, obj = line.split(" ", 2)
            p = "/" + subj[1:-1].split("://", 1)[1]
            if pred.endswith("#fullDelete>"):
                deleted.add(p)
            elif not pred.endswith("#markReplace>"):
                lit = obj.split('"')[1]
                fields.setdefault(p, {})[pred[1:-1].rsplit("#", 1)[1]] = (
                    float(lit) if XSD + "double" in obj else lit)
        keys = [p.rsplit("/", 1)[1] for p in fields if p.startswith("/customer/")]
        names = dict(self.q(
            "SELECT '/customer/' || c_custkey, c_name FROM customer WHERE "
            f"c_custkey IN ({','.join(keys) or '-1'})"))
        rows = []
        for p in touched.split(","):
            if p in deleted:
                rows.append((p, "DeletedInfoton", None, None, None))
            else:
                f = fields[p]
                rows.append((p, "ObjectInfoton", f.get("name", names.get(p)),
                             f["acctbal"], None))
        return rows, False


def actual_rows(op, rows):
    """Engine rows in the shape the oracle produces them."""
    if op[1] == "format" and op[2] == "jsonld":
        out = []
        for (doc,) in rows:
            d = json.loads(doc)
            field = op[5].lstrip("-*")
            out.append((d["@id"], float(d[ONT + field][0]["@value"]),
                        len(d) - 1))
        return out
    return [tuple(r) for r in rows]


def compare(expected, ordered, got):
    """None when the rows agree, else a short description of the first
    difference."""
    e = [canon(r) for r in expected]
    g = [canon(r) for r in got]
    if not ordered:
        e, g = sorted(e, key=repr), sorted(g, key=repr)
    if len(e) != len(g):
        return f"{len(g)} rows, expected {len(e)}"
    for x, y in zip(e, g):
        if x != y:
            return f"row {y!r}, expected {x!r}"
    return None
