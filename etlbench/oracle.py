"""DuckDB oracle for the payroll workloads.

The q22/q23 oracle SQL in `graft.pipeline.PayrollQueries` re-expresses the
reference dataflow over VALUES CTEs of the embedded fixtures. Here the same
SQL runs over the generated inputs: each fixture CTE is swapped for a table
of generated rows, and the final ORDER BY becomes the ingest ordinal, the
row order the program's sinks write. The result is rendered the way
`TableIo.csvBytes` (pandas `to_csv`) and `TableIo.writeXlsx` render theirs,
so the program's files can be compared value for value.
"""
import re
import xml.etree.ElementTree as ET
import zipfile

import duckdb
import pyarrow as pa

# CTE name in the oracle SQL -> generated table
PUA_TABLES = ["pua", "ts_org", "ts_dept", "ot", "te_m"]
CPA_TABLES = ["bw", "mn", "ts_org", "ts_dept", "ot", "te_m"]

_VALUES_CTE = re.compile(r'(\w+)\(([^)]*)\) AS \(VALUES')
_FIRST_QUERY_CTE = re.compile(r',\n  [a-z0-9_]+ AS \(\n')
_ORDER_BY = re.compile(r'\n  ORDER BY [^\n]*\s*$')


class OracleError(Exception):
    pass


def rebind(sql, names):
    """Replace the VALUES CTEs of `sql` by `<name> AS (SELECT ... FROM
    <name>_in)` and order the result by the ingest ordinal."""
    head, sep, rest = sql.partition("WITH\n  ")
    m = _FIRST_QUERY_CTE.search(rest)
    if not sep or not m:
        raise OracleError("oracle SQL does not have the expected WITH layout")
    ctes = _VALUES_CTE.findall(rest[: m.start()])
    if sorted(n for n, _ in ctes) != sorted(names):
        raise OracleError("oracle SQL binds %s, expected %s" % ([n for n, _ in ctes], names))
    bound = ",\n  ".join("%s AS (SELECT %s FROM %s_in)" % (n, cols, n) for n, cols in ctes)
    body = rest[m.start():]
    if not _ORDER_BY.search(body):
        raise OracleError("oracle SQL has no final ORDER BY")
    body = _ORDER_BY.sub("\n  ORDER BY ord", body)
    return head + sep + bound + body


def _arrow(columns, rows):
    data = {"ord": pa.array(range(len(rows)), pa.int64())}
    for i, c in enumerate(columns):
        data[c] = pa.array([r[i] for r in rows], pa.string())
    return pa.table(data)


def run(sql, tables, names):
    con = duckdb.connect()
    for n in names:
        columns, rows = tables[n]
        con.register(n + "_in", _arrow(columns, rows))
    cur = con.execute(rebind(sql, names))
    header = [d[0] for d in cur.description]
    rows = cur.fetchall()
    con.close()
    return header, rows


def _quote(s):
    if any(ch in s for ch in ',"\n'):
        return '"' + s.replace('"', '""') + '"'
    return s


def _is_ts(v):
    return hasattr(v, "hour") and hasattr(v, "microsecond")


def csv_bytes(header, rows):
    """pandas to_csv rendering, as TableIo.csvBytes documents it."""
    ts_cols = [i for i in range(len(header)) if any(_is_ts(r[i]) for r in rows)]
    date_only = {i: all(r[i] is None or (r[i].hour, r[i].minute, r[i].second,
                                         r[i].microsecond) == (0, 0, 0, 0) for r in rows)
                 for i in ts_cols}

    def cell(i, v):
        if i in date_only:
            if v is None:
                return '""'
            if date_only[i]:
                return v.strftime("%Y-%m-%d")
            return v.strftime("%Y-%m-%d %H:%M:%S" + (".%f" if v.microsecond else ""))
        return "" if v is None else _quote(str(v))
    lines = [",".join(_quote(h) for h in header)]
    lines += [",".join(cell(i, v) for i, v in enumerate(r)) for r in rows]
    return ("\n".join(lines) + "\n").encode("utf-8")


def xlsx_cells(header, rows):
    """The cells TableIo.writeXlsx writes: timestamps as
    `yyyy-MM-dd HH:mm:ss`, nulls as absent cells."""
    def cell(v):
        if v is None:
            return None
        return v.strftime("%Y-%m-%d %H:%M:%S") if _is_ts(v) else str(v)
    return [list(header)] + [[cell(v) for v in r] for r in rows]


_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def _col_index(ref):
    n = 0
    for ch in ref:
        if not ch.isalpha():
            break
        n = n * 26 + ord(ch.upper()) - 64
    return n - 1


def read_xlsx_cells(path):
    """Decode the first worksheet of a workbook the program wrote (inline
    or shared strings), rows padded to the header width."""
    with zipfile.ZipFile(path) as z:
        shared = []
        if "xl/sharedStrings.xml" in z.namelist():
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            shared = ["".join(t.text or "" for t in si.iter(_NS + "t")) for si in root]
        sheet = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
    rows = []
    for row in sheet.iter(_NS + "row"):
        cells = []
        for c in row.iter(_NS + "c"):
            i = _col_index(c.get("r"))
            cells.extend([None] * (i - len(cells)))
            t = c.get("t")
            if t == "inlineStr":
                v = "".join(x.text or "" for x in c.iter(_NS + "t"))
            else:
                raw = c.findtext(_NS + "v")
                v = shared[int(raw)] if t == "s" else raw
            cells.append(v)
        rows.append(cells)
    width = len(rows[0]) if rows else 0
    return [r + [None] * (width - len(r)) for r in rows]


def first_difference(want, got):
    w, g = want.decode("utf-8").split("\n"), got.decode("utf-8").split("\n")
    for i, (a, b) in enumerate(zip(w, g)):
        if a != b:
            return "line %d: expected %r, got %r" % (i + 1, a[:200], b[:200])
    return "line count: expected %d, got %d" % (len(w), len(g))
