"""Correctness gate, run outside the timed window. The copy checks
return ``{sink edge: failure}`` (an edge is one namespace into one sink,
``"lineitem -> parquet"``), the others a list of failures; empty means
the output is right. The expected side never goes through Spark: DuckDB
for the copy sinks, the CDC table and the curation queries (each
query's registered oracle), a Python port of the user script for JS."""

from __future__ import annotations

import glob
import json
import math
import os
from decimal import Decimal
from typing import Dict, List, Optional, Tuple

import duckdb
import pyarrow.parquet as pq

# the user script the js_transform workload runs, and its Python port
JS_SCRIPT = """
function transform(doc) {
  if (doc.ns === 'orders') {
    if (doc.data.o_orderstatus === 'F') { return null; }
    doc.data.o_price_cents = Math.floor(doc.data.o_totalprice * 100);
    doc.data.o_orderpriority = doc.data.o_orderpriority.toLowerCase();
  } else {
    doc.data.tier = doc.data.c_acctbal > 5000 ? 'gold' : 'std';
  }
  return doc;
}
"""


def js_port(ns: str, data: dict):
    if ns == "orders":
        if data["o_orderstatus"] == "F":
            return None
        data["o_price_cents"] = math.floor(data["o_totalprice"] * 100)
        data["o_orderpriority"] = data["o_orderpriority"].lower()
    else:
        data["tier"] = "gold" if data["c_acctbal"] > 5000 else "std"
    return data


# the copy path's native transforms, as SQL over the input table
def expected_sql(ns: str, params: dict) -> str:
    src = f"read_parquet('{params['in']}/{ns}.parquet')"
    if ns == "lineitem":
        return f"SELECT * FROM {src} WHERE l_quantity <= {params['max_qty']}"
    if ns == "orders":
        return f"SELECT * FROM {src} WHERE o_totalprice > {params['min_price']!r}::DOUBLE"
    if ns == "customer":
        return f"SELECT {', '.join(params['customer_fields'])} FROM {src}"
    if ns == "part":
        names = pq.read_schema(f"{params['in']}/{ns}.parquet").names
        return "SELECT {} FROM {}".format(
            ", ".join(f"{c} AS {params['part_rename'].get(c, c)}" for c in names), src)
    return f"SELECT * FROM {src}"


def _diff(con, exp_sql: str, got_sql: str) -> Optional[str]:
    exp = con.sql(exp_sql)
    got = con.sql(got_sql)
    if exp.columns != got.columns:
        return f"columns {got.columns} != expected {exp.columns}"
    cast = ", ".join(f'CAST("{c}" AS {t})' for c, t in zip(exp.columns, exp.types))
    missing, extra = con.sql(
        f"SELECT (SELECT count(*) FROM (SELECT * FROM ({exp_sql}) EXCEPT ALL "
        f"SELECT {cast} FROM ({got_sql}))), "
        f"(SELECT count(*) FROM (SELECT {cast} FROM ({got_sql}) EXCEPT ALL "
        f"SELECT * FROM ({exp_sql})))").fetchone()
    if missing or extra:
        return f"{missing} expected rows missing, {extra} unexpected rows"
    return None


def _files(path: str, ext: str) -> List[str]:
    return sorted(glob.glob(os.path.join(path, f"*.{ext}")))


def check_copy(params: dict, namespaces: List[str], jsonl_ns: List[str]) -> Dict[str, str]:
    """Every parquet sink and every jsonl sink against DuckDB over the
    same input with the seed's predicates."""
    con = duckdb.connect()
    fails: Dict[str, Optional[str]] = {}
    for ns in namespaces:
        exp = expected_sql(ns, params)
        pq_files = _files(f"{params['out']}/pq/{ns}", "parquet")
        fails[f"{ns} -> parquet"] = _diff(
            con, exp, f"SELECT * FROM read_parquet({pq_files!r})") if pq_files else "no output files"
        if ns in jsonl_ns:
            js_files = _files(f"{params['out']}/js/{ns}", "json")
            cols = ", ".join(con.sql(exp).columns)
            fails[f"{ns} -> jsonl"] = _diff(
                con, exp,
                f"SELECT {cols} FROM read_json({js_files!r}, format='newline_delimited')",
            ) if js_files else "no output files"
    con.close()
    return {edge: msg for edge, msg in fails.items() if msg}


def _spark_json_ts(v) -> str:
    """A zone-less timestamp (the generator writes TIMESTAMP_NTZ) as
    Spark's to_json writes it."""
    return v.strftime("%Y-%m-%dT%H:%M:%S.") + f"{v.microsecond // 1000:03d}"


def _canon(doc: dict) -> str:
    """JSON text as JavaScript writes it: one number type, so an
    integral double prints without a fraction."""
    return json.dumps({k: int(v) if isinstance(v, float) and v.is_integer() else v
                       for k, v in doc.items()}, sort_keys=True)


def js_expected(params: dict, ns: str) -> List[str]:
    con = duckdb.connect()
    table = con.sql(expected_sql(ns, params)).arrow()
    con.close()
    out = []
    for row in table.to_pylist():
        data = {k: (_spark_json_ts(v) if hasattr(v, "strftime") else v)
                for k, v in row.items()}
        got = js_port(ns, data)
        if got is not None:
            out.append(_canon(got))
    return sorted(out)


def _doc(text: str) -> str:
    """Canonical form of one output document; text that is not a JSON
    object is kept as is, so it can never match an expected document."""
    try:
        doc = json.loads(text)
    except ValueError:
        return text
    return _canon(doc) if isinstance(doc, dict) else text


def check_js(params: dict, namespaces: List[str], jsonl_ns: List[str]) -> Dict[str, str]:
    """JS sink outputs (one JSON payload column) against the Python
    port of the same script over the same input rows."""
    fails: Dict[str, str] = {}
    for ns in namespaces:
        want = js_expected(params, ns)
        sinks = {"parquet": [r for f in _files(f"{params['out']}/pq/{ns}", "parquet")
                             for r in pq.read_table(f).column("json").to_pylist()]}
        if ns in jsonl_ns:
            sinks["jsonl"] = [json.loads(line)["json"]
                              for f in _files(f"{params['out']}/js/{ns}", "json")
                              for line in open(f) if line.strip()]
        for kind, docs in sinks.items():
            got = sorted(_doc(d) for d in docs)
            if got != want:
                bad = len(set(want).symmetric_difference(got))
                fails[f"{ns} -> {kind}"] = (f"js: {len(got)} docs vs {len(want)} expected, "
                                            f"{bad} differ")
    return fails


def cdc_expected(changes_dir: str) -> Dict[int, tuple]:
    """Last-writer-wins over every generated change, deletes and
    out-of-order rows included: newest (ts, seq) per key, deleted keys
    absent."""
    con = duckdb.connect()
    rows = con.sql(f"""
        SELECT key, val, seq, created FROM (
          SELECT *, row_number() OVER (PARTITION BY key ORDER BY ts DESC, seq DESC) AS rn
          FROM read_parquet('{changes_dir}/chg-*.parquet'))
        WHERE rn = 1 AND op <> 'delete'""").fetchall()
    con.close()
    return {r[0]: tuple(r[1:]) for r in rows}


def check_cdc(changes_dir: str, got: Dict[int, tuple]) -> Tuple[List[str], int]:
    """Failures and the number of keys whose final row is wrong."""
    want = cdc_expected(changes_dir)
    if got == want:
        return [], 0
    missing = len(set(want) - set(got))
    extra = len(set(got) - set(want))
    wrong = sum(1 for k in set(want) & set(got) if want[k] != got[k])
    return [f"cdc table: {missing} keys missing, {extra} unexpected, {wrong} stale "
            f"(of {len(want)} live keys)"], missing + extra + wrong


def _cell(v) -> str:
    """One result cell as text: a number as its double when that is
    exact, so an integer column and a double column holding the same
    value agree."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float, Decimal)):
        return repr(float(v)) if float(v) == v else str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(_cell(x) for x in v) + "]"
    return str(v)


def canon_rows(columns: List[str], rows) -> List[tuple]:
    """Rows with columns in name order and cells as text, sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_cell(r[i]) for i in order) for r in rows)


def curation_expected(con, oracle: str) -> Tuple[List[str], List[tuple]]:
    """(column names in order, canonical rows) of a query's oracle."""
    rel = con.sql(oracle)
    return sorted(rel.columns), canon_rows(rel.columns, rel.fetchall())


def check_query(want: Tuple[List[str], List[tuple]], columns: List[str],
                rows) -> Optional[str]:
    """A curation query's collected rows against its DuckDB oracle."""
    cols, exp = want
    if sorted(columns) != cols:
        return f"columns {sorted(columns)} != expected {cols}"
    got = canon_rows(columns, rows)
    if got != exp:
        bad = len(set(exp).symmetric_difference(got))
        return f"{len(got)} rows vs {len(exp)} expected, {bad} differ"
    return None
