#!/usr/bin/env python3
"""Harness self-test: python3 perfbench/selftest.py (from the checkout root).

1. Gate: builds tiny inputs, writes known-good sink outputs and query
   results without Spark, checks the gate accepts them, then corrupts
   one row of each kind of output and checks the gate rejects it.
2. Harness: runs every workload of BENCHMARK.json at a tiny input size
   and change rate, traced and untraced, and checks that every named
   metric is emitted once with its unit, then corrupts a real sink the
   copy run wrote and checks the gate reports it.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)  # the engine, for its registered curation oracles

import cdcgen  # noqa: E402
import gate  # noqa: E402
import gen  # noqa: E402
from workloads import (COPY_NS, CUR_CHAIN, CUR_DUP_SHARE, JS_NS, JSONL_NS,  # noqa: E402
                       check_copy_run, copy_params)

SCALE = 0.01  # sf0.001; the change rate shrinks by the same factor
problems = []


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        problems.append(what)


def _corrupt_parquet(path: str, column: str) -> None:
    t = pq.read_table(path)
    vals = t.column(column).to_pylist()
    vals[0] = vals[0] + "x" if isinstance(vals[0], str) else vals[0] + 1
    pq.write_table(t.set_column(t.schema.get_field_index(column), column,
                                pa.array(vals, type=t.schema.field(column).type)), path)


def gate_checks(work: str) -> None:
    in_dir, out = os.path.join(work, "in"), os.path.join(work, "out")
    gen.tpch_tables(in_dir, 7, SCALE)
    params = copy_params(7, in_dir, out)
    con = duckdb.connect()
    for ns in COPY_NS:
        os.makedirs(f"{out}/pq/{ns}")
        con.sql(f"COPY ({gate.expected_sql(ns, params)}) TO '{out}/pq/{ns}/part-0.parquet' "
                "(FORMAT PARQUET)")
        if ns in JSONL_NS:
            os.makedirs(f"{out}/js/{ns}")
            con.sql(f"COPY ({gate.expected_sql(ns, params)}) TO '{out}/js/{ns}/part-0.json' "
                    "(FORMAT JSON)")
    expect(gate.check_copy(params, COPY_NS, JSONL_NS) == {}, "copy gate accepts correct sinks")
    _corrupt_parquet(f"{out}/pq/lineitem/part-0.parquet", "l_quantity")
    fails = gate.check_copy(params, COPY_NS, JSONL_NS)
    expect(list(fails) == ["lineitem -> parquet"], "copy gate catches a changed value")

    js_out = os.path.join(work, "js_out")
    params = copy_params(7, in_dir, js_out)
    for ns in JS_NS:
        docs = gate.js_expected(params, ns)
        os.makedirs(f"{js_out}/pq/{ns}")
        pq.write_table(pa.table({"json": docs}), f"{js_out}/pq/{ns}/part-0.parquet")
        if ns in JSONL_NS:
            os.makedirs(f"{js_out}/js/{ns}")
            with open(f"{js_out}/js/{ns}/part-0.json", "w") as fh:
                fh.writelines(json.dumps({"json": d}) + "\n" for d in docs)
    expect(gate.check_js(params, JS_NS, JSONL_NS) == {}, "js gate accepts correct sinks")
    _corrupt_parquet(f"{js_out}/pq/{JS_NS[0]}/part-0.parquet", "json")
    fails = gate.check_js(params, JS_NS, JSONL_NS)
    expect(list(fails) == [f"{JS_NS[0]} -> parquet"], "js gate catches a changed document")

    changes = os.path.join(work, "changes")
    os.makedirs(changes)
    cfg = {"steps": [[400, 1.0, "x1"]], "tick": 0.25, "keys": 50, "zipf_a": 1.2,
           "ooo_share": 0.2, "ooo_max_us": 3_000_000}
    rng = np.random.default_rng(7)
    seq = 0
    for k, offset, rows, _, _ in cdcgen.schedule(cfg):
        pq.write_table(cdcgen.change_table(rng, seq, rows, int(offset * 1e6), cfg),
                       f"{changes}/chg-{k:06d}.parquet")
        seq += rows
    want = gate.cdc_expected(changes)
    # the oracle itself: replay every change in (ts, seq) order in Python
    con = duckdb.connect()
    replay = {}
    for key, op, _ts, val, s, created in con.sql(
            f"SELECT * FROM read_parquet('{changes}/chg-*.parquet') ORDER BY ts, seq").fetchall():
        if op == "delete":
            replay.pop(key, None)
        else:
            replay[key] = (val, s, created)
    expect(want == replay and len(want) > 0, "cdc oracle equals an in-order replay")
    expect(gate.check_cdc(changes, dict(want)) == ([], 0), "cdc gate accepts the right table")
    stale = dict(want)
    k0 = next(iter(stale))
    stale[k0] = (stale[k0][0] + 1.0,) + stale[k0][1:]
    expect(gate.check_cdc(changes, stale)[1] == 1, "cdc gate catches a stale row")

    # curation: each oracle's own rows pass, one changed cell fails
    from transporter_spark.queries import QUERIES

    corpus = os.path.join(work, "corpus")
    gen.corpus(corpus, 7, 60, CUR_DUP_SHARE)
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
    for name in CUR_CHAIN:
        rel = con.sql(QUERIES[name].oracle)
        cols, rows = rel.columns, rel.fetchall()
        want = gate.curation_expected(con, QUERIES[name].oracle)
        ok = gate.check_query(want, cols, rows) is None
        bad = [list(r) for r in rows]
        i = next(i for i, v in enumerate(bad[0]) if isinstance(v, (int, float, str)))
        bad[0][i] = bad[0][i] + ("x" if isinstance(bad[0][i], str) else 1)
        expect(ok and gate.check_query(want, cols, bad) is not None,
               f"curation gate accepts {name}'s oracle rows and catches a changed one")


def harness_checks() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = bench["command"] + ["--workload", w["name"], "--seed", "3", "--seconds", "2",
                                      "--trace", str(trace), "--scale", str(SCALE)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
            label = f"{w['name']} trace={trace}"
            if p.returncode != 0:
                expect(False, f"{label}: exit {p.returncode}: {p.stderr[-1500:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            expect(sorted(res) == ["attempted", "correct", "failed", "metrics"]
                   and res["attempted"] >= 1, f"{label}: result keys and attempted")
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{label}: every {key} metric with its unit")
            expect(all(isinstance(v["value"], (int, float)) and math.isfinite(v["value"])
                       for v in res["metrics"].values()), f"{label}: finite values")
            if trace == 0 and w["name"] == "snapshot_copy":
                corrupt_real_sink()


def corrupt_real_sink() -> None:
    """Corrupt lineitem in the last run the copy workload wrote and
    check the gate names it, on top of whatever it already reported."""
    out_root = os.path.join(ROOT, ".perfbench", "snapshot_copy", "out")
    last = max((d for d in os.listdir(out_root) if d.isdigit()), key=int)
    params = copy_params(3, os.path.join(ROOT, ".perfbench", "snapshot_copy", "in"),
                         os.path.join(out_root, last))
    before = check_copy_run(params)
    part = sorted(f for f in os.listdir(f"{params['out']}/pq/lineitem") if f.endswith(".parquet"))
    _corrupt_parquet(f"{params['out']}/pq/lineitem/{part[0]}", "l_quantity")
    after = check_copy_run(params)
    new = [f for f in after if f not in before]
    expect(new == ["lineitem -> parquet"], "gate catches a corrupted Spark sink")


def main() -> int:
    work = os.path.join(ROOT, ".perfbench", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    gate_checks(work)
    harness_checks()
    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
