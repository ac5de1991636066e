"""The workloads. Each one builds its inputs from the seed, warms up
outside the timed window, runs for the window, then checks outputs.

A workload returns an Outcome: units of work done and the time the
engine spent on them, per-operation latencies, operations attempted
and failed, the gate's findings, and the per-layer numbers its spans
produced.
"""

from __future__ import annotations

import contextlib
import json
import os
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field
from typing import Dict, List, Optional

import numpy as np
import pyarrow.parquet as pq

import cdcgen
import gate
import gen
from probe import ProcSampler, StageCounters, Tracer, median, pct

HERE = os.path.dirname(os.path.abspath(__file__))

# --- snapshot_copy -----------------------------------------------------------

COPY_NS = ["customer", "events", "lineitem", "orders", "part"]
JS_NS = ["customer"]  # the user JavaScript transform's namespaces
JSONL_NS = ["customer", "part"]
# table sizes as a share of sf0.1 (600k lineitem rows): one copy takes a
# few seconds on 4 cores, so a window holds several
COPY_SCALE = 0.1
# one untimed run first: it pays code generation and Python worker start.
# Run times keep falling by a few percent over the next runs as the JVM
# compiles the driver's hot paths; more untimed runs would cost more
# than the run budget allows
COPY_WARMUP_RUNS = 1

# --- cdc_tail ----------------------------------------------------------------

CDC_RATE = 2000  # nominal change rows per second
# (x nominal, share of the window). The nominal step gets most of the
# window: its epochs are the latency samples, about one a second
CDC_LADDER = [(1, 0.75), (4, 0.125), (16, 0.125)]
# before the window: one boot file the query must commit before the
# generator starts (the first epoch takes seconds), then the top rate
# warms the apply path on full-size epochs and the nominal rate lets
# their backlog drain
CDC_BOOT_ROWS = 8000
CDC_WARM = [(16, 2.0), (1, 1.0)]  # (x nominal, seconds)
CDC_TICK_S = 0.25  # one change file per tick
CDC_TRIGGER_MS = 500
CDC_KEYS = 20_000
CDC_COMPACT_EVERY = 8
CDC_READ_EVERY_S = 2.0
CDC_TAIL_PCT = 90  # tail percentile, taken over epochs
CDC_TAIL_LIMIT_S = 5.0
CDC_DRAIN_S = 30.0


# --- curation_batch ----------------------------------------------------------

# the registered queries a pass runs, in order: one per operator layer
# (dedup, text, similarity, selection). minhash_lsh_pairs is not timed
# on its own: dedup_clusters runs the same call, then connected
# components; its oracle still gives the edge count for size-switch
# coverage
CUR_CHAIN = ["dedup_clusters", "gopher_quality_gate", "semdedup_prune", "dsir_select"]
CUR_DOCS = 300
CUR_DUP_SHARE = 0.1


@dataclass
class Outcome:
    items: float = 0.0  # units of work completed in the window
    busy_s: float = 0.0  # engine time spent on those units
    latencies: List[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: List[str] = field(default_factory=list)  # gate findings
    layers: Dict[str, float] = field(default_factory=dict)  # op.*, per operation
    detail: Dict[str, object] = field(default_factory=dict)  # layer metrics, trace file


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    counters: Optional[StageCounters]
    sampler: ProcSampler
    work: str
    seed: int
    seconds: float
    cores: int
    scale: float = 1.0  # the self-test shrinks inputs and rates
    marks: Dict[str, tuple] = field(default_factory=dict)

    def mark(self, name: str) -> None:
        """Record wall time and process-tree CPU at a window edge. Memory
        is sampled until the window ends; the gate's own use is not the
        engine's."""
        self.marks[name] = (time.time(), self.sampler.cpu())
        if name == "end":
            self.sampler.stop()


def _op_layers(ctx: Ctx, spans: List[dict], jobs_of) -> Dict[str, float]:
    """Median per-operation stage counters over the window's spans."""
    if ctx.counters is None or not spans:
        return {}
    per = []
    for sp in spans:
        s = ctx.counters.summarize(jobs_of(sp), sp["start"])
        s["s"] = sp["end"] - sp["start"]
        s["slot_util"] = s["run_s"] / (s["s"] * ctx.cores) if s["s"] > 0 else 0.0
        per.append(s)
    return {k: median([p[k] for p in per]) for k in per[0]}


# ---------------------------------------------------------------------------
# snapshot copy: dir source -> native transforms + user JS -> fan-out sinks
# ---------------------------------------------------------------------------

def copy_params(seed: int, in_dir: str, out_dir: str) -> dict:
    """The seed's skip thresholds. The bands are narrow (selectivity
    about 60% and 50%, within two points) so every seed writes about
    the same number of rows and throughput stays comparable."""
    rng = np.random.default_rng([seed, 1])
    return {
        "in": in_dir,
        "out": out_dir,
        "max_qty": int(rng.integers(29, 32)),
        "min_price": round(float(rng.uniform(245_000.0, 255_000.0)), 2),
        "customer_fields": ["c_custkey", "c_name", "c_acctbal", "c_mktsegment"],
        "part_rename": {"p_name": "name", "p_brand": "brand"},
    }


def _alt(names: List[str]) -> str:
    return "^(" + "|".join(names) + ")$"


def build_pipeline(params: dict):
    from transporter_spark.plans.pipeline import Pipeline

    return (
        Pipeline("perfbench")
        .source("dir", path=params["in"], namespaces=_alt(COPY_NS))
        .transform("skip", field="l_quantity", operator="<=", match=params["max_qty"],
                   ns="^lineitem$")
        .transform("skip", field="o_totalprice", operator=">", match=params["min_price"],
                   ns="^orders$")
        .transform("pick", fields=params["customer_fields"], ns="^customer$")
        .transform("rename", field_map=params["part_rename"], ns="^part$")
        .transform("js", source=gate.JS_SCRIPT, ns=_alt(JS_NS))
        .save("parquet", path=params["out"] + "/pq/{ns}")
        .save("jsonl", path=params["out"] + "/js/{ns}", ns=_alt(JSONL_NS))
    )


# sink edges of one run: every namespace into parquet, two also into jsonl
COPY_EDGES = [f"{ns} -> parquet" for ns in COPY_NS] + [f"{ns} -> jsonl" for ns in JSONL_NS]


def check_copy_run(params: dict) -> Dict[str, str]:
    """{sink edge: failure} over one run's outputs."""
    native = [ns for ns in COPY_NS if ns not in JS_NS]
    return {**gate.check_copy(params, native, JSONL_NS), **gate.check_js(params, JS_NS, JSONL_NS)}


def envelope_probe(spark) -> Optional[str]:
    """A known engine defect the copy inputs steer clear of (the
    generated ``events`` table names its time column ``event_ts``): a
    source column named like an envelope field (``op``, ``ts``, ``ns``,
    ``data``) is left out of the payload, so a copy drops it. Probed
    once a run, untimed, on a one-row frame; returns what is wrong, or
    None once the engine keeps the column."""
    from transporter_spark.plans.pipeline import Pipeline

    df = spark.createDataFrame([(1, "a")], "id long, ts string")
    (Pipeline("perfbench-probe").source("dataframe", df=df, ns="probe")
     .save("memory", view="perfbench_probe").run(spark))
    cols = spark.table("perfbench_probe").columns
    return None if cols == ["id", "ts"] else f"a copy of columns [id, ts] wrote {cols}"


def copy_workload(ctx: Ctx) -> Outcome:
    in_dir = os.path.join(ctx.work, "in")
    sizes = gen.tpch_tables(in_dir, ctx.seed, COPY_SCALE * ctx.scale)
    # documents entering the JS transform per run: once per sink edge
    js_docs = sum(sizes[ns] * (2 if ns in JSONL_NS else 1) for ns in JS_NS)
    runs = [copy_params(ctx.seed, in_dir, os.path.join(ctx.work, "out", "warm"))]
    out = Outcome()
    # Pipeline.run prints its exit event; keep stdout for the result line
    with contextlib.redirect_stdout(sys.stderr):
        for _ in range(COPY_WARMUP_RUNS):
            with ctx.tracer.span("pipeline.warmup"):
                build_pipeline(runs[0]).run(ctx.spark)
        ctx.mark("start")
        window_end = time.time() + ctx.seconds
        while time.time() < window_end:
            # each run writes its own destination so every run is checked
            params = copy_params(ctx.seed, in_dir, os.path.join(ctx.work, "out", str(len(runs))))
            runs.append(params)
            pipe = build_pipeline(params)
            # an operation is one sink edge of one run
            out.attempted += len(COPY_EDGES)
            with ctx.tracer.span("pipeline.run") as sp:
                try:
                    event = pipe.run(ctx.spark)
                except Exception:  # a raised call fails every edge
                    traceback.print_exc()
                    params["raised"] = True
            if params.get("raised"):
                out.failed += len(COPY_EDGES)
                continue
            out.latencies.append(sp["end"] - sp["start"])
            out.busy_s += sp["end"] - sp["start"]
            out.items += sum(event["rows"].values())
        ctx.mark("end")
        defect = envelope_probe(ctx.spark)
    if defect:
        print(f"perfbench: known engine defect, not in the copy inputs: {defect}",
              file=sys.stderr)
    out.detail["known_defect.envelope_names"] = defect or "fixed"

    op = _op_layers(ctx, ctx.tracer.named("pipeline.run"),
                    lambda sp: ctx.counters.jobs_for_group(sp["group"]))
    out.layers.update({f"op.{k}": v for k, v in op.items()})
    if op:
        c0, c1 = ctx.marks["start"][1], ctx.marks["end"][1]
        n = max(len(out.latencies), 1)
        out.detail.update({
            "pipeline.run_s": op["s"], "pipeline.first_job_s": op["first_job_s"],
            "pipeline.jobs": op["jobs"], "pipeline.stages": op["stages"],
            "pipeline.tasks": op["tasks"], "pipeline.cpu_s": op["cpu_s"],
            # where a run's time goes: tasks run one at a time, so wall
            # time with no task running is dispatch, planning and commit
            "pipeline.task_s": op["run_s"], "pipeline.outside_tasks_s": op["s"] - op["run_s"],
            "pipeline.output_mb": op["output_mb"], "pipeline.slot_util": op["slot_util"],
            # scans per selected namespace: 1.0 is ideal, fan-out rescans
            "pipeline.scans_per_ns": op["scan_stages"] / len(COPY_NS),
            "sources.scan_tasks": op["scan_tasks"], "sources.scan_busy_s": op["scan_run_s"],
            "sources.input_mb": op["input_mb"], "sources.input_rows": op["input_rows"],
            "transforms.js.docs": js_docs,
            # Python workers and node per run: the JS hop's CPU, which
            # executor CPU time does not see
            "transforms.js.worker_cpu_s": (c1["py"] + c1["node"] - c0["py"] - c0["node"]) / n,
        })
    # correctness gate over every timed run's sinks, outside the window
    for params in runs[1:]:
        if params.get("raised"):
            continue
        fails = check_copy_run(params)
        out.failed += len(fails)
        out.failures += [f"{e}: {m}" for e, m in fails.items() if f"{e}: {m}" not in out.failures]
    return out


# ---------------------------------------------------------------------------
# CDC tail: open-loop change files -> Structured Streaming -> cdc_upsert_sink
# ---------------------------------------------------------------------------

def _committed_files(ckpt: str) -> Dict[str, int]:
    """file name -> micro-batch id, from the file source's metadata log."""
    out: Dict[str, int] = {}
    log_dir = os.path.join(ckpt, "sources", "0")
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        try:
            with open(os.path.join(log_dir, name)) as fh:
                lines = fh.read().splitlines()[1:]
        except OSError:  # a log file being compacted away
            continue
        for line in lines:
            if line.strip():
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / (1024.0 * 1024.0)


class _Reader(threading.Thread):
    """Reads the CDC table at a fixed interval while the tail runs:
    a full count plus one key lookup, as a dashboard or API would."""

    def __init__(self, ctx: Ctx, table: str, ready: threading.Event):
        super().__init__(daemon=True)
        self.ctx, self.table, self.ready = ctx, table, ready
        self.stop = threading.Event()
        self.times: List[float] = []
        self.attempted = self.failed = 0
        self.keys = np.random.default_rng([ctx.seed, 2]).integers(0, 500, 1000)

    def run(self) -> None:
        from pyspark.sql import functions as F
        from transporter_spark.streaming.cdc import read_cdc_table

        self.ready.wait()
        due = time.time()
        while not self.stop.wait(max(0.0, due - time.time())):
            due = max(due + CDC_READ_EVERY_S, time.time())
            self.attempted += 1
            key = int(self.keys[self.attempted % len(self.keys)])
            with self.ctx.tracer.span("cdc.read") as sp:
                try:
                    df = read_cdc_table(self.ctx.spark, self.table)
                    df.count()
                    df.filter(F.col("key") == key).collect()
                    ok = True
                except Exception:  # a raised read is a failed operation
                    traceback.print_exc()
                    ok = False
            if ok:
                self.times.append(sp["end"] - sp["start"])
            else:
                self.failed += 1


def _row_pct(pairs: List[tuple], q: float) -> float:
    """Percentile of (latency, rows) pairs, weighted by rows."""
    pairs = sorted(pairs)
    total = sum(n for _, n in pairs)
    acc = 0
    for lat, n in pairs:
        acc += n
        if acc >= q / 100.0 * total:
            return lat
    return float("nan")


def _reap(proc: subprocess.Popen, sampler: ProcSampler, timeout: float) -> None:
    """Wait for the change generator and take its CPU time out of this
    process's reaped-children time, where the kernel adds it: the load
    generator's CPU is not the engine's."""
    deadline = time.time() + timeout
    while True:
        pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
        if pid:
            break
        if time.time() > deadline:
            raise RuntimeError(f"change generator still running after {timeout:.0f} s")
        time.sleep(0.05)
    proc.returncode = os.waitstatus_to_exitcode(status)
    sampler.reaped_excluded_s += usage.ru_utime + usage.ru_stime


def cdc_workload(ctx: Ctx) -> Outcome:
    from pyspark.sql import types as T
    from transporter_spark.envelope import to_envelope
    from transporter_spark.streaming.cdc import cdc_upsert_sink, read_cdc_table
    from transporter_spark.streaming.state import SegmentStore

    spark, tracer = ctx.spark, ctx.tracer
    changes = os.path.join(ctx.work, "changes")
    table = os.path.join(ctx.work, "cdc_table")
    ckpt = os.path.join(ctx.work, "ckpt")
    os.makedirs(changes)
    rate = CDC_RATE * ctx.scale
    steps = [[rate * m, secs, "warm"] for m, secs in CDC_WARM] + [
        [rate * m, ctx.seconds * share, f"x{m}"] for m, share in CDC_LADDER]
    warm_s = sum(secs for _, secs in CDC_WARM)
    gen_cfg = {"seed": ctx.seed, "out": changes, "log": os.path.join(ctx.work, "gen.log"),
               "steps": steps, "tick": CDC_TICK_S, "keys": CDC_KEYS, "zipf_a": 1.2,
               "ooo_share": 0.1, "ooo_max_us": 3_000_000}

    schema = T.StructType([
        T.StructField("key", T.LongType()), T.StructField("op", T.StringType()),
        T.StructField("ts", T.TimestampNTZType()), T.StructField("val", T.DoubleType()),
        T.StructField("seq", T.LongType()), T.StructField("created", T.LongType()),
    ])
    env = to_envelope(spark.readStream.schema(schema).parquet(changes), ns="bench.cdc",
                      op_col="op", ts_col="ts", payload_cols=["key", "val", "seq", "created"])
    sink = cdc_upsert_sink(spark, table, keys=["key"], order_cols=["seq"],
                           compact_every=CDC_COMPACT_EVERY)
    epochs: Dict[int, dict] = {}
    first_commit = threading.Event()

    def apply(batch, epoch_id):
        with tracer.span("cdc.apply", group=False, epoch=epoch_id) as sp:
            sink(batch, epoch_id)
        if ctx.counters is not None:  # delays the epoch's commit: tracing cost
            t0 = time.perf_counter()
            sp["segments"] = len(SegmentStore(table).table_segments("delta"))
            tracer.overhead_s += time.perf_counter() - t0
        epochs[epoch_id] = sp
        first_commit.set()

    query = (env.writeStream.foreachBatch(apply).option("checkpointLocation", ckpt)
             .trigger(processingTime=f"{CDC_TRIGGER_MS} milliseconds").start())
    boot_rows = max(int(CDC_BOOT_ROWS * ctx.scale), 1)
    pq.write_table(cdcgen.change_table(np.random.default_rng([ctx.seed, 3]), 0, boot_rows,
                                       0, gen_cfg), os.path.join(changes, "chg-boot.parquet"))
    if not first_commit.wait(timeout=120):
        raise RuntimeError("the CDC stream committed no epoch within 120 s")
    reader = _Reader(ctx, table, first_commit)
    reader.start()
    gen_cfg["first_seq"] = boot_rows
    gen_cfg["start"] = time.time() + 0.2
    generator = subprocess.Popen([sys.executable, os.path.join(HERE, "cdcgen.py"),
                                  json.dumps(gen_cfg)])
    ctx.sampler.exclude.add(generator.pid)
    opens = threading.Timer(gen_cfg["start"] + warm_s - time.time(), ctx.mark, ("start",))
    opens.start()
    try:
        _reap(generator, ctx.sampler, timeout=warm_s + ctx.seconds + 60)
        if generator.returncode != 0:
            raise RuntimeError(f"change generator exited with {generator.returncode}")
        with open(gen_cfg["log"]) as fh:
            files = [json.loads(line) for line in fh]
        deadline = time.time() + CDC_DRAIN_S
        while time.time() < deadline:
            done = _committed_files(ckpt)
            if all(done.get(f["file"], -1) in epochs for f in files):
                break
            time.sleep(0.1)
        ctx.mark("end")
    finally:
        opens.cancel()
        if generator.poll() is None:
            generator.kill()
            generator.wait()
        reader.stop.set()
        reader.join(timeout=60)
        query.stop()
    batch_of = _committed_files(ckpt)
    progress = list(query.recentProgress)
    epoch_of = {f["file"]: epochs.get(batch_of.get(f["file"], -1)) for f in files}

    # latency of a file's rows: from when it was due to the commit of the
    # epoch segment holding it; rows never committed miss any limit
    out = Outcome()
    measured = [f for f in files if f["phase"] != "warm"]
    lat = {f["file"]: epoch_of[f["file"]]["end"] - f["due"]
           for f in measured if epoch_of[f["file"]]}
    missed = sum(f["rows"] for f in measured if f["file"] not in lat)
    nominal = f"x{CDC_LADDER[0][0]}"
    out.latencies = [_row_pct([(lat[f["file"]], f["rows"]) for f in measured
                               if f["phase"] == nominal and f["file"] in lat], 50)]
    # throughput: rows of the window's epochs per second of apply time
    warm_epochs = {epoch_of[f["file"]]["epoch"] for f in files
                   if f["phase"] == "warm" and epoch_of[f["file"]]}
    pure = {epoch_of[f]["epoch"]: epoch_of[f] for f in lat
            if epoch_of[f]["epoch"] not in warm_epochs}
    out.items = sum(f["rows"] for f in measured
                    if f["file"] in lat and epoch_of[f["file"]]["epoch"] in pure)
    out.busy_s = sum(sp["end"] - sp["start"] for sp in pure.values())
    out.attempted = sum(f["rows"] for f in measured) + reader.attempted
    out.failed = missed + reader.failed

    # the ladder: a rate is sustained when its epoch tail meets the
    # limit, every row commits, and the backlog does not grow over the step
    commits = sorted(sp["end"] for sp in epochs.values())

    def backlog(t: float) -> tuple:
        late = [f for f in files if f["due"] <= t
                and not (epoch_of[f["file"]] and epoch_of[f["file"]]["end"] <= t)]
        return sum(f["rows"] for f in late), len(late)

    ladder = {}
    for step_rate, _, phase in steps[len(CDC_WARM):]:
        pf = [f for f in measured if f["phase"] == phase]
        lo, hi = pf[0]["due"], pf[-1]["due"] + CDC_TICK_S
        samples = [backlog(t)[0] for t in commits if lo <= t <= hi]
        growth = samples[-1] - samples[0] if len(samples) >= 2 else 0
        worst: Dict[int, float] = {}
        for f in pf:
            if f["file"] in lat:
                e = epoch_of[f["file"]]["epoch"]
                worst[e] = max(worst.get(e, 0.0), lat[f["file"]])
        tail = pct(list(worst.values()), CDC_TAIL_PCT)
        lost = sum(f["rows"] for f in pf if f["file"] not in lat)
        ladder[phase] = {
            "rate": step_rate, "epochs": len(worst), "backlog_growth_rows": growth,
            "p50_s": _row_pct([(lat[f["file"]], f["rows"]) for f in pf if f["file"] in lat], 50),
            f"p{CDC_TAIL_PCT}_epochs_s": tail, "missed_rows": lost,
            "sustained": bool(tail <= CDC_TAIL_LIMIT_S and lost == 0 and growth <= step_rate),
        }
    late = [f["written"] - f["due"] for f in files]
    out.detail.update({
        "cdc.ladder": ladder,
        "cdc.latency_p50_s": out.latencies[0],
        f"cdc.latency_p{CDC_TAIL_PCT}_s": ladder[nominal][f"p{CDC_TAIL_PCT}_epochs_s"],
        "cdc.sustained_rows_per_s": max([v["rate"] for v in ladder.values() if v["sustained"]],
                                        default=0.0),
        "cdc.read_p50_s": median(reader.times),
        "cdc.reads": reader.attempted,
        "generator.late_s": {"p50": median(late), "max": max(late)},
    })

    # per-layer: epoch spans, their jobs, the streaming progress and state
    if ctx.counters is not None and pure:
        cnt = ctx.counters
        spans = sorted(pure.values(), key=lambda s: s["start"])
        # every micro-batch job runs under the query's group, reads under theirs
        op = _op_layers(ctx, spans,
                        lambda sp: cnt.jobs_between(sp["start"], sp["end"], exclude_prefix="pb-"))
        out.layers.update({f"op.{k}": v for k, v in op.items()})
        rd = _op_layers(ctx, tracer.named("cdc.read"),
                        lambda sp: cnt.jobs_for_group(sp["group"]))
        durations = [sp["end"] - sp["start"] for sp in spans]
        segs = [sp["segments"] for sp in sorted(epochs.values(), key=lambda s: s["start"])]
        by_batch = {int(p.batchId): p for p in progress}
        dm = [by_batch[sp["epoch"]].durationMs for sp in spans if sp["epoch"] in by_batch]
        trig = {b: _iso(p.timestamp) for b, p in by_batch.items()}
        lag = [trig[batch_of[f["file"]]] - f["due"] for f in measured
               if batch_of.get(f["file"]) in trig]
        out.detail.update({
            "cdc.apply_s": {"p50": median(durations),
                            f"p{CDC_TAIL_PCT}": pct(durations, CDC_TAIL_PCT)},
            "cdc.apply_jobs": op["jobs"], "cdc.apply_tasks": op["tasks"],
            "cdc.read_s": median(reader.times), "cdc.read_tasks": rd.get("tasks"),
            "cdc.compactions": sum(1 for a, b in zip(segs, segs[1:]) if b < a),
            "state.segments": median(segs), "state.disk_mb": _du_mb(table),
            "stream.trigger_s": median([d.get("triggerExecution", 0) / 1e3 for d in dm]),
            "stream.plan_s": median([d.get("queryPlanning", 0) / 1e3 for d in dm]),
            "stream.offsets_s": median([(d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1e3
                                        for d in dm]),
            "stream.wal_s": median([(d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
                                    for d in dm]),
            "stream.rows_per_epoch": median([by_batch[sp["epoch"]].numInputRows
                                             for sp in spans if sp["epoch"] in by_batch]),
            "stream.backlog_files": max((backlog(t)[1] for t in commits), default=0),
            "stream.source_lag_s": median(lag),
        })

    # gate: the final table against last-writer-wins over every change
    got = {r["key"]: (r["val"], r["seq"], r["created"])
           for r in read_cdc_table(spark, table).select("key", "val", "seq", "created").collect()}
    out.failures, wrong_keys = gate.check_cdc(changes, got)
    out.failed += wrong_keys
    return out


# ---------------------------------------------------------------------------
# curation: a seeded corpus through a fixed chain of registered queries
# ---------------------------------------------------------------------------

def _oracles(corpus_dir: str) -> dict:
    """Each chain query's registered DuckDB oracle over the corpus, and
    the number of near-duplicate pairs (minhash_lsh_pairs' oracle)."""
    import duckdb
    from transporter_spark.queries import QUERIES

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')")
    want = {name: gate.curation_expected(con, QUERIES[name].oracle) for name in CUR_CHAIN}
    want["pairs"] = len(con.sql(QUERIES["minhash_lsh_pairs"].oracle).fetchall())
    con.close()
    return want


def _run_chain(ctx: Ctx, corpus_dir: str, results: list) -> None:
    """One pass: every chain query and its action, then the cache drop a
    user pays per corpus. ``results`` collects (query, columns, rows or
    None when the call raised, cached MB after the action)."""
    from transporter_spark.queries import QUERIES

    for name in CUR_CHAIN:
        with ctx.tracer.span(f"curation.{name}"):
            try:
                df = QUERIES[name].fn(ctx.spark, corpus_dir)
                rows, cols = df.collect(), df.columns
            except Exception:  # a raised query is a failed operation
                traceback.print_exc()
                rows, cols = None, []
        cached = 0.0
        if ctx.counters is not None:  # a status store read, counted as tracing cost
            t0 = time.perf_counter()
            cached = ctx.counters.cached_mb()
            ctx.tracer.overhead_s += time.perf_counter() - t0
        results.append((name, cols, rows, cached))
    ctx.spark.catalog.clearCache()


def curation_workload(ctx: Ctx) -> Outcome:
    corpus_dir = os.path.join(ctx.work, "corpus")
    n_docs = max(int(CUR_DOCS * ctx.scale), 40)
    info = gen.corpus(corpus_dir, ctx.seed, n_docs, CUR_DUP_SHARE)
    want = _oracles(corpus_dir)

    out = Outcome()
    results: list = []
    passes: List[dict] = []
    ctx.mark("start")
    window_end = time.time() + ctx.seconds
    # no warm-up: the first pass in the session is timed, as a batch job
    # runs it (the engine compiles each query's plan on first use). A
    # further pass starts only while the last one would still end in the
    # window
    while not passes or time.time() + out.latencies[-1] <= window_end:
        with ctx.tracer.span("curation.pass", group=False) as sp:
            _run_chain(ctx, corpus_dir, results)
        passes.append(sp)
        out.latencies.append(sp["end"] - sp["start"])
    ctx.mark("end")
    out.items = n_docs * len(passes)
    out.busy_s = sum(out.latencies)

    # gate: every query of every pass against its oracle
    out.attempted = len(results)
    for name, cols, rows, _ in results:
        msg = "raised" if rows is None else gate.check_query(want[name], cols, rows)
        if msg:
            out.failed += 1
            if f"{name}: {msg}" not in out.failures:
                out.failures.append(f"{name}: {msg}")

    # size-switch coverage of connected components (dedup_clusters):
    # candidate edges enter symmetrized, two rows per pair; relabels are
    # the vertices whose component is another vertex
    cols, rows = want["dedup_clusters"]
    relabels = sum(1 for r in rows if r[cols.index("is_canonical")] == "False")
    edge_max, map_max = _cc_limits()
    out.detail.update({
        "curation.docs": n_docs, "curation.near_dups": info["near_dups"],
        "curation.passes": len(passes),
        "cc.edge_rows": 2 * want["pairs"], "cc.relabels": relabels,
        "cc.driver_path": 2 * want["pairs"] <= edge_max,
        "cc.literal_map": relabels <= map_max,
    })

    if ctx.counters is not None:
        cnt = ctx.counters
        kids = {sp["id"]: [c for c in ctx.tracer.spans if c["parent"] == sp["id"]] for sp in passes}
        op = _op_layers(ctx, passes, lambda sp: sorted(
            j for c in kids[sp["id"]] for j in cnt.jobs_for_group(c["group"])))
        out.layers.update({f"op.{k}": v for k, v in op.items()})
        out.detail.update({"curation.slot_util": op["slot_util"],
                           "curation.cached_mb": max(r[3] for r in results)})
        for name in CUR_CHAIN:
            q = _op_layers(ctx, [c for sp in passes for c in kids[sp["id"]]
                                 if c["name"] == f"curation.{name}"],
                           lambda c: cnt.jobs_for_group(c["group"]))
            for k in ("s", "jobs", "tasks", "cpu_s", "shuffle_mb", "spill_mb"):
                out.detail[f"curation.{name}.{k}"] = q[k]
    return out


def _cc_limits() -> tuple:
    from transporter_spark.operators import dedup

    return dedup._CC_DRIVER_MAX_EDGE_ROWS, dedup._CC_LITERAL_MAP_MAX


def _iso(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


WORKLOADS = {"snapshot_copy": copy_workload, "cdc_tail": cdc_workload,
             "curation_batch": curation_workload}
