"""Declarative pipeline spec + runner — the engine's analog of the
reference's JS pipeline DSL (cmd/transporter/goja_builder.go:31-293):

    t.Source(name, adaptor, ns).Transform(fn, ns).Save(name, adaptor, ns)

becomes

    (Pipeline("p")
        .source("dir", path=sf_dir, namespaces="lineitem|orders")
        .transform("skip", field="l_quantity", operator=">", match=10, ns="lineitem")
        .save("parquet", path="/out/{ns}")
        .save("jsonl", path="/out2/{ns}", ns="lineitem"))
        .run(spark)

Differences from the reference, by design:
- The Node tree + goroutine pipes + channel fan-out
  (pipeline/node.go:56-85, pipe/pipe.go:26-30) collapse into one
  DataFrame plan per (namespace x sink) edge. Like the reference's
  goroutines, the edges run at once: ``run`` loads the namespaces, then
  writes every edge, each phase from a driver thread pool as wide as
  ``defaultParallelism``, so one edge's job dispatch and commit overlap
  another's tasks. Edges that resolve to the same target (one path, one
  memory view, or the console, which all share stdout) run one after
  another in declaration order.
- Namespace regex filtering happens at TWO levels, like the reference:
  table-level pruning before any scan (sources/catalog.py — the
  reference's listing filter, mongodb/reader.go:95-113) and row-level
  ``ns`` filtering per edge (pipeline/node.go:522-531).
- The commitlog/offset/ack machinery is not ported: batch runs are
  idempotent whole-jobs; streaming runs use checkpoints
  (transporter_spark.streaming).
- Per-edge metrics come from Spark's Observation API instead of the
  events channel ticker (events/emitter.go:36-150).
"""

from __future__ import annotations

import json
import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial
from typing import Callable, Dict, List, Optional, Tuple, TypeVar

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from transporter_spark.envelope import from_envelope, to_envelope
from transporter_spark.registry import build_operator
from transporter_spark.sources.catalog import expand_namespaces, list_dir_namespaces
from transporter_spark.sources.files import read_table


@dataclass
class _Edge:
    kind: str
    config: dict
    ns_pattern: Optional[str]
    transforms: List[Tuple[str, Optional[str], dict]]  # (op, ns_pattern, cfg)


T = TypeVar("T")


def _dispatch(
    spark: SparkSession,
    pool: ThreadPoolExecutor,
    lanes: List[List[Tuple[int, Callable[[], T]]]],
) -> List[T]:
    """Run the lanes concurrently on ``pool``, each lane's steps in order.

    Steps are numbered in declaration order, and each lane's numbers
    ascend. Once step k fails, no step numbered above k starts; steps
    below k still run, so the failure raised (the lowest-numbered one)
    is the one a serial loop would have raised. Every thread inherits
    the caller's job group, job tags and local properties. Returns the
    results in step order once every step has succeeded."""
    results: Dict[int, T] = {}
    errors: Dict[int, Exception] = {}
    lock = threading.Lock()

    def run_lane(lane: List[Tuple[int, Callable[[], T]]]) -> None:
        for i, step in lane:
            with lock:
                if errors and i > min(errors):
                    return
            try:
                out = step()
            except Exception as exc:  # raised on the caller thread below
                with lock:
                    errors[i] = exc
                return
            with lock:
                results[i] = out

    target = inheritable_thread_target(spark)(run_lane)
    for fut in [pool.submit(target, lane) for lane in lanes]:
        fut.result()
    if errors:
        raise errors[min(errors)]
    return [results[i] for i in sorted(results)]


def _target(ns: str, edge: _Edge) -> tuple:
    """What an edge writes to: edges with equal targets must not overlap."""
    kind, cfg = edge.kind, edge.config
    if kind in ("parquet", "jsonl"):
        return ("path", cfg["path"].format(ns=ns))
    if kind == "memory":
        return ("view", cfg.get("view", "out_{ns}").format(ns=ns))
    if kind == "jdbc":
        return ("jdbc", cfg["url"], cfg.get("table", ns))
    return (kind,)  # console: every edge shares stdout


@dataclass
class Pipeline:
    name: str = "pipeline"
    _source: Optional[Tuple[str, dict]] = None
    _pending: List[Tuple[str, Optional[str], dict]] = field(default_factory=list)
    _sinks: List[_Edge] = field(default_factory=list)

    # -- builder surface (mirrors Source/Transform/Save) ------------------

    def source(self, kind: str, **config) -> "Pipeline":
        if self._source is not None:
            raise ValueError("pipeline already has a source")
        self._source = (kind, config)
        return self

    def transform(self, op: str, ns: Optional[str] = None, **config) -> "Pipeline":
        """Queue a transform; it applies to every sink added after it
        (the reference accumulates transforms onto the edge the same
        way, goja_builder.go:217-242). `ns` restricts it to matching
        namespaces — non-matching rows pass through untouched
        (pipeline/node.go:599-601)."""
        self._pending.append((op, ns, config))
        return self

    def save(self, kind: str, ns: Optional[str] = None, **config) -> "Pipeline":
        self._sinks.append(
            _Edge(kind=kind, config=config, ns_pattern=ns, transforms=list(self._pending))
        )
        return self

    # -- execution ---------------------------------------------------------

    def _load_source(
        self, spark: SparkSession, pool: ThreadPoolExecutor
    ) -> Dict[str, DataFrame]:
        """Returns {namespace: envelope DataFrame}. A ``dir`` source
        reads its tables concurrently: each read peeks the parquet
        footer and runs a schema-inference job."""
        kind, cfg = self._source
        if kind == "dir":
            base = cfg["path"]
            pattern = cfg.get("namespaces", ".*")
            names = expand_namespaces(list_dir_namespaces(base), pattern)

            def load(ns: str) -> DataFrame:
                return to_envelope(read_table(spark, base, ns), ns=ns)

            frames = _dispatch(
                spark, pool, [[(i, partial(load, ns))] for i, ns in enumerate(names)]
            )
            return dict(zip(names, frames))
        if kind == "parquet":
            ns = cfg.get("ns", cfg["path"])
            return {ns: to_envelope(spark.read.parquet(cfg["path"]), ns=ns)}
        if kind == "jsonl":
            ns = cfg.get("ns", cfg["path"])
            reader = spark.read
            if "schema" in cfg:
                reader = reader.schema(cfg["schema"])
            return {ns: to_envelope(reader.json(cfg["path"]), ns=ns)}
        if kind == "dataframe":  # tests / embedding
            ns = cfg.get("ns", "df")
            return {ns: to_envelope(cfg["df"], ns=ns)}
        if kind == "jdbc":  # gated: needs a driver jar + reachable DB
            from transporter_spark.sources import jdbc as jdbc_mod

            ns = cfg.get("ns", cfg["table"])
            df = jdbc_mod.read_jdbc(
                spark,
                cfg["url"],
                cfg["table"],
                partition_column=cfg.get("partition_column"),
                num_partitions=int(cfg.get("num_partitions", 16)),
                lower_bound=cfg.get("lower_bound"),
                upper_bound=cfg.get("upper_bound"),
                **cfg.get("options", {}),
            )
            return {ns: to_envelope(df, ns=ns)}
        raise ValueError(f"unknown source kind {kind!r}")

    def _apply_edge(self, df: DataFrame, ns: str, edge: _Edge) -> Optional[DataFrame]:
        import re

        if edge.ns_pattern and not re.search(edge.ns_pattern, ns):
            return None  # table-level prune: never even plan this edge
        for op, op_ns, cfg in edge.transforms:
            if op_ns and not re.search(op_ns, ns):
                continue
            df = build_operator(op, **cfg)(df)
        return df

    def _write(
        self, df: DataFrame, ns: str, edge: _Edge, spark: SparkSession
    ) -> int:
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        kind, cfg = edge.kind, edge.config
        unwrap = cfg.get("unwrap", True)
        out = from_envelope(df) if unwrap and "data" in df.columns else df
        mode = cfg.get("mode", "overwrite")
        if kind == "parquet":
            out.write.mode(mode).parquet(cfg["path"].format(ns=ns))
        elif kind == "jsonl":
            out.write.mode(mode).json(cfg["path"].format(ns=ns))
        elif kind == "console":
            out.show(cfg.get("rows", 20), truncate=False)
        elif kind == "memory":
            out.createOrReplaceTempView(cfg.get("view", "out_{ns}").format(ns=ns))
            # temp view is lazy; force for metric parity
            return out.count()
        elif kind == "jdbc":  # gated: append-mode write (CDC upsert via
            # streaming foreachBatch + sources.jdbc.jdbc_cdc_sink)
            out.write.mode(cfg.get("mode", "append")).jdbc(
                cfg["url"], cfg.get("table", ns), properties=cfg.get("properties", {})
            )
        else:
            raise ValueError(f"unknown sink kind {kind!r}")
        return obs.get["rows"] if obs.get else 0

    # -- streaming execution ----------------------------------------------

    def _load_stream_source(self, spark: SparkSession) -> Dict[str, DataFrame]:
        """Streaming twin of _load_source: {namespace: streaming
        envelope}. Schemas come from a batch peek (streams need them
        explicit)."""
        kind, cfg = self._source
        if kind == "jsonl":
            ns = cfg.get("ns", cfg["path"])
            schema = cfg.get("schema") or spark.read.json(cfg["path"]).schema
            return {ns: to_envelope(spark.readStream.schema(schema).json(cfg["path"]), ns=ns)}
        if kind == "dir":
            from transporter_spark.streaming.sources import stream_envelope

            base = cfg["path"]
            pattern = cfg.get("namespaces", ".*")
            names = expand_namespaces(list_dir_namespaces(base), pattern)
            return {ns: stream_envelope(spark, base, ns) for ns in names}
        raise ValueError(f"source kind {kind!r} has no streaming reader")

    def run_stream(
        self,
        spark: SparkSession,
        checkpoint_root: str,
        available_now: bool = True,
    ) -> dict:
        """Streaming execution — the reference's actual operating mode
        (a resumable sync daemon, pipeline/node.go:439-509).

        Every (namespace x sink) edge becomes its own writeStream with
        its own checkpoint directory under ``checkpoint_root`` — the
        exact analog of the reference's PER-SINK consumer offsets
        (offset/logmanager.go:14-131): each sink tracks its own resume
        point, a lagging sink re-reads only its own backlog, and a
        re-run after new source data moves only the delta (proven by
        tests/test_pipeline.py resume test).

        available_now=True = the reference's copy-then-exit mode; False
        leaves continuous micro-batch queries running (sync mode) and
        returns the handles.
        """
        import re as _re

        if self._source is None or not self._sinks:
            raise ValueError("pipeline needs a source and at least one sink")
        frames = self._load_stream_source(spark)
        metrics: Dict[str, int] = {}
        queries = []
        for ns, env in frames.items():
            for i, edge in enumerate(self._sinks):
                routed = self._apply_edge(env, ns, edge)
                if routed is None:
                    continue
                kind, cfg = edge.kind, edge.config
                unwrap = cfg.get("unwrap", True)
                out = from_envelope(routed) if unwrap and "data" in routed.columns else routed
                edge_id = f"{ns}_{kind}_{i}"
                safe = _re.sub(r"[^A-Za-z0-9_]", "_", edge_id)
                writer = out.writeStream.option(
                    "checkpointLocation", f"{checkpoint_root}/{safe}"
                )
                if available_now:
                    writer = writer.trigger(availableNow=True)
                if kind in ("jsonl", "parquet"):
                    fmt = "json" if kind == "jsonl" else "parquet"
                    q_handle = writer.format(fmt).start(cfg["path"].format(ns=ns))
                elif kind == "memory":
                    q_handle = (
                        writer.format("memory")
                        .queryName(cfg.get("view", "out_{ns}").format(ns=ns))
                        .start()
                    )
                elif kind == "console":
                    q_handle = writer.format("console").start()
                else:
                    raise ValueError(f"sink kind {kind!r} has no streaming writer")
                queries.append((f"{ns} -> {kind}[{i}]", q_handle))
        if not available_now:
            return {"event": "boot", "queries": dict(queries)}
        for name, q_handle in queries:
            q_handle.awaitTermination()
            metrics[name] = sum(
                int(p["numInputRows"]) for p in q_handle.recentProgress
            )
        event = {"event": "exit", "pipeline": self.name, "rows": metrics}
        print(json.dumps(event))
        return event

    def run(self, spark: SparkSession) -> dict:
        """Execute every (namespace x sink) edge; returns the metrics
        event the reference would emit on its events channel.

        Edges are planned on the calling thread, then written
        concurrently, ``defaultParallelism`` at a time; edges with one
        target are written in declaration order. If an edge fails, no
        later-declared edge starts, the first failure in declaration
        order is raised once the running edges finish, and no event is
        printed."""
        if self._source is None or not self._sinks:
            raise ValueError("pipeline needs a source and at least one sink")
        pool = ThreadPoolExecutor(spark.sparkContext.defaultParallelism)
        try:
            frames = self._load_source(spark, pool)
            names: List[str] = []
            lanes: Dict[tuple, list] = {}
            for ns, env in frames.items():
                for i, edge in enumerate(self._sinks):
                    routed = self._apply_edge(env, ns, edge)
                    if routed is None:
                        continue
                    write = partial(self._write, routed, ns, edge, spark)
                    lanes.setdefault(_target(ns, edge), []).append((len(names), write))
                    names.append(f"{ns} -> {edge.kind}[{i}]")
            rows = _dispatch(spark, pool, list(lanes.values()))
        finally:
            # on an interrupt, lanes still queued never start
            pool.shutdown(cancel_futures=True)
        event = {"event": "exit", "pipeline": self.name, "rows": dict(zip(names, rows))}
        print(json.dumps(event))
        return event
