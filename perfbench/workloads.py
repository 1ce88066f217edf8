"""The benchmark workloads.

Every load is closed loop from one client thread: one query call, or one
micro-batch, at a time. The package is driven only through its public
entry points (``queries.merged()``, ``streaming.source.chunked_replay``,
``streaming.reshape``) and sees only the inputs the harness generated.

- ``batch_sql`` calls query functions, one or two per query family. One
  operation is ``QUERIES[name](spark, data_dir)`` followed by
  ``toPandas()``, the way a user reads a result; a pass runs every query
  once, in an order the seed picks. The last pass's results are checked
  against the DuckDB oracles with ``tools/oracle_check.canonical_hash``.
- ``skew_stream`` replays a hot-key table through
  ``ReshapeStreamingAgg(engine="process")`` into a ``PartialUpsertSink``.
  One operation is one micro-batch; a pass is one full replay followed by
  reading ``sink.result_df()``, which is checked exactly against a plain
  ``groupBy(user_id)`` count and sum of the input.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

import duckdb
from oracle_check import canonical_hash

from datagen import TABLES, skew_table, write_star_schema
from probes import JvmStatus, Tracer

#: batch_sql's queries by family: one or two per family, as many as a run's
#: time allows (see CHANGES.md for the ones left out)
FAMILIES = {
    "relational": ["q1_pricing_summary", "q5_local_supplier_volume"],
    "llm": ["q_text_quality"],
    "iterative": ["q_graph_coreness"],
    "cep": ["q_cep_timeout"],
    "changelog": ["q_changelog_join_transitions"],
}
QUERIES = [q for qs in FAMILIES.values() for q in qs]

#: star-schema scale factor (0.01: 60,000 lineitem rows, 10,000 events)
SCALE = 0.01
#: the star schema stands in for the read-only test fixtures, so like them
#: it is one fixed table set (their seed, 42); the run seed picks the query
#: order, and the hot keys and drift point of the skew stream
STAR_SEED = 42
#: hot-key stream: rows, distinct keys and micro-batches per replay
SKEW_ROWS = 120_000
SKEW_KEYS = 100
SKEW_BATCHES = 6
#: controller iterations at the fixed 90% reroute before the adaptive
#: phase (the reference's firstPhaseNum, default 6): 1 fits detection, both
#: phases, cancellation and re-detection into 6 micro-batches
FIRST_PHASE_NUM = 1
#: sink compaction period in epochs: 4 compacts once inside each replay
COMPACT_EVERY = 4
#: staging repeats; setup reports the median
STAGE_REPEATS = 3


def _span(tracer: Tracer | None, name: str, kind: str):
    return tracer.span(name, kind) if tracer else nullcontext({})


class Workload:
    """Shared run state: the session, a scratch directory and the seed."""

    def __init__(self, spark, work: str, seed: int, cores: int, restart):
        self.spark = spark
        self.restart = restart  # cores -> a new session in the same JVM
        self.work = work
        self.seed = seed
        self.cores = cores
        self.status = JvmStatus(spark)
        self.input_rows = 0
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"FAIL {what}", file=sys.stderr, flush=True)

    def stage(self) -> float:
        """Write the inputs once; returns seconds taken."""
        raise NotImplementedError

    def run_pass(self, tracer: Tracer | None = None) -> dict:
        """One closed-loop pass: ``{"wall_s", "ops_s", ...}``, the pass
        wall and each operation's latency."""
        raise NotImplementedError

    def warm_up(self) -> None:
        """Untimed work that fills the JIT, codegen and worker caches."""
        self.run_pass()

    def check_last(self) -> None:
        """Compare the last pass's outputs against the reference."""
        raise NotImplementedError

    def trace_extra(self, untraced: dict, tracer: Tracer) -> None:
        """Workload-specific traced measurements (into ``self.layer``);
        ``untraced`` is the last untraced pass."""


class QueryWorkload(Workload):
    """``batch_sql``: query functions over the generated star schema,
    checked against the DuckDB oracles."""

    def __init__(self, *args):
        super().__init__(*args)
        from reshape_on_flink_spark.queries import merged

        self.queries, oracles = merged()
        self.oracles = {q: oracles[q] for q in QUERIES}
        self.data = os.path.join(self.work, "tables")
        self.results: dict = {}
        self.passes = 0

    def stage(self) -> float:
        t0 = time.perf_counter()
        rows = write_star_schema(self.data, STAR_SEED, SCALE)
        self.input_rows = sum(rows.values())
        return time.perf_counter() - t0

    def order(self) -> list[str]:
        names = list(QUERIES)
        random.Random(f"{self.seed}:{self.passes}").shuffle(names)
        return names

    def run_pass(self, tracer: Tracer | None = None) -> dict:
        ops, per_query = [], {}
        self.results = {}
        t_pass = time.perf_counter()
        for q in self.order():
            self.attempted += 1
            try:
                with _span(tracer, q, "query") as sq:
                    t0 = time.perf_counter()
                    with _span(tracer, f"{q}.build", "build"):
                        df = self.queries[q](self.spark, self.data)
                    t1 = time.perf_counter()
                    with _span(tracer, f"{q}.exec", "exec"):
                        self.results[q] = df.toPandas()
                    t2 = time.perf_counter()
            except Exception as ex:  # noqa: BLE001 - a failed query is counted, the pass goes on
                traceback.print_exc()
                self.fail(f"{q}: {type(ex).__name__}: {ex}")
                continue
            ops.append(t2 - t0)
            print(f"# pass {self.passes} {q}: build {t1 - t0:.3f} s, collect {t2 - t1:.3f} s", flush=True)
            per_query[q] = (t1 - t0, t2 - t1, sq)
        wall = time.perf_counter() - t_pass
        self.passes += 1
        return {"wall_s": wall, "ops_s": ops, "per_query": per_query}

    def check_last(self) -> None:
        """Hash-compare each result with its oracle, run by DuckDB on the
        same parquet files."""
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{os.path.join(self.data, t + '.parquet')}')"
                )
            for q, sql in self.oracles.items():
                if q not in self.results:
                    continue  # already counted as failed when it raised
                want = canonical_hash(con.execute(sql).fetchdf())
                got = canonical_hash(self.results[q])
                if got != want:
                    self.fail(f"{q}: rows {got[0]}/{want[0]} hash {got[2][:10]}/{want[2][:10]}")
        finally:
            con.close()

    def layer_from_trace(self, traced: dict) -> None:
        per_query = traced["per_query"]
        for q, (build, exec_, span) in per_query.items():
            self.layer[f"q.{q}.build_s"] = build
            self.layer[f"q.{q}.exec_s"] = exec_
            self.layer[f"q.{q}.jobs"] = span["job_hi"] - span["job_lo"]
        for fam, qs in FAMILIES.items():
            self.layer[f"fam.{fam}.wall_s"] = sum(sum(per_query[q][:2]) for q in qs if q in per_query)


class SkewWorkload(Workload):
    """``skew_stream``: the Reshape controller on a drifting hot key."""

    def __init__(self, *args):
        super().__init__(*args)
        self.table, self.spec = skew_table(self.seed, SKEW_ROWS, SKEW_BATCHES, SKEW_KEYS)
        self.input_rows = self.spec.rows
        a, b = self.spec.hot_keys
        print(
            f"# skew_stream: {self.spec.rows} rows in {SKEW_BATCHES} micro-batches; hot key "
            f"{a}, then {b} from micro-batch {self.spec.drift_batch}", flush=True,
        )
        self.stream = None
        self.expected: dict | None = None
        self.last_rows: list | None = None
        self.replay_stage_s: list[float] = []
        self._n = 0

    def stage(self) -> float:
        import pyarrow.parquet as pq

        from reshape_on_flink_spark.streaming.source import chunked_replay

        t0 = time.perf_counter()
        path = os.path.join(self.work, "skew.parquet")
        pq.write_table(self.table, path)
        src = self.spark.read.parquet(path)
        t1 = time.perf_counter()
        self.stream = chunked_replay(
            self.spark, src, os.path.join(self.work, "replay"), n_chunks=SKEW_BATCHES
        )
        t2 = time.perf_counter()
        self.replay_stage_s.append(t2 - t1)
        if self.expected is None:
            from pyspark.sql import functions as F

            rows = src.groupBy("user_id").agg(
                F.count("*").alias("cnt"), F.sum("value").alias("sum_value")
            ).collect()
            self.expected = {r["user_id"]: (r["cnt"], r["sum_value"]) for r in rows}
        return t2 - t0

    def warm_up(self) -> None:
        """Replay the first two micro-batches' rows as a two-batch stream:
        every stage of the path (keyed stage, routing, sink, controller)
        runs once before timing, at a third of a full pass."""
        from pyspark.sql import functions as F

        from reshape_on_flink_spark.streaming.source import chunked_replay

        head = self.spark.read.parquet(os.path.join(self.work, "skew.parquet")).filter(
            F.col("event_id") < 2 * (self.spec.rows // SKEW_BATCHES)
        )
        stream = chunked_replay(self.spark, head, os.path.join(self.work, "warm"), n_chunks=2)
        self._replay(True, None, stream)

    def _replay(self, enabled: bool, tracer: Tracer | None, stream=None) -> dict:
        from reshape_on_flink_spark.streaming.reshape import (
            PartialUpsertSink,
            ReshapeConf,
            ReshapeStreamingAgg,
        )

        self._n += 1
        base = os.path.join(self.work, f"pass{self._n}")
        sink = PartialUpsertSink(
            self.spark, os.path.join(base, "sink"), key_col="user_id",
            compact_every=COMPACT_EVERY,
        )
        agg = ReshapeStreamingAgg(
            "user_id", "value", "event_id",
            ReshapeConf(
                enabled=enabled, freq_ms=0, first_phase_num=FIRST_PHASE_NUM,
                parallelism=self.cores,
            ),
            sink=sink, engine="process",
        )
        spans = _wrap_reshape(agg, sink, tracer) if tracer else None
        t0 = time.perf_counter()
        q = agg.attach(stream or self.stream, os.path.join(base, "ckpt"))
        q.awaitTermination()
        wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        batch_ms = [p.durationMs["triggerExecution"] for p in q.recentProgress]
        t1 = time.perf_counter()
        self.last_rows = sink.result_df().collect()
        read = time.perf_counter() - t1
        self.attempted += len(batch_ms)
        shutil.rmtree(base, ignore_errors=True)
        return {
            "wall_s": wall, "ops_s": [ms / 1e3 for ms in batch_ms], "read_s": read,
            "history": agg.routing_history, "spans": spans,
            "first_phase_salts": max(2, round(1.0 / (1.0 - agg.conf.first_phase_ratio))),
        }

    def run_pass(self, tracer: Tracer | None = None) -> dict:
        return self._replay(True, tracer)

    def check_last(self) -> None:
        got = {r["user_id"]: (r["cnt"], r["sum_value"]) for r in self.last_rows}
        if got != self.expected:
            diff = sorted(set(got.items()) ^ set(self.expected.items()))[:3]
            self.fail(f"skew_stream result != groupBy(user_id) of the input: {diff}")

    def trace_extra(self, untraced: dict, tracer: Tracer) -> None:
        # controller off, same table: the paper's baseline
        with tracer.span("replay_controller_off", "pass"):
            off = self._replay(False, tracer)
        self.check_last()
        self.layer["reshape.keyed_task_skew_off"] = self._skew(off["spans"])
        self.layer["reshape.batch_p50_off_s"] = statistics.median(off["ops_s"])
        # single-slot baseline: the same replay, same controller parallelism,
        # on a local[1] session in this JVM; the median micro-batch leaves out
        # the new session's first, cold batch
        self.spark.stop()
        self.spark = self.restart(1)
        self.status = tracer.status = JvmStatus(self.spark)
        self.stage()
        with tracer.span("replay_local1", "pass"):
            single = self._replay(True, None)
        self.check_last()
        self.layer["parallel_speedup"] = (
            statistics.median(single["ops_s"]) / statistics.median(untraced["ops_s"])
        )

    def _skew(self, spans: dict) -> float:
        per_batch = [
            self.status.keyed_stage_skew(s["job_lo"], s["job_hi"]) for s in spans["process_batch"]
        ]
        per_batch = [s for s in per_batch if s > 0]
        return statistics.median(per_batch) if per_batch else 0.0

    def layer_from_trace(self, traced: dict) -> None:
        spans = traced["spans"]
        n = max(1, len(spans["process_batch"]))
        total = lambda key: sum(s["dur_s"] for s in spans[key])  # noqa: E731
        self.layer.update({
            "reshape.process_batch_s": total("process_batch") / n,
            "reshape.sink_write_s": total("sink_write") / n,
            "reshape.compact_s": total("compact"),
            "reshape.observe_s": (total("process_batch") - total("sink_write")) / n,
            "reshape.jobs_per_batch": sum(
                s["job_hi"] - s["job_lo"] for s in spans["process_batch"]
            ) / n,
            "reshape.keyed_task_skew": self._skew(spans),
            "sink.result_read_s": traced["read_s"],
            "replay.stage_s": statistics.median(self.replay_stage_s[:STAGE_REPEATS]),
            **decision_counts(traced["history"], traced["first_phase_salts"]),
        })


def decision_counts(history: list[dict], first_phase_salts: int) -> dict[str, int]:
    """Controller decisions, from the routing table each batch ran under."""
    routed = [i for i, r in enumerate(history) if r]
    return {
        "reshape.detect_batch": routed[0] if routed else -1,
        "reshape.routed_batches": len(routed),
        "reshape.adaptive_batches": sum(
            1 for r in history if any(v != first_phase_salts for v in r.values())
        ),
        "reshape.cancellations": sum(
            len(set(prev) - set(cur)) for prev, cur in zip(history, history[1:])
        ),
        "reshape.hot_keys": len({k for r in history for k in r}),
        "reshape.max_salts": max((v for r in history for v in r.values()), default=0),
    }


def _wrap_reshape(agg, sink, tracer: Tracer) -> dict[str, list[dict]]:
    """Time the instances the harness built, from outside: each call of
    ``process_batch``, ``sink.write`` (which includes compaction) and
    ``sink.compact`` becomes a span with its job-id range."""
    spans: dict[str, list[dict]] = {"process_batch": [], "sink_write": [], "compact": []}

    def wrap(obj, attr, key, kind):
        inner = getattr(obj, attr)

        def timed(*a, **kw):
            with tracer.span(key, kind) as rec:
                out = inner(*a, **kw)
            spans[key].append(rec)
            return out

        setattr(obj, attr, timed)

    wrap(agg, "process_batch", "process_batch", "micro-batch")
    wrap(sink, "write", "sink_write", "sink")
    wrap(sink, "compact", "compact", "sink")
    return spans


def make(name: str, *args) -> Workload:
    return {"batch_sql": QueryWorkload, "skew_stream": SkewWorkload}[name](*args)


