"""The three workloads: ``serving``, ``curation`` and ``kappa_ingest``.

Each workload makes its inputs from the seed, registers them with a fresh
session, computes the expected outputs once, then runs *passes*.  A pass is
the unit the run repeats until its measuring time is up:

- ``serving``: every query of ``plans/reference_queries.py`` once, in a
  seeded order, from one client (closed loop);
- ``curation``: a fixed set of ``headline=True`` extension queries once, in
  a seeded order (closed loop);
- ``kappa_ingest``: the whole JSON-lines backlog drained once, one file per
  micro-batch, into fresh checkpoint, bronze and serving directories.

Every pass's outputs are checked as soon as it ends, outside its timing,
and then dropped.
"""

from __future__ import annotations

import glob
import os
import random
import re
import tempfile
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field, replace

from bigdata_20251_steam_spark.schemas import TESTDATA_TABLES

from . import gen, tracing
from .verify import canonical, expected_rows, mismatch

#: headline extension queries the ``curation`` pass runs.  The full set of
#: 27 takes ~25 s per warm pass on 4 cores, beyond one run's time budget;
#: these keep each mechanism the workload exists to exercise: the eager
#: construction job chains (dedup components, which computes the MinHash
#: signatures itself; k-means) and the Arrow/pandas-UDF boundary (BPE piece
#: counts).  ``ivfadc_search`` and ``value_quantile_sketch`` are left out:
#: with them a warm pass took 5-10 s on 4 vCPUs, one or two passes fitted a
#: run, and pass_s spread 0.21 (IQR/median over ten seeds); their oracles
#: and cold pass also cost ~10 s of every run.
CURATION_JOBS = (
    "dedup_components",
    "bpe_token_counts",
    "kmeans_clusters",
)


@dataclass
class OpResult:
    name: str
    seconds: float  # user-visible latency of the operation
    output: object = None  # what the check compares (batch workloads)
    error: str | None = None
    progress: list = field(default_factory=list)  # listener reports (kappa_ingest)


@dataclass
class PassResult:
    seconds: float
    ops: list[OpResult]
    events: int = 0  # ingested events (kappa_ingest)
    extra: dict = field(default_factory=dict)


class _Ops:
    """Operation ids shared by spans and job groups."""

    def __init__(self):
        self.n = 0
        self.current = [None]

    def next(self) -> int:
        self.n += 1
        self.current[0] = self.n
        return self.n


# ---------------------------------------------------------------- batch


class BatchWorkload:
    """A closed loop over registered queries, each checked by its oracle."""

    def __init__(self, name: str, queries, sizes: gen.TableSizes, op_label: str, pass_metric: str):
        self.name = name
        self.queries = list(queries)
        # only the tables the queries' oracles name (outside string
        # literals) get rows
        sqls = [re.sub(r"'[^']*'|\"[^\"]*\"", "", q.oracle) for q in self.queries]
        self.sizes = replace(sizes, read=tuple(
            t for t in TESTDATA_TABLES if any(re.search(rf"\b{t}\b", s) for s in sqls)))
        self.op_label = op_label  # what one operation is called: query, job
        self.pass_metric = pass_metric  # printed name of pass_s, e.g. dashboard_refresh_s
        self.expected: dict[str, tuple] = {}
        self.data_dir = ""
        self.ops = _Ops()
        self.trace_jobs: dict[str, list[int]] = {}

    def make_inputs(self, seed: int, out_dir: str) -> dict:
        return gen.make_tables(seed, out_dir, self.sizes)

    def register(self, spark, data_dir: str) -> None:
        """Open each table the queries use through the library's reader."""
        from bigdata_20251_steam_spark.sources.batch import load_table

        self.data_dir = data_dir
        for t in self.sizes.read:
            load_table(spark, data_dir, t)

    def prepare(self, spark) -> None:
        results = expected_rows([q.oracle for q in self.queries], self.data_dir,
                                tempfile.gettempdir())
        self.expected = dict(zip((q.name for q in self.queries), results))

    def order(self, rng: random.Random) -> list:
        qs = list(self.queries)
        rng.shuffle(qs)
        return qs

    def run_pass(self, spark, rng: random.Random, tracer: tracing.Tracer) -> PassResult:
        sc = spark.sparkContext
        results = []
        t0 = time.perf_counter()
        for q in self.order(rng):
            op = self.ops.next()
            with tracer.span(f"{self.op_label}:{q.name}", "bench", op):
                start = time.perf_counter()
                try:
                    with tracer.span("construct", "plans", op):
                        if tracer.enabled:
                            sc.setJobGroup(f"pb.construct.{op}", q.name)
                        df = q.fn(spark, self.data_dir)
                    with tracer.span("action", "exec", op):
                        if tracer.enabled:
                            sc.setJobGroup(f"pb.exec.{op}", q.name)
                        out = df.toPandas()
                    end = time.perf_counter()
                    results.append(OpResult(q.name, end - start, out))
                except Exception:  # noqa: BLE001 - a failed query is counted, not fatal
                    results.append(OpResult(q.name, time.perf_counter() - start,
                                            error=traceback.format_exc(limit=3)))
        if tracer.enabled:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return PassResult(time.perf_counter() - t0, results)

    def traced(self, tracer, sc):
        return tracing.wrapped_load_table(tracer, sc, self.ops.current)

    def op_seconds(self, passes) -> list[float]:
        return [r.seconds for p in passes for r in p.ops if r.error is None]

    def check(self, spark, p: PassResult) -> list[str]:
        bad = []
        for r in p.ops:
            if r.error is not None:
                bad.append(f"{r.name}: raised {r.error.strip().splitlines()[-1]}")
                continue
            why = mismatch(canonical(r.output), self.expected[r.name])
            if why:
                bad.append(f"{r.name}: {why}")
            r.output = None
        return bad

    def attempted(self, p: PassResult) -> int:
        return len(p.ops)

    def layer_metrics(self, sc, traced, spans, job_windows) -> dict[str, float]:
        """Job-group and span counters of the traced passes, per pass."""
        n = len(traced)
        groups = tracing.jobs_by_group(sc, min(a for a, _ in job_windows))
        self.trace_jobs = groups

        def pick(prefix):
            return [j for g, js in groups.items() if g.startswith(prefix) for j in js]

        def dur(layer):
            return sum(s["end"] - s["start"] for s in spans if s["layer"] == layer)

        load, cons, exe = pick("pb.load."), pick("pb.construct."), pick("pb.exec.")
        c_exec = tracing.job_counters(sc, exe)
        c_all = tracing.job_counters(sc, load + cons + exe)
        total = len(load) + len(cons) + len(exe)
        out = {k: v / n for k, v in c_exec.items() if k.startswith("exec.")}
        out.update({k: v / n for k, v in c_all.items() if k.startswith("pyudf.")})
        out.update({
            "sources.load_table_calls": sum(1 for s in spans if s["layer"] == "sources") / n,
            "sources.load_table_s": dur("sources") / n,
            "sources.schema_jobs": len(load) / n,
            "plans.construct_s": dur("plans") / n,
            "plans.construct_jobs": (len(load) + len(cons)) / n,
            "plans.construct_job_share": (len(load) + len(cons)) / total if total else 0.0,
            "exec.execute_s": dur("exec") / n,
        })
        out.pop("exec.output_bytes", None)
        return out

    def named_metrics(self, passes, ops_s) -> list[tuple[str, float, str]]:
        from .harness import median, tail_percentile

        op = f"{self.name}_{self.op_label}"
        p, tail = tail_percentile(ops_s)
        out = [(self.pass_metric, median([x.seconds for x in passes]), "s"),
               (f"{op}_p50_s", median(ops_s), "s")]
        if p > 50:
            out.append((f"{op}_p{p}_s", tail, "s"))
        return out


def serving() -> BatchWorkload:
    """The 26 reference dashboard queries.  Runnable with ``--workload
    serving`` but not listed in BENCHMARK.json: a third workload's runs do
    not fit the benchmark's total time budget, and the layers it measures
    (sources, plans, exec) are measured on ``curation`` too."""
    from bigdata_20251_steam_spark.plans import QUERIES

    qs = [q for q in QUERIES.values() if q.fn.__module__.endswith(".reference_queries")]
    return BatchWorkload("serving", qs, gen.TableSizes(scale=0.02), "query", "dashboard_refresh_s")


def curation() -> BatchWorkload:
    from bigdata_20251_steam_spark.plans import QUERIES

    # the sf0.01 fixture's shape of the tables the jobs read: 500 documents,
    # 500 embeddings
    return BatchWorkload("curation", [QUERIES[n] for n in CURATION_JOBS],
                         gen.TableSizes(scale=0.01), "job", "curation_pass_s")


# ---------------------------------------------------------------- kappa


def _text_schema():
    from pyspark.sql.types import StringType, StructField, StructType

    return StructType([StructField("value", StringType(), True)])


def _serving_aggs():
    from pyspark.sql import functions as F

    from bigdata_20251_steam_spark.operators.core import explode_counts, sentiment_windows

    return {
        # the paper's hot store: hourly review sentiment, genre counts
        "reviews": lambda bronze: sentiment_windows(
            bronze, ts_col="timestamp", flag_col=F.col("recommended"),
            quality_col="weighted_vote_score", window_duration="1 hour",
        ),
        "charts": lambda bronze: explode_counts(bronze, F.col("genres"), "genre"),
    }


class KappaWorkload:
    """Drain a seeded Kafka-shaped backlog through the streaming layer."""

    name = "kappa_ingest"

    def __init__(self, sizes: gen.BacklogSizes = gen.DEFAULT_BACKLOG):
        self.sizes = sizes
        self.data_dir = ""  # the backlog root
        self.info: dict = {}
        self.expected: dict[str, tuple] = {}
        self.listener: tracing.ProgressCollector | None = None
        self.rounds = 0
        self.work_root = ""
        self.ops = _Ops()
        self.trace_jobs: dict[str, list[int]] = {}

    def make_inputs(self, seed: int, out_dir: str) -> dict:
        self.info = gen.make_backlog(seed, out_dir, self.sizes)
        return self.info

    def register(self, spark, data_dir: str) -> None:
        """Register the progress listener with the session."""
        self.data_dir = data_dir
        self.work_root = os.path.join(os.path.dirname(data_dir), "kappa")
        self.listener = tracing.ProgressCollector()
        spark.streams.addListener(self.listener)

    def _pipelines(self):
        from bigdata_20251_steam_spark.streaming import pipelines

        return {"reviews": pipelines.reviews_pipeline, "charts": pipelines.charts_pipeline,
                "players": pipelines.players_pipeline}

    def prepare(self, spark) -> None:
        """Batch recompute over all generated events: the streaming result
        must equal it."""
        pipes, aggs = self._pipelines(), _serving_aggs()
        for topic in gen.TOPICS:
            raw = spark.read.schema(_text_schema()).text(os.path.join(self.data_dir, topic))
            if topic == "players":
                self.expected["players.activity"] = canonical(
                    pipes[topic](raw)["activity"].toPandas())
                continue
            bronze = pipes[topic](raw)["bronze"]
            self.expected[f"{topic}.bronze"] = canonical(bronze.toPandas())
            self.expected[f"{topic}.serving"] = canonical(aggs[topic](bronze).toPandas())
            n = len(self.expected[f"{topic}.bronze"][1])
            if n != self.info[topic]["events"]:
                raise RuntimeError(f"{topic}: batch parse saw {n} of "
                                   f"{self.info[topic]['events']} generated events")

    def run_pass(self, spark, rng: random.Random, tracer: tracing.Tracer) -> PassResult:
        from bigdata_20251_steam_spark.streaming.engine import (
            DualSinkPaths, dual_sink_writer, file_stream, run_available_now,
        )

        self.rounds += 1
        rdir = os.path.join(self.work_root, f"round-{self.rounds}")
        pipes, aggs = self._pipelines(), _serving_aggs()
        wall_offset = time.time() - time.perf_counter()
        ops, t0 = [], time.perf_counter()
        op = self.ops.next()
        outputs = {"dir": rdir}
        with tracer.span(f"round:{self.rounds}", "bench", op):
            for topic in gen.TOPICS:
                start = time.perf_counter()
                with tracer.span(f"drain:{topic}", "streaming", op) as drain:
                    try:
                        raw = file_stream(spark, os.path.join(self.data_dir, topic),
                                          _text_schema(), fmt="text", max_files_per_trigger=1)
                        if topic == "players":
                            mem = run_available_now(
                                pipes[topic](raw)["activity"], output_mode="complete",
                                checkpoint_dir=os.path.join(rdir, topic, "ckpt"))
                            outputs[topic] = mem
                        else:
                            paths = DualSinkPaths(
                                bronze_dir=os.path.join(rdir, topic, "bronze"),
                                serving_dir=os.path.join(rdir, topic, "serving"),
                                checkpoint_dir=os.path.join(rdir, topic, "ckpt"),
                            )
                            q = dual_sink_writer(pipes[topic](raw)["bronze"], paths, aggs[topic])
                            q.awaitTermination()
                            outputs[topic] = paths
                        err = None
                    except Exception:  # noqa: BLE001 - counted as a failed drain
                        err = traceback.format_exc(limit=3)
                    self.listener.wait_all_terminated()
                    progress = self.listener.take()
                ops.append(OpResult(topic, time.perf_counter() - start, error=err,
                                    progress=progress))
                if tracer.enabled:
                    self._epoch_spans(tracer, topic, progress, drain["id"], op, wall_offset)
        events = sum(self.info[t]["events"] for t in gen.TOPICS)
        return PassResult(time.perf_counter() - t0, ops, events, outputs)

    def _epoch_spans(self, tracer, topic, progress, parent, op, wall_offset) -> None:
        inner = "state" if topic == "players" else "sinks"
        for p in progress:
            d = p["duration_ms"]
            start = p["start_epoch_s"] - wall_offset
            ep = tracer.add(f"epoch:{topic}:{p['batch']}", "streaming", op, start,
                            start + d.get("triggerExecution", 0) / 1e3, parent)
            before = sum(d.get(k, 0) for k in ("latestOffset", "getBatch", "queryPlanning"))
            ab = start + before / 1e3
            tracer.add(f"add_batch:{topic}", inner, op, ab, ab + d.get("addBatch", 0) / 1e3, ep["id"])

    def traced(self, tracer, sc):
        return nullcontext()  # epochs come from the listener, not wrappers

    def op_seconds(self, passes) -> list[float]:
        """Epoch latencies: the listener's ``triggerExecution``."""
        return [pr["duration_ms"].get("triggerExecution", 0) / 1e3
                for p in passes for r in p.ops for pr in r.progress]

    def check(self, spark, p: PassResult) -> list[str]:
        bad = []
        for r in p.ops:
            if r.error is not None:
                bad.append(f"{r.name}: raised {r.error.strip().splitlines()[-1]}")
                continue
            msgs = []
            try:
                out = p.extra[r.name]
                if r.name == "players":
                    got = {"players.activity": canonical(out.toPandas())}
                else:
                    got = {
                        f"{r.name}.bronze": canonical(spark.read.parquet(out.bronze_dir).toPandas()),
                        f"{r.name}.serving": canonical(spark.read.parquet(out.serving_dir).toPandas()),
                    }
                for key, g in got.items():
                    why = mismatch(g, self.expected[key])
                    if why:
                        msgs.append(f"{key}: {why}")
                dropped = sum(s["dropped_by_watermark"] for pr in r.progress for s in pr["state"])
                if dropped:
                    msgs.append(f"{dropped} rows dropped by the watermark")
            except Exception:  # noqa: BLE001 - a failed check is a failed drain
                msgs.append(f"check raised {traceback.format_exc(limit=2).strip().splitlines()[-1]}")
            if msgs:
                bad.append(f"{r.name}: " + "; ".join(msgs))
        self._drop_memory_tables(spark)
        return bad

    @staticmethod
    def _drop_memory_tables(spark) -> None:
        """``run_available_now`` leaves its memory-sink table registered."""
        for t in spark.catalog.listTables():
            if t.isTemporary and t.name.startswith("mem_"):
                spark.catalog.dropTempView(t.name)

    def attempted(self, p: PassResult) -> int:
        return len(p.ops)

    def layer_metrics(self, sc, traced, spans, job_windows) -> dict[str, float]:
        """Listener progress, job counters and sink files of the traced
        rounds, per round.  Micro-batch jobs run on the stream threads, so
        they are attributed by job-id window rather than job group."""
        n = len(traced)
        window = [j for a, b in job_windows for j in range(a + 1, b + 1)]
        self.trace_jobs = {"": window}
        c = tracing.job_counters(sc, window)
        progress = [pr for p in traced for r in p.ops for pr in r.progress]

        def ms(key):
            return sum(pr["duration_ms"].get(key, 0) for pr in progress) / 1e3 / n

        state = [sum(s["rows_total"] for s in pr["state"]) for pr in progress if pr["state"]]
        mem = [sum(s["memory_bytes"] for s in pr["state"]) for pr in progress if pr["state"]]
        bronze_files = sum(
            len(glob.glob(os.path.join(p.extra["dir"], t, "bronze", "**", "*.parquet"), recursive=True))
            for p in traced for t in ("reviews", "charts"))
        json_bytes = sum(self.info[t]["bytes"] for t in ("reviews", "charts"))
        written = c.pop("exec.output_bytes", 0.0) / n
        out = {k: v / n for k, v in c.items()}
        out.update({
            "exec.execute_s": ms("addBatch"),
            "streaming.epochs": len(progress) / n,
            "streaming.input_rows": sum(pr["input_rows"] for pr in progress) / n,
            "streaming.latest_offset_s": ms("latestOffset"),
            "streaming.query_planning_s": ms("queryPlanning"),
            "streaming.add_batch_s": ms("addBatch"),
            "streaming.wal_commit_s": ms("walCommit"),
            "state.rows_total": max(state, default=0),
            "state.memory_bytes": max(mem, default=0),
            "state.rows_dropped_by_watermark": sum(
                s["dropped_by_watermark"] for pr in progress for s in pr["state"]) / n,
            "sinks.bronze_files": bronze_files / n,
            "sinks.bytes_written": written,
            # the serving snapshot is rewritten from all of bronze each
            # epoch, so this grows with the history drained so far
            "sinks.write_amplification": written / json_bytes,
        })
        return out

    def named_metrics(self, passes, ops_s) -> list[tuple[str, float, str]]:
        from .harness import median, tail_percentile

        p, tail = tail_percentile(ops_s)
        rate = sum(x.events for x in passes) / sum(x.seconds for x in passes)
        out = [("ingest_events_per_s", rate, "1/s"), ("epoch_p50_s", median(ops_s), "s")]
        if p > 50:
            out.append((f"epoch_p{p}_s", tail, "s"))
        return out


WORKLOADS = {"serving": serving, "curation": curation, "kappa_ingest": KappaWorkload}
