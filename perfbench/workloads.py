"""The workloads.  Each one builds its inputs from the seed, warms up (part
of set-up), runs measured passes of ops, checks its outputs, and in a
traced run reports per-layer numbers.

An op is one headline query, one LSH micro-batch, or one medallion date
(medallion runs only inside traced headline runs, see :class:`Medallion`).
Every call into the engine goes through a public function.
"""

from __future__ import annotations

import os
import random
import threading
import time
from dataclasses import dataclass
from datetime import date, datetime, timedelta, timezone

import bronze
import oracles
from measure import median, tree_cpu_s

from end_to_end_datapipeline_project_spark.schemas import TESTDATA_TABLES

#: headline queries a run times: one per module that owns headline
#: queries, mostly the module's cheapest, plus q_pagerank, whose
#: construction launches the most eager jobs.  The full 49-query pass does
#: not fit one run's time budget; q_minhash_lsh's path is timed per
#: micro-batch by lsh_incremental instead.  How far the pick keeps the
#: 49-query pass's construction share and eager jobs is measured, not
#: assumed: see ``headline.traits`` in predictions.json
HEADLINE_PICK = {
    "pipeline_queries": ["q_daily_report"],
    "relational": ["q_large_orders"],
    "llm_ops.text": ["q_token_count"],
    "llm_ops.dedup": ["q_dedup_exact"],
    "llm_ops.similarity": ["q_ann_topk"],
    "llm_ops.multimodal": ["q_multimodal_features"],
    "timeseries": ["q_asof_join"],
    "stats": ["q_correlation_matrix"],
    "spatial": ["q_radius_join"],
    "llm_ops.clean": ["q_pii_scrub"],
    "physical": ["q_bloom_join"],
    "graph": ["q_pagerank"],
}
HEADLINE_MODULES = list(HEADLINE_PICK)

#: medallion corpus (traced headline runs only): one warm-up date, then
#: the measured dates
MEDALLION_DAYS = 3
MEDALLION_SNAPSHOTS = 8
MEDALLION_VEHICLES = 1400
MEDALLION_FIRST_DAY = date(2026, 2, 23)

#: lsh_incremental: the delta (doc_id % 10 = 7) is split into this many
#: files, one micro-batch each
LSH_DELTA_FILES = 2

#: medallion layers, in pipeline order, and their metric-name prefixes
MEDALLION_LAYERS = {
    "sources.read_bronze": "sources.read_bronze_",
    "cleanse": "cleanse.",
    "trajectory": "trajectory.",
    "reports": "reports.",
    "etl.write": "etl.write_",
}

#: per-layer metrics each workload reports; layers a workload does not
#: exercise report 0
LAYER_KEYS = (
    [f"{m}.{k}" for m in HEADLINE_MODULES for k in ("construct_s", "action_s", "jobs", "shuffle_mb")]
    + ["sources.read_parquet_s", "sources.read_parquet_jobs"]
    + [f"{layer}{suffix}" for layer in MEDALLION_LAYERS.values() for suffix in ("s", "jobs")]
    + ["etl.write_amp"]
    + [
        "llm_ops.dedup.seed_s",
        "streaming.add_batch_s",
        "streaming.trigger_overhead_s",
        "lsh.batch_jobs",
        "lsh.batch_shuffle_mb",
    ]
    + ["jvm.gc_s", "jvm.jit_cpu_s", "spark.task_cpu_s", "spark.jobs", "trace.overhead_s"]
    + [
        f"client.{k}"
        for k in ("wall_s", "op_p50_s", "op_tail_s", "op_cpu_p50_s", "op_cpu_tail_s", "rows_per_s")
    ]
)


def _module_of(fn) -> str:
    return fn.__module__.replace("end_to_end_datapipeline_project_spark.", "")


def _materialize(df) -> None:
    from bench import materialize

    materialize(df)


@dataclass
class Op:
    """One op's wall and CPU seconds, or the error that failed it."""

    name: str
    seconds: float = 0.0
    cpu_s: float = 0.0
    ok: bool = True
    error: str | None = None


def failed(name: str, ex: BaseException | str) -> Op:
    return Op(name, ok=False, error=ex if isinstance(ex, str) else repr(ex)[:300])


def cpu_now() -> float:
    """CPU seconds used so far by this process, the driver JVM and its
    Python workers."""
    return tree_cpu_s(os.getpid())


class Workload:
    name = ""

    def __init__(self, root: str, work: str, seed: int):
        self.root, self.work, self.seed = root, work, seed
        self.rng = random.Random(seed)
        self.corpus = os.path.join(root, "perfbench", "corpus")
        self.input_rows = 0
        self.info: dict = {}

    def bind(self, spark, probe, tracer) -> None:
        self.spark, self.probe, self.tracer = spark, probe, tracer

    # subclasses: make_inputs (before the session), warm, run_pass,
    # check, layers


# --- headline -------------------------------------------------------------------


class Headline(Workload):
    name = "headline"

    def make_inputs(self) -> None:
        import pyarrow.parquet as pq
        from bench import HEADLINE

        picked = [q for qs in HEADLINE_PICK.values() for q in qs]
        missing = [q for q in picked if q not in HEADLINE]
        if missing:
            raise SystemExit(f"not in bench.HEADLINE: {missing}")
        self.order = sorted(picked, key=HEADLINE.index)
        self.rng.shuffle(self.order)
        self.input_rows = sum(
            pq.ParquetFile(f"{self.corpus}/{t}.parquet").metadata.num_rows for t in TESTDATA_TABLES
        )
        self.results: dict[str, tuple] = {}

    def warm(self) -> None:
        """bench.py's pandas warm-up: it forks the Python worker pool.  The
        JVM's other cold-start costs, JIT compilation of each query's code
        paths first of all, fall in the measured pass (a second, untimed
        pass does not fit the run's budget); the record's ``jit_share``
        says how much of ``cpu_s`` they are.  ``cpu_s`` sums the pass, so
        it does not depend on the seeded order."""
        from end_to_end_datapipeline_project_spark.registry import all_queries

        self.queries = all_queries()
        _materialize(self.spark.range(8).repartition(8).mapInPandas(lambda it: it, "id long"))

    def run_pass(self, pass_no: int) -> tuple[list[Op], float]:
        """An op is the query call plus ``collect()``.  Collecting, not a
        noop write, materialises the result because the oracle check needs
        the rows and a second execution does not fit the run's budget; the
        results are at most a few thousand rows.  Between ops a timed
        ``System.gc()`` releases the checkpoint and broadcast blocks the
        previous query pinned (bench.py does the same), and counts in the
        pass wall."""
        ops, wall = [], 0.0
        for q in self.order:
            fn = self.queries[q]
            op_id = f"{pass_no}:{q}"
            try:
                with self.tracer.span(_module_of(fn), op=op_id):
                    c0, t0 = cpu_now(), time.perf_counter()
                    with self.tracer.span("construct", op=op_id, spark_group=True):
                        df = fn(self.spark, self.corpus)
                    with self.tracer.span("action", op=op_id, spark_group=True):
                        rows = df.collect()
                    dt, dc = time.perf_counter() - t0, cpu_now() - c0
            except Exception as ex:  # an op that raises counts as failed
                ops.append(failed(q, ex))
                continue
            ops.append(Op(q, dt, dc))
            self.results[q] = (df.columns, [tuple(r) for r in rows])
            del df, rows
            wall += dt + self.probe.full_gc()
        return ops, wall

    def check(self) -> dict[str, list[str]]:
        from end_to_end_datapipeline_project_spark.registry import all_oracles

        sql = all_oracles()
        con = oracles.corpus_connection(self.corpus)
        out = {}
        for q in self.order:
            if q not in self.results:
                continue
            cols, rows = self.results[q]
            out[q] = oracles.check_query(con, sql[q], cols, rows)
        return out

    def layers(self) -> dict[str, float]:
        vals: dict[str, float] = {}
        for s in self.tracer.spans:
            if s["parent"] is not None or s["name"] not in HEADLINE_PICK:
                continue
            mod = s["name"]
            for kid in self.tracer.spans:
                if kid["parent"] != s["id"]:
                    continue
                k = f"{mod}.{kid['name']}_s"
                vals[k] = vals.get(k, 0.0) + kid["end"] - kid["start"]
                vals[f"{mod}.jobs"] = vals.get(f"{mod}.jobs", 0) + kid["jobs"]
                vals[f"{mod}.shuffle_mb"] = (
                    vals.get(f"{mod}.shuffle_mb", 0.0) + kid["shuffle_bytes"] / 2**20
                )
        from end_to_end_datapipeline_project_spark.sources import read_parquet_table

        secs = jobs = 0.0
        for t in TESTDATA_TABLES:
            with self.tracer.span("sources.read_parquet_table", op=f"layer:{t}", spark_group=True) as sp:
                read_parquet_table(self.spark, self.corpus, t)
            secs += sp["end"] - sp["start"]
            jobs += sp["jobs"]
        vals["sources.read_parquet_s"] = secs
        vals["sources.read_parquet_jobs"] = jobs
        return vals


# --- medallion ------------------------------------------------------------------


class Medallion(Workload):
    """The reference pipeline, Bronze JSON to committed Gold, one op per
    date.  Not a workload of its own: a run of it does not fit beside the
    other two in the benchmark's time budget, so traced headline runs
    measure its layers and check its outputs (see ``run.py``)."""

    name = "medallion"

    def make_inputs(self) -> None:
        self.bronze = os.path.join(self.work, "bronze")
        self.silver = os.path.join(self.work, "silver")
        self.gold = os.path.join(self.work, "gold")
        days = [MEDALLION_FIRST_DAY + timedelta(days=i) for i in range(MEDALLION_DAYS + 1)]
        self.warm_day, self.days = days[0], days[1:]
        self.day_counts = {}
        for d in days:  # one generator call per date: per-date counts
            self.day_counts[d] = bronze.generate(
                self.bronze, self.seed * 1000 + d.toordinal() % 1000, [d],
                MEDALLION_SNAPSHOTS, MEDALLION_VEHICLES,
            )
        self.input_rows = sum(self.day_counts[d]["records"] for d in self.days)
        self.info["bronze"] = {
            "dates": len(self.days),
            "snapshots_per_date": MEDALLION_SNAPSHOTS,
            "vehicles": MEDALLION_VEHICLES,
            "records": self.input_rows,
            "bytes": sum(self.day_counts[d]["bytes"] for d in self.days),
        }

    def _run_day(self, d: date):
        from end_to_end_datapipeline_project_spark.etl import run_batch

        return run_batch(
            self.spark, self.bronze, self.silver, self.gold, d.isoformat(), d.year, d.month, d.day
        )

    def warm(self) -> None:
        self._run_day(self.warm_day)

    def run_pass(self, pass_no: int) -> tuple[list[Op], float]:
        ops = []
        t_pass = time.perf_counter()
        for d in self.days:
            op_id = f"{pass_no}:{d}"
            try:
                with self.tracer.span("etl.run_batch", op=op_id, spark_group=True):
                    c0, t0 = cpu_now(), time.perf_counter()
                    self._run_day(d)
                    dt, dc = time.perf_counter() - t0, cpu_now() - c0
                ops.append(Op(d.isoformat(), dt, dc))
            except Exception as ex:
                ops.append(failed(d.isoformat(), ex))
            self.probe.full_gc()  # as between headline ops; inside the pass wall
        return ops, time.perf_counter() - t_pass

    def check(self) -> dict[str, list[str]]:
        import duckdb

        con = duckdb.connect()
        return {
            d.isoformat(): oracles.check_medallion_day(
                con, self.bronze, self.silver, self.gold, d.isoformat()
            )
            for d in self.days
        }

    def layers(self) -> dict[str, float]:
        """Prefix differencing: noop-materialise each layer's output and
        subtract the time of the layer before it."""
        from end_to_end_datapipeline_project_spark.cleanse import bronze_to_silver
        from end_to_end_datapipeline_project_spark.reports import daily_report
        from end_to_end_datapipeline_project_spark.sources import read_bronze
        from end_to_end_datapipeline_project_spark.trajectory import TrajectoryConfig, enrich

        run_spans = {
            s["op"].split(":", 1)[1]: s for s in self.tracer.spans if s["name"] == "etl.run_batch"
        }
        names = list(MEDALLION_LAYERS)[:-1]  # etl.write: run_batch minus the chain
        secs = dict.fromkeys(names + ["etl.write"], 0.0)
        jobs = dict.fromkeys(names + ["etl.write"], 0.0)
        written = 0
        for d in self.days:
            ds = d.isoformat()
            b = read_bronze(self.spark, self.bronze, year=d.year, month=d.month, day=d.day)
            s = bronze_to_silver(b, ds)
            e = enrich(s, TrajectoryConfig())
            r = daily_report(e)
            prev_s = prev_j = 0.0
            for name, df in zip(names, (b, s, e, r)):
                with self.tracer.span(name, op=f"layer:{ds}", spark_group=True) as sp:
                    _materialize(df)
                t, j = sp["end"] - sp["start"], sp["jobs"]
                secs[name] += t - prev_s
                jobs[name] += j - prev_j
                prev_s, prev_j = t, j
            full = run_spans[ds]
            secs["etl.write"] += (full["end"] - full["start"]) - prev_s
            jobs["etl.write"] += full["jobs"] - prev_j
            for tier in (self.silver, self.gold):
                for dirpath, _, files in os.walk(f"{tier}/date={ds}"):
                    written += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        vals = {}
        for n, prefix in MEDALLION_LAYERS.items():
            vals[f"{prefix}s"], vals[f"{prefix}jobs"] = secs[n], jobs[n]
        vals["etl.write_amp"] = written / self.info["bronze"]["bytes"]
        return vals


# --- lsh_incremental -------------------------------------------------------------


class _Progress:
    """Collects streaming progress events from a StreamingQueryListener."""

    def __init__(self):
        self.started: dict[str, tuple[float, float]] = {}  # run id -> (time, cpu)
        self.events: list[dict] = []
        self.cv = threading.Condition()


def _listener(progress: _Progress):
    from pyspark.sql.streaming import StreamingQueryListener

    def ts(s: str) -> float:
        return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()

    class L(StreamingQueryListener):
        def onQueryStarted(self, event):
            cpu = cpu_now()
            with progress.cv:
                progress.started[str(event.runId)] = (ts(event.timestamp), cpu)
                progress.cv.notify_all()

        def onQueryProgress(self, event):
            cpu = cpu_now()  # ends this batch's CPU and starts the next one's
            p = event.progress
            with progress.cv:
                progress.events.append(
                    {
                        "cpu": cpu,
                        "run_id": str(p.runId),
                        "batch": p.batchId,
                        "rows": p.numInputRows,
                        "start": ts(p.timestamp),
                        "duration_ms": dict(p.durationMs),
                    }
                )
                progress.cv.notify_all()

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return L()


class LshIncremental(Workload):
    name = "lsh_incremental"

    def make_inputs(self) -> None:
        import pyarrow.parquet as pq

        docs = pq.read_table(f"{self.corpus}/documents.parquet", columns=["doc_id", "text"])
        ids = docs.column("doc_id").to_pylist()
        delta_rows = [i for i, d in enumerate(ids) if d % 10 == 7]
        self.rng.shuffle(delta_rows)
        self.delta_dir = os.path.join(self.work, "lsh_delta")
        os.makedirs(self.delta_dir)
        for k in range(LSH_DELTA_FILES):
            part = sorted(delta_rows[k::LSH_DELTA_FILES])
            pq.write_table(docs.take(part), f"{self.delta_dir}/part-{k:03d}.parquet")
        self.input_rows = len(ids)
        self.info["lsh"] = {"docs": len(ids), "delta_docs": len(delta_rows), "files": LSH_DELTA_FILES}

    def _base(self):
        from pyspark.sql import functions as F

        from end_to_end_datapipeline_project_spark.sources import read_parquet_table

        docs = read_parquet_table(self.spark, self.corpus, "documents")
        return docs.filter(~(F.col("doc_id") % 10 == 7)).select("doc_id", "text")

    def warm(self) -> None:
        """Only the listener and one scan.  Seeding inside the stream call
        is the first run of the LSH kernels, so their JIT compilation falls
        in the pass's ``cpu_s`` (the record's ``jit_share``); seeding is
        timed apart from the batches, which are the ops."""
        self.progress = _Progress()
        self.listener = _listener(self.progress)
        self.spark.streams.addListener(self.listener)
        self._base().count()
        self.result = None
        self.stream_stats: list[dict] = []

    def run_pass(self, pass_no: int) -> tuple[list[Op], float]:
        """Ops are the micro-batches; the pass wall is the whole stream
        call, base-state seeding and the final cluster read included."""
        from end_to_end_datapipeline_project_spark.streaming_queries import (
            incremental_minhash_clusters_stream,
        )

        n_before = len(self.progress.events)
        stream = (
            self.spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.delta_dir)
        )
        t_call, c_call = time.time(), cpu_now()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("streaming_queries.incremental_minhash_clusters_stream",
                                  op=f"{pass_no}:stream", spark_group=True):
                out = incremental_minhash_clusters_stream(self.spark, stream, self._base())
        except Exception as ex:
            return [failed(f"batch{k}", ex) for k in range(LSH_DELTA_FILES)], 0.0
        wall = time.perf_counter() - t0
        with self.progress.cv:  # listener events arrive asynchronously
            self.progress.cv.wait_for(
                lambda: len(self.progress.events) - n_before >= LSH_DELTA_FILES, timeout=30
            )
            events = [e for e in self.progress.events[n_before:] if e["rows"] > 0]
        run_id = events[0]["run_id"] if events else None
        t_start, cpu = self.progress.started.get(run_id, (t_call, c_call))
        self.stream_stats.append({"run_id": run_id, "seed_s": t_start - t_call, "events": events})
        self.result = (out.columns, [tuple(r) for r in out.collect()])  # untimed
        ops = []
        for e in events:
            ops.append(Op(f"batch{e['batch']}", e["duration_ms"]["triggerExecution"] / 1000.0,
                          e["cpu"] - cpu))
            cpu = e["cpu"]
        ops += [failed("missing-batch", "batch not reported")] * (LSH_DELTA_FILES - len(ops))
        return ops, wall

    def check(self) -> dict[str, list[str]]:
        if self.result is None:
            return {"clusters": ["no result"]}
        con = oracles.corpus_connection(self.corpus)
        return {"clusters": oracles.check_clusters(con, *self.result)}

    def layers(self) -> dict[str, float]:
        last = self.stream_stats[-1]
        evs = last["events"]
        add = [e["duration_ms"].get("addBatch", 0) / 1000.0 for e in evs]
        trig = [e["duration_ms"]["triggerExecution"] / 1000.0 for e in evs]
        group = self.probe.group_stats(last["run_id"]) if last["run_id"] else {}
        n = max(1, len(evs))
        for e in evs:  # batch spans from the listener's clock
            t0 = e["start"] - self.tracer.epoch
            self.tracer.add_span("streaming.batch", t0, t0 + e["duration_ms"]["triggerExecution"] / 1000.0,
                                 op=f"batch{e['batch']}")
        return {
            "llm_ops.dedup.seed_s": last["seed_s"],
            "streaming.add_batch_s": median(add) if add else 0.0,
            "streaming.trigger_overhead_s": median([t - a for t, a in zip(trig, add)]) if add else 0.0,
            "lsh.batch_jobs": group.get("jobs", 0) / n,
            "lsh.batch_shuffle_mb": group.get("shuffle_bytes", 0) / 2**20 / n,
            "_stream_jobs": group.get("jobs", 0),
        }

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)


WORKLOADS = {w.name: w for w in (Headline, LshIncremental)}

