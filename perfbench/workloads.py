"""The workloads: inputs, warm-up, correctness and the timed ops.

Each workload generates its inputs from the seed (``prepare``), runs one
untimed warm-up whose results the correctness check reuses (``warmup`` /
``check``), and then repeats rounds of ops (``round_keys``, run one at a
time by ``run_op``) until the measuring window is over. Every timed op
goes through :class:`Meter`, which also tags it with a
``JobMetricsTracker`` group (or a trace span) so job and stage counts can
be compared between the untraced and the traced window.
"""

from __future__ import annotations

import contextlib
import gc
import io
import json
import os
import random
import shutil
import time
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from oracle import fingerprint

# ---------------------------------------------------------------- helpers


def isolate(spark) -> None:
    """Between timed ops: fire StageCache finalizers, drop cached frames and
    nudge the JVM's ContextCleaner, so one op's leftovers do not change the
    next op's work."""
    gc.collect()
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring Spark's marker files."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


class Sample:
    """One timed op: its kind, seconds, outcome and per-layer observations."""

    def __init__(self, key: str) -> None:
        self.key = key
        self.s = 0.0
        self.cpu_s = 0.0  # CPU seconds of the whole process tree
        self.failed = False
        self.notes: list[str] = []
        self.extra: dict[str, list] = {}
        self.span = None  # the op's trace span, traced only

    def add(self, key: str, value) -> None:
        self.extra.setdefault(key, []).append(value)

    def fail(self, errs: list[str]) -> None:
        self.notes += errs
        self.failed = self.failed or bool(errs)


class Meter:
    """Times ops.

    Traced, each op runs inside a :class:`tracing.Tracer` span. Untraced
    with ``track_jobs``, inside ``JobMetricsTracker.track`` (one group per
    op); the tracker's fold walks every job Spark retains, so plain runs
    leave it off. ``job_counts()`` returns ``{op_key: [(jobs, stages), ...]}``
    for the repeat check. ``cpu_s`` reads the CPU seconds used so far by
    the engine's processes; it is read just outside each op's timing."""

    def __init__(self, spark, cpu_s, tracer=None, track_jobs: bool = False) -> None:
        from feasibility_etl_spark.observability import JobMetricsTracker

        self.cpu_s = cpu_s
        self.tracer = tracer
        self._jmt = JobMetricsTracker(spark) if track_jobs else None
        self.samples: list[Sample] = []

    @contextmanager
    def op(self, key: str):
        sample = Sample(key)
        if self.tracer is not None:
            ctx = self.tracer.span(key, "bench")
        elif self._jmt is not None:
            ctx = self._jmt.track(key)
        else:
            ctx = contextlib.nullcontext()
        with ctx as sp:
            cpu0 = self.cpu_s()
            t0 = time.perf_counter()
            yield sample
            sample.s = time.perf_counter() - t0
            sample.cpu_s = self.cpu_s() - cpu0
        if self.tracer is not None:
            sample.span = sp
        self.samples.append(sample)

    def span(self, name: str, layer: str):
        return self.tracer.span(name, layer) if self.tracer else contextlib.nullcontext()

    def job_counts(self) -> dict[str, list[tuple[int, int]]]:
        out: dict[str, list] = {}
        if self.tracer is not None:
            for o in self.samples:
                out.setdefault(o.key, []).append(
                    (self.tracer.inclusive(o.span, "jobs"),
                     self.tracer.inclusive(o.span, "stages")))
        elif self._jmt is not None:
            rows = self._jmt.metrics_df().collect()  # one row per op, in order
            for o, r in zip(self.samples, rows):
                out.setdefault(o.key, []).append((r["n_jobs"], r["n_stages"]))
        return out

    def op_counts(self, o: Sample) -> dict:
        """Inclusive tracker counts of one traced op."""
        keys = ("jobs", "stages", "tasks", "input_records", "input_bytes",
                "shuffle_bytes", "executor_ms")
        return {k: self.tracer.inclusive(o.span, k) for k in keys}


WIDE_SCHEMA = ("event_id long, ts timestamp, user_id long, event_type string, "
               "value double, props string")


def wide_frame(ev):
    """The denormalized surface the etl CLI derives from ``events``."""
    from pyspark.sql import functions as F

    return ev.select(
        F.col("event_id").alias("key"),
        F.concat(F.lit("user_"), F.col("user_id") % 500).alias("reviewer_name"),
        F.concat(F.lit("user_"), F.col("user_id") % 499).alias("reporter_name"),
        F.upper("event_type").alias("project_name"),
        "ts",
        "value",
    )


def star_specs():
    from feasibility_etl_spark.writer.denormalized import DimSpec

    return [
        DimSpec(name="jira_user", natural_key="username",
                roles={"reviewer_name": "fk_reviewer", "reporter_name": "fk_reporter"}),
        DimSpec(name="project", natural_key="name", roles={"project_name": "fk_project"}),
    ]


def check_star(spark, root: str, expect: dict) -> list[str]:
    """Loaded star vs ground truth: fact rows = distinct valid keys, each
    key once (redelivered rows loaded exactly once), no null FK, dims hold
    exactly the distinct members."""
    from pyspark.sql import functions as F

    fact = spark.read.parquet(os.path.join(root, "fact"))
    got = fact.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("key").alias("keys"),
        F.sum(F.when(F.col("fk_reviewer").isNull() | F.col("fk_reporter").isNull()
                     | F.col("fk_project").isNull(), 1).otherwise(0)).alias("null_fk"),
    ).first()
    errs = []
    if got["rows"] != expect["fact_rows"] or got["keys"] != expect["fact_rows"]:
        errs.append(f"fact rows {got['rows']} / keys {got['keys']} != {expect['fact_rows']}")
    if got["null_fk"]:
        errs.append(f"{got['null_fk']} fact rows with a null FK")
    for dim, n in expect["dims"].items():
        have = spark.read.parquet(os.path.join(root, dim)).count()
        if have != n:
            errs.append(f"dim {dim} has {have} rows, expected {n}")
    return errs


# ---------------------------------------------------------------- star-load


def _write_stream(src: str, tables: list[pa.Table]) -> list[int]:
    """One parquet file per table, with UTC timestamps (the stream reads
    ``ts`` as a session-zone timestamp). The file source orders files by
    modification time, so the mtimes are spaced one second apart."""
    os.makedirs(src)
    t0 = time.time() - 3600
    sizes = []
    for i, t in enumerate(tables):
        t = t.set_column(1, "ts", t["ts"].cast(pa.timestamp("us", tz="UTC")))
        path = os.path.join(src, f"part-{i:03d}.parquet")
        pq.write_table(t, path)
        os.utime(path, (t0 + i, t0 + i))
        sizes.append(os.path.getsize(path))
    return sizes


class StarLoad:
    """The write path in both of its modes over the same generated batches.

    Batch mode (ops ``batch0``..): the etl CLI, in process — an initial
    batch into an empty output, then incremental batches carrying
    redelivered keys and null required columns (stage-and-swap of whole
    dims, fact append). Streaming mode (op ``replay``): the first batches
    as files, plus one file that redelivers a whole batch, replayed one
    file per micro-batch through the streaming denormalizing sink with
    Trigger.AvailableNow (dim and fact increment appends).

    Volume: the query-mix star's events (1/5 of sf0.1: 20,000 events from
    300 users) split into an initial and two incremental batches, so the
    idempotency anti-join reads a fact that grows batch by batch. The test
    corpus has neither redelivered keys nor nulls; the shares below are
    assumptions, picked so the anti-join and the reject path each handle a
    visible, exactly checkable number of rows in every incremental batch."""

    name = "star-load"
    unit = "rows"
    BATCHES = 3
    ROWS, USERS = gen.STAR_ROWS["events"] // BATCHES, gen.STAR_USERS
    REDELIVER, NULLS = 0.10, 0.02
    STREAM_BATCHES = 2  # the stream replays the first two batches,
    REDELIVERED_FILE = 1  # then a second copy of this one

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.src = os.path.join(work, "stream_in")
        self.out = os.path.join(work, "out")
        self.stream_out = os.path.join(work, "stream_out")
        self.checked_stream = False

    def prepare(self) -> dict:
        rng = np.random.default_rng([self.seed, 3])
        batches = gen.gen_event_batches(rng, self.BATCHES, self.ROWS, self.USERS,
                                        self.REDELIVER, self.NULLS)
        self.batches = []
        tables = []
        for k, (table, expect) in enumerate(batches):
            d = os.path.join(self.work, "in", f"b{k}")
            os.makedirs(d)
            pq.write_table(table, os.path.join(d, "events.parquet"))
            tables.append(table)
            expect = dict(expect, dims=gen.expected_dims(tables),
                          bytes=os.path.getsize(os.path.join(d, "events.parquet")))
            self.batches.append((d, expect))
        info = {f"b{k}": {"rows": e["rows"], "bytes": e["bytes"],
                          "redelivered": e["redelivered"], "null_rows": e["rejected"]}
                for k, (_, e) in enumerate(self.batches)}
        # stream files: one per batch, then a whole-batch redelivery
        files = tables[:self.STREAM_BATCHES] + [tables[self.REDELIVERED_FILE]]
        self.stream_rows = sum(t.num_rows for t in files)
        info["stream"] = {"rows": self.stream_rows, "files": len(files),
                          "bytes": sum(_write_stream(self.src, files))}
        self.items = {f"batch{k}": e["rows"] for k, (_, e) in enumerate(self.batches)}
        self.items["replay"] = self.stream_rows
        return info

    def round_keys(self) -> list[str]:
        return [f"batch{k}" for k in range(len(self.batches))] + ["replay"]

    def _batch(self, k: int, out: str) -> tuple[list[str], dict]:
        from feasibility_etl_spark.__main__ import main

        d, expect = self.batches[k]
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = main(["etl", "--sf-dir", d, "--out", out])
        summary = json.loads(buf.getvalue().strip().splitlines()[-1])
        errs = [f"batch{k}: exit {rc}"] if rc != 0 else []
        want = {"fact_rows": expect["fact_rows"], "rejected": expect["rejected"], **expect["dims"]}
        for key, v in want.items():
            if summary.get(key) != v:
                errs.append(f"batch{k}: {key}={summary.get(key)} expected {v}")
        return errs, summary

    def run_op(self, spark, meter, key: str) -> Sample:
        if key == "replay":
            return self._replay(spark, meter)
        k = int(key[len("batch"):])
        if k == 0:  # the initial load starts from an empty output
            shutil.rmtree(self.out, ignore_errors=True)
        before = dir_stats(self.out)
        with meter.op(key) as sample:
            errs, summary = self._batch(k, self.out)
        after = dir_stats(self.out)
        fact_before = self._fact_files if k else 0
        self._fact_files = dir_stats(os.path.join(self.out, "fact"))[0]
        sample.fail(errs)
        sample.add("rejected", summary.get("rejected", 0))
        sample.add("files", self._fact_files - fact_before)
        sample.add("bytes_ratio", (after[1] - before[1]) / self.batches[k][1]["bytes"])
        return sample

    def _replay(self, spark, meter) -> Sample:
        from feasibility_etl_spark.streaming.stateful import denormalizing_sink

        ckpt = self.stream_out + "_ckpt"
        for p in (self.stream_out, ckpt):
            shutil.rmtree(p, ignore_errors=True)
        with meter.op("replay") as sample:
            stream = (spark.readStream.schema(WIDE_SCHEMA)
                      .option("maxFilesPerTrigger", 1).parquet(self.src))
            q = denormalizing_sink(
                wide_frame(stream), star_specs(), self.stream_out, ckpt,
                required=["key", "reviewer_name", "project_name"],
                available_now=True, shuffle_partitions=4, fact_partitions=1,
            )
            q.awaitTermination()
        if q.exception() is not None:
            sample.fail([f"stream failed: {q.exception()}"])
        elif not self.checked_stream:  # once per run, outside the timed op
            sample.fail(check_star(spark, self.stream_out,
                                   self.batches[self.STREAM_BATCHES - 1][1]))
            self.checked_stream = True
        progress = [json.loads(p.json) for p in q.recentProgress]
        progress = [p for p in progress if p.get("numInputRows", 0) > 0]
        sample.add("batches", len(progress))
        sample.add("stream_files",
                   dir_stats(os.path.join(self.stream_out, "fact"))[0] / max(1, len(progress)))
        for p in progress:
            sample.add("trigger_ms", p["durationMs"]["triggerExecution"])
            sample.add("addBatch_ms", p["durationMs"].get("addBatch", 0))
        return sample

    def warmup(self, spark) -> None:
        # the first etl batch only: warming the incremental batch too left
        # the timed batches unchanged, and a replay measured the same cold
        # as warm, so either would only lengthen set-up
        out = os.path.join(self.work, "warm")
        self.warm_errors, _ = self._batch(0, out)
        self.warm_errors += check_star(spark, out, self.batches[0][1])

    def oracle_job(self, traced: bool) -> None:
        return None

    def check(self, spark, oracle: dict) -> list[str]:
        return self.warm_errors


# ---------------------------------------------------------------- query-mix

QUERY_IDS = ["FLAGSHIP", "VIEW-CTE", "VIEW-IDIOMATIC", "J-DIM-REPORTER", "J-ATTACH",
             "A-WORKLOG", "A-PIVOT", "WIN-SESSION", "J-ASOF", "TEXT-BM25",
             "SEARCH-RRF", "SIM-TOPK"]
#: one cheap registered query per corpus-side layer, so the timed mix also
#: exercises operators.dedup / text / sketches / corpus / bpe and
#: plans.compose's StageCache (CLS-SCORE persists its training frame)
CORPUS_QUERY_IDS = ["DEDUP-EXACT", "TEXT-LANGID", "SKETCH-HLL", "CORPUS-PACK",
                    "BPE-ENCODE", "CLS-SCORE"]
MIX_IDS = QUERY_IDS + CORPUS_QUERY_IDS
CORPUS_STAGES = ["line_dedup", "quality_lang_gates", "exact_dedup", "near_dup_prune",
                 "decontam", "dsir_gate", "pack_shards", "bpe_encode"]


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


class QueryMix:
    """Closed loop, one client: rounds of the registered read queries in a
    seeded order, each result written to the noop sink.

    The traced run adds one PIPE-CORPUS composition over the star's
    documents (the frame build, the action, then each stage materialized
    after its predecessor) for the ``corpus.*`` metrics; its result is
    checked against the DuckDB oracle too."""

    name = "query-mix"
    unit = "queries"

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.rng = random.Random(seed)
        self.star = os.path.join(work, "star")
        self.corpus_result = None

    def prepare(self) -> dict:
        info = gen.gen_star(self.star, self.seed)
        self.items = {q: 1 for q in MIX_IDS}
        return info

    def fns(self):
        from feasibility_etl_spark.driver_queries import ALL_QUERIES
        from feasibility_etl_spark.flagship import flagship

        return {q: (flagship if q == "FLAGSHIP" else ALL_QUERIES[q]) for q in MIX_IDS}

    def round_keys(self) -> list[str]:
        order = list(MIX_IDS)
        self.rng.shuffle(order)
        return order

    def warmup(self, spark) -> None:
        """Every query once, collected for the correctness check, then once
        more into the noop sink the timed ops use (without that pass the JIT
        compiled for ~35 s of thread time inside a 20 s window). Four at a
        time: the queries are small, so one at a time leaves cores idle and
        set-up would take most of the run budget; none of them changes
        session state other queries read."""
        from concurrent.futures import ThreadPoolExecutor

        def run(item):
            q, fn = item
            df = fn(spark, self.star)
            return q, fingerprint(df.columns, df.collect())

        def noop(fn):
            fn(spark, self.star).write.format("noop").mode("overwrite").save()

        with ThreadPoolExecutor(max_workers=4) as pool:
            self.results = dict(pool.map(run, self.fns().items()))
            list(pool.map(noop, self.fns().values()))

    def oracle_job(self, traced: bool) -> tuple[str, list[str]]:
        from feasibility_etl_spark.driver_queries import ALL_ORACLES

        ids = [q for q in MIX_IDS if q in ALL_ORACLES]
        return self.star, ids + (["PIPE-CORPUS"] if traced else [])

    def check(self, spark, oracle: dict) -> list[str]:
        errs = []
        for q, got in self.results.items():
            want = oracle.get(q)
            if want is not None and got != want:
                errs.append(f"{q}: spark {got[:2]} != oracle {want[:2]} or hash differs")
            elif want is None and got[0] == 0:
                errs.append(f"{q}: no rows")
        # FLAGSHIP has no oracle: its hash must not change across runs
        df = self.fns()["FLAGSHIP"](spark, self.star)
        if fingerprint(df.columns, df.collect()) != self.results["FLAGSHIP"]:
            errs.append("FLAGSHIP: result hash changed between runs")
        if self.corpus_result is not None and self.corpus_result != oracle["PIPE-CORPUS"]:
            errs.append(f"PIPE-CORPUS: spark {self.corpus_result[:2]} != "
                        f"oracle {oracle['PIPE-CORPUS'][:2]} or hash differs")
        return errs

    def run_op(self, spark, meter, key: str) -> Sample:
        fn = self.fns()[key]
        with meter.op(key) as sample:
            t0 = time.perf_counter()
            with meter.span(f"driver_queries.{key}", "driver_queries"):
                df = fn(spark, self.star)
            sample.add("build_s", time.perf_counter() - t0)
            with meter.span("action.noop", "bench"):
                df.write.format("noop").mode("overwrite").save()
        return sample

    def corpus_pass(self, spark, meter) -> Sample:
        """Traced only: one PIPE-CORPUS run, then each stage materialized
        after its predecessor (the chain persists and cuts its shared
        stages, so a stage's count reuses the work above it)."""
        from feasibility_etl_spark.driver_queries.pipelines_joins import (
            pipe_corpus_stage_frames,
        )

        isolate(spark)
        with meter.op("pipe-corpus") as sample:
            with meter.span("corpus.build", "bench") as b:
                t0 = time.perf_counter()
                stages, shared = pipe_corpus_stage_frames(spark, self.star)
                sample.add("build_s", time.perf_counter() - t0)
            try:
                with meter.span("corpus.action", "bench") as a:
                    final = stages[-1][1]
                    self.corpus_result = fingerprint(final.columns, final.collect())
                sample.add("cache_mb", cached_mb(spark))
                for name, frame in stages:
                    with meter.span(f"corpus.stage.{name}", "bench"):
                        t0 = time.perf_counter()
                        n = frame.count()
                        sample.add(f"stage.{name}.s", time.perf_counter() - t0)
                    sample.add(f"stage.{name}.rows_out", n)
            finally:
                shared.release()
        sample.add("build_span", b)
        sample.add("action_span", a)
        return sample


WORKLOADS = {w.name: w for w in (StarLoad, QueryMix)}
