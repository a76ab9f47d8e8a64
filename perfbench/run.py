"""Benchmark for the feasibility_etl_spark engine.

Run from the root of a source checkout::

    python3 perfbench/run.py --workload query-mix --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each exists): ``star-load`` (the
write path: etl CLI batches, then the same batches through the streaming
denormalizing sink) and ``query-mix`` (registered read queries, closed
loop, one client; its traced run adds one PIPE-CORPUS composition).
Inputs are generated from ``--seed`` into a private directory under
``.perfbench_work/`` that is removed at exit.

One run: build the session and run an untimed warm-up (``setup_s``),
then rounds of the workload's ops, one op at a time, with tracing off
until at least one whole round is done and ``--seconds`` have passed;
then check the warm-up results for correctness (DuckDB oracles, computed
in a child process after the measured windows, or ground truth derived
from the generated files). ``--trace 1`` adds one more round with spans around
every layer call and prints the per-layer metrics instead; the spans are
written to ``.perfbench_out/trace-<workload>-<seed>.json``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The lines before it
print every metric by name and unit, in the workload's own terms. The
metric names and units of that object are the ones ``BENCHMARK.json``
declares; a run that would print another set fails instead.

The end-to-end metrics are ``setup_s`` (session build plus warm-up, wall
clock) and ``work_per_s``: rows or queries per wall second, over one round
made of each op kind's median. The same work per CPU second of the
engine's process tree (this driver, the JVM, the Python workers) is the
per-layer ``work_per_cpu_s``: it does not see lost parallelism or idle
per-job latency, and on query-mix it spread wider than the wall figure.
``steal_s``, the CPU time the hypervisor withheld during the window, is
printed with them.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PKG = "feasibility_etl_spark"

BROADCAST_THRESHOLD = 10 * 2**20  # spark.sql.autoBroadcastJoinThreshold default
SELF_LAYERS = ["bench", "cli", "session", "sources", "driver_queries", "plans",
               "operators.joins", "operators.aggregates", "operators.dedup",
               "operators.text", "operators.sketches", "operators.corpus",
               "operators.bpe", "operators.search", "operators.similarity",
               "writer", "quality", "streaming"]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: str) -> None:
    """Worker path, CPU count and every scratch location inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    # Python workers start from a fresh interpreter: they need the package
    # on their path, or the mapInPandas stages fail with ModuleNotFoundError
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the launcher's included: no hsperfdata, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    for p in (ROOT, os.path.join(ROOT, "tools"), HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def session_conf(work: str) -> dict[str, str]:
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait for the whole process tree."""
    sc = spark.sparkContext
    gateway = sc._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — fall through to the tree reaper
            proc.kill()
            proc.wait(timeout=10)
    reap_descendants()


def reap_descendants() -> None:
    from procstat import _children_map

    def descendants():
        kids, todo, out = _children_map(), [os.getpid()], []
        while todo:
            for c in kids.get(todo.pop(), []):
                out.append(c)
                todo.append(c)
        return out

    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = descendants()
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while time.time() < deadline and descendants():
            for pid in pids:
                try:
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            time.sleep(0.1)


def window(wl, spark, meter, seconds: float) -> list:
    """Rounds of the workload's ops, one op at a time, until at least one
    whole round is done and ``seconds`` have passed."""
    from workloads import isolate

    samples, t0, rounds = [], time.perf_counter(), 0
    while True:
        for key in wl.round_keys():
            isolate(spark)
            samples.append(wl.run_op(spark, meter, key))
            if rounds and time.perf_counter() - t0 >= seconds:
                break
        else:
            rounds += 1
            if time.perf_counter() - t0 < seconds:
                continue
        isolate(spark)
        return samples


def by_key(samples, attr: str = "s") -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for o in samples:
        out.setdefault(o.key, []).append(getattr(o, attr))
    return out


def tail(xs: list[float]) -> tuple[float, float]:
    """Highest percentile with at least 10 samples beyond it, and that
    percentile; the maximum (percentile 100) when there are 10 or fewer."""
    xs = sorted(xs)
    if len(xs) <= 10:
        return (xs[-1], 100.0) if xs else (0.0, 0.0)
    i = len(xs) - 11
    return xs[i], 100.0 * (i + 1) / len(xs)


def summarize(wl, samples) -> dict:
    """The window's figures. A round's time (or CPU time) is the sum of
    each op kind's median, so a window that ends mid-round does not change
    the mix it reports; throughput is the items of one round over that."""
    med = {k: statistics.median(v) for k, v in by_key(samples).items()}
    cpu = {k: statistics.median(v) for k, v in by_key(samples, "cpu_s").items()}
    round_s, round_cpu_s = sum(med.values()), sum(cpu.values())
    items = sum(wl.items[k] for k in med)
    return {"samples": [o.s for o in samples], "median": med, "round_s": round_s,
            "round_cpu_s": round_cpu_s, "per_s": items / round_s,
            "per_cpu_s": items / round_cpu_s,
            "attempted": len(samples), "failed": sum(o.failed for o in samples),
            "notes": [n for o in samples for n in o.notes]}


def extra(samples, key: str) -> list:
    return [v for o in samples for v in o.extra.get(key, [])]


def mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def median0(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(wl, setup: dict, plain, traced, meter, tracer) -> dict:
    """Per-layer metrics of one traced run; 0 where a layer is idle on
    this workload."""
    from workloads import CORPUS_STAGES, MIX_IDS, QUERY_IDS

    s = summarize(wl, plain)
    m: dict[str, float] = {"session.build_s": setup["build_s"],
                           "session.warmup_s": setup["warmup_s"],
                           "memory.peak_rss_mb": setup["peak_rss_mb"],
                           "work_per_cpu_s": s["per_cpu_s"]}
    timed = [o for o in traced if o.key != "pipe-corpus"]
    counts = [meter.op_counts(o) for o in timed]
    m["sources.scan_mb"] = mean([c["input_bytes"] for c in counts]) / 2**20
    m["sources.scan_records"] = mean([c["input_records"] for c in counts])

    batch = [c for o, c in zip(timed, counts) if o.key.startswith("batch")]
    m["etl.batch.jobs"] = mean([c["jobs"] for c in batch])
    m["etl.batch.stages"] = mean([c["stages"] for c in batch])
    m["etl.batch.tasks"] = mean([c["tasks"] for c in batch])
    m["etl.batch.shuffle_mb"] = mean([c["shuffle_bytes"] for c in batch]) / 2**20
    m["etl.batch.executor_ms"] = mean([c["executor_ms"] for c in batch])
    m["etl.batch.s_p50"] = median0([o.s for o in plain if o.key.startswith("batch")])
    wd = [sp.t1 - sp.t0 for sp in tracer.spans if sp.name == "writer.write_denormalized"]
    m["writer.write_denormalized.call_s"] = mean(wd)
    m["writer.files_per_batch"] = mean(extra(traced, "files"))  # etl CLI fact files
    m["writer.bytes_per_input_byte"] = mean(extra(traced, "bytes_ratio"))
    m["quality.rejected_rows"] = sum(extra(traced, "rejected"))

    # build time and shuffle for the star and search queries; the corpus-operator
    # queries keep two metrics each so the list stays within 128
    for q in MIX_IDS:
        ts = [c for o, c in zip(timed, counts) if o.key == q]
        m[f"query.{q}.s_p50"] = s["median"].get(q, 0.0)
        if q in QUERY_IDS:
            m[f"query.{q}.build_s"] = median0(
                extra([o for o in plain if o.key == q], "build_s"))
        m[f"query.{q}.jobs"] = mean([c["jobs"] for c in ts])
        if q in QUERY_IDS:
            m[f"query.{q}.shuffle_mb"] = mean([c["shuffle_bytes"] for c in ts]) / 2**20
    is_mix = wl.name == "query-mix"
    m["query.s_tail"] = tail(s["samples"])[0] if is_mix else 0.0

    corpus = [o for o in traced if o.key == "pipe-corpus"]
    build, act = extra(corpus, "build_span"), extra(corpus, "action_span")
    m["corpus.build_s"] = mean(extra(corpus, "build_s"))
    m["corpus.build_jobs"] = mean([tracer.inclusive(sp, "jobs") for sp in build])
    m["corpus.action_s"] = mean([sp.t1 - sp.t0 for sp in act])
    for k in ("jobs", "stages", "tasks", "executor_ms"):
        m[f"corpus.action_{k}"] = mean([tracer.inclusive(sp, k) for sp in act])
    m["corpus.action_shuffle_mb"] = mean(
        [tracer.inclusive(sp, "shuffle_bytes") for sp in act]) / 2**20
    for st in CORPUS_STAGES:
        m[f"corpus.stage.{st}.s"] = mean(extra(corpus, f"stage.{st}.s"))
        m[f"corpus.stage.{st}.rows_out"] = mean(extra(corpus, f"stage.{st}.rows_out"))
    m["compose.cache_mb"] = mean(extra(corpus, "cache_mb"))

    m["streaming.replay_s_p50"] = median0([o.s for o in plain if o.key == "replay"])
    m["streaming.batches"] = mean(extra(plain, "batches"))
    m["streaming.trigger_ms_p50"] = median0(extra(plain, "trigger_ms"))
    m["streaming.addBatch_ms_p50"] = median0(extra(plain, "addBatch_ms"))
    m["streaming.files_per_batch"] = mean(extra(plain, "stream_files"))

    m["plans.codegen_compiles"] = setup["codegen_compiles"]
    m["trace.overhead_s"] = sum(median0([o.s for o in timed if o.key == k]) - v
                                for k, v in s["median"].items())
    m["trace.count_mismatches"] = setup["mismatches"]
    self_s = tracer.self_times()
    for layer in SELF_LAYERS:
        m[f"self_s.{layer}"] = self_s.get(layer, 0.0) / max(1, len(traced))
    return m


def codegen_compiles(spark) -> int:
    """Janino compilations so far in this JVM: the misses of Spark's
    generated-code cache, each of which also hands the JIT new classes."""
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def count_mismatches(plain_counts: dict, traced_counts: dict) -> tuple[int, list[str]]:
    """Op kinds whose (jobs, stages) differ between any two of their runs,
    untraced or traced."""
    bad = []
    for key in sorted(set(plain_counts) | set(traced_counts)):
        seen = set(plain_counts.get(key, [])) | set(traced_counts.get(key, []))
        if len(seen) > 1:
            bad.append(f"{key}: {sorted(seen)}")
    return len(bad), bad


def run_oracle(job, work: str) -> dict:
    """DuckDB fingerprints for ``job`` (``(data_dir, query_ids)`` or None),
    from a child process run once the measured windows are over."""
    if job is None:
        return {}
    out, tmp = os.path.join(work, "oracle.json"), os.path.join(work, "duckdb_tmp")
    os.makedirs(tmp)
    subprocess.run([sys.executable, os.path.join(HERE, "oracle.py"), job[0], tmp, out,
                    *job[1]], stdout=subprocess.DEVNULL, check=True, timeout=170)
    with open(out) as f:
        return {k: list(v) for k, v in json.load(f).items()}


def report(wl, s: dict, plain, common: list, env: dict, inputs: dict,
           errors: list) -> None:
    """Human-readable lines: the workload's metrics in its own terms."""
    if wl.name == "star-load":
        batches = [o.s for o in plain if o.key.startswith("batch")]
        names = [
            ("load_rows_per_s", s["per_s"], "rows/s (etl batches and stream replay)"),
            ("load_batch_s_p50", statistics.median(batches), "s (etl batches)"),
            ("stream_rows_per_s", wl.stream_rows / s["median"]["replay"],
             "rows/s (stream replay)"),
            ("stream_batch_s_p50", median0(extra(plain, "trigger_ms")) / 1000.0,
             "s (micro-batches)")]
    else:
        t, pct = tail(s["samples"])
        names = [("query_s_p50", statistics.median(s["samples"]), "s"),
                 ("query_s_tail", t, f"s (p{pct:.0f}, n={len(s['samples'])})"),
                 ("queries_per_s", s["per_s"], "1/s")]
    for k, v in env.items():
        print(f"env {k} = {v}")
    for t, info in inputs.items():
        if isinstance(info, dict) and "bytes" in info:
            where = "below" if info["bytes"] < BROADCAST_THRESHOLD else "above"
            print(f"input {t}: {info.get('rows', '?')} rows, {info['bytes']} bytes "
                  f"({where} the 10 MB broadcast threshold, "
                  f"{100.0 * info['bytes'] / env['storage_memory_bytes']:.3f}% of storage memory)")
    for name, value, unit in names + common:
        print(f"metric {name} = {value:.6g} {unit}")
    for k, v in s["median"].items():
        print(f"op {k}: median {v:.4f} s over {len(by_key(plain)[k])}")
    print(f"samples {s['attempted']} ops, round {s['round_s']:.3f} s")
    print(f"correct {wl.name}: {'yes' if not errors else 'NO'}")
    for e in errors:
        print(f"  error: {e}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: no {PKG} package under {ROOT}; run from a source checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    configure_env(work)
    spark = None
    try:
        import workloads
        from procstat import PeakRss, steal_s, tree_cpu_s

        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
            return 2
        wl = workloads.WORKLOADS[args.workload](work, args.seed)
        inputs = wl.prepare()

        from feasibility_etl_spark.session import build_session

        def cpu_s() -> float:
            return tree_cpu_s(os.getpid())

        with PeakRss() as rss:
            t0 = time.perf_counter()
            spark = build_session(f"perfbench-{wl.name}", extra_conf=session_conf(work))
            spark.sparkContext.setLogLevel("ERROR")
            build_s = time.perf_counter() - t0
            wl.warmup(spark)
            warmup_s = time.perf_counter() - t0 - build_s
            workloads.isolate(spark)
            meter = workloads.Meter(spark, cpu_s, track_jobs=bool(args.trace))
            steal0, tw = steal_s(), time.perf_counter()
            plain = window(wl, spark, meter, args.seconds)
            window_s, steal = time.perf_counter() - tw, steal_s() - steal0
        peak_rss_mb = rss.peak_mb

        per_layer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.install()
            try:
                tmeter = workloads.Meter(spark, cpu_s, tracer)
                compiles0 = codegen_compiles(spark)
                traced = window(wl, spark, tmeter, 0)  # one round
                compiles = (codegen_compiles(spark) - compiles0) / len(traced)
                if hasattr(wl, "corpus_pass"):
                    traced.append(wl.corpus_pass(spark, tmeter))
            finally:
                tracer.uninstall()
            tracer.finish()
            n_bad, bad = count_mismatches(meter.job_counts(), tmeter.job_counts())
            setup = {"build_s": build_s, "warmup_s": warmup_s, "mismatches": n_bad,
                     "peak_rss_mb": peak_rss_mb, "codegen_compiles": compiles}
            per_layer = layer_metrics(wl, setup, plain, traced, tmeter, tracer)
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            with open(os.path.join(out, f"trace-{wl.name}-{args.seed}.json"), "w") as f:
                json.dump({"workload": wl.name, "seed": args.seed,
                           "spans": [s.as_dict() for s in tracer.spans]}, f)

        errors = wl.check(spark, run_oracle(wl.oracle_job(bool(args.trace)), work))
        if per_layer is not None:
            # recorded, not enforced: a repeated op kind was seen to launch
            # one job more or less between identical runs
            for b in bad:
                print(f"job/stage counts differ: {b}")
        s = summarize(wl, plain)
        attempted = s["attempted"] + 1  # the warm-up result is one checked op
        failed = s["failed"] + bool(errors)
        errors += s["notes"]
        import duckdb

        env = {
            "nproc": nproc(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "spark": spark.version,
            "duckdb": duckdb.__version__,
            "seed": args.seed,
            "seconds": args.seconds,
            "storage_memory_bytes": int(spark.sparkContext._jvm.org.apache.spark.SparkEnv
                                        .get().memoryManager().maxOnHeapStorageMemory()),
        }
        e2e = {"setup_s": build_s + warmup_s, "work_per_s": s["per_s"]}
        common = [("setup_s", build_s + warmup_s, "s"),
                  ("work_per_s", s["per_s"], f"{wl.unit} per second"),
                  ("round_cpu_s", s["round_cpu_s"], "s (process tree)"),
                  ("work_per_cpu_s", s["per_cpu_s"], f"{wl.unit} per CPU second"),
                  ("steal_s", steal, f"s (all CPUs, {window_s:.3f} s window)"),
                  ("peak_rss_mb", peak_rss_mb, "MB"),
                  ("failed_ops_frac", failed / attempted, f"({failed} of {attempted})")]
        report(wl, s, plain, common, env, inputs, errors)
        if per_layer is not None:
            for k, v in per_layer.items():
                print(f"layer {k} = {v:.6g}")
        stop_session(spark)
        spark = None
        metrics = declared(per_layer if per_layer is not None else e2e,
                           "per_layer" if per_layer is not None else "end_to_end")
        print(json.dumps({"correct": not errors, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    except Exception:  # noqa: BLE001 — report and fail the run without a result
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            try:
                stop_session(spark)
            except Exception:  # noqa: BLE001 — the reaper below still runs
                traceback.print_exc()
        reap_descendants()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def declared(values: dict[str, float], kind: str) -> dict:
    """``values`` as the result's metrics, with the units ``BENCHMARK.json``
    declares for its ``kind`` list; the names must be exactly that list."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)[kind]}
    if set(values) != set(units):
        raise RuntimeError(f"{kind} metrics differ from BENCHMARK.json: "
                           f"missing {sorted(set(units) - set(values))}, "
                           f"undeclared {sorted(set(values) - set(units))}")
    return {k: {"value": values[k], "unit": units[k]} for k in units}


if __name__ == "__main__":
    sys.exit(main())
