#!/usr/bin/env python3
"""spark-graft benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload rfp_pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. It generates the corpus for ``--seed``
under ``perfbench/.work/``, starts the engine's session on
``local[<cores>]``, times set-up, runs the workload's closed loop for
at least ``--seconds`` seconds, checks every output, and prints one
JSON object as the last line of stdout:

- ``--trace 0``: the end-to-end metrics (see BENCHMARK.json);
- ``--trace 1``: the per-layer metrics, from a run with Spark's event
  log on and a job group per call.

Every run saves its environment, metrics and calls under
``perfbench/out/``; a traced run adds the tracing overhead per metric
against the untraced runs of the same workload saved there.

``--smoke`` runs at sf0.001 and also checks the one query whose DuckDB
oracle is too slow for a timed run. Exit code 0 means a result was
printed; it is 1 when the engine is missing or nothing could be timed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF, SMOKE_SF = 0.01, 0.001
DRIVER_HEAP = "2g"
SETUP_SPANS = ("session.get_spark", "setup.warm", "setup.index_build", "setup.artifact_build")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def isolate(work: str) -> dict[str, str]:
    """Point every directory the engine, Spark and Python write to at
    ``work``, and fix the session settings the environment could change."""
    nproc = len(os.sched_getaffinity(0))
    dirs = {d: os.path.join(work, d) for d in ("artifacts", "spark-local", "tmp", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    for var in ("SPARK_GRAFT_ARTIFACTS", "SPARK_SHUFFLE_PARTITIONS", "SPARK_GRAFT_COLD_DIR"):
        os.environ.pop(var, None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_DRIVER_MEMORY=DRIVER_HEAP,
        SPARK_GRAFT_WAREHOUSE=dirs["artifacts"],
        SPARK_LOCAL_DIRS=dirs["spark-local"],
        TMPDIR=dirs["tmp"],
        # the JVM spark-submit starts to build the driver command
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
        PYTHONPATH=os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
    )
    return dirs


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class Expect:
    """What the outputs must be, computed from the generated inputs
    without Spark."""

    def __init__(self, oracle, data_dir: str, rng):
        import corpus
        import pyarrow.parquet as pq

        from checks import expected_chunks
        from commercial_rfp_data_pipeline_spark.plans.index_lifecycle import (
            CHUNK_OVERLAP,
            CHUNK_SIZE,
        )

        self.clean = oracle.rows("rfp_clean_flagship")
        cols, rows = self.clean
        key = cols.index("key_hash")
        self.library = sorted(
            {
                r[key] if r[key].lower().endswith(".docx") else r[key] + ".docx"
                for r in rows
                if r[key] is not None and r[key].strip()
            }
        )
        listing = corpus.remote_listing(rng, self.library)
        self.listing_path = os.path.join(data_dir, "remote_listing.parquet")
        pq.write_table(listing, self.listing_path)
        self.remote = sorted(n for n in listing.column("name").to_pylist() if n.lower().endswith(".docx"))
        qcol = cols.index("question")
        self.questions = sorted({r[qcol] for r in rows if r[qcol]})
        self.n_chunks = expected_chunks(data_dir, CHUNK_SIZE, CHUNK_OVERLAP)


class Context:
    """Everything a workload needs: session, tracer, inputs, checks."""

    def __init__(self, args, work: str, data_dir: str, oracle, expect, rng):
        self.smoke = args.smoke
        self.work = work
        self.data_dir = data_dir
        self.oracle = oracle
        self.expect = expect
        self.rng = rng
        self.setup: dict[str, float] = {}
        self.spark = self.tracer = None

    def question(self) -> str:
        """The next question a user asks: a seeded draw, with
        replacement, from the content library's question column."""
        qs = self.expect.questions
        return qs[self.rng.integers(len(qs))]

    @contextlib.contextmanager
    def setup_span(self, name: str):
        t0 = time.perf_counter()
        yield
        self.setup[name] = self.setup.get(name, 0.0) + time.perf_counter() - t0


def end_to_end(ctx: Context, wl, peak_kb: int) -> dict[str, tuple[float, str]]:
    """The requests of a run are distinct operations (queries, or
    questions on three search paths), most of them run once, so their
    latencies are summarized by the geometric mean: every request
    weighs the same and one slow outlier cannot flip the summary the
    way it moves a median of a dozen unlike samples."""
    lat = [r["wall_s"] for r in wl.ops if "wall_s" in r and r.get("request")]
    return {
        "setup_s": (sum(ctx.setup.values()), "s"),
        "pass_s": (statistics.median(wl.passes), "s"),
        "op_geomean_ms": (statistics.geometric_mean(lat) * 1000.0, "ms"),
        "peak_rss_mb": (peak_kb / 1024.0, "MB"),
    }


def _median_by_pass(recs, value) -> float:
    """Median over passes of the per-pass sum of ``value(record)``."""
    per_pass: dict[int, float] = {}
    for r in recs:
        per_pass[r.get("pass")] = per_pass.get(r.get("pass"), 0.0) + value(r)
    return statistics.median(per_pass.values()) if per_pass else 0.0


def _both(r, k):
    return r.get(f"build_{k}", 0.0) + r.get(f"exec_{k}", 0.0)


def per_layer(ctx: Context, wl) -> dict[str, tuple[float, str]]:
    """The per-layer metrics of BENCHMARK.json. A span this workload
    never enters reads 0."""
    from workloads import HEADLINE, SEARCH_PATHS, STAGES

    done = [r for r in wl.ops if "wall_s" in r]
    m: dict[str, tuple[float, str]] = {f"{n}.wall_s": (ctx.setup.get(n, 0.0), "s") for n in SETUP_SPANS}
    for stage in STAGES:
        recs = [r for r in done if r["span"] == f"pipeline.{stage}"]
        for name, unit, value in (
            ("wall_s", "s", lambda r: r["wall_s"]),
            ("jobs", "count", lambda r: _both(r, "jobs")),
            ("tasks", "count", lambda r: _both(r, "tasks")),
            ("executor_cpu_s", "s", lambda r: _both(r, "executor_cpu_s")),
            ("shuffle_bytes", "bytes", lambda r: _both(r, "shuffle_bytes")),
            ("output_bytes", "bytes", lambda r: _both(r, "output_bytes")),
        ):
            m[f"pipeline.{stage}.{name}"] = (_median_by_pass(recs, value), unit)
    for path in SEARCH_PATHS:
        recs = [r for r in done if r["span"] == f"search.{path}"]

        def med(value, recs=recs):
            return statistics.median(value(r) for r in recs) if recs else 0.0

        hits = sum(r.get("hits", 0) for r in recs)
        read = sum(_both(r, "records_read") for r in recs)
        m.update(
            {
                f"search.{path}.wall_ms": (med(lambda r: r["wall_s"]) * 1000, "ms"),
                f"search.{path}.build_ms": (med(lambda r: r["build_s"]) * 1000, "ms"),
                f"search.{path}.plan_ms": (med(lambda r: r["plan_s"]) * 1000, "ms"),
                f"search.{path}.exec_ms": (med(lambda r: r["exec_s"]) * 1000, "ms"),
                f"search.{path}.jobs": (med(lambda r: _both(r, "jobs")), "count"),
                f"search.{path}.tasks": (med(lambda r: _both(r, "tasks")), "count"),
                f"search.{path}.rows_read_per_hit": (read / hits if hits else read, "rows"),
            }
        )
    for layer in dict.fromkeys(HEADLINE.values()):
        recs = [r for r in done if r["span"] == f"queries.{layer}"]
        for name, unit, value in (
            ("wall_s", "s", lambda r: r["wall_s"]),
            ("build_s", "s", lambda r: r["build_s"]),
            ("build_jobs", "count", lambda r: r.get("build_jobs", 0.0)),
            ("plan_s", "s", lambda r: r["plan_s"]),
            ("exec_s", "s", lambda r: r["exec_s"]),
            ("jobs", "count", lambda r: _both(r, "jobs")),
            ("executor_cpu_s", "s", lambda r: _both(r, "executor_cpu_s")),
            ("shuffle_bytes", "bytes", lambda r: _both(r, "shuffle_bytes")),
        ):
            m[f"queries.{layer}.{name}"] = (_median_by_pass(recs, value), unit)
    # how much of each pass the spans account for, and the plan probes' cost
    span_sum = [sum(r["wall_s"] for r in done if r.get("pass") == p) for p in range(len(wl.passes))]
    probe = [sum(r["probe_s"] for r in done if r.get("pass") == p) for p in range(len(wl.passes))]
    m["trace.span_coverage"] = (
        statistics.median(s / (w - pr) for s, w, pr in zip(span_sum, wl.passes, probe)),
        "ratio",
    )
    m["trace.probe_s"] = (statistics.median(probe), "s")
    return m


def environment(spark, args, sf: float) -> dict:
    import pyspark

    from commercial_rfp_data_pipeline_spark.plans.artifacts import artifacts_mode

    conf = spark.sparkContext.getConf()
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": sf,
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_heap": conf.get("spark.driver.memory"),
        "artifacts_mode": artifacts_mode(),
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


def write_report(out_dir: str, env: dict, wl, e2e: dict, layers: dict | None) -> None:
    """Save the run's metrics and every call it made. A traced run also
    saves the per-layer metrics and the tracing overhead: each
    end-to-end metric against its median over the untraced runs of the
    same workload and scale already in ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    report = {"env": env, "end_to_end": e2e, "passes": wl.pass_usage, "calls": wl.ctx.tracer.records}
    if layers is not None:
        untraced = []
        for name in os.listdir(out_dir):
            if name.startswith(f"{env['workload']}-") and name.endswith("-result.json"):
                with open(os.path.join(out_dir, name)) as f:
                    prior = json.load(f)
                if prior["env"]["sf"] == env["sf"]:
                    untraced.append(prior["end_to_end"])
        if untraced:
            report["tracing_overhead"] = {
                k: v[0] / statistics.median(u[k][0] for u in untraced) - 1.0
                for k, v in e2e.items()
            }
        report["per_layer"] = layers
    kind = "trace" if layers is not None else "result"
    with open(os.path.join(out_dir, f"{env['workload']}-seed{env['seed']}-{kind}.json"), "w") as f:
        json.dump(report, f, indent=1)


def run(args) -> int:
    sys.path[:0] = [HERE, ROOT]
    try:
        import commercial_rfp_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        log(f"the engine is not importable from {ROOT}: {e}")
        return 1
    import numpy as np

    import corpus
    from checks import Oracle
    from tracing import RssSampler, Tracer
    from workloads import WORKLOADS

    sf = SMOKE_SF if args.smoke else SF
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        dirs = isolate(work)
        data_dir = corpus.write(os.path.join(work, "data"), args.seed, sf)
        oracle = Oracle(ROOT, data_dir)
        rng = np.random.default_rng([args.seed, 1])
        ctx = Context(args, work, data_dir, oracle, Expect(oracle, data_dir, rng), rng)
        with RssSampler() as rss:
            from commercial_rfp_data_pipeline_spark.session import get_spark

            extra = {
                "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
                "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
            }
            if args.trace:
                extra.update(
                    {
                        "spark.eventLog.enabled": "true",
                        "spark.eventLog.dir": "file://" + dirs["eventlog"],
                        "spark.eventLog.compress": "false",
                    }
                )
            with ctx.setup_span("session.get_spark"):
                ctx.spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=extra)
            try:
                ctx.tracer = Tracer(ctx.spark, bool(args.trace), dirs["eventlog"])
                env = environment(ctx.spark, args, sf)
                log(json.dumps(env))
                wl = WORKLOADS[args.workload](ctx)
                wl.setup()
                log(f"set-up {sum(ctx.setup.values()):.2f} s: {ctx.setup}")
                wl.measure(args.seconds)
                wl.check()
            finally:
                stop_spark(ctx.spark)
        ctx.tracer.attach_event_log()
        if not any("wall_s" in r for r in wl.ops):
            log("no call completed; nothing to report")
            return 1
        e2e = end_to_end(ctx, wl, rss.peak_kb)
        layers = per_layer(ctx, wl) if args.trace else None
        write_report(os.path.join(HERE, "out"), env, wl, e2e, layers)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
    failed = sum(not r["ok"] for r in wl.ops)
    log(f"{len(wl.passes)} passes, {len(wl.ops)} calls, {failed} failed; " + json.dumps(e2e))
    metrics = layers if args.trace else e2e
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(wl.ops),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("rfp_pipeline", "query_suite"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="sf0.001 corpus, every oracle checked")
    return run(ap.parse_args())


if __name__ == "__main__":
    sys.exit(main())
