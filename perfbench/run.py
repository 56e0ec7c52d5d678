"""gondar-spark benchmark: seeded KG workloads on one local[4] session.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 1 --trace 0

Run from the repository root. Each run builds a Spark session, generates
the workload's inputs from ``--seed``, runs the workload once at a tiny
size as an untimed warm-up, runs a closed loop of timed iterations until
``--seconds`` have passed (whole iterations, at least one), checks every
timed operation's output outside the timed region, and prints one JSON
object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (untraced). ``--trace 1``
runs one traced iteration and then one untraced iteration, and reports
the per-layer metrics of the traced one plus the tracing overhead
(traced minus untraced wall). The trace's spans are written to
``.perfbench_out/``. See perfbench/README.md for the metric map.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import hashlib
import json
import os
import platform
import pstats
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
E2E_UNITS = {"op_s": "s", "setup_s": "s"}
SETUP_ROUNDS = 3
# a run must end within 180 s; the traced run skips its untraced
# comparison iteration when that would pass this mark
TRACE_BUDGET_S = 150
LAYER_KEYS = {
    "op": "unattributed", "pipeline": "pipeline",
    "sources.tables": "tables", "extraction": "extraction",
    "linking": "linking", "operators.cc": "cc",
    "operators.materialize/identity": "materialize",
    "operators.dedup": "dedup",
}


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# per-layer metric names (every traced run emits all of them; a layer a
# workload does not reach reports 0)
# ---------------------------------------------------------------------------


def per_layer_names() -> list[str]:
    from perfbench.tracing import SPARK_COUNTERS, STAGE_COUNTERS, STAGES

    names = ["session.build_s", "setup.inputs_s", "setup.warmup_s",
             "op.build_s", "op.dedup_s", "trace.overhead_s", "error_rate",
             "mem.peak_rss_mb", "host.spin_s"]
    names += [f"stage.{s}_s" for s in STAGES] + ["stage.other_s",
                                                 "gate.megablock_dropped"]
    names += [f"spark.{c}" for c in SPARK_COUNTERS] + ["spark.busy_ratio"]
    names += [f"stage.{s}.{c}" for s in STAGES + ("other",)
              for c in STAGE_COUNTERS]
    names += [f"tables.{c}" for c in (
        "write_s", "write_n", "append_s", "append_n", "compact_s",
        "compact_n", "register_s", "written_mb", "files_written")]
    names += ["cc.s", "cc.calls", "extract.triples_out", "extract.udf_s",
              "extract.udf_profiled", "mentions.rows", "edges.rows",
              "materialize.triples_out"]
    names += [f"dedup.{c}" for c in (
        "clean_corpus_s", "ngram_jaccard_pairs_s", "simhash_dedup_s",
        "pairs_out", "kept_docs")]
    names += [f"self.{v}_s" for v in LAYER_KEYS.values()]
    return names


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name in ("spark.busy_ratio", "error_rate"):
        return "ratio"
    return "count"


# ---------------------------------------------------------------------------
# traced observation of one timed operation
# ---------------------------------------------------------------------------


class Observer:
    """Everything the traced run records around a timed operation; all
    of it happens before the timer starts or after it stops."""

    def __init__(self, spark, work: str, tracer) -> None:
        from perfbench.tracing import SparkJobs

        self.spark = spark
        self.tracer = tracer
        self.jobs = SparkJobs(spark)
        self.profile_dir = os.path.join(work, "udf_profile")

    def before(self, op) -> None:
        from perfbench.tracing import tree_files

        self.files_before = tree_files(op.warehouse) if op.warehouse else {}
        self.jobs.sync()
        self.spark.profile.clear(type="perf")
        self.n_spans = len(self.tracer.spans)

    def after(self, op, root: dict, m: dict) -> None:
        from perfbench.tracing import (
            STAGE_COUNTERS, STAGE_LAYER, covered, stage_of, sum_jobs,
            tree_files,
        )

        tr = self.tracer
        wall = root["end"] - root["start"]
        recs = op.pipe.lineage() if op.pipe is not None else []
        # lineage stages become spans under the Pipeline.run/retract span
        pipe_span = next((s for s in tr.spans[self.n_spans:]
                          if s["layer"] == "pipeline"
                          and s["parent"] == root["id"]), None)
        stage_spans = []
        for r in recs:
            if r["stage"] in STAGE_LAYER and "wall_s" in r:
                stage_spans.append(tr.add(
                    r["stage"], STAGE_LAYER[r["stage"]],
                    r["ts"] - r["wall_s"], r["ts"],
                    pipe_span["id"] if pipe_span else root["id"]))
        # spans opened directly under the op or the pipeline call —
        # including those from the pipeline's writer threads, which hang
        # off the op root — move under the stage (else the pipeline
        # span) whose interval holds them, so self times do not overlap
        top = {root["id"], pipe_span["id"] if pipe_span else None}
        for s in tr.spans[self.n_spans:]:
            if s is pipe_span or s in stage_spans or s["parent"] not in top:
                continue
            home = next((st for st in stage_spans
                         if st["start"] - 1e-3 <= s["start"]
                         and s["end"] <= st["end"] + 1e-3), pipe_span)
            if home is not None:
                s["parent"] = home["id"]
        for st in stage_spans:
            m[f"stage.{st['name']}_s"] += st["end"] - st["start"]
        m["stage.other_s"] += wall - covered(
            [(s["start"], s["end"]) for s in stage_spans],
            root["start"], root["end"])

        for r in recs:
            stage, rows = r["stage"], r.get("rows") or {}
            if stage == "edges_megablock_cap":
                m["gate.megablock_dropped"] += r.get("n_blocks_dropped") or 0
            elif r.get("skipped") or not isinstance(rows, dict):
                continue
            elif stage == "triples_raw":
                m["extract.triples_out"] += rows.get("triples_raw") or 0
            elif stage in ("mentions", "edges"):
                m[f"{stage}.rows"] += rows.get(stage) or 0
            elif stage == "materialize":
                m["materialize.triples_out"] += rows.get("triples") or 0

        jobs = self.jobs.collect()
        for c, v in sum_jobs(jobs).items():
            m[f"spark.{c}"] += v
        for j in jobs:
            st = stage_of(j["submitted"], stage_spans)
            m[f"stage.{st}.jobs"] += 1
            for c in STAGE_COUNTERS[1:]:
                m[f"stage.{st}.{c}"] += j[c]

        if op.warehouse:
            after = tree_files(op.warehouse)
            new = [p for p, sz in after.items()
                   if self.files_before.get(p) != sz]
            m["tables.files_written"] += len(new)
            m["tables.written_mb"] += sum(after[p] for p in new) / 2**20

        for s in tr.spans[self.n_spans:]:
            dur = s["end"] - s["start"]
            parent = next((p for p in tr.spans if p["id"] == s["parent"]),
                          None)
            nested = parent is not None and parent["layer"] == s["layer"]
            if s["layer"] == "sources.tables" and not nested:
                m[f"tables.{s['name']}_s"] += dur
                if s["name"] != "register":
                    m[f"tables.{s['name']}_n"] += 1
            elif s["layer"] == "operators.cc" and not nested:
                m["cc.s"] += dur
                m["cc.calls"] += 1

        shutil.rmtree(self.profile_dir, ignore_errors=True)
        self.spark.profile.dump(self.profile_dir, type="perf")
        for f in glob.glob(os.path.join(self.profile_dir, "*.pstats")):
            stats = pstats.Stats(f)
            # the extraction UDF is the mapInArrow closure in
            # operators/extract.py (the profiler keeps base names only);
            # other Python UDFs are not extraction
            if any(os.path.basename(k[0]) == "extract.py"
                   for k in stats.stats):
                m["extract.udf_s"] += stats.total_tt
                m["extract.udf_profiled"] = 1


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def run_ops(ops, ctx, obs=None, metrics: dict | None = None):
    """Time each op, then check it. Returns (walls, failures, info):
    info holds each op's process-tree CPU seconds and each pipeline op's
    lineage stage walls."""
    from perfbench.tracing import tree_cpu_s

    walls, cpu, failures, stages = {}, {}, [], {}
    for op in ops:
        if obs:
            obs.before(op)
        span = (ctx.tracer.span(op.name, "op", root=True)
                if obs else contextlib.nullcontext({}))
        cpu0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            with span as root:
                result = op.run()
        except Exception as e:  # a raising op is a failed op, not a crash
            walls[op.name] = time.perf_counter() - t0
            traceback.print_exc(file=sys.stderr)
            failures.append(f"{op.name} raised {type(e).__name__}: {e}")
            break
        walls[op.name] = time.perf_counter() - t0
        cpu[op.name] = tree_cpu_s(os.getpid()) - cpu0
        try:
            err = op.check(result)
        except Exception as e:
            traceback.print_exc(file=sys.stderr)
            err = f"check raised {type(e).__name__}: {e}"
        if err:
            failures.append(f"{op.name}: {err}")
        if op.pipe is not None:
            stages[op.name] = {r["stage"]: r["wall_s"]
                               for r in op.pipe.lineage() if "wall_s" in r}
        if obs:
            metrics[f"op.{op.name}_s"] += walls[op.name]
            for sub, w in op.sub_walls.items():
                metrics[f"dedup.{sub}_s"] += w
            obs.after(op, root, metrics)
    return walls, failures, {"stages": stages, "cpu_s": cpu}


def stamp(args, sizes: dict) -> dict:
    import pyarrow
    import pyspark

    sha = None
    with contextlib.suppress(OSError, subprocess.SubprocessError):
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        sha = out.stdout.strip() or None
    digest = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(ROOT, "gondar_spark", "**",
                                           "*.py"), recursive=True)):
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    return {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "git_sha": sha, "source_sha256": digest.hexdigest(),
            "nproc": os.cpu_count(), "master": f"local[{CORES}]",
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "python": platform.python_version(), "sizes": sizes}


def host_spin_s() -> float:
    """Median of three timings of a fixed pure-Python loop: the host's
    single-core speed in this run's window, for reading the run's walls
    against (shared hosts drift)."""
    def once() -> float:
        t = time.perf_counter()
        n = 0
        for i in range(2_000_000):
            n += i
        return time.perf_counter() - t

    return statistics.median(once() for _ in range(3))


def run_benchmark(workload: str, seed: int, seconds: float, trace: bool,
                  work: str, spark=None, wl=None) -> dict:
    """One benchmark run; returns the result object plus ``detail``.
    ``spark``/``wl`` let the self-test reuse a session and pass tiny
    workload sizes; the command line builds both.

    After setup and the workload's untimed warm-up, the untraced run
    times iterations until ``seconds`` have passed. The traced run makes
    a traced iteration and then an untraced one; the tracing overhead is
    the traced wall minus the untraced one."""
    from perfbench.tracing import PeakRss, Tracer, layer_table
    from perfbench.workloads import WORKLOADS, Ctx

    from gondar_spark.session import build_session

    started = time.perf_counter()
    wl = wl or WORKLOADS[workload]()
    os.makedirs(work, exist_ok=True)
    spin_s = host_spin_s()
    attempted, failures, iters = 0, [], []
    tracer = Tracer() if trace else None
    per_layer = {n: 0.0 for n in per_layer_names()}
    with PeakRss() as rss:
        t0 = time.perf_counter()
        if spark is None:
            spark = build_session(
                app_name=f"perfbench-{workload}", master=f"local[{CORES}]",
                shuffle_partitions=2 * CORES,
                extra_conf={"spark.ui.showConsoleProgress": "false",
                            "spark.local.dir": os.path.join(
                                work, "spark-local")})
            spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        if trace:
            # traced session only: profile every Python UDF worker
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        ctx = Ctx(spark, work, seed)
        # inputs are set up SETUP_ROUNDS times (the session only once: a
        # process launches one JVM); the last round's inputs are used
        rounds = []
        for r in range(SETUP_ROUNDS):
            if ctx.inputs:
                shutil.rmtree(ctx.inputs, ignore_errors=True)
            ctx.inputs = os.path.join(work, f"inputs{r}")
            rounds.append(wl.setup(ctx))
        setup = {k: statistics.median(r[k] for r in rounds)
                 for k in rounds[0]}
        t = time.perf_counter()
        warm = wl.warmup()
        wctx = Ctx(spark, os.path.join(work, "warmup"), seed,
                   inputs=os.path.join(work, "warmup_inputs"))
        warm.setup(wctx)
        warm_ops = warm.iteration(wctx, 0)
        _, f, _ = run_ops(warm_ops, wctx)
        setup["warmup_s"] = time.perf_counter() - t
        attempted += len(warm_ops)
        failures += [f"warm-up {x}" for x in f]
        deadline = time.perf_counter() + seconds
        while True:
            traced = trace and not iters
            ops = wl.iteration(ctx, len(iters))
            if traced:
                ctx.tracer = tracer
                with tracer.instrument():
                    walls, f, info = run_ops(
                        ops, ctx, Observer(spark, work, tracer), per_layer)
                ctx.tracer = None
            else:
                walls, f, info = run_ops(ops, ctx)
            attempted += len(ops)
            failures += f
            iters.append({"walls": walls, "traced": traced,
                          "op_s": sum(walls.values()), **info})
            if failures or (trace and len(iters) == 2) or (
                    not trace and time.perf_counter() >= deadline):
                break
            if trace and (time.perf_counter() - started
                          + iters[0]["op_s"] > TRACE_BUDGET_S):
                _log("no time left for the untraced comparison iteration; "
                     "trace.overhead_s not measured")
                break

    setup_s = session_s + sum(setup.values())
    untraced = [it["op_s"] for it in iters if not it["traced"]]
    e2e = {
        "op_s": statistics.median(untraced or [it["op_s"] for it in iters]),
        "setup_s": setup_s,
    }
    detail = {"setup": {"session_s": session_s, **setup},
              "iterations": iters, "failures": failures,
              "peak_rss_mb": rss.peak_mb, "spin_s": spin_s}
    if trace:
        m = per_layer
        m["session.build_s"] = session_s
        for k, v in setup.items():
            m[f"setup.{k}"] = v
        m["error_rate"] = len(failures) / attempted
        m["mem.peak_rss_mb"] = rss.peak_mb
        m["host.spin_s"] = spin_s
        if iters and iters[0]["traced"]:
            m["spark.busy_ratio"] = m["spark.executor_run_s"] / (
                iters[0]["op_s"] * CORES)
        if len(iters) == 2:
            m["trace.overhead_s"] = iters[0]["op_s"] - iters[1]["op_s"]
        layers = layer_table(tracer.spans)
        for layer, row in layers.items():
            if layer in LAYER_KEYS:
                m[f"self.{LAYER_KEYS[layer]}_s"] = row["self_s"]
        for k in ("pairs_out", "kept_docs"):
            if hasattr(wl, k):
                m[f"dedup.{k}"] = getattr(wl, k)
        detail["layers"] = layers
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "e2e": e2e,
        "per_layer": per_layer if trace else None,
        "detail": detail,
        "tracer": tracer,
        "spark": spark,
    }


def result_line(res: dict, trace: int) -> dict:
    """The object the last stdout line carries."""
    if trace:
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in res["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in res["e2e"].items()}
    return {"correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def print_layer_table(layers: dict) -> None:
    print(f"{'layer':34s} {'spans':>6s} {'total_s':>9s} {'self_s':>9s}")
    for layer, row in sorted(layers.items(), key=lambda kv: -kv[1]["self_s"]):
        print(f"{layer:34s} {row['spans']:6d} {row['total_s']:9.3f} "
              f"{row['self_s']:9.3f}")


def shutdown(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # the program under test is this repository's own source tree
    if not os.path.isfile(os.path.join(ROOT, "gondar_spark", "__init__.py")):
        _log(f"no gondar_spark package under {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every scratch write (Python temp files, Spark local dirs, the
    # JVM's temp dir) inside the repository
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JDK_JAVA_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    import tempfile
    tempfile.tempdir = tmp

    spark = None
    try:
        res = run_benchmark(args.workload, args.seed, args.seconds,
                            bool(args.trace), work)
        spark = res["spark"]
        detail = res["detail"]
        detail["stamp"] = stamp(args, WORKLOADS[args.workload]().sizes())
        for f in detail["failures"]:
            _log(f"FAILED {f}")
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        base = os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                                     f"-trace{args.trace}")
        if args.trace:
            res["tracer"].dump(base + ".spans.jsonl")
            print_layer_table(detail["layers"])
        with open(base + ".json", "w") as f:
            json.dump({k: v for k, v in res.items()
                       if k not in ("spark", "tracer")}, f, indent=1)
        print(json.dumps({"stamp": detail["stamp"], "e2e": res["e2e"]}))
        print(json.dumps(result_line(res, args.trace)))
        return 0
    finally:
        if spark is None:
            with contextlib.suppress(Exception):
                from pyspark.sql import SparkSession
                spark = SparkSession.getActiveSession()
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
