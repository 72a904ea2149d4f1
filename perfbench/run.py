"""Benchmark for deidentify_spark: two real uses, end to end and by layer.

Usage (from the repository root):

    python3 perfbench/run.py --workload pipeline_job --seed 0 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 0 --seconds 8 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

* ``pipeline_job`` - the checkpointed quality-filter + scrub job;
* ``deid_table``   - typed-column and free-text table de-identification.

Every run starts one local Spark session at ``local[nproc]``, sets up
its inputs from ``--seed``, warms up, then repeats the workload's
operations until ``--seconds`` have passed (at least three passes), checks
the outputs and prints one JSON object as the last line of stdout. With
``--trace 0`` the metrics are the end-to-end ones and the Spark UI is
off; with ``--trace 1`` the UI is on from the start, and after the
timed passes the run repeats the operations for one pass with spans
and Spark's REST metrics, calls each Python layer in a single process
and in a bare multiprocessing pool, and prints the per-layer metrics
instead. The traced run writes its spans and the per-layer table under
``.perfbench/``.

All files the run writes stay under ``.perfbench/`` in the checkout;
the per-run scratch directory is removed at exit. Exit code 2 means the
program sources were not found next to this directory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager, nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

END_TO_END = {
    "wall_s": "s",
    "items_per_s": "items/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
MIN_PASSES = 3
# one traced pass: a traced pipeline_job run then takes about 100 s on
# a 4-core box
TRACED_PASSES = 1

# Which end-to-end metric each per-layer family should move.
FEEDS = [
    ("functions.", "items_per_s and cpu_s on pipeline_job"),
    ("gate.", "items_per_s on pipeline_job (counts repeat exactly)"),
    ("oracle.", "items_per_s on deid_table and pipeline_job"),
    ("spark.python.", "items_per_s on pipeline_job and deid_table"),
    ("spark.", "wall_s on every workload"),
    ("pipeline.", "wall_s on pipeline_job"),
    ("operators.", "items_per_s and wall_s on deid_table"),
    ("ceiling.", "items_per_s: the Spark-vs-bare gap"),
    ("spark_vs_ceiling", "items_per_s: the Spark-vs-bare gap"),
    ("trace.", "quality of the trace itself"),
]


def per_layer_names() -> list[str]:
    from perfbench.layers import GATES, PII_TYPES

    names = [f"functions.{f}.us_per_doc" for f in ("langid", "quality", "ngram", "perplexity")]
    names += [f"gate.{g}.{d}" for g in GATES for d in ("docs_in", "docs_out")]
    names += ["oracle.scrub.us_per_doc", "oracle.scrub.p99_ms", "oracle.scrub.max_ms"]
    names += [f"oracle.scrub.hits.{t}" for t in PII_TYPES]
    names += ["oracle.value.us_per_cell"]
    names += [f"spark.python.{k}" for k in ("run_s", "init_s", "start_s", "bytes_sent", "bytes_returned")]
    names += [
        "spark.jobs", "spark.tasks", "spark.task_p50_s", "spark.task_max_s",
        "spark.jvm_cpu_s", "spark.gc_s", "spark.shuffle_write_bytes", "spark.output_bytes",
    ]
    names += ["pipeline.compute_s", "pipeline.checkpoint_s", "pipeline.write_share", "pipeline.lineage_s"]
    names += [f"operators.tabular.{k}" for k in ("wall_s", "task_cpu_s", "python_run_s")]
    names += ["ceiling.docs_per_s", "spark_vs_ceiling", "trace.accounted_frac", "trace.overhead_frac"]
    return names


def feeds(name: str) -> str:
    return next(f for prefix, f in FEEDS if name.startswith(prefix))


class Tracer:
    """In-memory spans (name, start, end, parent) in epoch seconds."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = self.add(name, time.time(), None, self._stack[-1] if self._stack else None)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def add(self, name: str, start: float, end: float | None, parent: int | None) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "start": start, "end": end, "parent": parent})
        return len(self.spans) - 1

    def self_time(self, sid: int) -> float:
        """Duration minus the part of it covered by child spans."""
        s = self.spans[sid]
        kids = sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in self.spans
            if c["parent"] == sid
        )
        covered, cur = 0.0, s["start"]
        for a, b in kids:
            a = max(a, cur)
            if b > a:
                covered += b - a
                cur = b
        return (s["end"] - s["start"]) - covered


class Context:
    def __init__(self, workload: str, seed: int, run_dir: Path) -> None:
        self.workload = workload
        self.seed = seed
        self.run_dir = run_dir
        self.nproc = os.cpu_count() or 1
        self.master = f"local[{self.nproc}]"
        self.tracer = Tracer()
        self.spark = None
        self._n = 0

    def fresh(self, stem: str) -> Path:
        """A new path under the run directory (not created)."""
        self._n += 1
        return self.run_dir / f"{stem}-{self._n:04d}"

    def start_spark(self, ui_port: int | None = None) -> None:
        from pyspark.sql import SparkSession

        tmp = self.run_dir / "tmp"
        tmp.mkdir(exist_ok=True)
        b = (
            SparkSession.builder.master(self.master)
            .appName(f"perfbench-{self.workload}")
            .config("spark.sql.shuffle.partitions", str(max(2 * self.nproc, 8)))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.local.dir", str(self.run_dir / "spark-local"))
            .config("spark.sql.warehouse.dir", str(self.run_dir / "warehouse"))
            .config(
                "spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
            )
            .config("spark.ui.showConsoleProgress", "false")
        )
        if ui_port is None:
            b = b.config("spark.ui.enabled", "false")
        else:
            b = (
                b.config("spark.ui.enabled", "true")
                .config("spark.ui.port", str(ui_port))
                .config("spark.ui.retainedJobs", "100000")
                .config("spark.ui.retainedStages", "100000")
                .config("spark.ui.retainedTasks", "10000000")
                .config("spark.sql.ui.retainedExecutions", "100000")
            )
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_spark(self) -> None:
        """Stop the session, end the gateway JVM and wait for it and
        every other child process to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception:  # gateway already gone
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the JVM exits on EOF of its stdin
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)
        reap_children()


def reap_children(timeout_s: float = 5.0) -> None:
    """Terminate and wait for every remaining descendant process. Those
    still there after ``timeout_s`` are killed: multiprocessing's
    resource tracker, left by the ceiling's pool, ignores SIGTERM."""
    from perfbench.procs import tree_pids

    me = os.getpid()
    deadline = time.time() + timeout_s
    sig = signal.SIGTERM
    while True:
        kids = [p for p in tree_pids(me) if p != me]
        if not kids:
            return
        for p in kids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        for p in kids:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        if time.time() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.2)


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def source_digest() -> str:
    h = hashlib.sha256()
    files = sorted((ROOT / "deidentify_spark").rglob("*.py")) + [ROOT / "__spark_entry__.py"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def tags(ctx: Context, seconds: int, trace: int) -> dict:
    import platform

    import pyarrow
    import pyspark
    import regex

    commit = "none (not a git checkout)"
    head = ROOT / ".git" / "HEAD"
    if head.is_file():
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            ref_file = ROOT / ".git" / ref[5:]
            commit = ref_file.read_text().strip() if ref_file.is_file() else ref
        else:
            commit = ref
    return {
        "workload": ctx.workload,
        "seed": ctx.seed,
        "seconds": seconds,
        "trace": trace,
        "nproc": ctx.nproc,
        "master": ctx.master,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "regex": regex.__version__,
        "git_commit": commit,
        "source_sha256": source_digest(),
    }


def timed_loop(ctx: Context, wl, seconds: float, min_passes: int, rest=None) -> dict:
    """Repeat every operation kind until ``seconds`` have passed and at
    least ``min_passes`` passes ran. With ``rest`` each operation gets a
    span and its Spark jobs/stages/SQL metrics."""
    from perfbench.procs import RssSampler, cpu_steal_s, tree_usage

    from perfbench.spark_rest import job_spans, summarize

    me = os.getpid()
    ops = {k: {"wall": [], "spark": [], "ok": 0, "failed": 0} for k in wl.kinds}
    pass_cpu: list[float] = []
    pass_rss: list[int] = []
    pass_spark: list[dict] = []
    t_start = time.perf_counter()
    steal0 = cpu_steal_s()
    with RssSampler(me) as rss:
        while True:
            cpu = 0.0
            spark_pass: dict[str, float] = {}
            for kind in wl.kinds:
                marks = rest.marks() if rest else None
                c0 = tree_usage(me)[0]
                with ctx.tracer.span(f"op.{kind}") if rest else nullcontext() as sid:
                    t0 = time.perf_counter()
                    ok = True
                    try:
                        wl.run_op(kind)
                    except Exception:
                        traceback.print_exc()
                        ok = False
                    dt = time.perf_counter() - t0
                cpu += tree_usage(me)[0] - c0
                ok = ok and wl.quick_check(kind)
                ops[kind]["ok" if ok else "failed"] += 1
                if ok:
                    ops[kind]["wall"].append(dt)
                if rest:
                    snap = rest.since(marks)
                    for name, a, b in job_spans(snap):
                        ctx.tracer.add(name, a, b, sid)
                    s = summarize(snap)
                    ops[kind]["spark"].append(s)
                    for k, v in s.items():
                        spark_pass[k] = spark_pass.get(k, 0.0) + v
            pass_cpu.append(cpu)
            pass_rss.append(rss.take_peak())
            pass_spark.append(spark_pass)
            if len(pass_cpu) >= min_passes and time.perf_counter() - t_start >= seconds:
                break
    return {
        "ops": ops,
        "pass_cpu": pass_cpu,
        "pass_spark": pass_spark,
        "pass_rss": pass_rss,
        "peak_rss_by_pid": rss.peak_rss_by_pid,
        "steal_s": cpu_steal_s() - steal0,
        "loop_s": time.perf_counter() - t_start,
    }


def end_to_end(wl, loop: dict, setup_s: float) -> dict[str, float]:
    meds = {k: statistics.median(o["wall"]) for k, o in loop["ops"].items() if o["wall"]}
    if len(meds) < len(wl.kinds):
        return {}
    return {
        "wall_s": geomean(list(meds.values())),
        "items_per_s": wl.n_items() / sum(meds.values()),
        "cpu_s": statistics.median(loop["pass_cpu"]),
        "peak_rss_mb": statistics.median(loop["pass_rss"]) / 2**20,
        "setup_s": setup_s,
    }


def run(ctx: Context, seconds: int, trace: int) -> dict:
    from perfbench.workloads import WORKLOADS

    t0 = time.perf_counter()
    # the traced run keeps the UI (and its REST API) on from the start,
    # so its untraced and traced passes share one warm session
    port = free_port() if trace else None
    ctx.start_spark(ui_port=port)
    session_s = time.perf_counter() - t0
    wl = WORKLOADS[ctx.workload](ctx)
    input_s = []
    for _ in range(wl.setup_repeats):
        t0 = time.perf_counter()
        wl.setup()
        input_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warm_up()
    warm_s = time.perf_counter() - t0
    setup_s = session_s + statistics.median(input_s) + warm_s
    print(
        f"# setup: session {session_s:.2f} s, inputs {[round(x, 2) for x in input_s]} s, "
        f"warm-up {warm_s:.2f} s",
        flush=True,
    )

    loop = timed_loop(ctx, wl, seconds, MIN_PASSES)
    t0 = time.perf_counter()
    fails = wl.final_check()
    print(f"# checks: {time.perf_counter() - t0:.2f} s", flush=True)
    ops = loop["ops"]
    attempted = sum(o["ok"] + o["failed"] for o in ops.values())
    failed = sum(
        o["ok"] + o["failed"] if ("*" in fails or k in fails) else o["failed"]
        for k, o in ops.items()
    )
    for k, msgs in fails.items():
        for msg in msgs:
            print(f"# CHECK FAILED [{ctx.workload}/{k}]: {msg}", flush=True)
    e2e = end_to_end(wl, loop, setup_s)
    result = {
        "correct": failed == 0 and bool(e2e),
        "attempted": attempted,
        "failed": failed,
        "end_to_end": e2e,
        "walls": {k: o["wall"] for k, o in ops.items()},
        "pass_rss_mb": [x / 2**20 for x in loop["pass_rss"]],
        "peak_rss_by_pid": loop["peak_rss_by_pid"],
        "steal_s": loop["steal_s"],
        "loop_s": loop["loop_s"],
        "observed": getattr(wl, "observed", None),
    }
    if not trace:
        return result

    # Traced passes: same operations, with spans and REST metrics.
    from perfbench.spark_rest import SparkRest

    rest = SparkRest(ctx.spark, port)
    traced = timed_loop(ctx, wl, 0, TRACED_PASSES, rest=rest)
    for o in traced["ops"].values():
        result["attempted"] += o["ok"] + o["failed"]
        result["failed"] += o["failed"]
    result["correct"] = result["correct"] and result["failed"] == 0
    with ctx.tracer.span("layers"):
        layer = wl.layer_metrics(traced["ops"], rest)
    t_e2e = end_to_end(wl, traced, setup_s)
    metrics = dict.fromkeys(per_layer_names(), 0.0)
    spark_keys = [k for k in traced["pass_spark"][0] if k.startswith("spark.")]
    for k in spark_keys:
        metrics[k] = statistics.median(p[k] for p in traced["pass_spark"])
    metrics.update(layer)
    op_ids = [s["id"] for s in ctx.tracer.spans if s["name"].startswith("op.")]
    op_wall = sum(ctx.tracer.spans[i]["end"] - ctx.tracer.spans[i]["start"] for i in op_ids)
    metrics["trace.accounted_frac"] = 1 - sum(ctx.tracer.self_time(i) for i in op_ids) / op_wall
    metrics["trace.overhead_frac"] = t_e2e["wall_s"] / e2e["wall_s"] - 1 if e2e and t_e2e else 0.0
    unknown = set(metrics) - set(per_layer_names())
    if unknown:
        raise RuntimeError(f"unlisted per-layer metrics: {sorted(unknown)}")
    result["per_layer"] = metrics
    result["per_layer_table"] = [
        {"name": n, "value": v, "unit": unit_of(n), "feeds": feeds(n)} for n, v in metrics.items()
    ]
    result["traced_end_to_end"] = t_e2e
    result["spans"] = ctx.tracer.spans
    return result


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument(
        "--workload",
        required=True,
        choices=["pipeline_job", "deid_table", "all"],
        help="'all' runs every workload BENCHMARK.json lists, one process each",
    )
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=int, default=8)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    if not (ROOT / "deidentify_spark" / "__init__.py").is_file() or not (
        ROOT / "__spark_entry__.py"
    ).is_file():
        print(f"perfbench: program sources not found under {ROOT}", file=sys.stderr)
        return 2

    if args.workload == "all":
        return run_all(args)

    out_dir = ROOT / ".perfbench"
    run_dir = out_dir / f"run-{args.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    # Keep every file the run, the JVM and the Python workers write
    # inside the checkout.
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    tempfile.tempdir = str(run_dir / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (str(ROOT), os.environ.get("PYTHONPATH", "")) if x
    )
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"
    # spark-submit first runs a small launcher JVM; keep its files here too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}"

    ctx = Context(args.workload, args.seed, run_dir)
    try:
        result = run(ctx, args.seconds, args.trace)
    finally:
        ctx.stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)

    result["tags"] = tags(ctx, args.seconds, args.trace)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(out_dir / f"{stem}.json", "w") as f:
        json.dump(result, f, indent=1, default=str)

    print("# tags " + json.dumps(result["tags"]))
    if args.trace:
        names = per_layer_names()
        print(f"# per-layer table ({args.workload}); spans in .perfbench/{stem}.json")
        for n in names:
            print(f"#   {n:<58} {result['per_layer'][n]:>14.6g}   feeds {feeds(n)}")
        metrics = {n: {"value": result["per_layer"][n], "unit": unit_of(n)} for n in names}
    else:
        for n, u in END_TO_END.items():
            v = result["end_to_end"].get(n)
            print(f"# {args.workload:<17} {n:<12} {v if v is not None else 'n/a':>12} {u}")
        print(f"# {args.workload:<17} failed_frac  {result['failed'] / max(result['attempted'], 1):>12} ratio")
        metrics = {n: {"value": v, "unit": END_TO_END[n]} for n, v in result["end_to_end"].items()}
    if not result["end_to_end"]:
        print("perfbench: no operation succeeded", file=sys.stderr)
        return 1
    print(
        json.dumps(
            {
                "correct": result["correct"],
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


def run_all(args) -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    rc = 0
    for w in bench["workloads"]:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", w["name"],
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        rc = max(rc, subprocess.run(cmd).returncode)
    return rc


def unit_of(name: str) -> str:
    if name.endswith("docs_per_s"):
        return "items/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("us_per_doc") or name.endswith("us_per_cell"):
        return "us"
    if name.endswith("bytes") or name.endswith("bytes_sent") or name.endswith("bytes_returned"):
        return "B"
    if name.endswith("_frac") or name.endswith("_share") or name == "spark_vs_ceiling":
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
