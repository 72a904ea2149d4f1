"""Round-7 optimization harness — NOT the frozen bench.py.

Per-query isolation with the noop sink (guide §1.4), identical session
settings to bench.py's per-query loop, plus instrumentation bench.py
does not carry: per-query Spark JOB counts and cumulative task time via
the UI REST API, and ``.explain("formatted")`` capture for the plan
artifacts in plans/r07/.

Usage:
    python bench_extra.py q1 q2 ...          # time + jobs for named queries
    python bench_extra.py --all              # every bench.py query
    python bench_extra.py --plans OUTDIR SUFFIX q1 q2 ...
                                             # also write OUTDIR/<q>_SUFFIX.txt
    python bench_extra.py --scrub-passes [N_PAGES]
                                             # scrub cost per pass and per
                                             # compiled pattern, no Spark
"""

from __future__ import annotations

import json
import os
import sys
import time

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)
if _REPO not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
    os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
UI_PORT = int(os.environ.get("SPARK_GRAFT_BENCH_UI_PORT", "4067"))


def _session():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("bench-extra")
        .config("spark.sql.shuffle.partitions", str(max(CPUS * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", str(UI_PORT))
        .config("spark.ui.retainedStages", "5000")
        .config("spark.ui.retainedJobs", "5000")
        .getOrCreate()
    )


def _rest(app_id: str, path: str):
    import urllib.request

    url = f"http://localhost:{UI_PORT}/api/v1/applications/{app_id}/{path}"
    return json.load(urllib.request.urlopen(url, timeout=10))


_SCRUB_PASSES = (
    "_process_emails",
    "_process_phones",
    "_process_ssns",
    "_process_credit_cards",
    "_process_context_addresses",
    "_process_special_addresses",
    "_process_names",
    "_process_standard_addresses",
)


def _scrub_layer(docs: list[str], rounds: int) -> dict:
    """µs/doc of each ``Deidentifier.text`` pass as text() calls it, and of
    a whole-text ``.sub`` with every compiled pattern, in this process.
    Each round scrubs ``docs`` with a fresh engine (as each Arrow batch
    gets one); every figure is the median over rounds. The pattern scans
    run only in the first rounds that cover 1000 docs: on long pages the
    unanchored country and city scans take milliseconds per doc."""
    from statistics import median

    from deidentify_spark.oracle import Deidentifier
    from deidentify_spark.oracle import patterns as P

    def timed_engine(ns: dict):
        d = Deidentifier("scrub-passes-key")
        for name in _SCRUB_PASSES:
            def wrap(*a, _f=getattr(d, name), _n=name):
                t0 = time.perf_counter_ns()
                out = _f(*a)
                ns[_n] += time.perf_counter_ns() - t0
                return out

            setattr(d, name, wrap)
        return d

    pattern_rounds = -(-1000 // len(docs))
    per_round: dict[str, list[float]] = {}
    for r in range(rounds):
        ns = dict.fromkeys(_SCRUB_PASSES, 0)
        d = timed_engine(ns)
        t0 = time.perf_counter_ns()
        for t in docs:
            d.text(t)
        ns["text"] = time.perf_counter_ns() - t0
        for name, pat in vars(P).items():
            if name.endswith("_RE") and r < pattern_rounds:
                t0 = time.perf_counter_ns()
                for t in docs:
                    pat.sub(" ", t)
                ns[name] = time.perf_counter_ns() - t0
        for k, v in ns.items():
            per_round.setdefault(k, []).append(v / len(docs) / 1e3)
    us = {k: round(median(v), 2) for k, v in per_round.items()}
    return {
        "docs": len(docs),
        "rounds": rounds,
        "text_us_per_doc": us.pop("text"),
        "passes_us_per_doc": {k.removeprefix("_process_"): us.pop(k) for k in _SCRUB_PASSES},
        "patterns_us_per_doc": us,
    }


def scrub_passes(n_pages: int) -> None:
    """Per-detector layer of the scrub (one process): the reference PII
    corpus paragraphs and ``generate_pages`` page text."""
    from deidentify_spark.functions.quality import QualityConfig
    from deidentify_spark.sources.pages import make_doc

    with open(os.path.join(_REPO, "fixtures", "pii_corpus.json")) as f:
        paragraphs = json.load(f)["paragraphs"]
    cfg = QualityConfig()
    # make_doc is generate_pages' per-row function; seed 42 is its default
    pages = [make_doc(42, i, cfg, False)["text"] for i in range(n_pages)]
    out = {
        "pii_corpus_paragraphs": _scrub_layer(paragraphs, rounds=200),
        "generate_pages": _scrub_layer(pages, rounds=3),
    }
    print(json.dumps(out, indent=1))


def main() -> None:
    if sys.argv[1:2] == ["--scrub-passes"]:
        scrub_passes(int(sys.argv[2]) if len(sys.argv) > 2 else 1000)
        return
    import bench as bench_mod
    import __spark_entry__ as entry_mod

    args = sys.argv[1:]
    plans_dir = suffix = None
    if args and args[0] == "--plans":
        plans_dir, suffix, args = args[1], args[2], args[3:]
        os.makedirs(plans_dir, exist_ok=True)
    names = bench_mod.BENCH_QUERIES if args == ["--all"] else args

    queries = entry_mod.queries()
    spark = _session()
    app_id = spark.sparkContext.applicationId
    from deidentify_spark.runtime import release_tracked

    out: dict[str, dict] = {}
    for name in names:
        fn = queries[name]
        best = float("inf")
        for run in range(2):
            spark.catalog.clearCache()
            release_tracked()
            jobs_before = len(_rest(app_id, "jobs"))
            t0 = time.time()
            df = fn(spark, SF_DIR)
            df.write.mode("overwrite").format("noop").save()
            dt = time.time() - t0
            best = min(best, dt)
            if run == 1:
                n_jobs = len(_rest(app_id, "jobs")) - jobs_before
        if plans_dir:
            spark.catalog.clearCache()
            release_tracked()
            pdf = fn(spark, SF_DIR)
            txt = pdf._sc._jvm.PythonSQLUtils.explainString(
                pdf._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plans_dir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(txt)
        out[name] = {"sec": round(best, 3), "jobs_run2": n_jobs}
        print(json.dumps({name: out[name]}), flush=True)
    spark.stop()
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
