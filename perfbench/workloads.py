"""The workloads: what each sets up, times, checks and traces.

A workload runs one or more operation kinds per pass. ``run_op`` is the
timed region; everything else (input generation, warm-up, checks) runs
outside it.
"""

from __future__ import annotations

import hashlib
import json
import statistics
import time
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, gen, layers

SECRET_KEY = "perfbench-key"
HERE = Path(__file__).resolve().parent
DEFAULT_SEED = 0


def load_expected() -> dict:
    with open(HERE / "expected.json") as f:
        return json.load(f)


def write_parquet(df, path: Path, files: int) -> None:
    """Write a pandas frame as ``files`` parquet files under the new
    directory ``path``."""
    table = pa.Table.from_pandas(df, preserve_index=False)
    path.mkdir(parents=True)
    step = -(-len(df) // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:03d}.parquet")


class Workload:
    name = ""
    kinds: list[str] = []
    # input set-ups per run; setup_s takes their median
    setup_repeats = 3

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.expected = load_expected().get(self.name, {})

    def setup(self) -> None:
        """Generate and write the inputs (may be called several times;
        the last call's inputs are used)."""

    def warm_up(self) -> None:
        """Untimed runs until JIT, codegen and Python workers are warm."""

    def run_op(self, kind: str) -> None:
        raise NotImplementedError

    def quick_check(self, kind: str) -> bool:
        return True

    def final_check(self) -> dict[str, list[str]]:
        """Failures by operation kind ('*' = every kind)."""
        return {}

    def n_items(self) -> int:
        raise NotImplementedError

    def layer_metrics(self, rest_ops: dict, rest) -> dict[str, float]:
        return {}


# --- pipeline_job ---------------------------------------------------------------


class PipelineJob(Workload):
    """``pipeline.checkpoint.run_checkpointed`` from a pages parquet into
    a fresh output directory, the job ``jobs/run_pipeline_job.py`` runs."""

    name = "pipeline_job"
    kinds = ["job"]
    N_DOCS = 20000
    setup_repeats = 1
    # Smaller than the job's CLI defaults (8 waves, 64 buckets): at 3k
    # docs the defaults spent ~25 s per job on per-bucket write overhead,
    # which does not fit the run budget. Two waves still exercise the
    # resume manifest across waves.
    N_WAVES = 2
    N_BUCKETS = 16
    SAMPLE = 64
    # docs (in input order) timed one at a time in a single process, and
    # split over nproc bare processes for the ceiling
    LAYER_DOCS = 4000
    CEILING_DOCS = 8000

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        from deidentify_spark.pipeline.stages import PipelineConfig

        self.cfg = PipelineConfig(secret_key=SECRET_KEY, n_buckets=self.N_BUCKETS)
        self.last_out: Path | None = None

    def setup(self) -> None:
        from deidentify_spark.sources.pages import LABEL_COLUMNS, PAGE_COLUMNS, generate_pages

        self.path = self.ctx.fresh("pages")
        cols = list(dict.fromkeys(PAGE_COLUMNS + LABEL_COLUMNS))
        # one partition per core, generate_pages' default, as the job's
        # --synthesize input has
        generate_pages(
            self.ctx.spark, self.N_DOCS, seed=self.ctx.seed, include_html=False
        ).select(*cols).write.parquet(str(self.path))
        self.labels = pq.read_table(
            self.path, columns=["url", "text", "expected_drop_reason", "pii_values"]
        ).to_pandas()
        self.pages = self.ctx.spark.read.parquet(str(self.path)).select(*PAGE_COLUMNS)

    def _job(self) -> Path:
        from deidentify_spark.pipeline.checkpoint import run_checkpointed

        out = self.ctx.fresh("job")
        run_checkpointed(self.pages, str(out), self.cfg, n_waves=self.N_WAVES)
        return out

    def warm_up(self) -> None:
        # a whole job: after a half-size one the first timed job ran
        # ~20% slower than the two after it
        self._job()

    def run_op(self, kind: str) -> None:
        self.last_out = self._job()

    def quick_check(self, kind: str) -> bool:
        from deidentify_spark.pipeline.checkpoint import read_manifest

        done = read_manifest(str(self.last_out))["done_buckets"]
        return done == list(range(self.N_BUCKETS))

    def output_frame(self, out: Path):
        return (
            self.ctx.spark.read.parquet(str(out / "scrubbed"))
            .select(*checks.PIPELINE_DIGEST_COLUMNS)
            .toPandas()
        )

    def final_check(self) -> dict[str, list[str]]:
        out = self.output_frame(self.last_out)
        self.observed = {"digest": checks.digest(checks.frame_rows(out))}
        self.observed["agreement"] = checks.pipeline_agreement(self.labels, out)
        sample = self.labels.assign(
            _h=self.labels["url"].map(lambda u: hashlib.sha1(u.encode()).hexdigest())
        ).sort_values("_h").head(self.SAMPLE)
        rows, _ = layers.pipeline_staged(sample["text"].tolist(), self.cfg)
        recomputed = pd.DataFrame(
            rows, columns=["drop_reason", "keep", "scrubbed_text", "pii_hits"]
        ).assign(url=sample["url"].tolist())
        default = self.ctx.seed == DEFAULT_SEED
        fails = checks.check_pipeline(
            self.labels,
            out,
            recomputed,
            min_agreement=self.expected["min_agreement"],
            expected_agreement=self.expected["agreement"] if default else None,
            expected_digest=self.expected["digest"] if default else None,
        )
        return {"*": fails} if fails else {}

    def n_items(self) -> int:
        return self.N_DOCS

    def layer_metrics(self, rest_ops: dict, rest) -> dict[str, float]:
        from deidentify_spark.pipeline.lineage import lineage_metrics
        from deidentify_spark.pipeline.stages import run_pipeline

        spark = self.ctx.spark
        m: dict[str, float] = {}
        with self.ctx.tracer.span("pipeline.stages.run_pipeline"):
            t0 = time.perf_counter()
            run_pipeline(self.pages, self.cfg).write.mode("overwrite").format("noop").save()
            compute_s = time.perf_counter() - t0
        with self.ctx.tracer.span("pipeline.lineage.lineage_metrics"):
            t0 = time.perf_counter()
            scrubbed = spark.read.parquet(str(self.last_out / "scrubbed"))
            lineage_metrics(scrubbed).write.mode("overwrite").format("noop").save()
            m["pipeline.lineage_s"] = time.perf_counter() - t0
        ckpt_s = statistics.median(rest_ops["job"]["wall"])
        m["pipeline.compute_s"] = compute_s
        m["pipeline.checkpoint_s"] = ckpt_s
        m["pipeline.write_share"] = max(0.0, 1 - compute_s / ckpt_s)

        texts = self.labels["text"].tolist()
        with self.ctx.tracer.span("functions+oracle single process"):
            _, st = layers.pipeline_staged(texts[: self.LAYER_DOCS], self.cfg, timed=True)
        m.update(_function_metrics(st))
        m.update(_scrub_metrics(st))
        with self.ctx.tracer.span("ceiling.multiprocessing"):
            ceil = layers.ceiling_items_per_s(
                "pipeline", texts[: self.CEILING_DOCS], self.ctx.nproc, self.cfg
            )
        m["ceiling.docs_per_s"] = ceil
        m["spark_vs_ceiling"] = (self.N_DOCS / compute_s) / ceil
        return m


def _function_metrics(st: dict) -> dict[str, float]:
    ns, gi, go = st["ns"], st["gate_in"], st["gate_out"]
    m = {}
    for layer, gate in (
        ("langid", "langid"),
        ("quality", "quality_pre"),
        ("ngram", "ngram"),
        ("perplexity", "perplexity"),
    ):
        m[f"functions.{layer}.us_per_doc"] = ns.get(layer, 0) / 1e3 / max(gi[gate], 1)
    for gate in layers.GATES:
        m[f"gate.{gate}.docs_in"] = float(gi[gate])
        m[f"gate.{gate}.docs_out"] = float(go[gate])
    return m


def _scrub_metrics(st: dict) -> dict[str, float]:
    samples = sorted(st["scrub_ns"]) or [0]
    m = {
        "oracle.scrub.us_per_doc": sum(samples) / 1e3 / len(samples),
        "oracle.scrub.p99_ms": samples[min(len(samples) - 1, int(0.99 * len(samples)))] / 1e6,
        "oracle.scrub.max_ms": samples[-1] / 1e6,
    }
    for t in layers.PII_TYPES:
        m[f"oracle.scrub.hits.{t}"] = float(st["hits"].get(t, 0))
    return m


# --- deid_table -------------------------------------------------------------------


class DeidTable(Workload):
    """Typed PII columns through ``operators.tabular.deidentify_table``
    and free-text notes through ``functions.scrub.scrub_text_udf``,
    written to parquet. One table of fresh values and one whose cells all
    repeat bracket what the per-batch memo cache saves."""

    name = "deid_table"
    kinds = list(gen.REPEAT_SHARE)
    N_ROWS = 8000  # per table
    # rows per table timed one call at a time in a single process, and
    # split over nproc bare processes for the ceiling
    LAYER_ROWS = 2000

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.last_out: dict[str, Path] = {}

    def setup(self) -> None:
        self.records, self.paths = {}, {}
        for kind, share in gen.REPEAT_SHARE.items():
            self.records[kind] = gen.deid_records(self.ctx.seed, self.N_ROWS, share)
            self.paths[kind] = self.ctx.fresh(f"records-{kind}")
            write_parquet(self.records[kind], self.paths[kind], files=2 * self.ctx.nproc)

    def _table(self, kind: str, warm: bool = False):
        from deidentify_spark.operators.tabular import deidentify_table

        parts = sorted(str(f) for f in self.paths[kind].glob("part-*.parquet"))
        if warm:  # half the files: one task per core, at half the cost
            parts = parts[: max(1, len(parts) // 2)]
        df = self.ctx.spark.read.parquet(*parts)
        return deidentify_table(df, SECRET_KEY, column_types=gen.TYPED_COLUMNS)

    def _write(self, kind: str, warm: bool = False) -> Path:
        from pyspark.sql import functions as F

        from deidentify_spark.functions.scrub import scrub_text_udf

        out = self.ctx.fresh(f"deid-{kind}")
        self._table(kind, warm).withColumn(
            "notes", scrub_text_udf(SECRET_KEY)(F.col("notes"))
        ).write.parquet(str(out))
        return out

    def warm_up(self) -> None:
        # both kinds run the same plan and Python code
        self._write(self.kinds[0], warm=True)

    def run_op(self, kind: str) -> None:
        self.last_out[kind] = self._write(kind)

    def quick_check(self, kind: str) -> bool:
        return pq.ParquetDataset(self.last_out[kind]).read(columns=["id"]).num_rows == self.N_ROWS

    def final_check(self) -> dict[str, list[str]]:
        from deidentify_spark.oracle import Deidentifier

        _, absent = gen.corpus()
        exempt = Deidentifier(SECRET_KEY).is_address_context
        default = self.ctx.seed == DEFAULT_SEED
        self.observed, fails = {}, {}
        for kind in self.kinds:
            out = pq.read_table(self.last_out[kind]).to_pandas()
            exp = self.expected[kind]
            msgs, exempted = checks.check_deid(
                self.records[kind],
                out,
                list(gen.TYPED_COLUMNS),
                absent,
                exempt,
                exp["digest"] if default else None,
                exp["exempt_names"] if default else None,
            )
            self.observed[kind] = {
                "digest": checks.digest(checks.frame_rows(out)),
                "exempt_names": exempted,
            }
            print(
                f"# {self.name}/{kind}: {exempted} of {self.N_ROWS} notes keep their "
                "subject's name (the reference's address-context rule exempts it)",
                flush=True,
            )
            if msgs:
                fails[kind] = msgs
        return fails

    def n_items(self) -> int:
        return self.N_ROWS * len(self.kinds)

    def layer_metrics(self, rest_ops: dict, rest) -> dict[str, float]:
        from perfbench.spark_rest import summarize

        typed = gen.TYPED_COLUMNS
        sample = pd.concat([r.head(self.LAYER_ROWS) for r in self.records.values()])
        with self.ctx.tracer.span("oracle single process"):
            st = layers.deid_staged(sample, typed, SECRET_KEY, timed=True)
        m = _scrub_metrics(st)
        m["oracle.value.us_per_cell"] = st["ns"].get("value", 0) / 1e3 / (len(sample) * len(typed))

        # the typed-column operator on its own, noop sink
        tab = dict.fromkeys(("wall_s", "task_cpu_s", "python_run_s"), 0.0)
        for kind in self.kinds:
            marks = rest.marks()
            with self.ctx.tracer.span(f"operators.tabular.deidentify_table.{kind}"):
                t0 = time.perf_counter()
                self._table(kind).write.mode("overwrite").format("noop").save()
                tab["wall_s"] += time.perf_counter() - t0
            s = summarize(rest.since(marks))
            tab["task_cpu_s"] += s["spark.jvm_cpu_s"]
            tab["python_run_s"] += s["spark.python.run_s"]
        m.update({f"operators.tabular.{k}": v for k, v in tab.items()})

        with self.ctx.tracer.span("ceiling.multiprocessing"):
            ceil = layers.ceiling_items_per_s(
                "deid", sample.reset_index(drop=True), self.ctx.nproc, (typed, SECRET_KEY)
            )
        m["ceiling.docs_per_s"] = ceil
        wall = sum(statistics.median(o["wall"]) for o in rest_ops.values())
        m["spark_vs_ceiling"] = (self.n_items() / wall) / ceil
        return m


WORKLOADS = {w.name: w for w in (PipelineJob, DeidTable)}
