"""Self-tests for the benchmark (no Spark session needed).

    python -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

from perfbench import checks, gen, layers
from perfbench.run import END_TO_END, Tracer, per_layer_names
from perfbench.spark_rest import parse_metric

ROOT = Path(__file__).resolve().parent.parent


# --- pipeline_job checks ------------------------------------------------------


@pytest.fixture(scope="module")
def pipeline_case():
    """A real pipeline output for 150 generated pages, computed in-process
    with the same per-doc calls the fused stage makes."""
    from deidentify_spark.functions.quality import QualityConfig
    from deidentify_spark.pipeline.stages import PipelineConfig
    from deidentify_spark.sources.pages import make_doc

    docs = [make_doc(3, i, QualityConfig(), include_html=False) for i in range(150)]
    labels = pd.DataFrame(docs)[["url", "text", "expected_drop_reason", "pii_values"]]
    cfg = PipelineConfig(secret_key="k")
    rows, _ = layers.pipeline_staged(labels["text"].tolist(), cfg)
    out = pd.DataFrame(rows, columns=["drop_reason", "keep", "scrubbed_text", "pii_hits"])
    out.insert(0, "url", labels["url"])
    return labels, out


def _check(labels, out, good):
    agreement = checks.pipeline_agreement(labels, good)
    return checks.check_pipeline(
        labels,
        out,
        good.head(40),
        min_agreement=agreement - 0.05,
        expected_agreement=agreement,
        expected_digest=checks.digest(checks.frame_rows(good)),
    )


def test_pipeline_check_accepts_good_output(pipeline_case):
    labels, out = pipeline_case
    assert labels["pii_values"].map(len).sum() > 0  # the case has PII to leak
    assert _check(labels, out, out) == []


def test_pipeline_check_rejects_pii_put_back(pipeline_case):
    labels, good = pipeline_case
    out = good.copy()
    i = next(
        i for i in range(len(out))
        if out.at[i, "keep"] and len(labels.at[i, "pii_values"])
    )
    out.at[i, "scrubbed_text"] += " " + labels.at[i, "pii_values"][0]
    assert any("survive" in f for f in _check(labels, out, good))


def test_pipeline_check_rejects_flipped_drop_reason(pipeline_case):
    labels, good = pipeline_case
    out = good.copy()
    i = int(out.index[out["drop_reason"].notna()][0])
    out.at[i, "drop_reason"] = "too_few_words" if out.at[i, "drop_reason"] != "too_few_words" else "lorem_ipsum"
    fails = _check(labels, out, good)
    assert any("agreement" in f for f in fails)
    assert any("digest" in f for f in fails)


def test_pipeline_check_rejects_missing_row(pipeline_case):
    labels, good = pipeline_case
    assert any("rows out" in f for f in _check(labels, good.iloc[1:], good))


# --- deid_table checks ----------------------------------------------------------


@pytest.fixture(scope="module")
def deid_case():
    from deidentify_spark.oracle import Deidentifier

    src = gen.deid_records(5, 300, gen.REPEAT_SHARE["repeated"])
    d = Deidentifier("k")
    out = src.copy()
    for col, kind in gen.TYPED_COLUMNS.items():
        out[col] = [d.deidentify_value(v, kind, col) for v in src[col]]
    out["notes"] = [d.text(t) for t in src["notes"]]
    return src, out, d.is_address_context


def _deid(src, out, good, exempt):
    _, absent = gen.corpus()
    expected_exempt = checks.check_deid(src, good, list(gen.TYPED_COLUMNS), absent, exempt, None, None)[1]
    return checks.check_deid(
        src, out, list(gen.TYPED_COLUMNS), absent, exempt,
        checks.digest(checks.frame_rows(good)), expected_exempt,
    )[0]


def test_deid_check_accepts_good_output(deid_case):
    src, out, exempt = deid_case
    assert _deid(src, out, out, exempt) == []


def test_deid_check_rejects_original_put_back(deid_case):
    src, good, exempt = deid_case
    out = good.copy()
    out.at[7, "email"] = src.at[7, "email"]
    assert any("original email" in f for f in _deid(src, out, good, exempt))
    for col in gen.TYPED_COLUMNS:
        i = next(i for i in range(len(src)) if src.at[i, col] in src.at[i, "notes"]
                 and not (col == "name" and exempt(src.at[i, col])))
        out = good.copy()
        out.at[i, "notes"] += " " + src.at[i, col]
        assert any(f"{col} values survive in scrubbed notes" in f for f in _deid(src, out, good, exempt))
    out = good.copy()
    out.at[3, "notes"] += " " + gen.corpus()[1][0]
    assert any("must-be-absent" in f for f in _deid(src, out, good, exempt))


def test_deid_check_counts_exempt_names(deid_case):
    src, good, exempt = deid_case
    _, absent = gen.corpus()
    args = (src, good, list(gen.TYPED_COLUMNS), absent)
    fails, n = checks.check_deid(*args, exempt, None, None)
    assert fails == [] and n > 0  # the case has names the rule exempts
    assert any("name values survive" in f for f in checks.check_deid(*args, lambda _: False, None, None)[0])
    assert any("exempt name" in f for f in checks.check_deid(*args, exempt, None, n + 1)[0])


def test_deid_check_rejects_unequal_replacements(deid_case):
    src, good, exempt = deid_case
    dup = src["phone"].duplicated(keep=False)
    i = int(src.index[dup][0])
    out = good.copy()
    out.at[i, "phone"] = "(999) 999-9999"
    assert any("unequal replacements" in f for f in _deid(src, out, good, exempt))


def test_deid_check_rejects_missing_row(deid_case):
    src, good, exempt = deid_case
    assert any("rows out" in f for f in _deid(src, good.iloc[:-1], good, exempt))


# --- generators ---------------------------------------------------------------------


def test_generators_are_deterministic():
    assert gen.deid_records(11, 200, 0.0).equals(gen.deid_records(11, 200, 0.0))
    assert not gen.deid_records(11, 200, 0.0).equals(gen.deid_records(12, 200, 0.0))


def test_deid_tables_bracket_repetition_and_carry_near_misses():
    distinct = gen.deid_records(0, 5000, gen.REPEAT_SHARE["distinct"])
    repeated = gen.deid_records(0, 5000, gen.REPEAT_SHARE["repeated"])
    assert not distinct["email"].duplicated().any()
    assert repeated["email"].nunique() <= gen.HOT_VALUES
    for src in (distinct, repeated):
        assert 1 <= src["notes"].str.contains("Attachment: ").sum() <= 30


def test_notes_carry_the_records_own_values():
    templates, absent = gen.corpus()
    assert len(templates) == len(gen.CORPUS_SUBJECTS)
    for t in templates:
        assert t["name"] in t["text"] and {"ssn", "address"} <= set(t)
    src = gen.deid_records(3, 400, 0.0)
    for row in src.itertuples():
        assert row.name in row.notes and row.ssn in row.notes and row.address in row.notes
    # the substituted corpus values are gone; the others stay as scrub input
    assert sum(any(a in n for a in absent) for n in src["notes"]) > 0


def test_name_pools_disjoint_from_oracle_pools():
    from deidentify_spark.oracle.pools import FIRST_NAMES, LAST_NAMES, STREET_NAMES

    assert not set(gen.FIRST) & set(FIRST_NAMES)
    assert not set(gen.LAST) & set(LAST_NAMES)
    assert not {s.split()[0] for s in gen.STREETS} & {s.split()[0] for s in STREET_NAMES}


# --- metric names, trace, parsing, refusal ------------------------------------------


def test_metric_names_match_benchmark_json():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(END_TO_END.items())
    assert [m["name"] for m in bench["per_layer"]] == per_layer_names()


def test_self_time_subtracts_union_of_children():
    t = Tracer()
    root = t.add("op", 0.0, 10.0, None)
    t.add("a", 1.0, 4.0, root)
    t.add("b", 3.0, 5.0, root)
    t.add("c", 9.0, 12.0, root)
    assert t.self_time(root) == pytest.approx(10 - 4 - 1)


def test_parse_metric():
    assert parse_metric("1,000") == 1000
    assert parse_metric("total (min, med, max (stageId: taskId))\n11.1 s (2.7 s)") == pytest.approx(11.1)
    assert parse_metric("total (min, med, max)\n7.4 KiB (1.8 KiB)") == pytest.approx(7.4 * 1024)
    assert parse_metric("61 ms") == pytest.approx(0.061)


def test_refuses_to_run_without_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "deid_table", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
