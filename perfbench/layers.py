"""Single-process calls into the Python layers, outside Spark.

``pipeline_staged`` makes the same per-doc calls, in the same staged
order, as the fused Arrow stage (functions/fused.py). It serves three
purposes: the sampled-row recomputation check, the per-layer cost of
each function (``timed=True``) and, run in ``nproc`` processes at once,
the bare-multiprocessing ceiling that Spark's throughput is set against.
``deid_staged`` does the same for the table de-identification.
"""

from __future__ import annotations

import time

GATES = ("langid", "quality_pre", "ngram", "quality_post", "perplexity", "lang_conf")
PII_TYPES = ("name", "email", "phone", "ssn", "credit_card", "address")
# rows per Deidentifier instance, as one Arrow batch gets in the UDFs
BATCH_ROWS = 10_000


class _Clock:
    """Accumulates nanoseconds per layer; a no-op when not timing."""

    def __init__(self, timed: bool) -> None:
        self.timed = timed
        self.ns: dict[str, int] = {}
        self.samples: dict[str, list[int]] = {}

    def call(self, layer: str, fn, *args, keep_samples: bool = False):
        if not self.timed:
            return fn(*args)
        t0 = time.perf_counter_ns()
        out = fn(*args)
        dt = time.perf_counter_ns() - t0
        self.ns[layer] = self.ns.get(layer, 0) + dt
        if keep_samples:
            self.samples.setdefault(layer, []).append(dt)
        return out


def pipeline_staged(texts: list[str | None], pcfg, timed: bool = False):
    """Returns (rows, stats): rows are (drop_reason, keep, scrubbed_text,
    pii_hits) per input text; stats holds gate counts, per-layer
    nanoseconds, per-doc scrub samples and PII hit totals."""
    from deidentify_spark.functions.fused import top_2gram_frac
    from deidentify_spark.functions.langid import predict_batch
    from deidentify_spark.functions.perplexity import perplexity
    from deidentify_spark.functions.quality import (
        quality_post_reason_py,
        quality_pre_reason_py,
    )
    from deidentify_spark.functions.scrub import CountingDeidentifier

    qcfg = pcfg.quality
    clock = _Clock(timed)
    gate_in = dict.fromkeys(GATES, 0)
    gate_out = dict.fromkeys(GATES, 0)
    txt = ["" if t is None else t for t in texts]
    preds, confs = clock.call("langid", predict_batch, txt)
    reasons: list[str | None] = []
    for i, t in enumerate(txt):
        if texts[i] is None:
            reasons.append("null_text")
            continue
        gate_in["langid"] += 1
        if preds[i] != pcfg.target_lang:
            reasons.append("non_english")
            continue
        gate_out["langid"] += 1
        gate_in["quality_pre"] += 1
        r = clock.call("quality", quality_pre_reason_py, t, qcfg)
        if r is None:
            gate_out["quality_pre"] += 1
            gate_in["ngram"] += 1
            if clock.call("ngram", top_2gram_frac, t) > qcfg.max_top_2gram_frac:
                r = "top_ngram_repetition"
            else:
                gate_out["ngram"] += 1
                gate_in["quality_post"] += 1
                r = clock.call("quality", quality_post_reason_py, t, qcfg)
                gate_out["quality_post"] += r is None
        if r is None:
            gate_in["perplexity"] += 1
            if clock.call("perplexity", perplexity, t) > pcfg.max_perplexity:
                r = "high_perplexity"
            else:
                gate_out["perplexity"] += 1
        if r is None:
            gate_in["lang_conf"] += 1
            if confs[i] < pcfg.min_lang_conf:
                r = "low_lang_conf"
            else:
                gate_out["lang_conf"] += 1
        reasons.append(r)

    d = CountingDeidentifier(pcfg.secret_key)
    hits_total = dict.fromkeys(PII_TYPES, 0)
    rows = []
    for i, r in enumerate(reasons):
        if r is not None:
            rows.append((r, False, None, None))
            continue
        d.reset_hits()
        scrubbed = clock.call("scrub", d.text, txt[i], keep_samples=True)
        for k, v in d.hits.items():
            hits_total[k] = hits_total.get(k, 0) + v
        rows.append((None, True, scrubbed, dict(d.hits)))
    stats = {
        "gate_in": gate_in,
        "gate_out": gate_out,
        "ns": clock.ns,
        "scrub_ns": clock.samples.get("scrub", []),
        "hits": hits_total,
    }
    return rows, stats


def deid_staged(records, typed: dict[str, str], secret_key: str, timed: bool = False):
    """Per-cell and per-note calls of the table de-identification:
    ``deidentify_value`` on every typed cell and ``text`` on every note,
    with one engine per ``BATCH_ROWS`` rows and column, as the UDFs
    create one per Arrow batch."""
    from deidentify_spark.functions.scrub import CountingDeidentifier
    from deidentify_spark.oracle import Deidentifier

    clock = _Clock(timed)
    hits_total = dict.fromkeys(PII_TYPES, 0)
    n = len(records)
    for start in range(0, n, BATCH_ROWS):
        chunk = records.iloc[start : start + BATCH_ROWS]
        for col, kind in typed.items():
            d = Deidentifier(secret_key)
            for v in chunk[col].tolist():
                clock.call("value", d.deidentify_value, v, kind, col)
        d = CountingDeidentifier(secret_key)
        for note in chunk["notes"].tolist():
            d.reset_hits()
            clock.call("scrub", d.text, note, keep_samples=True)
            for k, v in d.hits.items():
                hits_total[k] = hits_total.get(k, 0) + v
    return {"ns": clock.ns, "scrub_ns": clock.samples.get("scrub", []), "hits": hits_total}


# --- bare-multiprocessing ceiling ---------------------------------------------


def _pipeline_chunk(args) -> int:
    texts, pcfg = args
    pipeline_staged(texts, pcfg)
    return len(texts)


def _deid_chunk(args) -> int:
    records, typed, key = args
    deid_staged(records, typed, key)
    return len(records)


def ceiling_items_per_s(kind: str, items, procs: int, payload) -> float:
    """Items per second of ``procs`` spawned processes splitting the
    items evenly, after one warm-up round (imports, model fits)."""
    import multiprocessing as mp

    chunks = [items[i::procs] for i in range(procs)]
    if kind == "pipeline":
        work, args = _pipeline_chunk, [(c, payload) for c in chunks]
    else:
        work, args = _deid_chunk, [(c, *payload) for c in chunks]
    ctx = mp.get_context("spawn")
    pool = ctx.Pool(procs)
    try:
        pool.map(work, [(a[0][:20], *a[1:]) for a in args])
        t0 = time.perf_counter()
        total = sum(pool.map(work, args))
        dt = time.perf_counter() - t0
    finally:
        pool.close()
        pool.join()
    return total / dt
