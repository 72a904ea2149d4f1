"""Output checks. Each takes plain pandas/Python data and returns a list
of failure messages (empty = pass), so the self-tests can feed them
deliberately corrupted outputs without a Spark session."""

from __future__ import annotations

import hashlib
import math

import pandas as pd


def _norm(v):
    """Canonical, order-insensitive text form of one output value."""
    if v is None:
        return "null"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)):
        # maps arrive from Arrow as lists of (key, value) pairs
        if all(isinstance(x, tuple) and len(x) == 2 for x in v):
            return _norm(dict(v))
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        return _norm(v.tolist())
    return str(v)


def digest(rows: list[tuple]) -> str:
    """Order-insensitive digest of a table given as row tuples."""
    lines = sorted("\x1f".join(_norm(v) for v in row) for row in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def frame_rows(df: pd.DataFrame) -> list[tuple]:
    return [tuple(None if _isna(v) else v for v in row) for row in df.itertuples(index=False)]


def _isna(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


# --- pipeline_job -----------------------------------------------------------

PIPELINE_DIGEST_COLUMNS = ["url", "drop_reason", "keep", "scrubbed_text", "pii_hits"]


def pipeline_agreement(labels: pd.DataFrame, out: pd.DataFrame) -> float:
    """Share of docs whose drop_reason equals the generator's label."""
    m = labels[["url", "expected_drop_reason"]].merge(
        out[["url", "drop_reason"]], on="url", how="left"
    )
    kept = "\x00kept"  # None == None is False elementwise in pandas
    exp = m["expected_drop_reason"].fillna(kept)
    got = m["drop_reason"].fillna(kept)
    return float((exp == got).mean()) if len(m) else 0.0


def check_pipeline(
    labels: pd.DataFrame,
    out: pd.DataFrame,
    recomputed: pd.DataFrame,
    min_agreement: float,
    expected_agreement: float | None,
    expected_digest: str | None,
) -> list[str]:
    """``labels``: generator columns (url, expected_drop_reason,
    pii_values). ``out``: the job's scrubbed table. ``recomputed``:
    single-process results for a sample of urls (url, drop_reason,
    keep, scrubbed_text, pii_hits). The two ``expected_*`` values are
    recorded for the default seed only and are None otherwise."""
    fails: list[str] = []
    if len(out) != len(labels) or set(out["url"]) != set(labels["url"]):
        fails.append(f"rows out {len(out)} != rows in {len(labels)}")
        return fails
    agreement = pipeline_agreement(labels, out)
    if agreement < min_agreement:
        fails.append(f"drop_reason agreement {agreement:.4f} < {min_agreement}")
    if expected_agreement is not None and abs(agreement - expected_agreement) > 1e-9:
        fails.append(
            f"drop_reason agreement {agreement:.6f} != recorded {expected_agreement:.6f}"
        )
    by_url = out.set_index("url")
    leaked = 0
    for url, values in zip(labels["url"], labels["pii_values"]):
        row = by_url.loc[url]
        text = row["scrubbed_text"]
        if not row["keep"]:
            if not _isna(text):
                fails.append(f"dropped doc {url} retains text")
            continue
        leaked += sum(1 for v in values if v in text)
    if leaked:
        fails.append(f"{leaked} injected PII values survive in scrubbed_text")
    for rec in recomputed.itertuples(index=False):
        row = by_url.loc[rec.url]
        got = (row["drop_reason"], bool(row["keep"]), row["scrubbed_text"], row["pii_hits"])
        want = (rec.drop_reason, bool(rec.keep), rec.scrubbed_text, rec.pii_hits)
        if _norm(tuple(None if _isna(x) else x for x in got)) != _norm(want):
            fails.append(f"{rec.url}: Spark output differs from single-process recomputation")
            break
    if expected_digest is not None:
        d = digest(frame_rows(out[PIPELINE_DIGEST_COLUMNS]))
        if d != expected_digest:
            fails.append(f"output digest {d} != recorded {expected_digest}")
    return fails


# --- deid_table ---------------------------------------------------------------


def check_deid(
    src: pd.DataFrame,
    out: pd.DataFrame,
    typed_columns: list[str],
    absent: list[str],
    exempt_name,
    expected_digest: str | None,
    expected_exempt: int | None,
) -> tuple[list[str], int]:
    """``src``: the generated records; ``out``: the written table;
    ``absent``: values that may appear in no scrubbed note;
    ``exempt_name(name)``: true for a name the scrub leaves in text by
    rule. Returns the failures and the number of notes whose subject's
    name survives under that rule. ``expected_*`` are recorded for the
    default seed only and are None otherwise."""
    fails: list[str] = []
    if len(out) != len(src) or set(out["id"]) != set(src["id"]):
        return [f"rows out {len(out)} != rows in {len(src)}"], 0
    m = src.merge(out, on="id", suffixes=("", "_out"))
    for c in typed_columns:
        survived = int((m[c] == m[f"{c}_out"]).sum())
        if survived:
            fails.append(f"{survived} original {c} values appear in the output")
        n_repl = m.groupby(c)[f"{c}_out"].nunique()
        if (n_repl > 1).any():
            fails.append(f"{int((n_repl > 1).sum())} {c} values got unequal replacements")
    leaked = dict.fromkeys(typed_columns, 0)
    exempted = 0
    for row in m.itertuples(index=False):
        for c in typed_columns:
            v = getattr(row, c)
            if v in row.notes and v in row.notes_out:
                if c == "name" and exempt_name(v):
                    exempted += 1
                else:
                    leaked[c] += 1
    for c, n in leaked.items():
        if n:
            fails.append(f"{n} original {c} values survive in scrubbed notes")
    kept = sum(1 for text in m["notes_out"] for v in absent if v in text)
    if kept:
        fails.append(f"{kept} must-be-absent corpus values survive in scrubbed notes")
    if expected_exempt is not None and exempted != expected_exempt:
        fails.append(f"{exempted} notes keep an exempt name != recorded {expected_exempt}")
    if expected_digest is not None:
        d = digest(frame_rows(out))
        if d != expected_digest:
            fails.append(f"output digest {d} != recorded {expected_digest}")
    return fails, exempted
