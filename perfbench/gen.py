"""Deterministic input generator for the deid_table workload. Every
table is a pure function of its seed; nothing here touches Spark, so the
self-tests can check determinism cheaply.

The notes are the paragraphs of the reference library's PII corpus
(``fixtures/pii_corpus.json``) with the subject's name and the first
email, phone, SSN, card number and street address replaced by the
record's own typed values.

The pipeline_job workload uses the program's own page generator
(``deidentify_spark.sources.pages.generate_pages``) instead.
"""

from __future__ import annotations

import json
import random
import re
from pathlib import Path

import pandas as pd

CORPUS = Path(__file__).resolve().parent.parent / "fixtures" / "pii_corpus.json"

# Pools for the de-identification table. They are disjoint from the
# oracle's replacement pools (pinned by the self-tests), so an original
# value can never coincide with a generated replacement and the
# "no original survives" check has no false alarms.
FIRST = [
    "Quillon", "Marisol", "Tobiah", "Ysolde", "Caspian", "Linnea", "Oriel",
    "Ximena", "Thaddeus", "Wrenna", "Zephyrine", "Anselm", "Briony",
    "Cosimo", "Delphine", "Evander",
]
LAST = [
    "Ashdown", "Blackwood", "Castellan", "Dunmore", "Everhart",
    "Fairweather", "Greystone", "Holloway", "Ironside", "Kingsley",
    "Lockhart", "Merriweather", "Northcott", "Pendleton", "Ravenscroft",
    "Thistlewood",
]
DOMAINS = ["lanternpost.net", "kelpmail.org", "quarrybox.io", "fenmail.co"]
STREETS = ["Juniper Street", "Tamarack Road", "Larkspur Avenue", "Sorrel Lane"]

TYPED_COLUMNS = {
    "name": "name",
    "email": "email",
    "phone": "phone",
    "ssn": "ssn",
    "credit_card": "credit_card",
    "address": "address",
}

# The person each corpus paragraph is about, in paragraph order.
CORPUS_SUBJECTS = (
    "John Smith", "Mary Williams", "Michael Brown", "Elizabeth Taylor",
    "James Anderson", "Patricia Martinez", "Christopher Lee", "Nancy Garcia",
    "Richard Thompson", "Daniel Rodriguez",
)

# Nothing measured says how often values repeat in users' tables, so the
# workload brackets the per-batch memo cache (which skips repeated HMAC
# work) with two tables: one of fresh draws and one whose every cell
# comes from a hot set of HOT_VALUES people. Names repeat in both: the
# pools give 256 of them.
REPEAT_SHARE = {"distinct": 0.0, "repeated": 1.0}
HOT_VALUES = 64
# Share of notes that carry a near-miss span (dot-leader runs around an
# '@', long digit runs, base64 blobs), sized so that on the seed code
# these rows stay a minority of the workload's scrub time.
NEAR_MISS_SHARE = 0.002


def _person(r: random.Random, k: int) -> dict[str, str]:
    first, last = r.choice(FIRST), r.choice(LAST)
    return {
        "name": f"{first} {last}",
        "email": f"{first.lower()}.{last.lower()}{k}@{r.choice(DOMAINS)}",
        "phone": f"({200 + r.randrange(700)}) {200 + r.randrange(700)}-"
        f"{1000 + r.randrange(9000)}",
        "ssn": f"{100 + r.randrange(565)}-{10 + r.randrange(89)}-"
        f"{1000 + r.randrange(9000)}",
        "credit_card": f"4{r.randrange(100, 999)} {r.randrange(1000, 9999)} "
        f"{r.randrange(1000, 9999)} {r.randrange(1000, 9999)}",
        "address": f"{1 + r.randrange(999)} {r.choice(STREETS)}",
    }


def _near_miss(r: random.Random) -> str:
    kind = r.randrange(3)
    if kind == 0:
        # 'a.a.…@b.b.…' with no valid TLD: 200 B to 1.6 KB
        k = 50 + r.randrange(350)
        return "a." * k + "@" + "b." * k
    if kind == 1:
        return "".join(str(r.randrange(10)) for _ in range(500 + r.randrange(3500)))
    alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"
    return "".join(r.choice(alphabet) for _ in range(500 + r.randrange(3500))) + "=="


def _pii_type(value: str) -> str:
    if "@" in value:
        return "email"
    if re.fullmatch(r"\d{3}-\d{2}-\d{4}", value):
        return "ssn"
    if re.fullmatch(r"\d{4}( \d{4}){3}", value):
        return "credit_card"
    if re.search(r"[a-z]", value):
        return "address"
    return "phone"


def corpus() -> tuple[list[dict[str, str]], list[str]]:
    """Note templates and the corpus's must-be-absent values. A template
    maps each PII type to the corpus value the record's own value
    replaces (the subject's name and the first value of each other type
    in the paragraph), plus the paragraph itself under ``text``."""
    data = json.loads(CORPUS.read_text())
    absent = data["pii_must_be_absent"]
    templates = []
    for text, subject in zip(data["paragraphs"], CORPUS_SUBJECTS, strict=True):
        t = {"text": text, "name": subject}
        for v in sorted((v for v in absent if v in text), key=text.index):
            t.setdefault(_pii_type(v), v)
        templates.append(t)
    return templates, absent


def deid_records(seed: int, n_rows: int, repeat_share: float) -> pd.DataFrame:
    """The records table: id, six typed PII columns and a notes column.
    A share ``repeat_share`` of cells comes from the hot set."""
    r = random.Random(seed)
    templates, _ = corpus()
    hot = [_person(r, i) for i in range(HOT_VALUES)]
    rows = []
    for i in range(n_rows):
        fresh = _person(r, HOT_VALUES + i)
        row = {"id": i}
        for col in TYPED_COLUMNS:
            row[col] = (
                hot[r.randrange(HOT_VALUES)][col] if r.random() < repeat_share else fresh[col]
            )
        t = r.choice(templates)
        note = t["text"]
        for col in TYPED_COLUMNS:
            if col in t:
                note = note.replace(t[col], row[col])
        if r.random() < NEAR_MISS_SHARE:
            note += " Attachment: " + _near_miss(r)
        row["notes"] = note
        rows.append(row)
    return pd.DataFrame(rows)
