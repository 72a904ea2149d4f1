"""Regex linearity guards.

Go RE2 (the reference engine) is linear-time by construction; Python's
`regex` module backtracks. These tests pin the match-equivalent rewrites in
oracle/patterns.py (possessive digits + run-start lookbehind) so a future
pattern edit can't silently reintroduce super-linear scanning — a real
hazard on adversarial web pages at 100 TB scale.
"""

import time

from deidentify_spark.oracle import Deidentifier
from deidentify_spark.oracle import patterns as P


def _timed(fn, *args):
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


def test_address_pattern_linear_on_digit_runs():
    t_small = _timed(P.ADDRESS_RE.sub, "X", "1234567890" * 1_000)
    t_big = _timed(P.ADDRESS_RE.sub, "X", "1234567890" * 100_000)
    # 100x input should be < ~300x time (linear with noise margin, not n^2).
    assert t_big < max(0.5, t_small * 300), (t_small, t_big)


def test_full_scrub_1mb_digit_blob_bounded():
    d = Deidentifier("perf-key")
    blob = "1234567890" * 100_000
    assert _timed(d.text, blob) < 15.0


def test_full_scrub_word_chain_bounded():
    d = Deidentifier("perf-key")
    words = "123 " + " ".join(["lorem", "ipsum", "dolor", "sit"] * 500) + " endx."
    assert _timed(d.text, words) < 5.0


def _best_of_3(fn, arg):
    return min(_timed(fn, arg) for _ in range(3))


def _doubling_ratio(fn, make, k=64):
    """time(make(2k)) / time(make(k)), min-of-3 each, for the first
    power-of-two ``k`` whose smaller input takes at least 5 ms."""
    while True:
        t_small = _best_of_3(fn, make(k))
        if t_small >= 0.005:
            return _best_of_3(fn, make(2 * k)) / t_small
        k *= 2


def test_full_scrub_linear_on_dotted_email_near_miss():
    # a long local-part run meeting a dotted domain run with no valid
    # TLD: EMAIL_RE.sub backtracks to ~n^2.3 here; the '@'-anchored scan
    # in core._sub_emails is linear
    d = Deidentifier("perf-key")
    ratio = _doubling_ratio(d.text, lambda k: "a." * k + "@" + "b." * k)
    assert ratio < 3.0, ratio


def test_full_scrub_linear_on_address_cue_run():
    # every "at " is a SPECIAL_ADDRESS_3 cue; only the last meets a digit
    d = Deidentifier("perf-key")
    ratio = _doubling_ratio(d.text, lambda k: "at " * k + "1 ")
    assert ratio < 3.0, ratio
