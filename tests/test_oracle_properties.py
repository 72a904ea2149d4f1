"""Property-based oracle tests (hypothesis): invariants that must hold
for ARBITRARY input, not just the ported fixtures."""

import string

from hypothesis import example, given, settings
from hypothesis import strategies as st

from deidentify_spark.oracle import Deidentifier
from deidentify_spark.oracle import core as C
from deidentify_spark.oracle import patterns as P
from deidentify_spark.oracle.pools import FIRST_NAMES, LAST_NAMES, STREET_NAMES

D = Deidentifier("prop-key")
D2 = Deidentifier("prop-key")

# Text-ish alphabet incl. PII-triggering characters and some unicode.
_ALPHA = string.ascii_letters + string.digits + " \n\t.,:;@()+-#…é漢"
texts = st.text(alphabet=_ALPHA, max_size=400)


@settings(max_examples=300, deadline=None)
@given(texts)
def test_text_never_crashes_and_is_deterministic(s):
    out1 = D.text(s)
    out2 = D2.text(s)
    assert out1 == out2
    assert isinstance(out1, str)


@settings(max_examples=300, deadline=None)
@given(texts)
def test_gating_equivalence_random(s):
    """The digit/'@' fast-path gates must be no-ops on arbitrary input."""
    ungated = s
    if ungated != "":
        r = ungated
        r = D._process_emails(r)
        r = D._process_phones(r)
        r = D._process_ssns(r, ungated)
        r = D._process_credit_cards(r)
        r = D._process_context_addresses(r)
        r = D._process_special_addresses(r)
        r = D._process_names(r)
        r = D._process_standard_addresses(r)
        expected = r
    else:
        expected = ""
    assert D.text(s) == expected


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=string.digits + "()+-. ", min_size=1, max_size=30))
def test_phone_generator_total(s):
    """generate_phone never crashes on arbitrary digit-ish strings and is
    deterministic (falls back to generic for non-matching formats)."""
    assert D.generate_phone(s) == D2.generate_phone(s)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=_ALPHA, min_size=1, max_size=60))
def test_generators_nonempty_and_typed(s):
    assert D.generate_email(s).count("@") == 1
    name = D.generate_name(s)
    assert " " in name
    card = D.generate_credit_card(s).replace(" ", "")
    assert len(card) == 16 and card.startswith("4000")
    ssn = D.generate_ssn(s)
    a, b, c = ssn.split("-")
    assert 100 <= int(a) <= 665 and int(a) != 666
    assert 1 <= int(b) <= 99 and 1 <= int(c) <= 9999


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.lists(st.text(alphabet=_ALPHA, max_size=30), min_size=2, max_size=2),
        max_size=12,
    )
)
def test_slices_shape_preserved(rows):
    out = D.slices(rows)
    assert len(out) == len(rows)
    for orig, new in zip(rows, out):
        assert len(new) == len(orig)
        for o, n in zip(orig, new):
            if o == "":
                assert n == ""


# --- exact fast paths vs the patterns they replace (oracle/core.py) ----------


def _four_regex_context(name):
    """is_address_context as the reference writes it (deidentify.go:537-547)."""
    return bool(
        P.ADDRESS_WORD_RE.search(name)
        or P.INTERNATIONAL_ADDRESS_RE.search(name)
        or P.COUNTRY_NAME_RE.search(name)
        or P.CITY_RE.search(name)
    )


def _pattern_literals():
    bodies = (P._INTERNATIONAL_BODY, P._COUNTRY_BODY, P._CITY_BODY)
    alts = [a for b in bodies for a in b[1:-1].split("|")]
    alts += P._ADDRESS_WORDS.split("|") + ["Hwy", "Hwyx", "xhwy"]
    return sorted({a.replace(f"[{P._WS}]+", " ").lower() for a in alts})


_LOWER = st.text(alphabet=string.ascii_lowercase, max_size=4)
_LITERAL = st.sampled_from(_pattern_literals())
_POOL_WORDS = sorted(
    {w for s in (*FIRST_NAMES, *LAST_NAMES, *STREET_NAMES) for w in s.split()}
)


@st.composite
def _spliced_token_pair(draw):
    """Two lowercase token bodies around a pattern literal: the literal
    sits inside one token or, when it holds a space, spans both."""
    lit = draw(_LITERAL)
    pre, post = draw(_LOWER), draw(_LOWER)
    if " " in lit:
        left, right = lit.split(" ", 1)
        return pre + left, right + post
    other = draw(st.one_of(_LOWER, st.sampled_from(_POOL_WORDS)))
    token = pre + lit + post
    return (token, other) if draw(st.booleans()) else (other, token)


def _cap(token):
    return token[:1].upper() + token[1:].lower()


_WHOLE_TOKENS = st.sampled_from(P._ADDRESS_WORDS.split("|") + ["Hwy", "Hwyx", "Xhwy"])
_token_pairs = st.one_of(
    _spliced_token_pair(),
    st.tuples(_WHOLE_TOKENS, st.sampled_from(_POOL_WORDS)),
    st.tuples(st.sampled_from(_POOL_WORDS), _WHOLE_TOKENS),
    st.tuples(st.sampled_from(_POOL_WORDS), st.sampled_from(_POOL_WORDS)),
    st.tuples(
        st.text(alphabet=string.ascii_letters, min_size=1, max_size=12),
        st.text(alphabet=string.ascii_letters, min_size=1, max_size=12),
    ),
)
def _join_name(pair):
    return f"{_cap(pair[0])} {_cap(pair[1])}"


def _is_name_match(s):
    return P.NAME_RE.fullmatch(s) is not None


_name_shaped = _token_pairs.map(_join_name).filter(_is_name_match)


@settings(max_examples=2000, deadline=None)
@given(_name_shaped)
@example("Hwy Smith")
@example("Smith Hwyx")
def test_address_context_fast_path_parity(name):
    """The literal-alternation fast path answers exactly what the four
    (?i) regex searches answer on every NAME_RE-shaped candidate."""
    assert C._NAME_SHAPE_RE.fullmatch(name)
    want = _four_regex_context(name)
    assert C._is_address_context(name) == want
    d = Deidentifier("prop-key")
    assert d.is_address_context(name) == want
    assert d.is_address_context(name) == want  # memoized answer


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=string.printable + "ßé", max_size=30))
def test_address_context_other_inputs_parity(s):
    """Inputs that are not NAME_RE-shaped keep the four-regex path."""
    assert Deidentifier("prop-key").is_address_context(s) == _four_regex_context(s)


_EMAIL_ALPHABET = "aZ0.-_%+@ "
_email_runs = st.text(alphabet=_EMAIL_ALPHABET, max_size=12)
_email_shaped = st.builds(
    "{}@{}.{}".format,
    st.text(alphabet="aZ0.-_%+", max_size=6),
    st.text(alphabet="aZ0.-", max_size=6),
    st.text(alphabet="aZ0.", max_size=4),
)
_email_texts = st.lists(
    st.one_of(
        _email_runs,
        _email_shaped,
        st.sampled_from(["..", "....", "@@", "a.a.a.", "@aa.aa", ".ZZ"]),
    ),
    max_size=8,
).map("".join)


@settings(max_examples=2000, deadline=None)
@given(_email_texts)
def test_email_scan_matches_regex(s):
    """The '@'-anchored scanner yields EMAIL_RE.sub's leftmost-first,
    non-overlapping matches, byte for byte."""
    want = P.EMAIL_RE.sub(lambda m: f"<{m.group(0)}>", s)
    assert C._sub_emails(lambda e: f"<{e}>", s) == want


_cue_noise = st.text(alphabet="atAT:@ \t\n7,'-xS", max_size=8)
_cue_address = st.builds(
    "{}{}{}{}{}{}".format,
    st.sampled_from(["at", "AT", "aT", "that", ":", "@", "a", "t", ""]),
    st.sampled_from([" ", "  ", "\t", "\n ", ""]),
    st.sampled_from(["7", "12", "1-2-3", "9x", "00", ""]),
    st.sampled_from([" ", ", ", "\t", ""]),
    st.sampled_from(["Main ", "Rue ", "Elm Oak ", "O'Neil ", "X-Y, ", ""]),
    st.sampled_from(["St", "Rd", "Via Roma", "Avenida", "Street", "Stx", ""]),
)
_cue_texts = st.lists(st.one_of(_cue_noise, _cue_address), max_size=6).map("".join)


@settings(max_examples=1000, deadline=None)
@given(_cue_texts)
def test_address_cue_scan_matches_regex(s):
    """SPECIAL_ADDRESS_3 anchored at its cue candidates equals the plain
    ``.sub`` scan."""
    repl = lambda m: "<X>"  # noqa: E731
    got = C._sub_anchored(C._ADDRESS_CUE_RE, P.SPECIAL_ADDRESS_3_RE, repl, s)
    assert got == P.SPECIAL_ADDRESS_3_RE.sub(repl, s)


_phone_texts = st.lists(
    st.one_of(
        st.text(alphabet="0123456789+() .-\t", max_size=12),
        st.from_regex(P.PHONE_PATTERN, fullmatch=True),
    ),
    max_size=5,
).map("".join)


@settings(max_examples=1000, deadline=None)
@given(_phone_texts)
def test_phone_scan_matches_regex(s):
    """The stdlib-re PHONE_PATTERN, matched at [+(0-9] candidates, equals
    the regex-module ``PHONE_RE.sub``."""
    repl = lambda m: f"<{m.group(0)}>"  # noqa: E731
    got = C._sub_anchored(C._PHONE_START_RE, C._PHONE_RE, repl, s)
    assert got == P.PHONE_RE.sub(repl, s)
