"""Property-based kernel invariants (hypothesis) + edge cases.

Invariants that must hold for ANY document and rule set:
- output spans sorted by offset, deterministic tie-break
- mask count == located region count
- uncovered text survives verbatim (no content invented or lost beyond
  covered glyphs and cut-adjacent whitespace)
- no-match rules are identity
- redaction is deterministic (same input -> same output)
"""

from __future__ import annotations

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from pdfredact_spark.fixtures import boxed_digits, demo_doc, page_span, text_span
from pdfredact_spark.kernel import locate_document, redact_document
from pdfredact_spark.model import Rule

WORDS = ["alpha", "beta", "gamma", "123-45-6789", "x9", "delta,", "42", "a-b"]
# Unicode Nd digits (Arabic-Indic) + tab-bearing words for the hard cases
HARD_WORDS = WORDS + ["١٢٣", "7", "-", "9/9", "x\ty"]


@st.composite
def documents(draw, hard: bool = False):
    vocab = HARD_WORDS if hard else WORDS
    n_pages = draw(st.integers(1, 3)) if hard else 1
    spans = []
    for pg in range(1, n_pages + 1):
        spans.append(page_span(pg))
        for r in range(draw(st.integers(1, 6))):
            n_words = draw(st.integers(1, 8))
            line = " ".join(draw(st.sampled_from(vocab)) for _ in range(n_words))
            spans.append(text_span(pg, r, 72.0, line))
        if hard and draw(st.booleans()):
            m = text_span(pg, 9, 400.0, "")
            m["kind"] = "media"
            m["media_ref"] = f"img:{pg}"
            spans.append(m)
    return {"doc_id": "prop-1", "spans": spans}


@st.composite
def rules(draw):
    kind = draw(st.integers(0, 3))
    if kind == 0:
        return Rule(draw(st.sampled_from(WORDS)))
    if kind == 1:
        return Rule(r"\d{3}-\d{2}-\d{4}", is_regex=True)
    if kind == 2:
        return Rule(
            draw(st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=4)),
            case_sensitive=draw(st.booleans()),
        )
    # Whitespace-boundary patterns: leading / trailing / only spaces.
    # These exercise covered_range's match-lands-on-a-space handling
    # (the fast path must snap to the word-map semantics, not rfind).
    pat = draw(
        st.sampled_from(
            [" alpha", "beta ", " gamma ", " ", "  ", r"\s+", r" \w+", r"\w+ ", r" ?beta"]
        )
    )
    is_re = pat.startswith(("\\", " ?")) or "\\" in pat
    return Rule(pat, is_regex=is_re)


@settings(max_examples=150, deadline=None)
@given(doc=documents(), rs=st.lists(rules(), min_size=0, max_size=3))
def test_redaction_invariants(doc, rs):
    out, regions, hits = redact_document(doc["doc_id"], doc["spans"], rs)
    out2, _, _ = redact_document(doc["doc_id"], doc["spans"], rs)
    assert out == out2  # deterministic

    offsets = [s["offset"] for s in out]
    assert offsets == sorted(offsets)

    masks = [s for s in out if s["kind"] == "mask"]
    assert len(masks) == hits == len(regions)
    assert len({m["media_ref"] for m in masks}) == len(masks)  # unique ids

    # no content invented: every surviving text span is a substring of some
    # original span's text
    originals = [s["text"] for s in doc["spans"] if s["kind"] == "text"]
    for s in out:
        if s["kind"] == "text":
            assert any(s["text"] in o for o in originals), s

    if not regions:
        assert [(s["kind"], s["text"], s["media_ref"]) for s in out] == [
            (s["kind"], s["text"], s["media_ref"])
            for s in sorted(doc["spans"], key=lambda x: (x["offset"], x["kind"], x["media_ref"], x["text"]))
        ]


@settings(max_examples=60, deadline=None)
@given(doc=documents())
def test_locate_apply_equals_fused(doc):
    from pdfredact_spark.kernel import apply_plan

    rs = [Rule(r"\d{3}-\d{2}-\d{4}", is_regex=True), Rule("alpha")]
    regions = locate_document(doc["doc_id"], doc["spans"], rs)
    fused, _, _ = redact_document(doc["doc_id"], doc["spans"], rs)
    applied, n = apply_plan(doc["doc_id"], doc["spans"], regions)
    assert n == len(regions)
    assert [(s["kind"], s["text"], s["media_ref"]) for s in applied] == [
        (s["kind"], s["text"], s["media_ref"]) for s in fused
    ]


# ---------------------------------------------------------------------------
# Edge cases
# ---------------------------------------------------------------------------
def test_zero_region_passthrough_verbatim_in_both_paths():
    """File.Copy parity (ApplyCommand.cs:65-69): a doc whose spans are NOT
    in canonical order must round-trip VERBATIM through both the fused
    path and the decoupled apply when nothing matches. The paths used to
    diverge (fused verbatim, apply re-sorted), so `redact --save-plan`
    reordered zero-region docs that plain `redact` passed through."""
    from pdfredact_spark.kernel import apply_plan

    spans = [text_span(1, 2, 72.0, "beta"), page_span(1), text_span(1, 0, 72.0, "alpha")]
    key = lambda ss: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in ss]
    assert key(spans) != key(sorted(spans, key=lambda s: s["offset"]))  # really out of order

    fused, regions, hits = redact_document("oo-1", spans, [Rule("zzz-no-match")])
    assert regions == [] and hits == 0
    applied, n = apply_plan("oo-1", spans, [])
    assert n == 0
    assert key(fused) == key(spans)
    assert key(applied) == key(spans)


def test_unicode_nd_digits_fragment_router():
    # Arabic-Indic digits are Unicode Nd -> numeric-literal auto-detect fires
    assert Rule("١٢٣").use_fragment_mode() is True
    # superscript two is category No, NOT Nd (char.IsDigit parity)
    assert Rule("²²").use_fragment_mode() is False


def test_overlapping_rules_interval_merge():
    # two rules covering overlapping glyph ranges: both masks emitted,
    # intervals merge without duplicating surviving text
    doc = {"doc_id": "ov-1", "spans": [page_span(1), text_span(1, 0, 72.0, "abcdef ghi")]}
    rs = [Rule("abcdef"), Rule("abc")]  # abc overlaps abcdef's word
    out, regions, _ = redact_document("ov-1", doc["spans"], rs)
    masks = [s for s in out if s["kind"] == "mask"]
    assert len(masks) == 2
    texts = [s["text"] for s in out if s["kind"] == "text"]
    assert texts == ["ghi"]


def test_doc_without_page_marker():
    doc = {"doc_id": "np-1", "spans": [text_span(1, 0, 72.0, "SSN: 123-45-6789")]}
    out, regions, hits = redact_document("np-1", doc["spans"], [Rule(r"\d{3}-\d{2}-\d{4}", is_regex=True)])
    assert hits == 1
    assert any(s["kind"] == "mask" for s in out)
    assert regions[0].page == 1  # implicit page 1


def test_empty_and_space_only_spans():
    doc = {
        "doc_id": "sp-1",
        "spans": [page_span(1), text_span(1, 0, 72.0, "   "), text_span(1, 1, 72.0, "")],
    }
    out, _, hits = redact_document("sp-1", doc["spans"], [Rule("x")])
    assert hits == 0
    assert len(out) == 3  # identity (no matches)


def test_case_insensitive_regex():
    doc = demo_doc("ci-1")
    out, regions, _ = redact_document(
        "ci-1", doc["spans"], [Rule("EMAIL:", is_regex=True, case_sensitive=False)]
    )
    assert len(regions) == 1
    assert regions[0].matched_text == "Email:"


def test_match_spanning_multiple_words():
    # a regex with a space crosses word boundaries -> region covers both
    # words (one line -> one region)
    doc = {"doc_id": "mw-1", "spans": [page_span(1), text_span(1, 0, 72.0, "top secret stuff")]}
    out, regions, _ = redact_document("mw-1", doc["spans"], [Rule(r"top secret", is_regex=True)])
    assert len(regions) == 1
    texts = [s["text"] for s in out if s["kind"] == "text"]
    assert texts == ["stuff"]


@st.composite
def hard_rules(draw):
    kind = draw(st.integers(0, 3))
    if kind == 0:
        # numeric literals auto-route to the fragment tokenizer (P2)
        return Rule(draw(st.sampled_from(["42", "123", "١٢٣", "9/9", "-", "7"])))
    if kind == 1:
        return Rule(
            draw(st.sampled_from([r"\d+", r"[١٢٣]+", r"\S+\s\S+", r"x.y"])),
            is_regex=True,
        )
    if kind == 2:
        return Rule(draw(st.sampled_from(HARD_WORDS)),
                    fragment_aware=draw(st.sampled_from([None, True, False])))
    return Rule(draw(st.sampled_from([" alpha", "beta ", "\t", "a-b"])))


@settings(max_examples=100, deadline=None)
@given(doc=documents(hard=True), rs=st.lists(hard_rules(), min_size=1, max_size=3))
def test_invariants_on_hard_docs(doc, rs):
    """Multi-page docs with media spans, Unicode-Nd digits, tabs, and
    fragment-aware rules: determinism + mask accounting + no invented
    content must hold (and fast == general, checked by the kernel's own
    fast-path dispatch through redact_document)."""
    out, regions, hits = redact_document(doc["doc_id"], doc["spans"], rs)
    out2, _, _ = redact_document(doc["doc_id"], doc["spans"], rs)
    assert out == out2
    masks = [s for s in out if s["kind"] == "mask"]
    assert len(masks) == hits == len(regions)
    assert len({m["media_ref"] for m in masks}) == len(masks)
    originals = [s["text"] for s in doc["spans"] if s["kind"] == "text"]
    for s in out:
        if s["kind"] == "text":
            assert any(s["text"] in o for o in originals), s
    # media spans pass through untouched
    in_media = sorted(s["media_ref"] for s in doc["spans"] if s["kind"] == "media")
    out_media = sorted(s["media_ref"] for s in out if s["kind"] == "media")
    assert in_media == out_media


@settings(max_examples=60, deadline=None)
@given(doc=documents(hard=True), rs=st.lists(hard_rules(), min_size=1, max_size=2))
def test_fast_equals_general_on_hard_docs(doc, rs):
    import pdfredact_spark.kernel as K

    out_fast, _, h_f = K.redact_document(doc["doc_id"], doc["spans"], rs)
    real = K._locate_words_fast
    K._locate_words_fast = lambda *a, **k: None
    try:
        out_gen, _, h_g = K.redact_document(doc["doc_id"], doc["spans"], rs)
    finally:
        K._locate_words_fast = real
    assert h_f == h_g
    assert out_fast == out_gen


@settings(max_examples=120, deadline=None)
@given(doc=documents(), rs=st.lists(rules(), min_size=1, max_size=3))
def test_fast_path_equals_general_on_random_docs(doc, rs):
    import pdfredact_spark.kernel as K

    out_fast, _, h_f = K.redact_document(doc["doc_id"], doc["spans"], rs)
    real = K._locate_words_fast
    K._locate_words_fast = lambda *a, **k: None
    try:
        out_gen, _, h_g = K.redact_document(doc["doc_id"], doc["spans"], rs)
    finally:
        K._locate_words_fast = real
    assert h_f == h_g
    assert out_fast == out_gen


def test_mega_doc_offsets_stay_int32():
    """Page 10 is row-capped so the biggest legal mega doc never exceeds
    the int32 offset field (10*PAGE_BASE + row*ROW_BASE + x overflows at
    page-10 rows >= 1475)."""
    from pdfredact_spark.fixtures import mega_doc

    d = mega_doc("big", 97_000)
    assert max(s["offset"] for s in d["spans"]) <= 2**31 - 1


# ---------------------------------------------------------------------------
# Fragment tokens from span runs vs the letter loop, on multi-span rows
# ---------------------------------------------------------------------------
# gaps between one span's text end and the next span's x: abutting (0),
# overlapping by part of a glyph up to interleaving glyphs (< 0), both
# thresholds exactly (10.5 word, 35 digit) and either side of them
_SPAN_GAPS = [0.0, -3.5, -7.0, -14.0, -24.5, 3.5, 10.4, 10.5, 10.6, 14.0, 28.0,
              34.9, 35.0, 35.1]
# boxed-digit pitches: glyph gaps 0, 3.5, 7, 8, 10.5 (word gap), 35 (digit
# gap) and 38.5
_BOX_PITCHES = [7.0, 10.5, 14.0, 15.0, 17.5, 42.0, 45.5]


@st.composite
def multi_span_rows(draw):
    """Pages whose rows hold several text spans (x origins off the 7 pt
    grid, single and double spaces, tabs, Unicode-Nd digits) or boxed
    digits, so fragment tokens merge across spans and hit every
    fallback of the run tokenizer."""
    spans = []
    for pg in range(1, draw(st.integers(1, 2)) + 1):
        spans.append(page_span(pg))
        for row in range(draw(st.integers(1, 4))):
            if draw(st.integers(0, 3)) == 0:
                digits = draw(st.text(alphabet="0123456789١٢-", min_size=1, max_size=6))
                x0 = draw(st.sampled_from([100.0, 72.3]))
                spans += boxed_digits(pg, row, digits, draw(st.sampled_from(_BOX_PITCHES)), x0)
                continue
            x = draw(st.sampled_from([0.0, 72.0, 100.3, 1234.5]))
            for _ in range(draw(st.integers(1, 4))):
                text = "".join(draw(st.lists(
                    st.sampled_from(["1", "2", "9", "٣", "-", "a", "Z", " ", "\t", "  "]),
                    max_size=7,
                )))
                spans.append(text_span(pg, row, x, text))
                x = max(0.0, round(x + 7.0 * len(text) + draw(st.sampled_from(_SPAN_GAPS)), 1))
    return {"doc_id": "runs-1", "spans": spans}


FRAGMENT_RULES = [
    Rule("12", fragment_aware=True),
    Rule("٣-", fragment_aware=True),
    Rule("9 9"),
    Rule(r"\d{4}", is_regex=True, fragment_aware=True),
    Rule(r"\d+", is_regex=True, fragment_aware=True),
    Rule(r"a\S*", is_regex=True, fragment_aware=True),
    Rule("aZ"),
]


def _page_tokens(spans):
    from pdfredact_spark.kernel import (
        cols_from_spans, extract_letters, split_pages_cols, tokenize_page, tokenize_runs,
    )

    kinds, texts, _refs, offsets = cols_from_spans(spans)
    for page in split_pages_cols(kinds, texts, offsets):
        args = (texts, offsets, page.text_idx, page.height)
        yield tokenize_runs(*args), tokenize_page(extract_letters(*args))


def _glyphs(units):
    return [sorted((si, k) for si, a, b in u.chars for k in range(a, b)) for u in units]


@settings(max_examples=400, deadline=None)
@given(doc=multi_span_rows())
def test_run_tokens_equal_letter_loop(doc):
    for runs, letters in _page_tokens(doc["spans"]):
        if runs is None:
            continue  # declined: the caller takes the letter loop
        assert [(u.text, u.left, u.right, u.bottom, u.top) for u in runs] == [
            (u.text, u.left, u.right, u.bottom, u.top) for u in letters
        ]
        assert _glyphs(runs) == _glyphs(letters)
        # one glyph range per non-whitespace run, never per glyph
        assert all(b - a >= 1 for u in runs for _si, a, b in u.chars)


@settings(max_examples=200, deadline=None)
@given(doc=multi_span_rows(), rs=st.lists(st.sampled_from(FRAGMENT_RULES), min_size=1, max_size=3))
def test_redaction_with_run_tokens_equals_letter_loop(doc, rs):
    import pdfredact_spark.kernel as K

    def run():
        out, regions, hits = K.redact_document(doc["doc_id"], doc["spans"], rs)
        return out, hits, [
            (r.page, r.x, r.y, r.width, r.height, r.matched_text, r.rule_pattern)
            for r in regions
        ]

    fast = run()
    real = K.tokenize_runs
    K.tokenize_runs = lambda *a, **k: None
    try:
        loop = run()
    finally:
        K.tokenize_runs = real
    assert fast == loop


def test_run_tokens_decline_exactly_where_float_noise_or_order_decides():
    """The run tokenizer takes boxed digits and adjacent spans, and hands
    the page to the letter loop when a gap sits on a threshold or a row's
    spans interleave in x."""
    from pdfredact_spark.fixtures import boxed_digits

    def tokens(spans):
        (runs, letters), = _page_tokens([page_span(1)] + spans)
        return runs, [u.text for u in letters]

    for pitch in (15.0, 20.0, 45.5):  # gaps 8, 13 and 38.5 pt: no threshold
        runs, letters = tokens(boxed_digits(1, 0, "1234", pitch))
        assert runs is not None and [u.text for u in runs] == letters
    runs, _ = tokens([text_span(1, 0, 72.0, "ab"), text_span(1, 0, 86.0, "cd 12")])
    assert [u.text for u in runs] == ["abcd12"]
    assert runs[0].chars == [(1, 0, 2), (2, 0, 2), (2, 3, 5)]
    for pitch in (17.5, 42.0):  # gap exactly the word / digit threshold
        assert tokens(boxed_digits(1, 0, "1234", pitch))[0] is None
    # the second span starts inside the first one's glyphs
    assert tokens([text_span(1, 0, 72.0, "abc"), text_span(1, 0, 79.0, "x")])[0] is None
