"""Pure per-document kernels (no Spark imports).

Exact-semantics re-creation of the reference's locate/apply algorithms over
the span data model. Every function cites the reference behavior it
reproduces (file:line into /root/reference/). These kernels are unit-tested
as plain Python (tests/test_kernel.py ports the 16 reference xUnit facts)
and are then invoked batch-at-a-time from Arrow-vectorized ``mapInArrow``
/ ``applyInArrow`` stages in pipeline.py — there is no Spark
row-at-a-time Python anywhere.

Data layout: the core consumes a document as FLAT PARALLEL ARRAYS
(kinds/texts/refs/offsets — the ``*_cols`` entry points), which lets the
Spark stage feed it directly from Arrow child arrays without materializing
a dict per span (measured: pandas/dict conversion was ~50% of a noop
redaction pass at local[8] — BENCH/BASELINE.md round-2 lever #1). The
dict-based wrappers (``redact_document``, ``locate_document``,
``apply_plan``) keep the original API for tests and small callers.

Semantics notes (documented deviations, all fixture-consistent):

- Whitespace in a text span is layout, not a glyph (PdfPig's page.Letters
  only reports drawn glyphs); "words" are maximal non-space runs.
- Literal case-insensitive compare uses a LENGTH-PRESERVING per-char fold
  (_fold_1to1, the .NET OrdinalIgnoreCase analog) — str.lower() can change
  string length ('İ' -> 2 chars) and would shift match indices.
- A mask span carries text='' (content is redacted), media_ref =
  ``mask:<doc>:<page>:<seq>`` with seq = the deterministic apply order
  (Y desc, X asc within page — PdfSharpMaskApplicator.cs:65-68), offset =
  the smallest covered-glyph offset. Surviving fragments of a split text
  span are re-emitted with shifted offsets, stripped of whitespace left
  dangling at the cut.
"""

from __future__ import annotations

import bisect
import re
import unicodedata
from dataclasses import dataclass, field
from itertools import accumulate as _accumulate

from pdfredact_spark.spanmodel import (
    DECI,
    DEFAULT_PAGE_H,
    DEFAULT_PAGE_W,
    DIGIT_GAP_MULT,
    DIGIT_H_MULT,
    GLYPH_H,
    GLYPH_STRIDE,
    GLYPH_W,
    LINE_TOL,
    MIN_GAP,
    PAGE_BASE,
    ROW_BASE,
    ROW_PITCH,
    TOP_MARGIN,
    WORD_GAP_MULT,
    WORD_H_MULT,
    Rule,
    encode_offset,
    parse_page_marker,
    row_top,
)

_WS = " \t"
_WORD_RE = re.compile(r"[^ \t]+")
# a text span's layout runs: glyph runs joined by ONE space or tab. Inside
# a run the gap between glyphs is 0 or one 7 pt cell, under the 10.5 pt
# word gap; two whitespace cells (14 pt) exceed it — so each run is one
# pass-1 token of the letter loop unless a neighbouring span joins it
_RUN_RE = re.compile(r"[^ \t]+(?:[ \t][^ \t]+)*")
# a gap this close to a threshold is decided by the float noise in the
# letter loop's exact upper-median glyph size: tokenize_runs declines
_GAP_EPS = 1e-6
# whitespace OTHER than space/tab (\n, \xa0, \f, ...): the data model
# treats these as glyph characters (_WORD_RE), but str.split() does not —
# pages containing them must take the general word path
_ODD_WS_RE = re.compile(r"[^\S \t]")
# any feature that makes a span NON-"regular" (regular: text == its own
# single-space word join, zero leading whitespace): a whitespace char other
# than plain space (tab or odd ws), a leading/trailing space, or a double
# space. One C-level scan replaces split+join+compare on clean spans.
_NONREG_RE = re.compile(r"[^\S ]|^ |  | $")

_RX_CACHE: dict[tuple[str, int], "re.Pattern"] = {}


def _compiled(pattern: str, flags: int) -> "re.Pattern":
    """Per-(pattern, flags) compiled-regex cache — same semantics as the
    re module's internal cache, without its per-call lookup machinery."""
    key = (pattern, flags)
    rx = _RX_CACHE.get(key)
    if rx is None:
        rx = _RX_CACHE[key] = re.compile(pattern, flags)
    return rx


@dataclass(slots=True)
class Unit:
    """A word or token: text + bbox + constituent glyph addresses.

    ``chars`` lists half-open glyph ranges (span_idx, start, end) — a
    whole word is ONE range, so masking bookkeeping is O(units), not
    O(glyphs) (a 10x win on realistic pages). A fragment token carries one
    range per non-whitespace run it joins (:func:`tokenize_runs`); only the
    letter-loop fallback (:func:`tokenize_page`) emits length-1 ranges.
    """

    text: str
    left: float
    right: float
    bottom: float
    top: float
    chars: list[tuple[int, int, int]] = field(default_factory=list)


@dataclass(slots=True)
class Region:
    """RedactionRegion analog (Models/RedactionRegion.cs:7-49) plus the
    covered glyph ranges (span_idx, start, end) needed for span splicing."""

    page: int
    x: float
    y: float
    width: float
    height: float
    matched_text: str
    rule_pattern: str
    rotation: int
    chars: list[tuple[int, int, int]] = field(default_factory=list)


@dataclass(slots=True)
class PageCtx:
    number: int
    rotation: int
    width: float
    height: float
    marker_idx: int | None  # index into doc spans of the page marker
    text_idx: list[int] = field(default_factory=list)   # text span indices
    other_idx: list[int] = field(default_factory=list)  # media/other indices
    band: int = 1  # offset band (offset // PAGE_BASE) — may differ from the
    #                marker's DECLARED number on malformed docs


# ---------------------------------------------------------------------------
# Columnar span representation
# ---------------------------------------------------------------------------
def cols_from_spans(spans: list[dict]) -> tuple[list, list, list, list]:
    """Span dicts -> flat parallel arrays (kinds, texts, refs, offsets)."""
    return (
        [s["kind"] for s in spans],
        [s["text"] for s in spans],
        [s["media_ref"] for s in spans],
        [s["offset"] for s in spans],
    )


def spans_from_cols(kinds: list, texts: list, refs: list, offsets: list) -> list[dict]:
    """Flat parallel arrays -> span dicts (wrapper-API output shape)."""
    return [
        {"kind": k, "text": t, "media_ref": r, "offset": o}
        for k, t, r, o in zip(kinds, texts, refs, offsets)
    ]


# ---------------------------------------------------------------------------
# Page splitting
# ---------------------------------------------------------------------------
def split_pages_cols(
    kinds: list, texts: list, offsets: list, bands: list | None = None
) -> list[PageCtx]:
    """Group a doc's spans into pages by offset band (FIXTURES.md §2:
    page band = offset // 200_000_000; marker spans kind='page' open pages).
    Docs without markers get implicit pages with default US-Letter bounds.
    ``bands`` optionally supplies precomputed offset // PAGE_BASE values
    (the Arrow stage derives them batch-wide with numpy).
    """
    pages: dict[int, PageCtx] = {}
    get = pages.get
    if bands is None:
        bands = [off // PAGE_BASE for off in offsets]
    for i, band in enumerate(bands):
        ctx = get(band)
        if ctx is None:
            number = band if band >= 1 else 1
            ctx = PageCtx(number, 0, DEFAULT_PAGE_W, DEFAULT_PAGE_H, None, band=band)
            pages[band] = ctx
        kind = kinds[i]
        if kind == "text":
            ctx.text_idx.append(i)
        elif kind == "page":
            num, rot, w, h = parse_page_marker(texts[i])
            ctx.number, ctx.rotation, ctx.width, ctx.height = num, rot, w, h
            ctx.marker_idx = i
        else:
            ctx.other_idx.append(i)
    return [pages[b] for b in sorted(pages)]


def split_pages(spans: list[dict]) -> list[PageCtx]:
    """Dict-API wrapper over :func:`split_pages_cols`."""
    return split_pages_cols(
        [s["kind"] for s in spans],
        [s["text"] for s in spans],
        [s["offset"] for s in spans],
    )


def _offset_geom(offset: int, page_h: float) -> tuple[int, float, float, float]:
    """-> (row, x0, top, bottom) of the span's first glyph cell."""
    rem = offset % PAGE_BASE
    row = rem // ROW_BASE
    x0 = (rem % ROW_BASE) / DECI
    top = row_top(row, page_h)
    return row, x0, top, top - GLYPH_H


# ---------------------------------------------------------------------------
# Word / letter extraction
# ---------------------------------------------------------------------------
def extract_words(
    texts: list, offsets: list, text_idx: list[int], page_h: float
) -> list[Unit]:
    """Word scan analog of PdfPig page.GetWords() (PdfPigTextLocator.cs:106):
    words = maximal non-space character runs of each text span, bbox from the
    fixed glyph model. Sort: Bottom asc, then Left asc (the reference's
    bottom-up quirk, SURVEY.md S2)."""
    words: list[Unit] = []
    for si in text_idx:
        _, x0, top, bottom = _offset_geom(offsets[si], page_h)
        for m in _WORD_RE.finditer(texts[si]):
            i, j = m.span()
            words.append(
                Unit(
                    text=m.group(0),
                    left=x0 + GLYPH_W * i,
                    right=x0 + GLYPH_W * j,
                    bottom=bottom,
                    top=top,
                    chars=[(si, i, j)],
                )
            )
    words.sort(key=lambda w: (w.bottom, w.left))
    return words


def extract_letters(
    texts: list, offsets: list, text_idx: list[int], page_h: float
) -> list[tuple[str, float, float, float, float, int, int]]:
    """Letter scan analog of PdfPig page.Letters (PdfPigTextLocator.cs:485):
    one entry per drawn glyph -> (ch, left, right, bottom, top, span_idx,
    char_idx). Whitespace is layout, not a glyph."""
    letters = []
    for si in text_idx:
        _, x0, top, bottom = _offset_geom(offsets[si], page_h)
        for k, ch in enumerate(texts[si]):
            if ch in _WS:
                continue
            left = x0 + GLYPH_W * k
            letters.append((ch, left, left + GLYPH_W, bottom, top, si, k))
    return letters


def upper_median(values: list[float]) -> float:
    """Exact reference median: sorted asc, element at count//2 (upper median,
    integer division — NOT interpolated; PdfPigTextLocator.cs:493-496)."""
    s = sorted(values)
    return s[len(s) // 2]


# ---------------------------------------------------------------------------
# Fragment-aware tokenizer (FragmentAwareTokenizer, PdfPigTextLocator.cs:472-708)
# ---------------------------------------------------------------------------
def _is_single_digit_token(text: str) -> bool:
    """IsSingleDigitToken (PdfPigTextLocator.cs:662-676): len==1 and the char
    is a digit or '-'.  char.IsDigit == Unicode Nd."""
    if len(text) != 1:
        return False
    ch = text[0]
    # char.IsDigit == Unicode Nd exactly (ASCII 0-9 are Nd, so no
    # separate ASCII clause is needed)
    return ch == "-" or _is_nd(ch)


def _is_nd(ch: str) -> bool:
    return unicodedata.category(ch) == "Nd"


def _merge_units(units: list[Unit]) -> Unit:
    """MergeTokens (PdfPigTextLocator.cs:678-691): ordered concat + bbox union."""
    return Unit(
        text="".join(u.text for u in units),
        left=min(u.left for u in units),
        right=max(u.right for u in units),
        bottom=min(u.bottom for u in units),
        top=max(u.top for u in units),
        chars=[c for u in units for c in u.chars],
    )


def tokenize_page(letters: list[tuple], ) -> list[Unit]:
    """TokenizePage (PdfPigTextLocator.cs:484-509): upper-median glyph dims ->
    adaptive thresholds; group letters into lines (top DESC anchor scan,
    yTol = max(2.0, 0.3*medH)); two-pass token formation per line."""
    if not letters:
        return []
    med_h = upper_median([t - b for _, _, _, b, t, _, _ in letters])
    med_w = upper_median([r - l for _, l, r, _, _, _, _ in letters])

    # --- GroupLettersIntoLines (:512-553): sort Top descending, anchor scan.
    sorted_letters = sorted(letters, key=lambda L: -L[4])
    y_tol = max(LINE_TOL, med_h * 0.3)
    lines: list[list[tuple]] = []
    current = [sorted_letters[0]]
    baseline = sorted_letters[0][4]
    for L in sorted_letters[1:]:
        if abs(L[4] - baseline) <= y_tol:
            current.append(L)
        else:
            lines.append(current)
            current = [L]
            baseline = L[4]
    lines.append(current)

    word_gap, digit_gap = _gaps(med_w, med_h)
    tokens: list[Unit] = []
    for line in lines:
        tokens.extend(_tokens_from_line(line, word_gap, digit_gap))
    return tokens


def _gaps(med_w: float, med_h: float) -> tuple[float, float]:
    """(word gap, digit gap) of BuildTokensFromLine (:566-659)."""
    return (
        max(MIN_GAP, max(med_w * WORD_GAP_MULT, med_h * WORD_H_MULT)),
        max(MIN_GAP, max(med_w * DIGIT_GAP_MULT, med_h * DIGIT_H_MULT)),
    )


def _tokens_from_line(line: list[tuple], word_gap: float, digit_gap: float) -> list[Unit]:
    """BuildTokensFromLine (PdfPigTextLocator.cs:555-659)."""
    # Sort left asc (:563).
    line = sorted(line, key=lambda L: L[1])

    # PASS 1 — conservative word tokens, gap session (:566-592).
    base: list[Unit] = []
    run = [line[0]]
    for prev, curr in zip(line, line[1:]):
        gap = curr[1] - prev[2]
        if gap <= word_gap:
            run.append(curr)
        else:
            base.append(_unit_from_letters(run))
            run = [curr]
    base.append(_unit_from_letters(run))
    return _join_digit_tokens(base, digit_gap)


def _join_digit_tokens(base: list[Unit], digit_gap: float) -> list[Unit]:
    """PASS 2 — join adjacent single-digit tokens into digit runs (:594-659)."""
    final: list[Unit] = []
    pending: list[Unit] = []
    for i, tok in enumerate(base):
        if _is_single_digit_token(tok.text):
            pending.append(tok)
            cont = False
            if i + 1 < len(base) and _is_single_digit_token(base[i + 1].text):
                cont = (base[i + 1].left - tok.right) <= digit_gap
            if not cont:
                final.append(_merge_units(pending) if len(pending) > 1 else tok)
                pending = []
        else:
            if pending:
                final.append(_merge_units(pending) if len(pending) > 1 else pending[0])
                pending = []
            final.append(tok)
    return final


def _unit_from_letters(letters: list[tuple]) -> Unit:
    """CreateTokenFromLetters (PdfPigTextLocator.cs:693-707)."""
    return Unit(
        text="".join(L[0] for L in letters),
        left=min(L[1] for L in letters),
        right=max(L[2] for L in letters),
        bottom=min(L[3] for L in letters),
        top=max(L[4] for L in letters),
        chars=[(L[5], L[6], L[6] + 1) for L in letters],
    )


def tokenize_runs(
    texts: list, offsets: list, text_idx: list[int], page_h: float,
    rows: list | None = None, x0s: list | None = None,
) -> list[Unit] | None:
    """TokenizePage built from each text span's layout runs (_RUN_RE)
    instead of its letters: the tokens of
    ``tokenize_page(extract_letters(...))``, with one glyph range per
    non-whitespace run rather than one per glyph.

    Every glyph is GLYPH_W x GLYPH_H, so the page's upper-median glyph
    size is the model's up to float noise, and rows lie ROW_PITCH apart,
    far beyond the line tolerance, so each row is one line. Within a row
    the runs are merged across spans by their x gap (pass 1), then pass 2
    joins digits as the letter loop does. Returns None — the caller runs
    the letter loop — when a row's spans interleave in x (the letter sort
    would mix their glyphs) or a gap lies within _GAP_EPS of a threshold,
    where that float noise decides. Gaps are computed with the letter
    loop's own float expressions, so every other comparison agrees."""
    word_gap, digit_gap = _gaps(GLYPH_W, GLYPH_H)
    ph_top = page_h - TOP_MARGIN
    by_row: dict[int, list] = {}
    for si in text_idx:
        t = texts[si]
        runs = [m.span() for m in _RUN_RE.finditer(t)]
        if not runs:
            continue
        if rows is not None:
            row, x0 = rows[si], x0s[si]
        else:
            row, x0, _, _ = _offset_geom(offsets[si], page_h)
        first = x0 + GLYPH_W * runs[0][0]
        last = x0 + GLYPH_W * (runs[-1][1] - 1)
        by_row.setdefault(row, []).append((first, last, si, x0, t, runs))

    tokens: list[Unit] = []
    for row in sorted(by_row):  # row asc == top desc, the line order
        top = ph_top - row * ROW_PITCH
        bottom = top - GLYPH_H
        spans = by_row[row]
        if len(spans) > 1:
            spans.sort()
            for prev, nxt in zip(spans, spans[1:]):
                if nxt[0] <= prev[1]:
                    return None
        base: list[Unit] = []
        cur = None
        for _first, _last, si, x0, t, runs in spans:
            for a, b in runs:
                left = x0 + GLYPH_W * a
                right = (x0 + GLYPH_W * (b - 1)) + GLYPH_W
                run = t[a:b]
                if " " in run or "\t" in run:
                    parts = run.replace("\t", " ").split(" ")
                    chars = []
                    pos = a
                    for part in parts:
                        chars.append((si, pos, pos + len(part)))
                        pos += len(part) + 1
                    run = "".join(parts)
                else:
                    chars = [(si, a, b)]
                if cur is not None:
                    gap = left - cur.right
                    if abs(gap - word_gap) <= _GAP_EPS:
                        return None
                    if gap <= word_gap:
                        cur.text += run
                        cur.right = right
                        cur.chars.extend(chars)
                        continue
                    base.append(cur)
                cur = Unit(run, left, right, bottom, top, chars)
        base.append(cur)
        for tok, nxt in zip(base, base[1:]):
            if (
                abs(nxt.left - tok.right - digit_gap) <= _GAP_EPS
                and _is_single_digit_token(tok.text)
                and _is_single_digit_token(nxt.text)
            ):
                return None
        tokens.extend(_join_digit_tokens(base, digit_gap))
    return tokens


# ---------------------------------------------------------------------------
# Searchable text + matching (A8, F1, F2)
# ---------------------------------------------------------------------------
def build_search_text(units: list[Unit]) -> tuple[str, list[int], list[int]]:
    """BuildSearchableText[FromTokens] (PdfPigTextLocator.cs:165-219): join
    unit texts with a single-space delimiter; record each unit's half-open
    char range [start, end) via running length (exclusive prefix sum)."""
    parts: list[str] = []
    starts: list[int] = []
    ends: list[int] = []
    pos = 0
    for u in units:
        starts.append(pos)
        pos += len(u.text)
        ends.append(pos)
        parts.append(u.text)
        pos += 1  # space delimiter
    return " ".join(parts) + (" " if parts else ""), starts, ends


def _fold_1to1(s: str) -> str:
    """LENGTH-PRESERVING case fold for ordinal-insensitive compare — the
    .NET OrdinalIgnoreCase analog (per-char ToUpperInvariant, which never
    expands). Python str.lower()/upper() can change length ('İ'.lower()
    is 2 chars, 'ß'.upper() is 'SS'), which would shift match indices
    against the original text and mask the WRONG glyphs; any char whose
    uppercase expands is left as-is (ordinally distinct, like .NET)."""
    return "".join(u if len(u := ch.upper()) == 1 else ch for ch in s)


def find_matches(
    search_text: str, rule: Rule, folded_text: str | None = None
) -> list[tuple[int, int, str]]:
    """FindMatches (PdfPigTextLocator.cs:221-260) -> [(start, end, text)].

    Regex: Python re.finditer ~ .NET Regex.Matches with CultureInvariant
    (+IgnoreCase when case_sensitive=False). Literal: non-overlapping
    IndexOf loop advancing by len(pattern). An empty literal pattern
    matches nothing (str.find('') succeeds at every index and the skip
    advance is zero — without the guard the loop never terminates).

    ``folded_text`` lets callers share ONE _fold_1to1(search_text) across
    a rule set (round-5 review: folding the same page text once per
    case-insensitive literal rule was O(rules x page_chars) pure-Python
    char work in the Arrow hot path)."""
    out: list[tuple[int, int, str]] = []
    if rule.is_regex:
        # BuildRegexOptions (:262-278): defaults = CultureInvariant
        # (+IgnoreCase when case-insensitive); an explicit override
        # REPLACES the defaults entirely.
        if rule.regex_flags is not None:
            flags = rule.regex_flags
        else:
            flags = 0 if rule.case_sensitive else re.IGNORECASE
        out = [
            (m.start(), m.end(), m.group(0))
            for m in _compiled(rule.pattern, flags).finditer(search_text)
        ]
    else:
        pat = rule.pattern
        if not pat:
            return out
        if rule.case_sensitive:
            hay = search_text
        else:
            hay = folded_text if folded_text is not None else _fold_1to1(search_text)
        needle = pat if rule.case_sensitive else _fold_1to1(pat)
        idx = 0
        while True:
            idx = hay.find(needle, idx)
            if idx == -1:
                break
            out.append((idx, idx + len(pat), pat))
            idx += len(pat)
    return out


def _shared_fold(text: str, rules: list[Rule]) -> str | None:
    """One haystack fold shared by every case-insensitive literal rule on
    a page (None when no rule needs it)."""
    if any(not r.case_sensitive and not r.is_regex for r in rules):
        return _fold_1to1(text)
    return None


def overlapping_units(
    starts: list[int], ends: list[int], m_start: int, m_end: int
) -> list[int]:
    """GetMatchingWords/Tokens (PdfPigTextLocator.cs:280-294): units with
    end > m_start and start < m_end. Units are contiguous and sorted by
    start, so the hits are one index range — found by bisection (the O(log n)
    upgrade the reference itself flags at IMPLEMENTATION.md:158)."""
    lo = bisect.bisect_right(ends, m_start)   # first unit with end > m_start
    hi = bisect.bisect_left(starts, m_end)    # first unit with start >= m_end
    return list(range(lo, hi))


def group_units_by_line(units: list[Unit]) -> list[list[Unit]]:
    """GroupWordsByLine / GroupTokensByLine (PdfPigTextLocator.cs:300-382):
    sort Bottom asc (stable), anchor-based clustering — a unit joins the
    current line iff |bottom - anchor| <= 2.0 where anchor is the FIRST
    unit's bottom (fixed per cluster, not a rolling lag)."""
    if not units:
        return []
    if len(units) == 1:
        return [units]
    s = sorted(units, key=lambda u: u.bottom)
    groups: list[list[Unit]] = []
    current = [s[0]]
    anchor = s[0].bottom
    for u in s[1:]:
        if abs(u.bottom - anchor) <= LINE_TOL:
            current.append(u)
        else:
            groups.append(current)
            current = [u]
            anchor = u.bottom
    groups.append(current)
    return groups


def region_from_units(
    page: PageCtx, units: list[Unit], matched_text: str, pattern: str
) -> Region:
    """CreateRedactionRegion[FromTokens] (PdfPigTextLocator.cs:389-432):
    bbox union of the unit group."""
    if len(units) == 1:
        u = units[0]
        return Region(
            page=page.number,
            x=u.left,
            y=u.bottom,
            width=u.right - u.left,
            height=u.top - u.bottom,
            matched_text=matched_text,
            rule_pattern=pattern,
            rotation=page.rotation,
            chars=list(u.chars),
        )
    min_x = min(u.left for u in units)
    min_y = min(u.bottom for u in units)
    max_x = max(u.right for u in units)
    max_y = max(u.top for u in units)
    return Region(
        page=page.number,
        x=min_x,
        y=min_y,
        width=max_x - min_x,
        height=max_y - min_y,
        matched_text=matched_text,
        rule_pattern=pattern,
        rotation=page.rotation,
        chars=[c for u in units for c in u.chars],
    )


# ---------------------------------------------------------------------------
# Locate (ProcessPage, PdfPigTextLocator.cs:54-132)
# ---------------------------------------------------------------------------
def locate_page(
    texts: list, offsets: list, page: PageCtx, rules: list[Rule],
    rows: list | None = None, x0s: list | None = None,
    clean: list | None = None,
    split_rules: tuple[list[Rule], list[Rule]] | None = None,
) -> list[Region]:
    regions: list[Region] = []
    if split_rules is not None:
        frag_rules, word_rules = split_rules
    else:
        frag_rules = [r for r in rules if r.use_fragment_mode()]
        word_rules = [r for r in rules if not r.use_fragment_mode()]

    if frag_rules:
        tokens = tokenize_runs(texts, offsets, page.text_idx, page.height, rows, x0s)
        if tokens is None:
            tokens = tokenize_page(
                extract_letters(texts, offsets, page.text_idx, page.height)
            )
        text, starts, ends = build_search_text(tokens)
        folded = _shared_fold(text, frag_rules)
        for rule in frag_rules:
            for m_start, m_end, m_text in find_matches(text, rule, folded):
                hit = [tokens[i] for i in overlapping_units(starts, ends, m_start, m_end)]
                if hit:
                    for group in group_units_by_line(hit):
                        regions.append(region_from_units(page, group, m_text, rule.pattern))

    if word_rules:
        fast = _locate_words_fast(texts, offsets, page, word_rules, rows, x0s, clean)
        if fast is not None:
            regions.extend(fast)
        else:
            regions.extend(_locate_words_general(texts, offsets, page, word_rules))

    return regions


def _locate_words_general(
    texts: list, offsets: list, page: PageCtx, word_rules: list[Rule]
) -> list[Region]:
    """Unit-materializing word branch (the direct transcription of the
    reference flow); used when the fast path declines a page, and as the
    equivalence oracle for it in tests."""
    regions: list[Region] = []
    words = extract_words(texts, offsets, page.text_idx, page.height)
    text, starts, ends = build_search_text(words)
    folded = _shared_fold(text, word_rules)
    for rule in word_rules:
        for m_start, m_end, m_text in find_matches(text, rule, folded):
            hit = [words[i] for i in overlapping_units(starts, ends, m_start, m_end)]
            if hit:
                for group in group_units_by_line(hit):
                    regions.append(region_from_units(page, group, m_text, rule.pattern))
    return regions


def _locate_words_fast(
    texts: list, offsets: list, page: PageCtx, word_rules: list[Rule],
    rows: list | None = None, x0s: list | None = None,
    clean: list | None = None,
) -> list[Region] | None:
    """O(hits) word-branch: identical output to the unit-materializing path
    but without building per-word objects.

    The searchable text is assembled SPAN-segment-wise (each text span's
    words joined by single spaces — byte-identical to the reference's
    word-joined text when same-row spans don't overlap in x, because the
    global word sort (Bottom asc, Left asc) then equals the span-segment
    order). Word structures are materialized lazily, only around match
    positions. Returns None when a page needs the general path
    (x-overlapping spans on one row). ``rows``/``x0s`` optionally carry
    precomputed per-span offset geometry (row index, x origin); ``clean``
    optionally carries a batch-precomputed conservative regularity flag
    (True implies _NONREG_RE would not match — never the other way)."""
    # Per-span geometry + normalized segment text, sorted by (bottom, left).
    segs = []  # (bottom, left, si, x0, top, t, norm, regular)
    add = segs.append
    ph_top = page.height - TOP_MARGIN
    for si in page.text_idx:
        if rows is not None:
            top = ph_top - rows[si] * ROW_PITCH
            x0 = x0s[si]
        else:
            _, x0, top, _ = _offset_geom(offsets[si], page.height)
        bottom = top - GLYPH_H
        t = texts[si]
        if (clean[si] if clean is not None else False) or _NONREG_RE.search(t) is None:
            # clean span: no tab/odd-ws, no leading/trailing/double space —
            # it IS its own single-space word join (lead = 0, regular)
            if not t:
                continue
            add((bottom, x0, si, x0, top, t, t, True))
            continue
        if _ODD_WS_RE.search(t):
            # \n/\xa0/... are glyphs in the data model but separators to
            # str.split(): the segment text would diverge from the
            # general path's word map — decline the page.
            return None
        words = t.split()
        if not words:
            continue
        norm = " ".join(words)
        lead = len(t) - len(t.lstrip(" \t"))
        add((bottom, x0 + GLYPH_W * lead, si, x0, top, t, norm, norm == t))
    # keyless tuple sort == sort by (bottom, left): si (element 2) is unique
    # per span, so comparison never reaches the later elements on real data
    segs.sort()

    # Same-row x-overlap check: if spans interleave in x, the reference's
    # global word sort differs from segment order -> general path. Rows
    # with a single segment (all bottoms distinct) trivially pass; when
    # duplicates exist, one sorted-order pass replaces the per-row dict
    # (rows are contiguous and left-ordered after the sort), and regular
    # segments skip the trailing-whitespace strip (they have none).
    bots = [s[0] for s in segs]
    if len(set(bots)) != len(bots):
        prev_b = prev_right = None
        for s in segs:
            if s[0] != prev_b:
                prev_b = s[0]
                prev_right = None
            elif s[1] < prev_right:
                return None
            t = s[5]
            prev_right = s[3] + GLYPH_W * (
                len(t) if s[7] else len(t.rstrip(" \t"))
            )

    parts = [s[6] for s in segs]
    lens = [len(p) for p in parts]
    cum = list(_accumulate([l + 1 for l in lens], initial=0))
    starts = cum[:-1]
    ends = [a + l for a, l in zip(starts, lens)]
    search = " ".join(parts) + (" " if parts else "")

    word_maps: dict[int, list] = {}  # seg idx -> [(norm_a, norm_b, t_a, t_b)]

    def covered_range(k: int, lo: int, hi: int) -> tuple[int, int]:
        """Expand the norm-coordinate range [lo, hi) of segment k to whole
        words, returning the covering char range in the ORIGINAL span text."""
        _, _, _, _, _, t, norm, regular = segs[k]
        if regular:
            # Mirror the word-map semantics (first word with end > lo): a
            # match boundary landing ON an inter-word space must snap to the
            # FOLLOWING word, not the preceding one. `regular` guarantees
            # single spaces, so lo+1 is the next word's start.
            if t[lo] == " ":
                a = lo + 1
            else:
                a = t.rfind(" ", 0, lo) + 1
            b = t.find(" ", max(hi - 1, lo))
            if b == -1:
                b = len(t)
            return a, b
        wm = word_maps.get(k)
        if wm is None:
            wm = []
            npos = 0
            for m in _WORD_RE.finditer(t):
                ta, tb = m.span()
                wm.append((npos, npos + tb - ta, ta, tb))
                npos += tb - ta + 1
            word_maps[k] = wm
        first = next(w for w in wm if w[1] > lo)
        last = next(w for w in reversed(wm) if w[0] < hi)
        return first[2], last[3]

    regions: list[Region] = []
    add_region = regions.append
    page_number = page.number
    page_rotation = page.rotation
    bl = bisect.bisect_left
    br = bisect.bisect_right
    folded = _shared_fold(search, word_rules)
    for rule in word_rules:
        pattern = rule.pattern
        for m_start, m_end, m_text in find_matches(search, rule, folded):
            lo_i = br(ends, m_start)
            hi_i = bl(starts, m_end)
            if hi_i - lo_i == 1 and m_end != m_start:
                # single-segment match (the overwhelmingly common case):
                # build the Region directly — the one-Unit group is its
                # own line group and its own bbox, so Unit /
                # group_units_by_line / region_from_units add nothing
                k = lo_i
                bottom, _, si, x0, top, t, norm, _ = segs[k]
                c_lo = max(m_start - starts[k], 0)
                c_hi = min(m_end - starts[k], len(norm))
                a, b = covered_range(k, c_lo, c_hi)
                if a < b:
                    left = x0 + GLYPH_W * a
                    add_region(Region(
                        page=page_number,
                        x=left,
                        y=bottom,
                        width=GLYPH_W * b + x0 - left,
                        height=top - bottom,
                        matched_text=m_text,
                        rule_pattern=pattern,
                        rotation=page_rotation,
                        chars=[(si, a, b)],
                    ))
                continue
            hits: list[Unit] = []
            for k in range(lo_i, hi_i):
                bottom, _, si, x0, top, t, norm, _ = segs[k]
                c_lo = max(m_start - starts[k], 0)
                c_hi = min(m_end - starts[k], len(norm))
                if m_end == m_start:
                    # zero-width match: a word is covered only when the
                    # position is STRICTLY inside it (end > p AND start < p)
                    p = c_lo
                    if not (0 < p < len(norm) and norm[p] != " " and norm[p - 1] != " "):
                        continue
                a, b = covered_range(k, c_lo, c_hi)
                if a >= b:
                    # Match lies entirely on inter-word whitespace within
                    # this segment: no word is covered (the general path's
                    # overlapping_units returns nothing for it).
                    continue
                hits.append(
                    Unit(
                        text=t[a:b],
                        left=x0 + GLYPH_W * a,
                        right=x0 + GLYPH_W * b,
                        bottom=bottom,
                        top=top,
                        chars=[(si, a, b)],
                    )
                )
            if hits:
                for group in group_units_by_line(hits):
                    regions.append(region_from_units(page, group, m_text, rule.pattern))
    return regions


def locate_document_cols(
    doc_id: str, kinds: list, texts: list, offsets: list, rules: list[Rule],
    geom: tuple | None = None,
) -> list[Region]:
    """LocateText (PdfPigTextLocator.cs:20-52): empty rule set -> empty plan;
    else per page in order. Columnar core. ``geom`` optionally carries
    precomputed (bands, rows, x0s) per-span offset geometry."""
    if not rules:
        return []
    bands, rows, x0s, clean = geom if geom is not None else (None,) * 4
    split_rules = _split_rules(rules)
    regions: list[Region] = []
    for page in split_pages_cols(kinds, texts, offsets, bands):
        regions.extend(
            locate_page(texts, offsets, page, rules, rows, x0s, clean, split_rules)
        )
    return regions


def _split_rules(rules: list[Rule]) -> tuple[list[Rule], list[Rule]]:
    """(frag_rules, word_rules) — hoisted out of the per-page loop (the
    tri-state router re-ran per page for a per-job-constant rule set)."""
    frag = [r for r in rules if r.use_fragment_mode()]
    word = [r for r in rules if not r.use_fragment_mode()]
    return frag, word


def locate_document(doc_id: str, spans: list[dict], rules: list[Rule]) -> list[Region]:
    """Dict-API wrapper over :func:`locate_document_cols`."""
    kinds, texts, _, offsets = cols_from_spans(spans)
    return locate_document_cols(doc_id, kinds, texts, offsets, rules)


# ---------------------------------------------------------------------------
# Apply (PdfSharpMaskApplicator.cs:20-126) in span space
# ---------------------------------------------------------------------------
class RotationError(Exception):
    """Fail-fast parity with PdfSharpMaskApplicator.cs:95-102."""


def _sort_cols(
    kinds: list, texts: list, refs: list, offsets: list
) -> tuple[list, list, list, list]:
    """Deterministic output order: (offset, kind, media_ref, text) — the
    columnar equivalent of the wrapper API's dict sort. Implemented as a
    keyless C-level tuple sort (same ordering, ties stable)."""
    rows = sorted(zip(offsets, kinds, refs, texts))
    return (
        [r[1] for r in rows],
        [r[3] for r in rows],
        [r[2] for r in rows],
        [r[0] for r in rows],
    )


def redact_document_cols(
    doc_id: str,
    kinds: list,
    texts: list,
    refs: list,
    offsets: list,
    rules: list[Rule],
    flatten: bool = False,
    geom: tuple | None = None,
) -> tuple[list, list, list, list, list[Region], int]:
    """Fused locate+apply (RedactCommand.cs:126-225 lifecycle), columnar
    core: consumes/produces flat parallel arrays so the Spark stage can
    feed it straight from Arrow child arrays (no per-span dicts).

    Returns (kinds, texts, refs, offsets, regions, n_rule_hits) with the
    output arrays sorted by (offset, kind, media_ref, text). Raises
    RotationError when any region lands on a rotated page (the reference's
    NotSupportedException). Zero regions -> output == input verbatim
    (File.Copy pass-through, ApplyCommand.cs:65-69). ``geom`` optionally
    carries precomputed (bands, rows, x0s) per-span offset geometry."""
    bands, rows, x0s, clean = geom if geom is not None else (None,) * 4
    pages = split_pages_cols(kinds, texts, offsets, bands)
    if not rules:
        regions: list[Region] = []
    else:
        split_rules = _split_rules(rules)
        regions = []
        for page in pages:
            regions.extend(
                locate_page(
                    texts, offsets, page, rules, rows, x0s, clean, split_rules
                )
            )

    if not regions and not flatten:
        return list(kinds), list(texts), list(refs), list(offsets), [], 0

    if flatten:
        # The splice output is discarded in flatten mode — run only its
        # rotation fail-fast (PdfSharpMaskApplicator.cs:95-102 parity),
        # not the full covered-glyph splice.
        for r in regions:
            if r.rotation != 0:
                raise RotationError(
                    f"Page rotation ({r.rotation}°) is not currently supported."
                )
    else:
        ctx_by_number: dict[int, PageCtx] = {}
        for p in pages:
            ctx_by_number.setdefault(p.number, p)  # first band is primary
        out = _apply_regions_cols(
            doc_id, kinds, texts, refs, offsets, regions,
            page_ctx=ctx_by_number,
        )

    if flatten:
        # FLATTEN_MODE.md:4-11 / north_star flatten events: each page's
        # content collapses to one image-only media span; page markers stay.
        fk: list = []
        ft: list = []
        fr: list = []
        fo: list = []
        for page in pages:
            mi = page.marker_idx
            if mi is not None:
                fk.append(kinds[mi])
                ft.append(texts[mi])
                fr.append(refs[mi])
                fo.append(offsets[mi])
            # band from the page's ACTUAL offset band: a marker declaring
            # a different number must not teleport the flat media span to
            # another page's offset range
            band = max(page.band, 1)
            fk.append("media")
            ft.append("")
            fr.append(f"flat:{doc_id}:{page.number}")
            fo.append(int(band * PAGE_BASE + 1))
        out = (fk, ft, fr, fo)

    k, t, r, o = _sort_cols(*out)
    return k, t, r, o, regions, len(regions)


def redact_document(
    doc_id: str,
    spans: list[dict],
    rules: list[Rule],
    flatten: bool = False,
) -> tuple[list[dict], list[Region], int]:
    """Dict-API wrapper over :func:`redact_document_cols`."""
    kinds, texts, refs, offsets = cols_from_spans(spans)
    k, t, r, o, regions, hits = redact_document_cols(
        doc_id, kinds, texts, refs, offsets, rules, flatten
    )
    return spans_from_cols(k, t, r, o), regions, hits


def _apply_regions_cols(
    doc_id: str,
    kinds: list,
    texts: list,
    refs: list,
    offsets: list,
    regions: list[Region],
    page_ctx: dict[int, "PageCtx"] | None = None,
) -> tuple[list, list, list, list]:
    """Mask application core (PdfSharpMaskApplicator.cs:48-126 in span
    space): rotation fail-fast, deterministic W6 apply order (page asc,
    Y desc, X asc) -> mask sequence ids, covered-glyph removal + span
    splicing. Columnar in/out. ``page_ctx`` maps declared page number ->
    its PRIMARY (first-band) PageCtx, giving the no-glyph fallback the
    page's real band and height (round-5 review: a last-wins heights
    dict collided on multi-band numbers, and deriving the band from the
    DECLARED number could teleport the mask to an empty band — or
    overflow int32 for an absurd declared number)."""
    by_page: dict[int, list[Region]] = {}
    for r in regions:
        if r.rotation != 0:
            raise RotationError(
                f"Page rotation ({r.rotation}°) is not currently supported."
            )
        by_page.setdefault(r.page, []).append(r)

    covered: dict[int, list] = {}  # span_idx -> covered [start, end) ranges
    mask_refs: list = []
    mask_offs: list = []
    for page_num in sorted(by_page):
        ordered = sorted(by_page[page_num], key=lambda r: (-r.y, r.x))
        for seq, r in enumerate(ordered, start=1):
            min_off = None
            for si, a, b in r.chars:
                covered.setdefault(si, []).append((a, b))
                off = offsets[si] + GLYPH_STRIDE * a
                if min_off is None or off < min_off:
                    min_off = off
            if min_off is None:
                # Region covering no glyphs (possible via decoupled apply):
                # the reference still draws the rect — emit the mask at its
                # geometric position, back-computed with the ACTUAL page
                # height (a non-US-Letter page would otherwise place the
                # mask rows away from its region) in the page's ACTUAL
                # offset band (same no-teleport rule as flatten).
                ctx = (page_ctx or {}).get(page_num)
                page_h = ctx.height if ctx is not None else DEFAULT_PAGE_H
                band = max(ctx.band if ctx is not None else 1, 1)
                row = max(0, round((page_h - TOP_MARGIN - (r.y + r.height)) / ROW_PITCH))
                min_off = encode_offset(band, row, r.x)
            mask_refs.append(f"mask:{doc_id}:{page_num}:{seq}")
            mask_offs.append(int(min_off))

    # Start from wholesale copies (C-level) and patch only the covered
    # spans in place — the uncovered majority never enters a Python loop
    # (measured: the old per-span append loop was ~11% of the fused
    # redaction kernel's time at 38 spans/doc with ~10 covered).
    ok: list = list(kinds)
    ot: list = list(texts)
    orf: list = list(refs)
    oo: list = list(offsets)
    for si in sorted(covered, reverse=True):
        # Merge covered intervals, complement them into surviving runs,
        # strip whitespace dangling at cut boundaries, shift offsets per
        # glyph cell — all O(intervals), not O(glyphs).
        text = texts[si]
        ivs = covered[si]
        ivs.sort()
        merged: list[list[int]] = []
        for a, b in ivs:
            if merged and a <= merged[-1][1]:
                if b > merged[-1][1]:
                    merged[-1][1] = b
            else:
                merged.append([a, b])
        runs: list[tuple[int, int]] = []
        prev = 0
        for a, b in merged:
            if a > prev:
                runs.append((prev, a))
            prev = max(prev, b)
        if prev < len(text):
            runs.append((prev, len(text)))
        fk: list = []
        ft: list = []
        fr: list = []
        fo: list = []
        for a, b in runs:
            while a < b and text[a] in _WS:
                a += 1
            while b > a and text[b - 1] in _WS:
                b -= 1
            if a == b:
                continue
            fk.append("text")
            ft.append(text[a:b])
            fr.append(refs[si])
            fo.append(int(offsets[si] + GLYPH_STRIDE * a))
        ok[si:si + 1] = fk
        ot[si:si + 1] = ft
        orf[si:si + 1] = fr
        oo[si:si + 1] = fo
    ok.extend(["mask"] * len(mask_refs))
    ot.extend([""] * len(mask_refs))
    orf.extend(mask_refs)
    oo.extend(mask_offs)
    return ok, ot, orf, oo


def apply_plan_cols(
    doc_id: str,
    kinds: list,
    texts: list,
    refs: list,
    offsets: list,
    regions: list[Region],
) -> tuple[list, list, list, list, int]:
    """Decoupled mask application from a saved plan (the reference `apply`
    command, ApplyCommand.cs:58-73 -> PdfSharpMaskApplicator.cs:20-82).

    Covered glyphs are recovered GEOMETRICALLY: a glyph belongs to a region
    iff its box intersects the region rectangle (half-open, so regions
    never leak onto touching neighbours). The reference's ±1pt MaskPadding
    (PdfSharpMaskApplicator.cs:17) is presentation-only — it inflates the
    drawn rect, not which text is redacted — so coverage uses the unpadded
    rect; use mask_geometry (queries) for the padded/clamped/Y-flipped
    draw rectangle.

    Out-of-range pages are silently skipped (P5,
    PdfSharpMaskApplicator.cs:57-60); zero regions -> VERBATIM copy in
    input order (ApplyCommand.cs:65-69 File.Copy — the fused path's
    zero-region branch behaves identically, so redact --save-plan and
    plain redact round-trip a non-canonically-ordered doc the same way).
    A non-empty plan whose regions all miss still re-serializes (sorts)
    the doc, like the reference applicator re-saving the PDF. Returns
    (kinds, texts, refs, offsets, n_regions_applied) sorted by
    (offset, kind, media_ref, text) whenever the applicator ran.
    """
    if not regions:
        return list(kinds), list(texts), list(refs), list(offsets), 0

    # Pages keyed by their DECLARED number; a number can map to several
    # offset bands on malformed docs (band-0 implicit page + real page 1),
    # and a plan region targeting that number must scan ALL of them —
    # a plain dict would silently drop one band's glyphs from coverage.
    all_pages = split_pages_cols(kinds, texts, offsets)
    pages_by_number: dict[int, list[PageCtx]] = {}
    for p in all_pages:
        pages_by_number.setdefault(p.number, []).append(p)
    applied: list[Region] = []
    for r in regions:
        matched = pages_by_number.get(r.page)
        if not matched:
            continue  # P5: silently skip out-of-range pages
        chars = []
        # Per-band glyph extraction with EACH band's own declared height
        # (round-5 review: one extract_letters over the concatenated
        # text_idx used matched[0].height for every band, so a band with
        # a different declared height got glyph tops shifted by the
        # height delta and the region covered the wrong text).
        for p in matched:
            for ch, left, right, bottom, top, si, ci in extract_letters(
                texts, offsets, p.text_idx, p.height
            ):
                if (
                    right > r.x
                    and left < r.x + r.width
                    and top > r.y
                    and bottom < r.y + r.height
                ):
                    chars.append((si, ci, ci + 1))
        applied.append(
            Region(
                page=r.page, x=r.x, y=r.y, width=r.width, height=r.height,
                matched_text=r.matched_text, rule_pattern=r.rule_pattern,
                rotation=r.rotation, chars=chars,
            )
        )

    ctx_by_number: dict[int, PageCtx] = {}
    for p in all_pages:
        ctx_by_number.setdefault(p.number, p)  # first band is primary
    out = _apply_regions_cols(
        doc_id, kinds, texts, refs, offsets, applied,
        page_ctx=ctx_by_number,
    )
    k, t, rf, o = _sort_cols(*out)
    return k, t, rf, o, len(applied)


def apply_plan(
    doc_id: str, spans: list[dict], regions: list[Region]
) -> tuple[list[dict], int]:
    """Dict-API wrapper over :func:`apply_plan_cols`."""
    kinds, texts, refs, offsets = cols_from_spans(spans)
    k, t, r, o, n = apply_plan_cols(doc_id, kinds, texts, refs, offsets, regions)
    return spans_from_cols(k, t, r, o), n
