"""Pure-python text kernels (per-string logic the reference implements
as scalar helpers). Each is written from scratch against the *semantics*
documented in SURVEY.md §2.8; unit tests pin the behavior. The
operators call them directly from their Arrow kernels and row UDFs.
"""

from __future__ import annotations

import re


def truncate_repetitive_content(
    text: str,
    line_threshold: int = 10,
    char_threshold: int = 10,
    min_len: int = 10,
) -> str:
    """Repetition truncation, reference-exact
    (tools/utils/opendoc_onnx_utils/utils.py:973-1020; pinned by
    tests/test_reference_differential.py against the reference's own
    function). Three priorities over the STRIPPED string:
      1. single long line (>100 chars, no newline) ending in a phrase of
         ≥8 chars repeated ≥5 times covering >50% of the string → keep
         only the prefix BEFORE the repetition (all copies dropped —
         including the prefix-empty case, which returns '');
      2. single line >min_len chars that is exactly one unit repeated
         ≥char_threshold times → keep one unit;
      3. ≥line_threshold non-blank lines where one stripped line is ≥80%
         of them (count ≥ line_threshold) → keep just that line.
    Applied to recognition output before assembly
    (infer_doc_onnx.py:950)."""
    stripped = text.strip()
    if not stripped:
        return text

    single_line = "\n" not in stripped

    # priority 1: repeating suffix phrase in a long single line — the
    # LONGEST unit (scanning len//5 down to 8) that repeats ≥5× wins
    if single_line and len(stripped) > 100:
        n = len(stripped)
        for p in range(n // 5, 7, -1):
            unit = stripped[-p:]
            if stripped.endswith(unit * 5):
                k = 0
                while stripped[: n - k * p].endswith(unit):
                    k += 1
                if p * k > n * 0.5:
                    return stripped[: n - k * p]
                break  # reference returns after the first (longest) hit

    # priority 2: whole string is one unit repeated ≥ char_threshold ×
    if single_line and len(stripped) > min_len:
        n = len(stripped)
        for p in range(1, n // 2 + 1):
            if n % p == 0 and stripped == stripped[:p] * (n // p):
                if n // p >= char_threshold:
                    return stripped[:p]
                break  # shortest covering unit found but too few copies

    # priority 3: dominant line
    lines = [ln.strip() for ln in text.split("\n") if ln.strip()]
    if not lines or len(lines) < line_threshold:
        return text
    counts: dict[str, int] = {}
    for ln in lines:
        counts[ln] = counts.get(ln, 0) + 1
    top, c = max(counts.items(), key=lambda kv: kv[1])
    if c >= line_threshold and c / len(lines) >= 0.8:
        return top
    return text


def truncate_repeated_tail(text: str, threshold: int = 20, keep: int = 1) -> str:
    """Tail pattern repeated > threshold times → keep `keep` copies
    (to_markdown.py:7-53, reference-exact: pattern length is capped at
    min(100, len//threshold), SHORTEST pattern wins)."""
    if not text:
        return text
    n = len(text)
    for p in range(1, min(100, n // threshold) + 1):
        phrase = text[n - p :]
        k = 0
        while text[: n - k * p].endswith(phrase):
            k += 1
        if k > threshold:
            return text[: n - k * p] + phrase * keep
    return text


def _match_ss(prev: str, seg: str) -> str:
    """Longest suffix(prev)==prefix(seg) overlap, longest-first; returns
    seg's post-overlap remainder (rec_metric.py:7-11 match_ss, exact —
    including the no-overlap fallthrough that appends seg whole)."""
    for k in range(len(prev), 0, -1):
        if prev[len(prev) - k :] == seg[:k]:
            return seg[k:]
    return seg


def stream_match(segments: list[str]) -> str:
    """The reference's sliding-window text merge (rec_metric.py:6-28
    stream_match/match_ss, exact; pinned against the reference's own
    function by test_metric_differential). Window-boundary characters
    are unreliable crop-edge glyphs, so the FIRST segment drops its last
    char, MIDDLE segments drop first and last, the FINAL segment drops
    its first (a single segment therefore loses its last char — kept
    bug-for-bug). Each trimmed segment matches against the PREVIOUS
    REMAINDER only (not the accumulated string) by the longest
    suffix==prefix overlap; the post-overlap remainder is appended and
    becomes the next matching context."""
    if not segments:
        return ""
    rem = segments[0][:-1]
    out = rem
    n = len(segments)
    for i in range(1, n):
        seg = segments[i][1:-1] if i < n - 1 else segments[i][1:]
        rem = _match_ss(rem, seg)
        out += rem
    return out


_LATIN_RUN = re.compile(r"[a-zA-Z0-9 :*./%+-]+")


def stream_merge(ordered_slices: list[str]) -> str:
    """Slice-merge dispatch per the reference: stream_match only runs on
    text that was actually SLICED (out-of-length lines,
    rec_metric_long.py stream mode); a lone in-length segment passes
    through unchanged — stream_match's boundary trim would drop its
    last character."""
    if len(ordered_slices) == 1:
        return ordered_slices[0]
    return stream_match(ordered_slices)


def pred_reverse(text: str) -> str:
    """RTL segment-wise reversal keeping latin runs intact
    (ctc_postprocess.py:36-50 semantics): split into latin runs and
    single non-latin chars, emit the sequence reversed, latin runs
    untouched internally."""
    parts: list[str] = []
    i = 0
    while i < len(text):
        m = _LATIN_RUN.match(text, i)
        if m:
            parts.append(m.group(0))
            i = m.end()
        else:
            parts.append(text[i])
            i += 1
    return "".join(reversed(parts))
