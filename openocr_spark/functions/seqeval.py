"""Per-pair sequence-evaluation scorers for the CMER (markdown/chart
extraction) metric — pure Python, applied per row by the Arrow-batched
UDF in operators/metrics.cmer_metric.

Semantics follow the reference's rec_metric_cmer.py:
  _tokenize_13a  — the mteval-v13a tokenization (rec_metric_cmer.py:
                   85-121 Tokenizer13a/TokenizerRegexp; the regex set is
                   the published sacrebleu 13a wire contract, shared the
                   way spec tables are)
  bleu_pair      — compute_bleu (rec_metric_cmer.py:20-72) for ONE
                   (pred, ref) pair, max_order 4, no smoothing:
                   clipped n-gram precision geometric mean × brevity
                   penalty
  rouge_n_f / rouge_l_f — ROUGE-N multiset-overlap and ROUGE-L LCS
                   f-measures per the published google-research/rouge
                   definition (the reference calls the rouge_score
                   library, external like model weights; this is a
                   from-scratch implementation of the same definition,
                   differentially tested against an independent
                   test-side implementation + hand-computed pins)
"""

from __future__ import annotations

import math
import re
from collections import Counter

_13A_RES = [
    (re.compile(r"([\{-\~[-\` -\&\(-\+\:-\@\/])"), r" \1 "),
    (re.compile(r"([^0-9])([\.,])"), r"\1 \2 "),
    (re.compile(r"([\.,])([^0-9])"), r" \1 \2"),
    (re.compile(r"([0-9])(-)"), r"\1 \2 "),
]


def tokenize_13a(line: str) -> list[str]:
    """mteval-v13a: the skipped/newline/entity pre-steps then the four
    regex splits (rec_metric_cmer.py:103-121)."""
    line = line.replace("<skipped>", "")
    line = line.replace("-\n", "")
    line = line.replace("\n", " ")
    if "&" in line:
        line = line.replace("&quot;", '"')
        line = line.replace("&amp;", "&")
        line = line.replace("&lt;", "<")
        line = line.replace("&gt;", ">")
    line = f" {line} "
    for pat, repl in _13A_RES:
        line = pat.sub(repl, line)
    return line.split()


def _ngrams(tokens: list[str], max_order: int) -> Counter:
    counts: Counter = Counter()
    for order in range(1, max_order + 1):
        for i in range(len(tokens) - order + 1):
            counts[tuple(tokens[i : i + order])] += 1
    return counts


def bleu_pair(
    pred_tokens: list[str], ref_tokens: list[str], max_order: int = 4
) -> float:
    """compute_bleu for a single pair, smooth=False — including the
    reference's exact brevity-penalty edge rules (ratio > 1 → 1,
    ratio ≤ 0 → 0, reference_length 0 → ratio 0)."""
    matches = [0] * max_order
    possible = [0] * max_order
    ref_counts = _ngrams(ref_tokens, max_order)
    pred_counts = _ngrams(pred_tokens, max_order)
    overlap = pred_counts & ref_counts
    for ngram, c in overlap.items():
        matches[len(ngram) - 1] += c
    for order in range(1, max_order + 1):
        p = len(pred_tokens) - order + 1
        if p > 0:
            possible[order - 1] += p
    precisions = [
        (float(matches[i]) / possible[i]) if possible[i] > 0 else 0.0
        for i in range(max_order)
    ]
    if min(precisions) > 0:
        geo_mean = math.exp(
            sum((1.0 / max_order) * math.log(p) for p in precisions)
        )
    else:
        geo_mean = 0.0
    ref_len = len(ref_tokens)
    ratio = 0.0 if ref_len == 0 else float(len(pred_tokens)) / ref_len
    if ratio > 1.0:
        bp = 1.0
    elif ratio <= 0:
        bp = 0.0
    else:
        bp = math.exp(1 - 1.0 / ratio)
    return geo_mean * bp


def _fmeasure(p: float, r: float) -> float:
    return 2.0 * p * r / (p + r) if p + r > 0 else 0.0


def rouge_n_f(pred_tokens: list[str], ref_tokens: list[str], n: int) -> float:
    """ROUGE-N f-measure: multiset n-gram intersection over max(count,1)
    denominators (google-research/rouge _score_ngrams)."""
    pc = Counter(
        tuple(pred_tokens[i : i + n]) for i in range(len(pred_tokens) - n + 1)
    )
    rc = Counter(
        tuple(ref_tokens[i : i + n]) for i in range(len(ref_tokens) - n + 1)
    )
    inter = sum((pc & rc).values())
    precision = inter / max(sum(pc.values()), 1)
    recall = inter / max(sum(rc.values()), 1)
    return _fmeasure(precision, recall)


def _lcs_len(a: list[str], b: list[str]) -> int:
    if not a or not b:
        return 0
    prev = [0] * (len(b) + 1)
    for x in a:
        cur = [0] * (len(b) + 1)
        for j, y in enumerate(b, 1):
            cur[j] = prev[j - 1] + 1 if x == y else max(prev[j], cur[j - 1])
        prev = cur
    return prev[-1]


def rouge_l_f(pred_tokens: list[str], ref_tokens: list[str]) -> float:
    """ROUGE-L f-measure: LCS length over max(len,1) denominators
    (google-research/rouge _score_lcs)."""
    lcs = _lcs_len(pred_tokens, ref_tokens)
    precision = lcs / max(len(pred_tokens), 1)
    recall = lcs / max(len(ref_tokens), 1)
    return _fmeasure(precision, recall)


def cmer_pair_scores(pred: str, ref: str) -> tuple[float, float, float, float]:
    """(rouge1, rouge2, rougeL, bleu) for one (pred, ref) pair under 13a
    tokenization — the per-pair scores CMERMetric averages
    (rec_metric_cmer.py:254-276 _compute_single_pair)."""
    pt = tokenize_13a(pred)
    rt = tokenize_13a(ref)
    return (
        rouge_n_f(pt, rt, 1),
        rouge_n_f(pt, rt, 2),
        rouge_l_f(pt, rt),
        bleu_pair(pt, rt),
    )
