"""Recognition kernel: CTC greedy decoding, from scratch in numpy.

Semantics follow the reference's CTCLabelDecode
(/root/reference/openrec/postprocess/ctc_postprocess.py:55-118):
  - softmax over the class axis, argmax per timestep (:108-109)
  - drop repeated symbols via a lag compare
    (`selection[1:] = ids[1:] != ids[:-1]`, :62-64)
  - drop the blank token (id 0; blank is PREPENDED to the charset,
    :116-118)
  - confidence = mean of the max-prob over kept timesteps (:72-84);
    an empty decode gets score 0.0
"""

from __future__ import annotations

import numpy as np

from openocr_spark.config import ID_TO_CHAR


def softmax(logits: np.ndarray, axis: int = -1) -> np.ndarray:
    m = logits.max(axis=axis, keepdims=True)
    e = np.exp(logits - m)
    return e / e.sum(axis=axis, keepdims=True)


def ctc_greedy_decode(logits: np.ndarray) -> tuple[str, float]:
    """logits float32[T, num_classes] → (text, confidence)."""
    if logits.size == 0:
        return "", 0.0
    probs = softmax(logits.astype(np.float64), axis=1)
    ids = probs.argmax(axis=1)
    conf = probs.max(axis=1)
    keep = np.ones(len(ids), dtype=bool)
    keep[1:] = ids[1:] != ids[:-1]  # de-dup repeats (ctc_postprocess.py:62-64)
    keep &= ids != 0  # drop blank
    if not keep.any():
        return "", 0.0
    kept_ids = ids[keep]
    text = "".join(ID_TO_CHAR.get(int(i), "") for i in kept_ids)
    return text, float(conf[keep].mean())


NRTR_SPECIALS = ("blank", "<unk>", "<s>", "</s>")


def nrtr_greedy_decode(
    logits: np.ndarray, charset: str | None = None
) -> tuple[str, float]:
    """NRTR/ABINet/CPPD-family decode (openrec/postprocess/
    nrtr_postprocess.py:50-74): per-position argmax over a vocabulary
    with [blank, <unk>, <s>, </s>] PREPENDED, break at '</s>', NO
    adjacent-duplicate removal (AR models emit each char once);
    confidence = mean of kept position probabilities (0.0 when nothing
    decodes — the reference's np.mean([]) NaN is not propagated)."""
    from openocr_spark.config import CHARSET

    vocab = list(NRTR_SPECIALS) + list(charset or CHARSET)
    if logits.size == 0:
        return "", 0.0
    probs = softmax(logits.astype(np.float64), axis=1)
    ids = probs.argmax(axis=1)
    conf = probs.max(axis=1)
    chars: list[str] = []
    confs: list[float] = []
    for i, k in enumerate(ids):
        if int(k) >= len(vocab):
            continue
        ch = vocab[int(k)]
        if ch == "</s>":
            break
        chars.append(ch)
        confs.append(float(conf[i]))
    if not chars:
        return "", 0.0
    return "".join(chars), float(np.mean(confs))


def srn_fixed_decode(
    logits: np.ndarray, max_len: int = 25, charset: str | None = None
) -> tuple[str, float]:
    """SRN fixed-length decode (openrec/postprocess/
    srn_postprocess.py:18-55): vocabulary with <BOS>/<EOS> APPENDED,
    exactly max_len positions, BOS/EOS positions skipped via the
    ignored-token check. Faithful quirk: because end_idx is in
    ignored_tokens and that check precedes the break, decoding does NOT
    stop at EOS — characters after an EOS position are kept (srn_
    postprocess.py:34-41 control flow)."""
    from openocr_spark.config import CHARSET

    vocab = list(charset or CHARSET) + ["<BOS>", "<EOS>"]
    ignored = {len(vocab) - 2, len(vocab) - 1}
    if logits.size == 0:
        return "", 0.0
    probs = softmax(logits.astype(np.float64), axis=1)
    ids = probs.argmax(axis=1)[:max_len]
    conf = probs.max(axis=1)[:max_len]
    chars: list[str] = []
    confs: list[float] = []
    for i, k in enumerate(ids):
        if int(k) in ignored:
            continue
        chars.append(vocab[int(k)])
        confs.append(float(conf[i]))
    if not chars:
        return "", 0.0
    return "".join(chars), float(np.mean(confs))


def gtc_decode(
    gtc_logits: np.ndarray,
    ctc_logits: np.ndarray,
    only_gtc: bool = False,
) -> tuple[tuple[str, float], tuple[str, float] | None]:
    """GTC dual-head decode (openrec/postprocess/__init__.py:49-88):
    the guidance branch decodes with the NRTR-family head, the CTC
    branch with greedy CTC; both results are returned (the trainer
    supervises both; inference usually reads the guidance branch —
    only_gtc)."""
    gtc = nrtr_greedy_decode(gtc_logits)
    if only_gtc:
        return gtc, None
    return gtc, ctc_greedy_decode(ctc_logits)
