"""Differential tests for the evaluation metrics vs the reference's own
implementations (opendet/metrics/eval_det_iou.py + det_metric.py,
openrec/metrics/rec_metric.py), imported at test time.

Stubs (see _reference_loader for the policy): rapidfuzz is replaced by
an independent test-side DP Levenshtein (normalized by max length, the
rapidfuzz definition); shapely by exact closed-form axis-aligned-rect
geometry — the corpus is restricted to rects, where the stub is
mathematically identical to shapely, keeping the geometry comparison
independent of the repo's own polygon kernel."""

from __future__ import annotations

import random
import sys
import types

import pytest

from tests._reference_loader import REF_TOOLS, load_module

from openocr_spark.functions.text import stream_match


# ------------------------------------------------------------- stubs


def _dp_lev(a: str, b: str) -> int:
    """Independent DP edit distance (the differential ground truth)."""
    if a == b:
        return 0
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def _norm_dist(a: str, b: str) -> float:
    m = max(len(a), len(b))
    return _dp_lev(a, b) / m if m else 0.0


def _install_rapidfuzz_stub():
    if "rapidfuzz" in sys.modules:
        return
    rf = types.ModuleType("rapidfuzz")
    dist = types.ModuleType("rapidfuzz.distance")

    class Levenshtein:
        normalized_distance = staticmethod(_norm_dist)
        distance = staticmethod(_dp_lev)

    dist.Levenshtein = Levenshtein
    rf.distance = dist
    sys.modules["rapidfuzz"] = rf
    sys.modules["rapidfuzz.distance"] = dist


class _RectPoly:
    """Axis-aligned-rect Polygon: exact closed forms for area /
    intersection / union — identical to shapely ON RECTS."""

    def __init__(self, pts):
        xs = [float(p[0]) for p in pts]
        ys = [float(p[1]) for p in pts]
        self.x0, self.x1 = min(xs), max(xs)
        self.y0, self.y1 = min(ys), max(ys)

    @property
    def area(self):
        return (self.x1 - self.x0) * (self.y1 - self.y0)

    @property
    def is_valid(self):
        return self.x1 > self.x0 and self.y1 > self.y0

    def _inter_area(self, o):
        w = min(self.x1, o.x1) - max(self.x0, o.x0)
        h = min(self.y1, o.y1) - max(self.y0, o.y0)
        return max(0.0, w) * max(0.0, h)

    def intersection(self, other):
        o = other if isinstance(other, _RectPoly) else _RectPoly(other)
        r = types.SimpleNamespace()
        r.area = self._inter_area(o)
        return r

    def union(self, other):
        o = other if isinstance(other, _RectPoly) else _RectPoly(other)
        r = types.SimpleNamespace()
        r.area = self.area + o.area - self._inter_area(o)
        return r


def _install_shapely_stub():
    if "shapely" in sys.modules:
        return
    sh = types.ModuleType("shapely")
    geom = types.ModuleType("shapely.geometry")
    geom.Polygon = lambda pts: pts if isinstance(pts, _RectPoly) else _RectPoly(pts)
    sh.geometry = geom
    sys.modules["shapely"] = sh
    sys.modules["shapely.geometry"] = geom


def _ref_rec_metric_mod():
    _install_rapidfuzz_stub()
    return load_module("rec_metric", f"{REF_TOOLS}/../openrec/metrics/rec_metric.py")


def _ref_det_evaluator():
    _install_shapely_stub()
    mod = load_module(
        "eval_det_iou", f"{REF_TOOLS}/../opendet/metrics/eval_det_iou.py"
    )
    return mod.DetectionIoUEvaluator()


# ------------------------------------------------------- stream_match


def _segment_corpus():
    rng = random.Random(628)
    cases = [
        ["hello"],
        ["ab", "bc"],
        ["abcd", "cdef", "efgh"],
        ["xxxx", "xxxx", "xxxx"],  # repetitive over-merge domain
        ["a", "b"],
        ["ab", "b"],
    ]
    for _ in range(300):
        full = "".join(
            rng.choice("abcde fgh") for _ in range(rng.randint(5, 120))
        )
        window = rng.randint(3, 30)
        stride = rng.randint(1, window)
        segs = [
            full[i : i + window] for i in range(0, max(1, len(full)), stride)
        ]
        segs = [s for s in segs if s][: rng.randint(1, 12)]
        cases.append(segs)
    return cases


def test_stream_match_matches_reference():
    mod = _ref_rec_metric_mod()
    for segs in _segment_corpus():
        want, _conf = mod.stream_match([(s, 1.0) for s in segs])
        assert stream_match(segs) == want, segs


# ---------------------------------------------------------- RecMetric


def _string_pairs():
    rng = random.Random(71)
    words = [
        "", " ", "Hello World", "hello world", "HELLOWORLD", "a b c",
        "123-456", "naïve café", "ΔΘΛ text", "punct!,;", "tab\tsep",
        "trailing  ", "  leading", "MiXeD CaSe 42",
    ]
    pairs = [(a, b) for a in words for b in words if rng.random() < 0.3]
    for _ in range(150):
        a = "".join(rng.choice("aA bB1!.é") for _ in range(rng.randint(0, 20)))
        b = a if rng.random() < 0.3 else "".join(
            rng.choice("aA bB1!.é") for _ in range(rng.randint(0, 20))
        )
        pairs.append((a, b))
    return pairs


@pytest.mark.parametrize(
    "flags",
    [
        dict(ignore_space=True, is_filter=False, is_lower=True),  # defaults
        dict(ignore_space=False, is_filter=False, is_lower=False),
        dict(ignore_space=True, is_filter=True, is_lower=True),
        dict(ignore_space=False, is_filter=True, is_lower=False),
    ],
)
def test_rec_metric_matches_reference(spark, flags):
    """The reference RecMetric under each flag combo vs the repo's
    composition of the same normalizations (functions/exprs) with the
    rec_metric aggregation — acc AND 1−NED including the eps=1e-5
    denominator."""
    from pyspark.sql import functions as F

    from openocr_spark.operators.metrics import rec_metric

    mod = _ref_rec_metric_mod()
    rm = mod.RecMetric(**flags)
    pairs = _string_pairs()
    want = rm.eval_metric(
        ([(p, 1.0) for p, _ in pairs], [(g, 1.0) for _, g in pairs])
    )

    df = spark.createDataFrame(pairs, "pred string, gt string")
    pred, gt = F.col("pred"), F.col("gt")
    if flags["ignore_space"]:
        pred = F.replace(pred, F.lit(" "), F.lit(""))
        gt = F.replace(gt, F.lit(" "), F.lit(""))
    if flags["is_filter"]:
        pred = F.regexp_replace(pred, "[^0-9a-zA-Z]", "")
        gt = F.regexp_replace(gt, "[^0-9a-zA-Z]", "")
    if flags["is_lower"]:
        pred, gt = F.lower(pred), F.lower(gt)
    row = rec_metric(
        df.select(pred.alias("pred"), gt.alias("gt"))
    ).collect()[0]
    assert row["acc"] == pytest.approx(want["acc"], abs=2e-6)
    assert row["one_minus_ned"] == pytest.approx(
        want["norm_edit_dis"], abs=2e-6
    )


def test_normalized_levenshtein_matches_dp(spark):
    """The Spark levenshtein/max expression vs the independent DP
    ground truth (the rapidfuzz normalized_distance definition)."""
    from pyspark.sql import functions as F

    from openocr_spark.functions.exprs import normalized_levenshtein

    pairs = [(a, b) for a, b in _string_pairs() if a or b][:120]
    df = spark.createDataFrame(pairs, "a string, b string")
    rows = df.select(
        "a", "b", normalized_levenshtein(F.col("a"), F.col("b")).alias("d")
    ).collect()
    for r in rows:
        assert r["d"] == pytest.approx(_norm_dist(r["a"], r["b"]), abs=1e-12)


# ---------------------------------------------------------- DetMetric


def _det_corpus():
    rng = random.Random(505)
    media = []
    for m in range(40):
        gts, dets = [], []
        for _ in range(rng.randint(0, 8)):
            x, y = rng.randint(0, 80), rng.randint(0, 80)
            w, h = rng.randint(2, 30), rng.randint(2, 30)
            gts.append(
                (
                    [
                        (x, y), (x + w, y), (x + w, y + h), (x, y + h)
                    ],
                    rng.random() < 0.25,  # don't-care
                )
            )
        for _ in range(rng.randint(0, 8)):
            if gts and rng.random() < 0.6:
                # near a gt (jittered) so IoU>0.5 matches occur
                (pts, _ig) = gts[rng.randrange(len(gts))]
                dx, dy = rng.randint(-2, 2), rng.randint(-2, 2)
                quad = [(px + dx, py + dy) for px, py in pts]
            else:
                x, y = rng.randint(0, 80), rng.randint(0, 80)
                w, h = rng.randint(2, 30), rng.randint(2, 30)
                quad = [(x, y), (x + w, y), (x + w, y + h), (x, y + h)]
            dets.append((quad, rng.random()))
        media.append((f"m{m}", gts, dets))
    return media


def test_det_metric_matches_reference(spark):
    """The reference's DetectionIoUEvaluator greedy matching +
    combine_results vs the repo's det_metric over the same rect corpus
    (don't-care exclusion, 1:1 IoU>0.5 matching, global P/R/hmean)."""
    from openocr_spark.operators.metrics import det_metric

    ev = _ref_det_evaluator()
    media = _det_corpus()
    results = []
    for _ref, gts, dets in media:
        gt_info = [
            {"points": pts, "text": "", "ignore": ig} for pts, ig in gts
        ]
        det_info = [{"points": pts, "text": ""} for pts, _c in dets]
        results.append(ev.evaluate_image(gt_info, det_info))
    want = ev.combine_results(results)

    pred_rows, gt_rows = [], []
    for ref, gts, dets in media:
        for gi, (pts, ig) in enumerate(gts):
            gt_rows.append(
                (ref, gi, [[float(x), float(y)] for x, y in pts], bool(ig))
            )
        for di, (pts, _conf) in enumerate(dets):
            pred_rows.append(
                (ref, di, [[float(x), float(y)] for x, y in pts])
            )
    pred = spark.createDataFrame(
        pred_rows,
        "media_ref string, det_idx int, points array<array<double>>",
    )
    gt = spark.createDataFrame(
        gt_rows,
        "media_ref string, gt_idx int, points array<array<double>>, "
        "ignore boolean",
    )
    row = det_metric(pred, gt).collect()[0]
    assert row["precision"] == pytest.approx(want["precision"], abs=1e-6)
    assert row["recall"] == pytest.approx(want["recall"], abs=1e-6)
    assert row["hmean"] == pytest.approx(want["hmean"], abs=1e-6)


# ---------------------------------------------------- RecMetricLong


def _ref_rec_metric_long_cls():
    from tests._reference_loader import load_class

    _install_rapidfuzz_stub()
    import string as _string

    import numpy as _np

    return load_class(
        f"{REF_TOOLS}/../openrec/metrics/rec_metric_long.py",
        "RecMetricLong",
        {
            "np": _np,
            "string": _string,
            "Levenshtein": sys.modules["rapidfuzz.distance"].Levenshtein,
            "stream_match": None,  # only touched under stream=True
        },
    )


@pytest.mark.parametrize(
    "flags",
    [
        dict(ignore_space=True, is_filter=False),  # reference defaults
        dict(ignore_space=False, is_filter=False),
        dict(ignore_space=True, is_filter=True),
        dict(ignore_space=False, is_filter=True),
    ],
)
def test_rec_metric_long_indicators_match_reference(spark, flags):
    """The reference RecMetricLong (pairs mode, stream=False) vs the
    repo's normalize_long_pairs + rec_metric + long_text_indicators:
    acc, 1−NED, acc_slice (prefix), f_l_acc (first+last char), len_acc
    — under every normalization flag combo, eps=1e-5 denominators."""
    from openocr_spark.operators.longtext import (
        long_text_indicators,
        normalize_long_pairs,
    )
    from openocr_spark.operators.metrics import rec_metric

    RecMetricLong = _ref_rec_metric_long_cls()
    # max_len guards the per-length histograms (target len < 201)
    pairs = [(a, b) for a, b in _string_pairs() if len(b) < 200]
    rm = RecMetricLong(**flags)
    rm(([(p, 1.0) for p, _ in pairs], [(g, 1.0) for _, g in pairs]))
    want = rm.get_metric()

    df = normalize_long_pairs(
        spark.createDataFrame(pairs, "pred string, gt string"), **flags
    )
    got = rec_metric(df).crossJoin(long_text_indicators(df)).collect()[0]
    assert got["all_num"] == want["all_num"]
    assert abs(got["acc"] - want["acc"]) < 1e-6
    assert abs(got["one_minus_ned"] - want["norm_edit_dis"]) < 1e-6
    assert abs(got["acc_slice"] - want["acc_slice"]) < 1e-6
    assert abs(got["f_l_acc"] - want["f_l_acc"]) < 1e-6
    assert abs(got["len_acc"] - want["len_acc"]) < 1e-6


# ------------------------------------------- RecMetric with_ratio=True


@pytest.mark.parametrize(
    "flags",
    [
        dict(ignore_space=True, is_filter=False, is_lower=True),  # defaults
        dict(ignore_space=False, is_filter=False, is_lower=False),
        dict(ignore_space=True, is_filter=True, is_lower=True),
        dict(ignore_space=False, is_filter=True, is_lower=False),
    ],
)
def test_rec_metric_all_matches_reference(spark, flags):
    """The reference RecMetric(with_ratio=True) — the eval_rec_all_*
    path — vs the repo's rec_metric_all / rec_metric_by_ratio /
    rec_metric_by_length_binned: the six progressive-stage accuracies,
    1−NED, and the per-ratio and per-length binned rollups (max_ratio=4
    cap, max_len=25 cap, eps=1e-5 denominators everywhere)."""
    from openocr_spark.operators.metrics import (
        rec_metric_all,
        rec_metric_by_length_binned,
        rec_metric_by_ratio,
    )

    mod = _ref_rec_metric_mod()
    rng = random.Random(80)
    pairs = [(a, b) for a, b in _string_pairs() if len(b) < 200]
    ratios = [rng.randint(1, 7) for _ in pairs]  # exercises the cap at 4

    rm = mod.RecMetric(with_ratio=True, max_len=25, max_ratio=4, **flags)
    rm(
        ([(p, 1.0) for p, _ in pairs], [(g, 1.0) for _, g in pairs]),
        batch=[None, ratios],
    )
    want = rm.get_metric(training=False)

    df = spark.createDataFrame(
        [(p, g, r) for (p, g), r in zip(pairs, ratios)],
        "pred string, gt string, ratio int",
    )
    got = rec_metric_all(df, **flags).collect()[0]
    for key in [
        "acc",
        "acc_real",
        "acc_lower",
        "acc_ignore_space",
        "acc_ignore_space_lower",
        "acc_ignore_space_symbol",
        "acc_ignore_space_lower_symbol",
    ]:
        assert abs(got[key] - want[key]) < 1e-6, (key, got[key], want[key])
    assert abs(got["one_minus_ned"] - want["norm_edit_dis"]) < 1e-6
    assert got["num_samples"] == want["num_samples"]

    by_ratio = {
        r["ratio_bin"]: r for r in rec_metric_by_ratio(df, **flags).collect()
    }
    for i in range(4):  # reference bins are 0-based fixed-size lists
        row = by_ratio.get(i + 1)
        if row is None:
            assert want["each_ratio_num"][i] == 0
            continue
        assert row["n"] == want["each_ratio_num"][i]
        assert abs(row["acc"] - want["each_ratio_acc"][i]) < 1e-6
        assert (
            abs(row["one_minus_ned"] - want["each_ratio_norm_edit_dis"][i])
            < 1e-6
        )

    by_len = {
        r["len_bin"]: r
        for r in rec_metric_by_length_binned(df, **flags).collect()
    }
    for i in range(25):
        row = by_len.get(i + 1)
        if row is None:
            assert want["each_len_num"][i] == 0
            continue
        assert row["n"] == want["each_len_num"][i]
        assert abs(row["acc"] - want["each_len_acc"][i]) < 1e-6
        assert (
            abs(row["one_minus_ned"] - want["each_len_norm_edit_dis"][i])
            < 1e-6
        )


# ----------------------------------------------------- DetFCEMetric


def test_det_metric_thresholds_matches_reference(spark):
    """The reference DetFCEMetric (score-threshold sweep, det_metric.py
    :75-160) vs the repo's det_metric_thresholds: per-threshold
    precision/recall/hmean over the same rect corpus, and the headline
    hmean = max over thresholds."""
    from tests._reference_loader import load_class

    from openocr_spark.operators.metrics import det_metric_thresholds

    _install_shapely_stub()
    ev_cls = type(_ref_det_evaluator())
    DetFCEMetric = load_class(
        f"{REF_TOOLS}/../opendet/metrics/det_metric.py",
        "DetFCEMetric",
        {"DetectionIoUEvaluator": ev_cls},
    )
    media = _det_corpus()
    fce = DetFCEMetric()
    for _ref, gts, dets in media:
        fce(
            [
                {
                    "points": [pts for pts, _c in dets],
                    "scores": [c for _pts, c in dets],
                }
            ],
            [None, None, [[pts for pts, _ig in gts]], [[ig for _p, ig in gts]]],
        )
    want = fce.get_metric()

    pred_rows, gt_rows = [], []
    for ref, gts, dets in media:
        for gi, (pts, ig) in enumerate(gts):
            gt_rows.append(
                (ref, gi, [[float(x), float(y)] for x, y in pts], bool(ig))
            )
        for di, (pts, conf) in enumerate(dets):
            pred_rows.append(
                (ref, di, [[float(x), float(y)] for x, y in pts], float(conf))
            )
    pred = spark.createDataFrame(
        pred_rows,
        "media_ref string, det_idx int, points array<array<double>>, "
        "conf double",
    )
    gt = spark.createDataFrame(
        gt_rows,
        "media_ref string, gt_idx int, points array<array<double>>, "
        "ignore boolean",
    )
    rows = {
        r["score_thr"]: r for r in det_metric_thresholds(pred, gt).collect()
    }
    assert set(rows) == {0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9}
    for thr, row in rows.items():
        want_str = want[f"thr {thr}"]
        # 'precision:X recall:Y hmean:Z' — parse the reference's string
        parts = dict(kv.split(":") for kv in want_str.split(" "))
        assert row["precision"] == pytest.approx(
            float(parts["precision"]), abs=1e-5
        )
        assert row["recall"] == pytest.approx(float(parts["recall"]), abs=1e-5)
        assert row["hmean"] == pytest.approx(float(parts["hmean"]), abs=1e-5)
    assert max(r["hmean"] for r in rows.values()) == pytest.approx(
        want["hmean"], abs=1e-5
    )


# ------------------------------------------------------- CMERMetric


def _install_cmer_dep_stubs():
    """rec_metric_cmer.py imports datasets/evaluate/rouge_score/
    Levenshtein. evaluate/datasets are plumbing (stubbed inert);
    rouge_score is the actual ROUGE engine — stubbed with an
    INDEPENDENT test-side implementation of the published definition
    (the test-side-DP policy); Levenshtein.distance is the test DP."""
    if "evaluate" not in sys.modules:
        ev = types.ModuleType("evaluate")

        class Metric:
            def compute(self, **kw):
                return self._compute(**kw)

        ev.Metric = Metric
        ev.MetricInfo = lambda **k: None
        sys.modules["evaluate"] = ev
    if "datasets" not in sys.modules:
        ds = types.ModuleType("datasets")
        ds.Features = lambda d: d
        ds.Value = lambda *a, **k: None
        ds.Sequence = lambda *a, **k: None
        sys.modules["datasets"] = ds
    if "Levenshtein" not in sys.modules:
        lv = types.ModuleType("Levenshtein")
        lv.distance = _dp_lev
        sys.modules["Levenshtein"] = lv
    if "rouge_score" in sys.modules:
        return

    class _Score:
        def __init__(self, p, r, f):
            self.precision, self.recall, self.fmeasure = p, r, f

    def _f(p, r):
        return 2 * p * r / (p + r) if p + r > 0 else 0.0

    def _grams(toks, n):
        d = {}
        for i in range(len(toks) - n + 1):
            k = tuple(toks[i : i + n])
            d[k] = d.get(k, 0) + 1
        return d

    def _lcs(a, b):
        import numpy as _np

        t = _np.zeros((len(a) + 1, len(b) + 1), dtype=_np.int64)
        for i in range(1, len(a) + 1):
            for j in range(1, len(b) + 1):
                t[i, j] = (
                    t[i - 1, j - 1] + 1
                    if a[i - 1] == b[j - 1]
                    else max(t[i - 1, j], t[i, j - 1])
                )
        return int(t[len(a), len(b)])

    class RougeScorer:
        def __init__(self, rouge_types, use_stemmer=False, tokenizer=None):
            self.types = rouge_types
            self.tok = tokenizer

        def _one(self, rtype, ref, pred):
            rt, pt = self.tok.tokenize(ref), self.tok.tokenize(pred)
            if rtype.startswith("rougeL"):  # rougeLsum computed by the
                # default type list but never read by CMERMetric —
                # sentence-level split is a no-op on tokenizer output
                l = _lcs(pt, rt)
                p = l / max(len(pt), 1)
                r = l / max(len(rt), 1)
            else:
                n = int(rtype[-1])
                pg, rg = _grams(pt, n), _grams(rt, n)
                inter = sum(
                    min(c, rg[k]) for k, c in pg.items() if k in rg
                )
                p = inter / max(sum(pg.values()), 1)
                r = inter / max(sum(rg.values()), 1)
            return _Score(p, r, _f(p, r))

        def score(self, ref, pred):
            return {t: self._one(t, ref, pred) for t in self.types}

        def score_multi(self, refs, pred):
            out = {}
            for t in self.types:
                out[t] = max(
                    (self._one(t, r, pred) for r in refs),
                    key=lambda s: s.fmeasure,
                )
            return out

    class _Agg:
        def __init__(self):
            self.scores = []

        def add_scores(self, s):
            self.scores.append(s)

        def aggregate(self):
            class _Mid:
                def __init__(self, f):
                    self.mid = types.SimpleNamespace(fmeasure=f)

            keys = self.scores[0].keys()
            return {
                k: _Mid(
                    sum(s[k].fmeasure for s in self.scores)
                    / len(self.scores)
                )
                for k in keys
            }

    rs = types.ModuleType("rouge_score")
    rsc = types.ModuleType("rouge_score.rouge_scorer")
    rsc.RougeScorer = RougeScorer
    sco = types.ModuleType("rouge_score.scoring")
    sco.BootstrapAggregator = _Agg
    rs.rouge_scorer = rsc
    rs.scoring = sco
    sys.modules["rouge_score"] = rs
    sys.modules["rouge_score.rouge_scorer"] = rsc
    sys.modules["rouge_score.scoring"] = sco


def _cmer_corpus():
    rng = random.Random(90)
    cases = [
        ("the cat sat on the mat", "the cat sat on the mat"),
        ("| a | b |\n| 1 | 2 |", "| a | b |\n| 1 | 2.5 |"),
        ("Revenue grew 4.2% in Q3", "Revenue grew 4.3% in Q3, per chart"),
        ("", "nonempty reference"),
        ("nonempty pred", ""),
        ("", ""),
        ("a", "a b c d e f g h"),
        ("x &amp; y <skipped> z", "x & y z"),
    ]
    words = "alpha beta 3.14 100,000 gamma-ray | # * chart axis value".split()
    for _ in range(40):
        a = " ".join(rng.choice(words) for _ in range(rng.randint(0, 15)))
        b = (
            a
            if rng.random() < 0.3
            else " ".join(rng.choice(words) for _ in range(rng.randint(0, 15)))
        )
        cases.append((a, b))
    return cases


def test_cmer_metric_matches_reference(spark):
    """The reference CMERMetric (BLEU from its own in-file compute_bleu
    + 13a tokenizer — REAL reference code; ROUGE via the stubbed
    independent test-side scorer; raw Levenshtein) vs the repo's
    cmer_metric over markdown-ish pairs."""
    from tests._reference_loader import load_module

    from openocr_spark.operators.metrics import cmer_metric

    _install_cmer_dep_stubs()
    mod = load_module(
        "rec_metric_cmer",
        f"{REF_TOOLS}/../openrec/metrics/rec_metric_cmer.py",
    )
    pairs = _cmer_corpus()
    cm = mod.CMERMetric()
    cm([p for p, _ in pairs], [g for _, g in pairs])
    want = cm.get_metric()

    df = spark.createDataFrame(pairs, "pred string, gt string")
    got = cmer_metric(df).collect()[0]
    for key in ["rouge1", "rouge2", "rougeL", "bleu", "edit_distance"]:
        assert abs(got[key] - want[key]) < 1e-6, (key, got[key], want[key])
    assert got["num_samples"] == len(pairs)


def test_cmer_rouge_hand_pins():
    """Hand-computed ROUGE pins so a symmetric mistake in both from-
    scratch implementations cannot hide: pred='the cat sat',
    ref='the cat on the mat' under 13a tokenization.
      rouge1: inter(the:1?,cat:1,sat:0 ...) — pred grams {the,cat,sat},
        ref {the:2,cat,on,mat}; inter = the(1)+cat(1) = 2;
        p = 2/3, r = 2/5, f = 2*(2/3)*(2/5)/(2/3+2/5) = 0.5
      rouge2: pred {the cat, cat sat}; ref {the cat, cat on, on the,
        the mat}; inter = 1; p = 1/2, r = 1/4, f = 1/3
      rougeL: LCS('the cat sat', 'the cat on the mat') = 2 ('the cat');
        p = 2/3, r = 2/5, f = 0.5
    """
    from openocr_spark.functions.seqeval import cmer_pair_scores

    r1, r2, rl, _bleu = cmer_pair_scores("the cat sat", "the cat on the mat")
    assert r1 == pytest.approx(0.5)
    assert r2 == pytest.approx(1 / 3)
    assert rl == pytest.approx(0.5)


def test_rec_metric_composed_shapes(spark):
    """RecGTCMetric/RecMPGMetric composition: base row columns plus
    {head}_acc / {head}_norm_edit_dis per auxiliary head
    (rec_metric_gtc.py:46-57, rec_metric_mgp.py:76-94)."""
    from openocr_spark.operators.metrics import rec_metric_composed

    base = spark.createDataFrame(
        [("ab", "ab"), ("cd", "ce")], "pred string, gt string"
    )
    aux = spark.createDataFrame(
        [("ab", "ab"), ("ce", "ce")], "pred string, gt string"
    )
    row = rec_metric_composed(base, {"gtc": aux}).collect()[0]
    assert row["all_num"] == 2
    assert row["acc"] == pytest.approx(2 / (2 + 1e-5) * 0.5, abs=1e-6)
    assert row["gtc_acc"] == pytest.approx(2 / (2 + 1e-5), abs=1e-6)
    assert "gtc_norm_edit_dis" in row.asDict()


def test_empty_input_matches_reference_zero_arithmetic(spark):
    """Review-caught: F.sum over zero rows is NULL; the reference's
    0/(0+eps) arithmetic gives acc 0.0 and 1−NED 1.0 on EMPTY input —
    every ungrouped metric aggregate must coalesce, not emit NULLs."""
    from openocr_spark.operators.longtext import long_text_indicators
    from openocr_spark.operators.metrics import (
        cmer_metric,
        rec_metric,
        rec_metric_all,
    )

    empty = spark.createDataFrame([], "pred string, gt string")
    row = rec_metric(empty).collect()[0]
    assert (row["all_num"], row["correct_num"]) == (0, 0)
    assert row["acc"] == 0.0 and row["one_minus_ned"] == 1.0
    row = rec_metric_all(empty).collect()[0]
    assert row["acc"] == 0.0 and row["acc_real"] == 0.0
    assert row["one_minus_ned"] == 1.0 and row["num_samples"] == 0
    row = long_text_indicators(empty).collect()[0]
    assert (row["acc_slice"], row["f_l_acc"], row["len_acc"]) == (0.0, 0.0, 0.0)
    row = cmer_metric(empty).collect()[0]
    assert row["bleu"] == 0.0 and row["edit_distance"] == 0.0


def test_cmer_null_columns_score_as_empty(spark):
    """Review-caught: NULL pred/gt must enter every column as "" so
    edit_distance averages over the SAME sample set as rouge/bleu."""
    from openocr_spark.functions.seqeval import cmer_pair_scores
    from openocr_spark.operators.metrics import cmer_metric

    df = spark.createDataFrame(
        [(None, "ref text"), ("pred text", None), ("same", "same")],
        "pred string, gt string",
    )
    row = cmer_metric(df).collect()[0]
    assert row["num_samples"] == 3
    # levenshtein("", "ref text")=8, ("pred text","")=9, ("same","same")=0
    assert row["edit_distance"] == pytest.approx((8 + 9 + 0) / 3, abs=1e-6)
    # the row UDF scores the same three pairs the driver-side kernel does
    scores = [
        cmer_pair_scores(p, g)
        for p, g in [("", "ref text"), ("pred text", ""), ("same", "same")]
    ]
    for k, name in enumerate(["rouge1", "rouge2", "rougeL", "bleu"]):
        want = sum(s[k] for s in scores) / 3
        assert row[name] == pytest.approx(want, abs=1e-6), name


def test_rec_metric_gtc_composition_matches_reference(spark):
    """The reference RecGTCMetric (two RecMetrics + gtc_* key merge) vs
    rec_metric_composed over the same pair sets — base (ctc) metrics
    plus gtc_acc/gtc_norm_edit_dis, default flags (ignore_space on,
    lower on via RecMetric default)."""
    from pyspark.sql import functions as F

    from tests._reference_loader import load_class

    from openocr_spark.operators.metrics import rec_metric_composed

    mod = _ref_rec_metric_mod()
    RecGTCMetric = load_class(
        f"{REF_TOOLS}/../openrec/metrics/rec_metric_gtc.py",
        "RecGTCMetric",
        {"RecMetric": mod.RecMetric},
    )
    pairs = _string_pairs()
    rng = random.Random(81)
    gtc_pairs = [
        (p if rng.random() < 0.5 else p + "x", g) for p, g in pairs
    ]
    labels = [(g, 1.0) for _, g in pairs]
    rm = RecGTCMetric()
    rm(
        (
            ([(p, 1.0) for p, _ in gtc_pairs], labels),
            ([(p, 1.0) for p, _ in pairs], labels),
        )
    )
    want = rm.get_metric()

    def norm(df):  # RecMetric defaults: ignore_space + is_lower
        pred = F.lower(F.replace(F.col("pred"), F.lit(" "), F.lit("")))
        gt = F.lower(F.replace(F.col("gt"), F.lit(" "), F.lit("")))
        return df.select(pred.alias("pred"), gt.alias("gt"))

    base = norm(spark.createDataFrame(pairs, "pred string, gt string"))
    aux = norm(spark.createDataFrame(gtc_pairs, "pred string, gt string"))
    row = rec_metric_composed(base, {"gtc": aux}).collect()[0]
    assert row["acc"] == pytest.approx(want["acc"], abs=2e-6)
    assert row["one_minus_ned"] == pytest.approx(
        want["norm_edit_dis"], abs=2e-6
    )
    assert row["gtc_acc"] == pytest.approx(want["gtc_acc"], abs=2e-6)
    assert row["gtc_norm_edit_dis"] == pytest.approx(
        want["gtc_norm_edit_dis"], abs=2e-6
    )
