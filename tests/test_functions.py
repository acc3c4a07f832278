"""Unit tests for the scalar text function layer (SURVEY §2.8 F2-F12)."""

import pytest

from openocr_spark.functions.otsl import otsl_to_html
from openocr_spark.functions.text import (
    pred_reverse,
    stream_match,
    truncate_repeated_tail,
    truncate_repetitive_content,
)


class TestTruncateRepetitive:
    def test_suffix_phrase(self):
        # >100-char single line ending in a dominant repeated phrase →
        # the repetition is dropped ENTIRELY (reference keeps only the
        # prefix of the stripped string, utils.py:1000-1005)
        t = "header text " + "lorem " * 30
        assert truncate_repetitive_content(t) == "header text"

    def test_short_line_untouched(self):
        # under the 100-char gate priority 1 never fires
        t = "header text " + "lorem " * 8
        assert truncate_repetitive_content(t) == t

    def test_whole_string_period(self):
        assert truncate_repetitive_content("ab" * 12) == "ab"

    def test_dominant_line(self):
        # ≥10 non-blank lines, one ≥80% dominant → ONLY that line kept
        lines = ["keep me"] + ["spam"] * 12
        out = truncate_repetitive_content("\n".join(lines))
        assert out == "spam"

    def test_dominant_line_under_threshold(self):
        lines = ["keep me"] + ["spam"] * 9
        t = "\n".join(lines)
        assert truncate_repetitive_content(t) == t

    def test_no_repetition_unchanged(self):
        t = "the quick brown fox jumps"
        assert truncate_repetitive_content(t) == t

    def test_empty(self):
        assert truncate_repetitive_content("") == ""


class TestTruncateTail:
    def test_tail_over_20(self):
        t = "start " + "x" * 30
        assert truncate_repeated_tail(t) == "start x"

    def test_tail_under_threshold_kept(self):
        t = "start " + "x" * 10
        assert truncate_repeated_tail(t) == t


class TestStreamMatch:
    """Reference-exact semantics (rec_metric.py:6-28, pinned by
    test_metric_differential): boundary chars are trimmed as unreliable
    crop edges — first segment loses its last char, middle segments both
    ends, the final segment its first — and matching chains on the
    previous REMAINDER only."""

    def test_overlap_merge(self):
        assert stream_match(["hello wor", "world peace"]) == "hello world peace"

    def test_no_overlap_trims_boundaries(self):
        # 'abc'[:-1] + 'def'[1:] with no overlap found
        assert stream_match(["abc", "def"]) == "abef"

    def test_full_containment_prefix(self):
        assert stream_match(["abcdef", "def"]) == "abcdef"

    def test_single_drops_last(self):
        # bug-for-bug: a lone segment loses its trailing char — callers
        # dispatch through stream_merge, which bypasses for one slice
        assert stream_match(["only"]) == "onl"

    def test_stream_merge_dispatch(self):
        from openocr_spark.functions.text import stream_merge

        assert stream_merge(["only"]) == "only"
        assert stream_merge(["hello wor", "world peace"]) == "hello world peace"

    def test_empty_list(self):
        assert stream_match([]) == ""


class TestPredReverse:
    def test_latin_runs_kept(self):
        # non-latin chars reverse order; latin runs stay intact
        assert pred_reverse("abcθδ") == "δθabc"

    def test_pure_latin_unchanged(self):
        assert pred_reverse("hello world") == "hello world"


class TestOTSL:
    def test_simple_grid(self):
        html = otsl_to_html("<fcel>a<fcel>b<nl><fcel>c<ecel>")
        assert html == "<table><tr><td>a</td><td>b</td></tr><tr><td>c</td><td></td></tr></table>"

    def test_single_row_without_newline(self):
        assert otsl_to_html("<fcel>a<fcel>b") == (
            "<table><tr><td>a</td><td>b</td></tr></table>"
        )

    def test_colspan(self):
        html = otsl_to_html("<fcel>wide<lcel><nl><fcel>a<fcel>b")
        assert '<td colspan="2">wide</td>' in html

    def test_rowspan(self):
        html = otsl_to_html("<fcel>tall<fcel>r1<nl><ucel><fcel>r2")
        assert '<td rowspan="2">tall</td>' in html

    def test_2d_span(self):
        html = otsl_to_html(
            "<fcel>big<lcel><fcel>r<nl><ucel><xcel><fcel>s"
        )
        assert '<td rowspan="2" colspan="2">big</td>' in html

    def test_pad_short_rows(self):
        assert otsl_to_html("<fcel>a<fcel>b<nl><fcel>c") == (
            "<table><tr><td>a</td><td>b</td></tr>"
            "<tr><td>c</td><td></td></tr></table>"
        )

    def test_html_escape(self):
        assert otsl_to_html("<fcel>a&b<nl>") == (
            "<table><tr><td>a&amp;b</td></tr></table>"
        )

    def test_empty(self):
        # no cells → reference's export_to_html returns ''
        assert otsl_to_html("") == ""


def test_spark_exprs(spark):
    from pyspark.sql import functions as F

    from openocr_spark.functions.exprs import (
        clean_special_tokens,
        formula_dollars,
        ignore_space,
        normalize_alnum,
        normalized_levenshtein,
    )

    df = spark.createDataFrame(
        [("He1!lo wOrld", r"\( x+y \) and \[ z \]", "<|im_start|>hi<|im_end|>")],
        ["a", "b", "c"],
    )
    row = df.select(
        normalize_alnum(F.col("a")).alias("na"),
        ignore_space(F.col("a")).alias("ig"),
        normalized_levenshtein(F.lit("kitten"), F.lit("sitting")).alias("lev"),
        formula_dollars(F.col("b")).alias("fd"),
        clean_special_tokens(F.col("c")).alias("cs"),
    ).collect()[0]
    assert row["na"] == "He1lowOrld"
    assert row["ig"] == "he1!loworld"
    assert row["lev"] == pytest.approx(3 / 7)
    assert row["fd"] == " $  x+y  $  and  $$  z  $$ "
    assert row["cs"] == "hi"


def test_formula_dollars_matches_vlm_dollar_rewrite(spark):
    """Pin the column-expression twin (exprs.formula_dollars) to the
    kernel twin (doc_parse.vlm_dollar_rewrite) so they cannot drift:
    the doc flow runs only the kernel version, and nothing else would
    fail if one side's gate or formula_number strip changed."""
    import random

    from pyspark.sql import functions as F

    from openocr_spark.functions.exprs import formula_dollars
    from openocr_spark.operators.doc_parse import vlm_dollar_rewrite

    rng = random.Random(60601)
    pieces = [
        "\\(", "\\)", "\\[", "\\]", "$", "$$", "x+y", " ", "a",
        "\\(\\)", "e=mc^2", "(1)", "\\", "[", "]", "(", ")",
    ]
    cases = [
        ("".join(rng.choice(pieces) for _ in range(rng.randint(0, 8))),
         rng.random() < 0.5)
        for _ in range(300)
    ]
    cases += [("", False), ("", True), ("$", True), ("\\( \\)", True)]

    df = spark.createDataFrame(cases, ["t", "is_fn"])
    got = (
        df.select(
            "t",
            "is_fn",
            formula_dollars(F.col("t"), F.col("is_fn")).alias("col_twin"),
        )
        .collect()
    )
    for row in got:
        assert row["col_twin"] == vlm_dollar_rewrite(row["t"], row["is_fn"]), (
            row["t"],
            row["is_fn"],
        )
