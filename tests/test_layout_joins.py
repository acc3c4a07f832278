"""J5 containment join + untokenize, and the seeded shuffle (ST4)."""

from openocr_spark.operators.layout import (
    figures_in_tables,
    order_and_label,
    untokenize,
)
from openocr_spark.sources.readers import seeded_shuffle

SCHEMA = (
    "doc_id string, cls_id int, label string, score double, "
    "bbox array<double>, custom_value double, text string"
)


def test_figures_in_tables(spark):
    """Reference tokenize semantics (utils.py:478-535): figures are
    image-kind blocks indexed per DOC (so the outside image shifts token
    numbers); chart is NOT image-kind when chart recognition is on; a
    contained figure under 25px min-dim is in_table but unTOKENized
    (null token); token numbers come from the seeded shuffle."""
    rows = [
        ("d1", 0, "table", 0.9, [0.0, 0.0, 100.0, 100.0], 1.0, "tbl"),
        ("d1", 1, "image", 0.9, [10.0, 10.0, 40.0, 40.0], 2.0, None),   # inside
        ("d1", 1, "chart", 0.9, [40.0, 40.0, 60.0, 60.0], 3.0, None),   # inside, NOT a figure
        ("d1", 1, "image", 0.9, [60.0, 60.0, 80.0, 78.0], 4.0, None),   # inside, <25px
        ("d1", 1, "image", 0.9, [200.0, 200.0, 220.0, 220.0], 5.0, None),  # outside
        ("d2", 0, "table", 0.9, [0.0, 0.0, 50.0, 50.0], 1.0, "t2"),     # no figs
    ]
    blocks = order_and_label(spark.createDataFrame(rows, schema=SCHEMA))
    out = figures_in_tables(blocks).collect()
    assert len(out) == 2  # the two contained IMAGE figures
    toks = {r["f_order"]: (r["token"], r["fig_md"]) for r in out}
    # doc figures = 3 images → figure_token_numbers(3) == [4, 3, 2]
    assert toks[2.0][0] == "[F4]"
    assert toks[2.0][1] == '<img src="imgs/img_in_image_box_10_10_40_40.jpg" >'
    assert toks[4.0][0] is None  # too small to tokenize (utils.py:522)


def test_figure_tokens_shuffle_once_per_figure_count(monkeypatch):
    """The token UDF draws each doc figure count's seeded shuffle once
    per worker, not once per (table, figure) pair."""
    import random
    import types

    from openocr_spark.operators import layout

    seeds = []

    class CountingRandom(random.Random):
        def __init__(self, seed):
            seeds.append(seed)
            super().__init__(seed)

    monkeypatch.setattr(layout, "_random", types.SimpleNamespace(Random=CountingRandom))
    layout.figure_token_numbers.cache_clear()
    try:
        pairs = [(0, 3), (1, 3), (4, 5), (2, 3), (0, 5), (1, 3)]
        tokens = [layout._figure_token(fi, nf) for fi, nf in pairs]
    finally:
        layout.figure_token_numbers.cache_clear()
    assert tokens[:2] == ["[F4]", "[F3]"]  # figure_token_numbers(3) == [4, 3, 2]
    assert seeds == [1024, 1024]  # one shuffle each for n_figs 3 and 5


def test_untokenize():
    got = untokenize(
        "<fcel>a[F3]b[F7]", {"[F3]": '<img src="imgs/x.jpg" >'}
    )
    assert got == '<fcel>a<img src="imgs/x.jpg" >b[F7]'


def test_seeded_shuffle_deterministic(spark):
    df = spark.range(100)
    a = [r["id"] for r in seeded_shuffle(df, seed=7).collect()]
    b = [r["id"] for r in seeded_shuffle(df, seed=7).collect()]
    c = [r["id"] for r in seeded_shuffle(df, seed=7, epoch=1).collect()]
    assert a == b
    assert a != c
    assert sorted(a) == list(range(100))


def test_seeded_shuffle_local_deterministic_one_exchange(spark):
    """Scale-path reshuffle: reproducible permutation, different per
    epoch, and exactly ONE shuffle exchange (no range-partition sort)."""
    from openocr_spark import plans
    from openocr_spark.sources.readers import seeded_shuffle_local

    df = spark.range(100)
    out = seeded_shuffle_local(df, seed=7, partitions=4)
    a = [r["id"] for r in out.collect()]
    b = [r["id"] for r in seeded_shuffle_local(df, seed=7, partitions=4).collect()]
    c = [r["id"] for r in seeded_shuffle_local(df, seed=7, epoch=1, partitions=4).collect()]
    assert a == b and a != c and sorted(a) == list(range(100))
    plan = plans.physical_plan(out)
    # one hash exchange; AQE's executed-plan string prints it in both
    # the initial and final trees, so the line count is ≤ 2
    assert plans.count_exchanges(out) <= 2, plan
    assert "rangepartitioning" not in plan.lower()
