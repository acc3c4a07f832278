"""Focused equivalence tests for the r7 optimization rewrites: each one
pins a rewritten operator's NEW plan shape to the exact output of the
shape it replaced (the bench-visible change must be plan-only).
"""

from pyspark.sql import functions as F

from openocr_spark.operators import dedup, similarity
from openocr_spark.operators.partitioning import spread


def _docs(spark):
    rows = [
        (1, "a b c d e"),                  # normal
        (2, "a b c a b c a b c"),          # duplicate shingles (min-insensitive)
        (3, "x y"),                        # < n tokens → no signature row
        (4, ""),                           # empty
        (5, "a  b   c d"),                 # empty tokens from runs of spaces
        (6, None),                         # null text
        (7, "q w e r t y u i o p"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_arraymin_equals_explode_groupby_form(spark):
    """The r7 array_min rewrite must be row-for-row equal to the old
    explode → distinct → groupBy(min) formulation (MIN is insensitive
    to duplicates, so the distinct was removable; this pins it)."""
    df = _docs(spark)
    new = {tuple(r) for r in dedup.minhash_signatures(df, "doc_id", "text").collect()}
    # the replaced formulation, inlined
    sh = dedup.shingles(df, "doc_id", "text")
    aggs = [
        F.min(F.md5(F.concat(F.col("shingle"), F.lit(f"#{s}")))).alias(f"h{s}")
        for s in range(dedup.N_MINHASHES)
    ]
    old = {tuple(r) for r in sh.groupBy("id").agg(*aggs).collect()}
    assert new == old and len(new) > 0

    # id_col must be a key: a repeated id yields one signature row per
    # input row, each over that row's own text (never a merged one)
    dup = spark.createDataFrame(
        [(1, "a b c d e"), (1, "q w e r t y u i o p"), (2, "a b c d e")],
        "doc_id long, text string",
    )
    rows = dedup.minhash_signatures(dup, "doc_id", "text").collect()
    sig = {tuple(r)[1:] for r in rows if r["id"] == 2}
    assert sorted(r["id"] for r in rows) == [1, 1, 2]
    assert {tuple(r)[1:] for r in rows if r["id"] == 1} == sig | {
        tuple(r)[1:] for r in new if r[0] == 7
    }


def test_lsh_late_distinct_no_duplicate_pairs(spark):
    """near_dup_pairs_lsh moved the candidate distinct AFTER the
    threshold filter; pairs colliding in several bands (near-identical
    vectors collide in every band) must still appear exactly once."""
    base = [[1.0 if i == j % 8 else 0.1 * ((i + j) % 5) for i in range(64)]
            for j in range(40)]
    rows = [(j, v) for j, v in enumerate(base)]
    # planted near-dups: same vector, tiny perturbation → collides in
    # ALL bands → the join emits the pair `bands` times pre-distinct
    rows += [(100 + j, [x * 1.0001 for x in v]) for j, v in enumerate(base[:5])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.near_dup_pairs_lsh(df, threshold=0.9, bands=4, bits=4)
    got = [(r.id_a, r.id_b) for r in out.collect()]
    assert len(got) == len(set(got)) and len(got) >= 5


def test_sign_bucket_presliced_equals_unsliced(spark):
    """The pre_sliced fast path (caller-projected slice+zero-pad, no
    per-bit slicing) must bucket identically to the classic form for
    short, exact, and over-wide vectors, interior null elements, and
    null vectors."""
    import random

    random.seed(3)
    rows = []
    for i in range(200):
        width = random.choice([8, 32, 64, 64, 80])
        v = [random.uniform(-1, 1) for _ in range(width)]
        if i % 17 == 0 and width >= 3:
            v[2] = None  # interior null must null-poison both paths
        rows.append((i, v))
    rows.append((999, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    classic = df.select(
        "vec_id",
        *[similarity.sign_bucket(F.col("embedding"), 4, seed=7 + 1000 * t)
          .alias(f"b{t}") for t in range(3)],
    )
    pres = df.select(
        "vec_id",
        similarity.presliced_for_sign_bucket(F.col("embedding"), 64).alias("_vs"),
    ).select(
        "vec_id",
        *[similarity.sign_bucket(F.col("_vs"), 4, seed=7 + 1000 * t,
                                 pre_sliced=True).alias(f"b{t}")
          for t in range(3)],
    )
    assert sorted(map(tuple, classic.collect())) == sorted(
        map(tuple, pres.collect())
    )


def test_spread_noop_when_parallel_and_preserves_rows(spark):
    df = spark.range(0, 1000, 1, 64)
    assert spread(df) is df  # already ≥ defaultParallelism partitions
    one = spark.range(0, 1000, 1, 1)
    out = spread(one)
    assert out.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    assert sorted(r.id for r in out.collect()) == list(range(1000))
