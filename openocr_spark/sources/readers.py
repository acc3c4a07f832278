"""Input readers re-creating the reference's dataset surface (SURVEY §2.1).

S1 get_image_file_list → binaryFile scan ordered by path
S5 SimpleDataSet       → TSV label file (`path\\tlabel`) + seeded ratio
                         subsampling (simple_dataset.py:14-173)
S6 RatioDataSet        → width/height ratio bucketing column
                         (ratio_dataset_test.py:35-139): ratio clipped to
                         [min,max] and rounded — the batching key that
                         keeps kernel batches shape-uniform (SURVEY O5)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openocr_spark.rowmap import map_rows


def read_binary_files(spark: SparkSession, glob: str) -> DataFrame:
    """Sorted binary-file scan (S1): (path, modificationTime, length,
    content)."""
    return spark.read.format("binaryFile").load(glob).orderBy("path")


def read_tsv_labels(
    spark: SparkSession,
    path: str,
    sample_ratio: float | None = None,
    seed: int = 42,
) -> DataFrame:
    """TSV label source (S5): `path\\tlabel` lines; optional seeded
    subsampling (the reference's per-source ratio_list)."""
    df = (
        spark.read.option("sep", "\t")
        .schema("path string, label string")
        .csv(path)
    )
    if sample_ratio is not None and sample_ratio < 1.0:
        df = df.sample(fraction=sample_ratio, seed=seed)
    return df


def with_ratio_bucket(
    df: DataFrame,
    width_col: str = "width",
    height_col: str = "height",
    max_ratio: float = 12.0,
    ceil: bool = False,
) -> DataFrame:
    """Aspect-ratio bucket column (S6/G9/L3): the reference's gen_ratio
    rule, both modes.

    Default mode is min(max(1, round(w/h)), max_ratio) with
    round-half-to-EVEN — Python round / np.around semantics, which
    F.rint (Math.rint) matches exactly; F.round would be HALF_UP and
    puts w/h = 2.5 in bucket 3 where the reference puts it in 2. This
    is the rule the reference executes on the RecTVResizeRatio eval
    path (openrec/preprocess/resize.py:252, `round(float(w)/float(h))`)
    and, composed with its own [1, 10] bounds, the RatioDataSet
    training path (ratio_dataset.py:50-51, np.around then np.clip).

    Ceil mode is int(w/h) + 1 (infer_rec.py:151). NOTE: the reference's
    RatioRecTVReisze AS EXECUTED always takes the ceil branch — its
    config read `self.ceil = cfg[...].get('ceil', False),` has a
    trailing comma (infer_rec.py:134), so self.ceil is the truthy
    1-tuple (False,) regardless of config. Model that path as it
    actually runs with ceil=True; the default here follows the
    resize.py/ratio_dataset rule, whose round is real.

    max_ratio 12 mirrors infer_rec.py:119. Sorting within kernel
    partitions by this key gives shape-uniform Arrow batches — the
    RatioSampler's skew-aware bucketing, distributed."""
    wh = F.col(width_col) / F.col(height_col)
    if ceil:
        gen = wh.cast("int") + F.lit(1)
    else:
        gen = F.greatest(F.rint(wh), F.lit(1.0))
    ratio = F.least(gen.cast("double"), F.lit(float(max_ratio))).cast("int")
    return df.withColumn("ratio_bucket", ratio)


def read_webdataset(spark: SparkSession, glob: str) -> DataFrame:
    """WebDataset tar-shard source (SURVEY §2.1 S7,
    tools/data/cmer_web_dataset.py): shards are tar files whose members
    are named `{key}.{ext}`; members sharing a key form one sample.

    Plan: binaryFile scan of the shards (each shard = one input row →
    one task; shard-level parallelism, the WebDataset model) →
    a row kernel untars in-memory → one row per member
    (shard, key, ext, data). Use `webdataset_samples` to pivot members
    into one row per sample."""
    import io
    import tarfile

    shards = spark.read.format("binaryFile").load(glob)

    def untar(row):
        with tarfile.open(fileobj=io.BytesIO(row["content"])) as tf:
            for m in tf.getmembers():
                if not m.isfile():
                    continue
                # WebDataset convention: the sample key is the member
                # name up to the FIRST dot after the last '/', the
                # extension everything after it — so compound
                # extensions ('0001.input.png' → key '0001', ext
                # 'input.png') group correctly; a dotless member is its
                # own key with ext ''
                dirname, _, base = m.name.rpartition("/")
                stem, _, ext = base.partition(".")
                key = (dirname + "/" + stem) if dirname else stem
                yield {
                    "shard": row["path"],
                    "key": key,
                    "ext": ext,
                    "data": tf.extractfile(m).read(),
                }

    return map_rows(
        shards.select("path", "content"),
        untar,
        "shard string, key string, ext string, data binary",
    )


def webdataset_samples(members: DataFrame) -> DataFrame:
    """(shard, key, ext, data) → one row per sample with a member map
    (ext → data). The LMDB (image, label) record analog:
    `sample['bin']` is the payload, `sample['txt']` the label."""
    return members.groupBy("shard", "key").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("ext"), F.col("data")))
        ).alias("members")
    )


def seeded_shuffle(df: DataFrame, seed: int, epoch: int = 0) -> DataFrame:
    """Deterministic per-epoch TOTAL reshuffle (SURVEY §2.9 ST4,
    ratio_sampler.py:178-185): global order by a seeded hash of the row —
    reproducible across runs, different per epoch.

    Scale note: this is a full range-partitioned sort (sample pass +
    shuffle of every row) — the right semantics when a single global
    order is required, but at 10^12 rows per epoch prefer
    `seeded_shuffle_local`: hash-repartition on the seeded key then
    sort within partitions — same key math, one hash exchange, no
    range sampling, and consumers that read partition-by-partition see
    an equally reproducible epoch order."""
    return df.orderBy(F.xxhash64(F.lit(seed + epoch), *[F.col(c) for c in df.columns]))


def seeded_shuffle_local(
    df: DataFrame, seed: int, epoch: int = 0, partitions: int | None = None
) -> DataFrame:
    """Scale-path reshuffle: repartition by the seeded row hash, then
    sort within partitions by it. Deterministic (hash → partition and
    intra-partition order are both pure functions of row+seed+epoch),
    one exchange, no global sort. The concatenation of partitions in
    index order IS a reproducible epoch permutation."""
    key = F.xxhash64(F.lit(seed + epoch), *[F.col(c) for c in df.columns])
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    return (
        df.withColumn("_shufkey", key)
        .repartition(n, F.col("_shufkey"))
        .sortWithinPartitions("_shufkey")
        .drop("_shufkey")
    )


def union_suites(parts: list[tuple[str, DataFrame]]) -> DataFrame:
    """Union multiple sources tagging each with a suite literal
    (SO2/SO3: LMDB sub-dir union, eval-suite union)."""
    out = None
    for name, df in parts:
        tagged = df.select(F.lit(name).alias("suite"), "*")
        out = tagged if out is None else out.unionByName(tagged)
    return out
