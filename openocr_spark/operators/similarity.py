"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline; the scale path prunes
candidates to a partition (IVF-style cell = the `label` bucket here, or
sign-LSH buckets) before scoring. Dot products use built-in
zip_with/aggregate — JVM-side, no Python.

At 100 TB: broadcast the query set, bucket the corpus by cell id
(Iceberg bucket partitioning), score only matching cells; the brute
force variant exists for recall evaluation on samples.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    # NOTE (r7): an unrolled GetArrayItem fast path was tried here and
    # REVERTED — steady-state it matched the HOF form once stages were
    # properly parallel, and its Janino compile cost ~0.5-1s per fresh
    # plan, a net loss for single-shot queries (OPTIMIZATION_r07.md).
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k against a literal query vector.
    One full scan + a distributed top-k (TakeOrderedAndProject). Ranking
    uses the rounded similarity with id tiebreak so results are
    engine-deterministic."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    vec = F.col(vec_col).cast("array<double>")
    scored = emb.select(
        F.col(id_col),
        F.round(cosine(vec, q), 6).alias("cos_sim"),
    )
    # orderBy+limit plans as a distributed TakeOrderedAndProject: each
    # partition keeps its local top-k, the driver merges k·P rows. A
    # global row_number window would instead shuffle EVERY scored row to
    # one partition (no WindowGroupLimit is inserted for rank-filter
    # windows on this Spark version) — a single-node sort at 100 TB.
    top = scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)
    # ranking the k survivors is a k-row window — trivially single-node
    w = Window.orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return top.withColumn("rank", F.row_number().over(w))


def cosine_topk_ivf(
    emb: DataFrame,
    query_vec: list[float],
    query_label: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """IVF-style pruned ANN: score only the query's cell (partition
    pruning — at scale the cell is an Iceberg partition, so the scan
    reads one cell, not the corpus)."""
    return cosine_topk(
        emb.filter(F.col(cell_col) == query_label), query_vec, k, id_col, vec_col
    )


def ivf_cell(vec: Column) -> Column:
    """Coarse-quantizer cell assignment: argmin_j ‖v − c_j‖² over the
    trained centroid artifact (operators/ivf_centroids.py), computed as
    argmin_j (‖c_j‖² − 2 v·c_j) — the v·v term is constant per row.
    Ties break to the smallest j (struct array_min compares (dist, j))."""
    from openocr_spark.operators.ivf_centroids import CENTROIDS, NORMS_SQ

    structs = []
    for j, (c, n2) in enumerate(zip(CENTROIDS, NORMS_SQ)):
        cj = F.array(*[F.lit(float(x)) for x in c])
        dist = F.lit(float(n2)) - 2.0 * dot(vec, cj)
        structs.append(F.struct(dist.alias("d"), F.lit(j).alias("j")))
    return F.array_min(F.array(*structs))["j"]


def probe_cells(query_vec: list[float], nprobe: int) -> list[int]:
    """The nprobe cells nearest the query vector (driver-side, tiny)."""
    from openocr_spark.operators.ivf_centroids import CENTROIDS, NORMS_SQ

    dists = [
        (n2 - 2.0 * sum(float(q) * float(c) for q, c in zip(query_vec, cj)), j)
        for j, (cj, n2) in enumerate(zip(CENTROIDS, NORMS_SQ))
    ]
    return [j for _, j in sorted(dists)[:nprobe]]


def cosine_topk_ivf_trained(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cells: DataFrame | None = None,
    cell_col: str = "cell",
) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer + multi-probe: assign
    each corpus vector to its nearest centroid cell, scan only the
    nprobe cells nearest the query, exact-score the survivors, take a
    distributed top-k.

    Pass `cells` = the cell-PARTITIONED relation from ensure_ivf_cells
    (write-time cell assignment, `cell` as the parquet/Iceberg partition
    key) and the probe filter becomes real partition pruning — the scan
    reads only the nprobe probe-cell directories (plan-asserted in
    tests: PartitionFilters carries the probe IN-list and the scanned
    files all live under cell=<probe> paths). With cells=None the cell
    id is computed on the fly (k_cells dot products per row over a FULL
    corpus scan) — correct, and fine for recall studies on samples, but
    not the scale path; materialize at scale.

    Recall honesty note: the driver's fixture embeddings are near-
    isotropic (k-means purity ≈ 0.17 against the latent labels), the
    hardest case for IVF — nprobe=5 of 8 cells reaches recall@10 ≥ 0.9
    on the sf0.01 fixture (pinned in tests). On real corpora with
    cluster structure the same index prunes far harder at equal recall;
    scaling knobs are k_cells (∝ √N) and nprobe."""
    probes = probe_cells(query_vec, nprobe)
    if cells is not None:
        pruned = cells.filter(F.col(cell_col).isin(*probes))
    else:
        vec = F.col(vec_col).cast("array<double>")
        pruned = emb.withColumn("_cell", ivf_cell(vec)).filter(
            F.col("_cell").isin(*probes)
        )
    return cosine_topk(pruned, query_vec, k, id_col, vec_col)


def quantize_i8(vec: Column) -> Column:
    """Per-vector symmetric int8 quantization: q_i = floor(v_i·s + 0.5)
    with s = 127 / max|v| (explicit half-up rounding so Spark and the
    DuckDB oracle produce bit-identical codes). Cosine of the quantized
    vectors approximates cosine of the originals — the per-vector scale
    cancels in the ratio."""
    s = 127.0 / F.greatest(
        F.array_max(F.transform(vec, lambda x: F.abs(x))), F.lit(1e-12)
    )
    return F.transform(vec, lambda x: F.floor(x * s + 0.5))


def with_i8_codes(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "codes",
) -> DataFrame:
    """The narrow (id, int8-codes) relation — the code WRITER for
    scan-and-rerank ANN. At scale this is materialized to its own
    parquet/index file (array<tinyint>: 1 byte/dim on disk and in
    memory vs 4 for float32), so the coarse scan reads ~4× fewer bytes
    and never touches the float column. Codes fit [-127, 127] exactly."""
    vec = F.col(vec_col).cast("array<double>")
    return emb.select(
        F.col(id_col), quantize_i8(vec).cast("array<tinyint>").alias(code_col)
    )


def _index_out_path(sf_dir: str, base_dir: str) -> str:
    """Cache path for a derived index over {sf_dir}/embeddings.parquet:
    slug + md5 fingerprint of the SOURCE parquet (file names, sizes,
    mtimes), so a dataset regenerated in place at the same path gets a
    fresh index instead of a stale one."""
    import hashlib
    import os
    import re

    src = f"{sf_dir}/embeddings.parquet"
    h = hashlib.md5()
    entries = [src] if os.path.isfile(src) else sorted(
        os.path.join(src, f) for f in os.listdir(src)
    )
    for f in entries:
        st = os.stat(f)
        h.update(f"{os.path.basename(f)}:{st.st_size}:{st.st_mtime_ns}".encode())
    slug = re.sub(r"[^A-Za-z0-9._-]+", "_", sf_dir.strip("/"))
    return f"{base_dir}/{slug}-{h.hexdigest()[:10]}"


def _ensure_index(spark, sf_dir: str, base_dir: str, write_fn) -> str:
    """Idempotent, atomic-rename materialization (same discipline as
    fixture_oracle): write_fn(emb_df, tmp_path) builds the index into
    tmp, a rename publishes it; a concurrent winner's output is kept."""
    import os
    import shutil

    out = _index_out_path(sf_dir, base_dir)
    if os.path.exists(f"{out}/_SUCCESS"):
        return out
    tmp = f"{out}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    write_fn(emb, tmp)
    try:
        os.rename(tmp, out)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)  # concurrent writer won
    return out


def ensure_i8_codes(
    spark,
    sf_dir: str,
    base_dir: str = "/tmp/openocr_i8codes",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Materialize the embeddings table's int8 code column to parquet;
    returns the code table path. This is the offline index-build step a
    production deployment runs once per corpus version."""

    def write(emb: DataFrame, tmp: str) -> None:
        with_i8_codes(emb, id_col, vec_col).write.mode("overwrite").parquet(tmp)

    return _ensure_index(spark, sf_dir, base_dir, write)


def ensure_ivf_cells(
    spark,
    sf_dir: str,
    base_dir: str = "/tmp/openocr_ivfcells",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    id_col: str = "vec_id",
) -> str:
    """Materialize the WRITE-TIME IVF cell layout: the embeddings table
    rewritten with `cell` (nearest trained centroid) as the parquet
    partition key — the analog of Iceberg `PARTITIONED BY (cell)`.
    Reading this table with a probe-set filter is partition pruning:
    the scan touches only the nprobe cell directories, no per-row
    centroid math, no full-corpus scan. This is the offline step the
    cosine_topk_ivf_trained docstring's scale claim requires (VERDICT
    r3 item 2); cache-keyed by source fingerprint like ensure_i8_codes."""

    def write(emb: DataFrame, tmp: str) -> None:
        vec = F.col(vec_col).cast("array<double>")
        # corpus-size-derived intra-cell salt (the tuned-granularity
        # rule every fixed knob in this repo has converged to): a bare
        # repartition(cell) funnels each cell through ONE task — fine
        # at fixture scale, a k_cells-wide bottleneck at the 100-TB
        # scale this layout exists for. salts grows with rows so each
        # (cell, salt) shard stays ~bounded and the write uses
        # k_cells × salts tasks; at test scale salts == 1 preserves the
        # 1-file-per-cell layout the pruning assert pins.
        salts = _cell_write_salts(emb.count())
        out = emb.withColumn(cell_col, ivf_cell(vec))
        if salts > 1:
            out = out.repartition(
                F.col(cell_col),
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(salts)),
            )
        else:
            out = out.repartition(F.col(cell_col))
        out.write.mode("overwrite").partitionBy(cell_col).parquet(tmp)

    return _ensure_index(spark, sf_dir, base_dir, write)


def _cell_write_salts(n_rows: int, rows_per_shard: int = 4_000_000) -> int:
    """Intra-cell write parallelism for ensure_ivf_cells: ceil(n /
    rows_per_shard), so shard size — not shard count — is the invariant
    as the corpus grows (a 10^9-row corpus gets 250 shards per cell
    space, a 10^4-row fixture gets 1)."""
    return max(1, -(-int(n_rows) // int(rows_per_shard)))


def cosine_topk_quantized(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame | None = None,
    code_col: str = "codes",
) -> DataFrame:
    """Two-stage scan-and-rerank ANN: coarse-score the corpus with int8
    codes, then exact-score the top-`rerank` survivors and keep the
    top-k. Both stages are distributed top-ks (TakeOrderedAndProject).

    Pass `codes` = the materialized (id, codes) relation from
    with_i8_codes/ensure_i8_codes to get the real memory-traffic win:
    stage 1 then scans ONLY the narrow code table (plan-asserted: its
    scan schema excludes the float column) and the full-precision
    vectors are fetched for just the `rerank` survivors via a
    broadcast-able k-row join. With codes=None the codes are computed
    on the fly from the float column — correct but scanning the same
    bytes as brute force; use the materialized path at scale."""
    import math

    qarr = [float(x) for x in query_vec]
    s = 127.0 / max(max(abs(x) for x in qarr), 1e-12)
    q8 = [float(math.floor(x * s + 0.5)) for x in qarr]
    q8_col = F.array(*[F.lit(x) for x in q8])
    if codes is None:
        codes = with_i8_codes(emb, id_col, vec_col, code_col)
    coarse = codes.select(
        F.col(id_col),
        F.round(
            cosine(F.col(code_col).cast("array<double>"), q8_col), 6
        ).alias("approx_sim"),
    )
    cand = coarse.orderBy(F.col("approx_sim").desc(), F.col(id_col)).limit(rerank)
    # floats only for the survivors: `cand` is rerank rows, so AQE
    # broadcasts it and the float fetch touches rerank rows of `emb`
    vec = F.col(vec_col).cast("array<double>")
    floats = emb.select(F.col(id_col), vec.alias("_v"))
    qcol = F.array(*[F.lit(x) for x in qarr])
    scored = cand.join(floats, id_col).select(
        F.col(id_col),
        F.round(cosine(F.col("_v"), qcol), 6).alias("cos_sim"),
    )
    top = scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)
    w = Window.orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return top.withColumn("rank", F.row_number().over(w))


def near_dup_pairs_lsh(
    emb: DataFrame,
    threshold: float = 0.8,
    bands: int = 4,
    bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    hash_dims: int = 64,
    strict_dims: bool = False,
) -> DataFrame:
    """Banded sign-LSH near-dup pairs — the tunable-recall SCALE PATH
    for embedding near-dup (the structure of MinHash-LSH applied to the
    cosine metric): `bands` independent hash tables of `bits`
    hyperplane signs each; vectors sharing ANY band's bucket become a
    candidate pair; candidates are then EXACT-verified by cosine.
    Recall for cosine c: with p = 1 − arccos(c)/π, a pair survives a
    band with p^bits and any of the bands with 1 − (1 − p^bits)^bands
    (e.g. c=0.9, bits=4, bands=4 → 0.95). Cost: each band's self-join
    is quadratic in its (2^bits-way smaller) bucket occupancy, the
    verify join touches candidates only — measured 7.7× faster than the
    exact within-cell join at 10× corpus with bits=3 single-table
    (BENCH/scale_sf1.md).

    strict_dims=True makes a vector whose length differs from
    `hash_dims` an executor-side error instead of a silent projection
    onto the leading coordinates — callers whose oracle/recall math
    assumes full-width hashes (the driver-contract query does) must not
    drift from a SQL oracle that embeds `hash_dims`-wide hyperplane
    literals (ADVICE r3 item 2)."""
    vec = F.col(vec_col).cast("array<double>")
    if strict_dims:
        vec = F.when(F.size(vec) == F.lit(hash_dims), vec).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"near_dup_pairs_lsh: embedding dim != {hash_dims}: "),
                    F.size(vec).cast("string"),
                )
            )
        )
    # project the cast (+ strict check) vector ONCE: higher-order fns
    # sit outside codegen CSE, so inlining `vec` into all bands×bits
    # hash expressions would re-evaluate the cast/check 16× per row
    from openocr_spark.operators.partitioning import spread

    # spread the hash-side projection: a single-row-group input would
    # otherwise run ALL bands×bits hyperplane dots — and the band
    # self-join probe — on one core (guide §2.5); no-op at scale.
    # The sliced/padded hash input is projected ONCE per row
    # (presliced_for_sign_bucket) so the per-bit dots skip their two
    # per-(row, bit) slice copies — bit-identical, see sign_bucket.
    projected = spread(
        emb.select(
            F.col(id_col).alias("id"),
            presliced_for_sign_bucket(vec, hash_dims).alias("_vs"),
        )
    )
    pv = F.col("_vs")
    band_arr = F.array(
        *[
            F.struct(
                F.lit(t).alias("band"),
                sign_bucket(
                    pv, bits, seed=seed + 1000 * t, dims=hash_dims,
                    pre_sliced=True,
                ).alias("bucket"),
            )
            for t in range(bands)
        ]
    )
    # localCheckpoint (lazy): the band relation is BOTH sides of the
    # candidate self-join — without it the whole hash lineage runs
    # twice (the same reasoning as lsh_candidate_pairs); the
    # materialized relation is bands·n tiny rows
    # local-only: assumes no executor loss (the checkpoint lives on executors);
    # a cluster run needs a reliable checkpoint() or exchange reuse instead
    tagged = projected.select("id", band_arr.alias("bs")).select(
        "id", F.explode("bs").alias("b")
    ).select("id", "b.band", "b.bucket").localCheckpoint(eager=False)
    a, b = tagged.alias("a"), tagged.alias("b")
    # candidate pairs WITHOUT the pre-verify distinct: a pair colliding
    # in k bands flows to the verify k times and the dedup happens on
    # the (tiny) post-threshold survivor set instead. verify is a
    # deterministic function of the pair, so distinct(verify(dups)) ==
    # verify(distinct(dups)) row-for-row — and the measured plan drops
    # the 466k-row two-phase distinct aggregation + its exchange (the
    # single hottest operator of this query, ~20s task time at sf0.1)
    # for ~11% duplicate dot evaluations. Duplicate factor is bounded
    # by `bands`, and only truly-near-dup pairs collide in many bands —
    # exactly the pairs that survive to the small distinct anyway.
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    # exact verify. Norms are a per-VECTOR quantity → compute them in
    # the n-row float projections, not per candidate pair — the pair-row
    # work drops from 3 array aggregates to 1. dot/(na*nb) is float-
    # identical to cosine() (same fold, same sqrt-then-multiply order),
    # so the DuckDB oracle hash is unchanged. The dot itself stays a
    # JVM HOF on purpose: an Arrow-batched dot was measured STRICTLY
    # worse at scale — it ships both 64-double vectors per candidate
    # row through the wire (46 GB at the 10× study's 46M candidates,
    # >9× slower), where the HOF reads them from the broadcast hash
    # table without leaving the JVM.
    va = emb.select(
        F.col(id_col).alias("id_a"), vec.alias("va"), l2_norm(vec).alias("_na")
    )
    vb = emb.select(
        F.col(id_col).alias("id_b"), vec.alias("vb"), l2_norm(vec).alias("_nb")
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va"), F.col("vb"))
                / (F.col("_na") * F.col("_nb")),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .distinct()
    )


def tuned_lsh_params(
    n: int,
    threshold: float = 0.8,
    recall: float = 0.9,
    target_occupancy: int = 64,
    max_bands: int = 64,
) -> tuple[int, int]:
    """(bands, bits) that keep banded sign-LSH ~linear as the corpus
    grows. With FIXED bits the bucket space is fixed (2^bits per band),
    so a 10× corpus means 10× occupancy per bucket and ~100× candidate
    pairs — the same fixed-granularity trap as the exact within-cell
    join (BENCH/scale_sf1.md). The scale knob is therefore:

      bits  = ceil(log2(n / target_occupancy))   (bounds expected
              bucket occupancy, so per-band candidates stay ~linear·t)
      bands = ceil(ln(1−recall) / ln(1−p^bits))  (restores the recall
              the extra bits cost, p = 1 − arccos(threshold)/π)

    Cost grows ~bands·n rows shuffled + ~n·target_occupancy/2 candidate
    checks — linear in n for fixed occupancy, with bands growing only
    logarithmically-ish as bits rises. max_bands caps the spend when
    threshold is low and recall high (the caller sees the cap as lower
    realized recall; raise target_occupancy instead)."""
    import math

    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    bits = max(4, math.ceil(math.log2(max(n, 1) / max(target_occupancy, 1))))
    pb = p**bits
    if pb >= 1.0:
        return 1, bits
    bands = math.ceil(math.log(1.0 - min(recall, 0.999)) / math.log(1.0 - pb))
    return max(1, min(max_bands, bands)), bits


def near_dup_pairs_lsh_tuned(
    emb: DataFrame,
    threshold: float = 0.8,
    recall: float = 0.9,
    target_occupancy: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    hash_dims: int = 64,
) -> DataFrame:
    """near_dup_pairs_lsh with (bands, bits) derived from the corpus
    size via tuned_lsh_params — the configuration a 100 TB deployment
    would run, where hand-picking bucket granularity per corpus is not
    an option. One count() (metadata-scale job) buys an occupancy-
    bounded candidate volume; results remain exact-verified cosine
    pairs (precision 1.0 by construction; recall ≥ `recall` in
    expectation at cosine == threshold, higher above it)."""
    n = emb.count()
    bands, bits = tuned_lsh_params(n, threshold, recall, target_occupancy)
    return near_dup_pairs_lsh(
        emb, threshold, bands, bits,
        id_col=id_col, vec_col=vec_col, seed=seed, hash_dims=hash_dims,
    )


def sign_bucket(
    vec: Column, bits: int, seed: int = 7, dims: int = 64,
    pre_sliced: bool = False,
) -> Column:
    """Random-hyperplane sign-LSH bucket id (0..2^bits-1): bit j is the
    sign of v·h_j for a deterministic pseudo-random hyperplane h_j
    (elements ±1 from md5(seed, j, dim-index) parity — engine-portable,
    no artifact to ship). Vectors with high cosine land in the same
    bucket with probability ≈ (1 − θ/π)^bits.

    The hyperplane literal carries `dims` components and BOTH sides are
    sliced to min(dims, size(vec)) before the dot product — zip_with
    null-pads the shorter array, which would null the dot and silently
    send EVERY vector to bucket 0 (caught in review). For embeddings
    wider than `dims` the hash projects onto the first `dims`
    coordinates — still a valid bucketing (identical vectors always
    collide; the collision-probability formula then applies to the
    subspace angle); raise `dims` to hash every coordinate.

    `pre_sliced=True` declares that the caller already projected
    `presliced_for_sign_bucket(vec, dims)` — the vector sliced to at
    most `dims` elements and ZERO-padded to exactly `dims` — into the
    column it passes (see near_dup_pairs_lsh). The per-bit dot then
    zips two equal-length arrays with no per-bit slicing. Bit-identical
    to the unsliced form: for i ≤ len(vec) the products and fold order
    are unchanged; the padded tail contributes 0.0·(±1) = ±0.0 terms
    to a fold whose accumulator starts at 0.0, and appending ±0.0 to
    such a sum never changes its bits; interior null elements still
    null-poison the dot through the same x*y product; a null vector
    stays null through slice/concat. The rewrite exists because
    expression-level CSE does not reach inside higher-order functions:
    the unsliced form re-evaluates TWO 64-element slice copies per
    (row, bit) — 2·bits array allocations per row, the hash pass's
    hottest allocation site."""
    import hashlib

    code = F.lit(0)
    if not pre_sliced:
        n = F.least(F.size(vec), F.lit(dims))
        v = F.slice(vec, 1, n)
    for j in range(bits):
        signs = [
            1.0
            if int(hashlib.md5(f"{seed}#{j}#{i}".encode()).hexdigest()[:4], 16) % 2
            else -1.0
            for i in range(dims)
        ]
        if pre_sliced:
            hj = F.array(*[F.lit(s) for s in signs])
            dot_j = F.aggregate(
                F.zip_with(vec, hj, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        else:
            hj = F.slice(F.array(*[F.lit(s) for s in signs]), 1, n)
            dot_j = F.aggregate(
                F.zip_with(v, hj, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        code = code + F.when(dot_j >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return code


def presliced_for_sign_bucket(vec: Column, dims: int = 64) -> Column:
    """slice-to-dims + zero-pad-to-dims projection for
    sign_bucket(pre_sliced=True) — computed ONCE per row instead of
    per (row, bit). See sign_bucket's pre_sliced note for the
    bit-identity argument."""
    n = F.least(F.size(vec), F.lit(dims))
    return F.concat(
        F.slice(vec, 1, n), F.array_repeat(F.lit(0.0), F.lit(dims) - n)
    )


def near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    sign_bits: int = 0,
    hash_dims: int = 64,
) -> DataFrame:
    """Embedding-cosine near-dup pairs within a cell (bucketed self-join:
    the join key prunes the quadratic surface to cell-local).

    SCALE KNOB (measured, BENCH/scale_sf1.json): the join cost is
    QUADRATIC in cell occupancy — at 10× corpus with an unchanged cell
    space this query went 19.5× slower (each cell 10× denser → 100×
    the pairs). Growing the corpus requires growing the cell count with
    it: either re-train the coarse quantizer with k_cells ∝ N, or set
    sign_bits > 0 to sub-bucket every cell by random-hyperplane sign-LSH
    (cell count × 2^bits; exact within a bucket, recall < 1 across
    buckets — the standard LSH trade; sign_bits=0 keeps the exact
    within-cell semantics the oracle checks)."""
    vec = F.col(vec_col).cast("array<double>")
    cell = F.col(cell_col).cast("string")
    if sign_bits > 0:
        cell = F.concat(
            cell, F.lit("#"),
            sign_bucket(vec, sign_bits, dims=hash_dims).cast("string"),
        )
    # norms are a per-VECTOR quantity: computing them in the n-row base
    # projection instead of per pair drops the pair-row work from 3
    # array reductions to 1 (same rewrite the LSH verify uses).
    # dot/(na*nb) keeps cosine()'s exact float order: same fold, same
    # sqrt-then-multiply sequence — the oracle hash is unchanged.
    from openocr_spark.operators.partitioning import spread

    # spread: the per-pair dot below runs on the STREAM side's
    # partitioning (the build side broadcasts); an unsplittable input
    # would serialize the whole quadratic surface on one core
    base = spread(
        emb.select(
            cell.alias("cell"), F.col(id_col).alias("id"), vec.alias("v"),
            l2_norm(vec).alias("nrm"),
        )
    )
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(b, "cell")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(
                dot(F.col("a.v"), F.col("b.v"))
                / (F.col("a.nrm") * F.col("b.nrm")),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
