"""Seeded benchmark inputs, written once per (workload, seed, size) as
parquet tables in a cache inside the checkout and read back by the timed
flows. The program under test only ever sees these tables.

The seed moves a window over the fixture's doc index (`base_index`),
always by a multiple of 100, so the 1% skew tail (`i % 100 == 7`) and
the 10-format round-robin (`i % 10`) are the same for every seed.

Per-seed tables are generated in the driver with the package's own
fixture functions and written with pyarrow, one file per core. The one
expensive input, the pool of encoded images behind decode_mix, is encoded
on the Spark executors once per checkout; this module is shipped to the
Python workers for that (see `bench.Sessions`).
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import shutil
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# bump when the generated bytes change, so stale caches are not reused
INPUT_VERSION = "v2"

MEDIA_H, MEDIA_W = 96, 160
FORMATS = (
    "png", "pdf_flate", "jpeg", "jpeg_pdf", "jpeg_arith",
    "jpeg_hier", "tiff_g4", "tiff_jpeg", "vp8l", "vp8l_palette",
)
LOSSLESS = frozenset({"png", "pdf_flate", "tiff_g4", "vp8l", "vp8l_palette"})
# the decode_mix media pool holds POOL_FACTOR x the per-run item count;
# each seed draws its own per-format subset from it
POOL_FACTOR = 4

# test-side reference encoders, in dependency order (see `load_encoders`)
_ENCODER_MODULES = (
    "jpeg_ref_encoder", "jpeg_arith_ref_encoder", "jpeg_hier_ref_encoder",
    "tiff_ref_encoder", "webp_ref_encoder",
)


def base_index(seed: int) -> int:
    """First fixture doc index of a seed's window (a multiple of 100; doc
    ids stay within the fixture's 8-digit format)."""
    return (seed % 900) * 100_000


def cache_root(root: str) -> str:
    return os.path.join(root, ".perfbench_cache")


# ------------------------------------------------------------ documents


def doc_rows(first: int, n_docs: int) -> list[dict]:
    """Interleaved documents with fixture indices [first, first+n_docs)."""
    from openocr_spark.fixtures import doc_id_for, is_skew_doc, spans_for_doc

    return [
        {"doc_id": doc_id_for(i), "spans": spans_for_doc(doc_id_for(i), skew=is_skew_doc(i))}
        for i in range(first, first + n_docs)
    ]


def docs_pdf(first: int, n_docs: int) -> pd.DataFrame:
    return pd.DataFrame(doc_rows(first, n_docs))


def payload_rows(docs: list[dict]) -> list[dict]:
    """The media payload table of `docs` (one row per media span)."""
    from openocr_spark.fixtures import payload_row

    return [
        payload_row(s["media_ref"])
        for d in docs for s in d["spans"] if s["kind"] == "media"
    ]


def layout_rows(doc_ids: list[str]) -> list[dict]:
    from openocr_spark.fixtures import layout_blocks_for_doc

    return [b for d in doc_ids for b in layout_blocks_for_doc(d)]


def layout_pdf(doc_ids: list[str]) -> pd.DataFrame:
    return pd.DataFrame(layout_rows(doc_ids))


LAYOUT_ARROW = pa.schema([
    ("doc_id", pa.string()), ("cls_id", pa.int32()), ("label", pa.string()),
    ("score", pa.float64()), ("bbox", pa.list_(pa.float64())),
    ("custom_value", pa.float64()), ("text", pa.string()),
])


# ---------------------------------------------------------------- media


def source_image(i: int) -> np.ndarray:
    """The unique gray image behind media id `i` (the `bench.py` real-media
    image family: integer-derived frequencies and phases)."""
    x, y = np.meshgrid(np.arange(MEDIA_W), np.arange(MEDIA_H))
    fx = 3.0 + (i % 7) + 0.13 * ((i // 7) % 11)
    fy = 2.0 + (i % 5) + 0.17 * ((i // 5) % 13)
    px = (i * 37 % 640) / 10.0
    py = (i * 73 % 640) / 10.0
    return (
        (128 + 70 * np.sin((x + px) / fx) + 40 * np.cos((y + py) / fy))
        .clip(0, 255)
        .astype(np.uint8)
    )


def expected_pixels(i: int) -> np.ndarray:
    """What a decoder must return for media id `i`: the source image for
    the continuous-tone slots, the quantized image for the palette slot
    and the 0/255 bilevel image for the G4 slot (black = ink <= 128)."""
    img = source_image(i)
    fmt = FORMATS[i % 10]
    if fmt == "tiff_g4":
        return np.where(img > 128, 0, 255).astype(np.uint8)
    if fmt == "vp8l_palette":
        return (img >> 4) << 4
    return img


def load_encoders(tests_dir: str) -> dict:
    """Load the test-side reference encoders from the files in
    `tests_dir`. A missing encoder raises: a degraded format mix is a
    failed run, never a silent PNG/PDF fallback. Each module is loaded
    from its own file and registered before the next (dependency order),
    and sys.path is restored afterwards, so an encoder that puts a fixed
    path on sys.path cannot pull in another checkout's copy."""
    import openocr_spark

    root = os.path.dirname(os.path.abspath(tests_dir))
    if not os.path.abspath(openocr_spark.__file__).startswith(root + os.sep):
        raise RuntimeError(f"openocr_spark resolved to {openocr_spark.__file__}, not under {root}")
    saved = list(sys.path)
    mods = {}
    try:
        for name in _ENCODER_MODULES:
            spec = importlib.util.spec_from_file_location(
                name, os.path.join(tests_dir, f"{name}.py")
            )
            mod = importlib.util.module_from_spec(spec)
            sys.modules[name] = mod
            spec.loader.exec_module(mod)
            mods[name] = mod
    finally:
        sys.path[:] = saved
    return mods


def encode_media(i: int, enc: dict) -> bytes:
    """Encode media id `i` in its round-robin container (`FORMATS[i % 10]`)."""
    from openocr_spark.kernels.media_decode import encode_png
    from openocr_spark.kernels.pdf_format import encode_pdf

    img = source_image(i)
    fmt = FORMATS[i % 10]
    jpeg = enc["jpeg_ref_encoder"].encode_jpeg
    tiff = enc["tiff_ref_encoder"].write_tiff
    vp8l = enc["webp_ref_encoder"].encode_vp8l
    if fmt == "png":
        return encode_png(img)
    if fmt == "pdf_flate":
        return encode_pdf([img])
    if fmt == "jpeg":
        return jpeg(img)
    if fmt == "jpeg_pdf":
        return encode_pdf([jpeg(img)])
    if fmt == "jpeg_arith":
        return enc["jpeg_arith_ref_encoder"].encode_jpeg_arith(img)
    if fmt == "jpeg_hier":
        return enc["jpeg_hier_ref_encoder"].encode_jpeg_hierarchical(
            img, [{"kind": "dct"}, {"kind": "dct", "exp": (1, 1)}]
        )
    if fmt == "tiff_g4":
        return tiff([{"pixels": img > 128, "compression": 4}])
    if fmt == "tiff_jpeg":
        return tiff([{
            "pixels": img, "compression": 7, "photometric": 1,
            "jpeg_bytes": jpeg(img), "jpeg_split_tables": True,
        }])
    if fmt == "vp8l":
        return vp8l(img, subtract_green=True, lz77=True, cache_bits=6)
    return vp8l((img >> 4) << 4, palette=True, lz77=True)


_MAGIC = {
    "png": lambda b: b.startswith(b"\x89PNG"),
    "pdf_flate": lambda b: b.startswith(b"%PDF-") and b"/DCTDecode" not in b,
    "jpeg": lambda b: b.startswith(b"\xff\xd8"),
    "jpeg_pdf": lambda b: b.startswith(b"%PDF-") and b"/DCTDecode" in b,
    "jpeg_arith": lambda b: b.startswith(b"\xff\xd8"),
    "jpeg_hier": lambda b: b.startswith(b"\xff\xd8"),
    "tiff_g4": lambda b: b.startswith(b"II*\x00"),
    "tiff_jpeg": lambda b: b.startswith(b"II*\x00"),
    "vp8l": lambda b: b.startswith(b"RIFF") and b[8:12] == b"WEBP",
    "vp8l_palette": lambda b: b.startswith(b"RIFF") and b[8:12] == b"WEBP",
}


def media_pool_df(spark, n_pool: int, tests_dir: str, partitions: int):
    """(media_id, doc_id, media_ref, fmt, content) for ids [0, n_pool),
    encoded on the executors."""

    def gen(batches):
        enc = load_encoders(tests_dir)
        for pdf in batches:
            ids = [int(i) for i in pdf["id"].tolist()]
            content = [encode_media(i, enc) for i in ids]
            fmts = [FORMATS[i % 10] for i in ids]
            for i, f, b in zip(ids, fmts, content):
                if not _MAGIC[f](b):
                    raise RuntimeError(f"media {i}: {f} slot produced foreign bytes")
            yield pd.DataFrame({
                "media_id": ids,
                "doc_id": [f"doc-{i:08d}" for i in ids],
                "media_ref": [f"bench://{i}" for i in ids],
                "fmt": fmts,
                "content": content,
            })

    return spark.range(0, n_pool, 1, partitions).mapInPandas(
        gen,
        "media_id long, doc_id string, media_ref string, fmt string, content binary",
    )


def media_ids_for_seed(seed: int, n_items: int) -> list[int]:
    """The seed's draw from the pool: n_items // 10 ids per format, so the
    round-robin mix is exact for every seed."""
    per_fmt = n_items // 10
    rng = np.random.default_rng(seed)
    ids = []
    for slot in range(10):
        slot_ids = np.arange(slot, per_fmt * POOL_FACTOR * 10, 10)
        ids.extend(int(i) for i in rng.choice(slot_ids, per_fmt, replace=False))
    return sorted(ids)


# ----------------------------------------------------------- the cache


def done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def write_table(path: str, table: pa.Table, parts: int) -> None:
    """Write `table` to the directory `path` as `parts` parquet files of
    consecutive rows, unless a complete copy is already there."""
    if done(path):
        return
    tmp = path + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    step = -(-table.num_rows // parts) if table.num_rows else 1
    for k in range(parts):
        pq.write_table(table.slice(k * step, step), os.path.join(tmp, f"part-{k:05d}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)


def write_pool(spark, path: str, n_pool: int, tests_dir: str) -> None:
    """Encode the decode_mix media pool on the executors."""
    media_pool_df(spark, n_pool, tests_dir, 16).write.mode("overwrite").parquet(path)


def table_digest(path: str) -> str:
    """Digest of a table as the program reads it: row count and the md5
    of its parquet files, in name order."""
    h = hashlib.md5()
    rows = 0
    for f in sorted(os.listdir(path)):
        if f.endswith(".parquet"):
            full = os.path.join(path, f)
            rows += pq.ParquetFile(full).metadata.num_rows
            with open(full, "rb") as fh:
                h.update(fh.read())
    return f"{rows}:{h.hexdigest()[:16]}"
