"""The benchmark's workloads: how each builds its seeded inputs, which
public entry points its timed flow calls, how its outputs are checked,
and (for the traced run) its flow prefixes and driver-side kernel
samples.

An item is a document for the extraction and doc-parse flows and a
media item for decode_mix.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import inputs

# the oracle sample: the first SAMPLE_DOCS docs of a seed's window (the
# window starts at a multiple of 100, so doc 7 is a skew doc)
SAMPLE_DOCS = 12
# the warm-up inputs are spread over one file per core, so the warm-up job
# starts every Python worker
WARM_DOCS = 8
# decode_mix: pixel-level comparison for this many items per format
PIXEL_SAMPLE_PER_FMT = 2
# lossy slots: worst pixel error and feature (mean/std) error allowed
JPEG_MAX_ABS_ERR = 24
JPEG_FEATURE_ERR = 2.0


@dataclass
class Inputs:
    """Parquet tables a workload's flow reads, and their digest."""

    tables: dict[str, str]
    warm: dict[str, str]
    first: int
    n_items: int
    seed: int = 0
    digest: str = ""
    meta: dict = field(default_factory=dict)


@dataclass
class Check:
    """Outcome of a workload's output check: the failed items (doc ids or
    media refs) and a digest of the whole output."""

    bad: set
    output_digest: str
    notes: list[str] = field(default_factory=list)
    per_doc: dict[str, str] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)


def _md5(obj) -> str:
    return hashlib.md5(json.dumps(obj, sort_keys=True).encode()).hexdigest()


def _digest_rows(per_item: dict[str, str]) -> str:
    return _md5(sorted(per_item.items()))


def _read(spark, paths: dict[str, str]):
    return {k: spark.read.parquet(v) for k, v in paths.items()}


# ------------------------------------------------------------ extract


class Extract:
    """`extract(docs)` (payloads synthesized in the executor) or
    `extract(docs, payloads)` (payloads read from parquet and joined on
    media_ref). Both must produce the same spans."""

    item = "doc"
    partitions = 4
    # layer self time → (prefix, the prefix it extends)
    prefix_metrics = {
        "extract.explode_s": ("explode", "scan"),
        "extract.flat_s": ("flat", "explode"),
        "extract.assemble_s": ("assemble", "flat"),
    }

    def __init__(self, name: str, joined: bool, n_docs: int):
        self.name = name
        self.joined = joined
        self.n_items = n_docs

    def prepare(self, sess, seed: int) -> Inputs:
        from pyspark.sql.pandas.types import to_arrow_schema

        from openocr_spark import schemas

        first, n = inputs.base_index(seed), self.n_items
        cache = inputs.cache_root(sess.root)
        key = f"{inputs.INPUT_VERSION}-s{seed}-n{n}"
        kinds = ("docs", "payloads") if self.joined else ("docs",)
        tables = {k: os.path.join(cache, f"{k}-{key}") for k in kinds}
        warm = {k: os.path.join(cache, f"{k}-warm-{key}") for k in kinds}
        # warm-up docs sit just past the window (indices 0..7 mod 100, so
        # no skew doc)
        for paths, lo, cnt in ((tables, first, n), (warm, first + n, WARM_DOCS)):
            if all(inputs.done(p) for p in paths.values()):
                continue
            docs = inputs.doc_rows(lo, cnt)
            inputs.write_table(
                paths["docs"],
                pa.Table.from_pylist(docs, schema=to_arrow_schema(schemas.DOCUMENTS)),
                self.partitions,
            )
            if self.joined:
                inputs.write_table(
                    paths["payloads"],
                    pa.Table.from_pylist(
                        inputs.payload_rows(docs),
                        schema=to_arrow_schema(schemas.MEDIA_PAYLOADS),
                    ),
                    self.partitions,
                )
        return Inputs(tables, warm, first, n)

    def flow(self, spark, paths: dict[str, str]):
        from openocr_spark.operators.extract import extract

        t = _read(spark, paths)
        return extract(t["docs"], t.get("payloads"))

    def prefixes(self, spark, paths: dict[str, str]):
        """Public-function prefixes of the flow, in order; the traced run
        forces each and takes differences for self times."""
        from openocr_spark.operators.extract import explode_spans, extract, extract_flat

        t = _read(spark, paths)
        docs, pay = t["docs"], t.get("payloads")
        out = [("scan", docs), ("explode", explode_spans(docs))]
        if pay is not None:
            out.insert(1, ("scan_payloads", pay))
        out += [("flat", extract_flat(docs, pay)), ("assemble", extract(docs, pay))]
        return out

    def check(self, spark, out, inp: Inputs) -> Check:
        from openocr_spark.fixtures import doc_id_for
        from openocr_spark.oracle import extract_oracle

        got: dict[str, list] = {}
        bad = set()
        for r in out.collect():
            spans = [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
            if r["doc_id"] in got or [s[3] for s in spans] != list(range(len(spans))):
                bad.add(r["doc_id"])
            got[r["doc_id"]] = spans
        expected = {doc_id_for(i) for i in range(inp.first, inp.first + inp.n_items)}
        bad |= expected ^ set(got)
        notes = [f"{len(bad)} docs missing, repeated, unexpected or misordered"] if bad else []
        sample = min(SAMPLE_DOCS, inp.n_items)
        oracle = extract_oracle(inputs.docs_pdf(inp.first, sample))
        mismatched = 0
        for _, r in oracle.iterrows():
            want = [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
            if got.get(r["doc_id"]) != want:
                bad.add(r["doc_id"])
                mismatched += 1
        if mismatched:
            notes.append(f"{mismatched}/{sample} sampled docs differ from the oracle")
        per_doc = {d: _md5(s) for d, s in got.items()}
        return Check(
            bad=bad, output_digest=_digest_rows(per_doc),
            notes=notes, per_doc=per_doc,
            detail={"spans": sum(len(s) for s in got.values()),
                    "media_spans": sum(1 for s in got.values() for x in s if x[0] == "media")},
        )

    # ---- driver-side kernel sample (traced run)

    def kernel_sample(self, spark, inp: Inputs, n_media: int = 48) -> dict[str, float]:
        """Single-threaded driver timings of the per-media layers over the
        first n_media media refs of the seed's docs: fixture payload
        synthesis, detection (+ region assignment) and CTC recognition."""
        from openocr_spark.config import DEFAULT_CONFIG as cfg
        from openocr_spark.fixtures import payload_for_media_ref
        from openocr_spark.kernels.detection import (
            assign_regions_to_boxes,
            detect_boxes,
            sorted_boxes,
        )
        from openocr_spark.kernels.recognition import ctc_greedy_decode

        refs = []
        pdf = inputs.docs_pdf(inp.first, min(inp.n_items, 64))
        for spans in pdf["spans"]:
            refs += [s["media_ref"] for s in spans if s["kind"] == "media"]
        refs = refs[:n_media]
        t_fix = t_det = t_assign = t_rec = 0.0
        boxes_n = regions_n = kept = 0
        for ref in refs:
            t0 = time.perf_counter()
            p = payload_for_media_ref(ref)
            t1 = time.perf_counter()
            boxes, _ = detect_boxes(
                p["score_map"], thresh=cfg.binarize_thresh, box_thresh=cfg.box_thresh,
                min_size=cfg.min_size, unclip_ratio=cfg.unclip_ratio,
            )
            boxes = sorted_boxes(boxes, line_tol=cfg.line_tol)
            t2 = time.perf_counter()
            pts = [np.asarray(r["points"]) for r in p["regions"]]
            assigned = assign_regions_to_boxes(boxes, pts)
            t3 = time.perf_counter()
            for ridx in assigned:
                if ridx < 0:
                    continue
                _text, score = ctc_greedy_decode(p["regions"][ridx]["logits"])
                regions_n += 1
                kept += score >= cfg.drop_score
            t4 = time.perf_counter()
            t_fix += t1 - t0
            t_det += t2 - t1
            t_assign += t3 - t2
            t_rec += t4 - t3
            boxes_n += len(boxes)
        n = max(len(refs), 1)
        return {
            "fixtures.payload_ms_per_media": 1e3 * t_fix / n,
            "detection.ms_per_media": 1e3 * t_det / n,
            "detection.assign_ms_per_media": 1e3 * t_assign / n,
            "detection.boxes_per_media": boxes_n / n,
            "recognition.ms_per_region": 1e3 * t_rec / max(regions_n, 1),
            "recognition.regions_per_media": regions_n / n,
            "recognition.kept_ratio": kept / max(regions_n, 1),
        }


def _per_format(ids: list[int], k: int) -> list[int]:
    """The first k ids of each format slot."""
    return [i for slot in range(10) for i in [x for x in ids if x % 10 == slot][:k]]


# ------------------------------------------------------------- decode


class DecodeMix:
    """`extract_features(decode_media(media))` over unique encoded images,
    ten containers round-robin."""

    item = "media"
    partitions = 4
    prefix_metrics = {"features.s": ("features", "decode")}

    def __init__(self, name: str, n_media: int):
        self.name = name
        self.n_items = n_media

    def prepare(self, sess, seed: int) -> Inputs:
        n = self.n_items
        cache = inputs.cache_root(sess.root)
        n_pool = n * inputs.POOL_FACTOR
        pool = os.path.join(cache, f"media-pool-{inputs.INPUT_VERSION}-n{n_pool}")
        if not inputs.done(pool):
            # the one input that needs the executors; built once per checkout
            inputs.write_pool(sess.spark or sess.start(), pool, n_pool,
                              os.path.join(sess.root, "tests"))
        ids = inputs.media_ids_for_seed(seed, n)
        key = f"{inputs.INPUT_VERSION}-s{seed}-n{n}"
        media = os.path.join(cache, f"media-{key}")
        warm = os.path.join(cache, f"media-warm-{key}")
        cols = ["doc_id", "media_ref", "content"]
        for path, want in ((media, ids), (warm, list(range(10)))):
            if not inputs.done(path):
                t = pq.read_table(pool, columns=["media_id", *cols],
                                  filters=[("media_id", "in", want)])
                t = t.sort_by("media_id").select(cols)
                inputs.write_table(path, t, self.partitions)
        return Inputs({"media": media}, {"media": warm}, 0, n, meta={"ids": ids, "pool": pool})

    def flow(self, spark, paths: dict[str, str]):
        from openocr_spark.kernels.media_decode import decode_media, extract_features

        return extract_features(decode_media(_read(spark, paths)["media"]))

    def prefixes(self, spark, paths: dict[str, str]):
        from openocr_spark.kernels.media_decode import decode_media, extract_features

        media = _read(spark, paths)["media"]
        return [
            ("scan", media),
            ("decode", decode_media(media)),
            ("features", extract_features(decode_media(media))),
        ]

    def check(self, spark, out, inp: Inputs) -> Check:
        from pyspark.sql import functions as F

        from openocr_spark.kernels.media_decode import decode_media

        ids = inp.meta["ids"]
        rows = out.collect()
        pages: dict[str, list] = {}
        for r in rows:
            pages.setdefault(r["media_ref"], []).append(r)
        bad: set[int] = set()
        per_fmt_failed = {f: 0 for f in inputs.FORMATS}
        notes = []
        for i in ids:
            fmt = inputs.FORMATS[i % 10]
            got = pages.get(f"bench://{i}", [])
            ok = len(got) == 1
            if ok:
                px = inputs.expected_pixels(i)
                want = (float(px.mean()), float(px.std()), float((px > 0).mean()))
                have = (got[0]["mean_px"], got[0]["std_px"], got[0]["nonzero_frac"])
                if fmt in inputs.LOSSLESS:
                    ok = have == want
                else:
                    ok = max(abs(a - b) for a, b in zip(have[:2], want[:2])) <= JPEG_FEATURE_ERR
            if not ok:
                bad.add(i)
                per_fmt_failed[fmt] += 1
        extra = set(pages) - {f"bench://{i}" for i in ids}
        if extra:
            notes.append(f"{len(extra)} unexpected media in the output")
        # pixel-level comparison on a fixed per-format sample
        sample = _per_format(ids, PIXEL_SAMPLE_PER_FMT)
        media = _read(spark, inp.tables)["media"]
        decoded = decode_media(
            media.filter(F.col("media_ref").isin([f"bench://{i}" for i in sample]))
        ).collect()
        by_ref = {r["media_ref"]: r for r in decoded if r["page_no"] == 0}
        for i in sample:
            fmt = inputs.FORMATS[i % 10]
            r = by_ref.get(f"bench://{i}")
            want = inputs.expected_pixels(i)
            ok = r is not None and (r["height"], r["width"]) == want.shape
            if ok:
                have = np.frombuffer(r["pixels"], dtype=np.uint8).reshape(want.shape)
                err = np.abs(have.astype(np.int16) - want.astype(np.int16))
                ok = (not err.any()) if fmt in inputs.LOSSLESS else int(err.max()) <= JPEG_MAX_ABS_ERR
            if not ok and i not in bad:
                bad.add(i)
                per_fmt_failed[fmt] += 1
        if bad:
            notes.append(f"failed per format: { {k: v for k, v in per_fmt_failed.items() if v} }")
        per_item = {
            ref: _md5(sorted((p["page_no"], p["mean_px"], p["std_px"], p["nonzero_frac"]) for p in ps))
            for ref, ps in pages.items()
        }
        return Check(
            bad={f"bench://{i}" for i in bad} | extra,
            output_digest=_digest_rows(per_item), notes=notes,
            detail={"pages": len(rows), "failed_per_format": per_fmt_failed},
        )

    def kernel_sample(self, spark, inp: Inputs, per_fmt: int = 4) -> dict[str, float]:
        """Single-threaded driver decode time per container over a fixed
        per-format sample of the seed's own items."""
        from pyspark.sql import functions as F

        from openocr_spark.kernels.media_decode import decode_bytes

        ids = inp.meta["ids"]
        sample = _per_format(ids, per_fmt)
        media = _read(spark, inp.tables)["media"]
        rows = media.filter(
            F.col("media_ref").isin([f"bench://{i}" for i in sample])
        ).collect()
        out = {}
        tot = {f: 0.0 for f in inputs.FORMATS}
        cnt = {f: 0 for f in inputs.FORMATS}
        for r in rows:
            i = int(r["media_ref"].split("//")[1])
            fmt = inputs.FORMATS[i % 10]
            data = bytes(r["content"])
            t0 = time.perf_counter()
            decode_bytes(data)
            tot[fmt] += time.perf_counter() - t0
            cnt[fmt] += 1
        for f in inputs.FORMATS:
            out[f"decode.ms_per_item.{f}"] = 1e3 * tot[f] / max(cnt[f], 1)
        return out


# ---------------------------------------------------------- doc parse


class DocParse:
    """`OpenExtractor.doc(layout_blocks)`: score filter → overlap dedup →
    order and label → route → recognize → span assembly."""

    item = "doc"
    partitions = 4
    prefix_metrics = {
        "layout.score_filter_s": ("score_filter", "scan"),
        "layout.overlap_s": ("overlap", "score_filter"),
        "layout.order_route_s": ("order_route", "overlap"),
        "doc_parse.recognize_s": ("recognize", "order_route"),
        "doc_parse.assemble_s": ("assemble", "recognize"),
    }

    def __init__(self, name: str, n_docs: int):
        self.name = name
        self.n_items = n_docs

    def prepare(self, sess, seed: int) -> Inputs:
        from openocr_spark.fixtures import doc_id_for

        first, n = inputs.base_index(seed), self.n_items
        cache = inputs.cache_root(sess.root)
        key = f"{inputs.INPUT_VERSION}-s{seed}-n{n}"
        blocks = os.path.join(cache, f"layout-{key}")
        warm = os.path.join(cache, f"layout-warm-{key}")
        for path, lo, cnt in ((blocks, first, n), (warm, first + n, WARM_DOCS)):
            if not inputs.done(path):
                rows = inputs.layout_rows([doc_id_for(i) for i in range(lo, lo + cnt)])
                inputs.write_table(
                    path, pa.Table.from_pylist(rows, schema=inputs.LAYOUT_ARROW),
                    self.partitions,
                )
        return Inputs({"blocks": blocks}, {"blocks": warm}, first, n)

    def flow(self, spark, paths: dict[str, str]):
        from openocr_spark.api import OpenExtractor

        return OpenExtractor(spark).doc(_read(spark, paths)["blocks"])

    def prefixes(self, spark, paths: dict[str, str]):
        from openocr_spark.operators.doc_parse import doc_parse, doc_spans
        from openocr_spark.operators.layout import (
            filter_overlap_blocks,
            order_and_label,
            route,
            score_filter,
        )

        b = _read(spark, paths)["blocks"]
        sf = score_filter(b)
        ov = filter_overlap_blocks(sf)
        parsed = doc_parse(b)
        return [
            ("scan", b),
            ("score_filter", sf),
            ("overlap", ov),
            ("order_route", route(order_and_label(ov))),
            ("recognize", parsed),
            ("assemble", doc_spans(parsed)),
        ]

    def check(self, spark, out, inp: Inputs) -> Check:
        from openocr_spark.fixtures import doc_id_for
        from openocr_spark.oracle import doc_parse_oracle

        rows = out.collect()
        got = {
            r["doc_id"]: [(s["kind"], s["text"], s["block_id"], s["order"]) for s in r["spans"]]
            for r in rows
        }
        expected = [doc_id_for(i) for i in range(inp.first, inp.first + inp.n_items)]
        bad = set(expected) ^ set(got)
        notes = [f"{len(bad)} docs missing or unexpected"] if bad else []
        sample = expected[:SAMPLE_DOCS]
        oracle = doc_parse_oracle(inputs.layout_pdf(sample))
        mismatched = 0
        for d in sample:
            want = [(s["kind"], s["text"], s["block_id"], s["order"]) for s in oracle.get(d, [])]
            if got.get(d) != want:
                bad.add(d)
                mismatched += 1
        if mismatched:
            notes.append(f"{mismatched}/{len(sample)} sampled docs differ from the oracle")
        per_doc = {d: _md5(s) for d, s in got.items()}
        return Check(
            bad=bad, output_digest=_digest_rows(per_doc),
            notes=notes, per_doc=per_doc,
            detail={"spans": sum(len(s) for s in got.values())},
        )

    def kernel_sample(self, spark, inp: Inputs, n_docs: int = 8) -> dict[str, float]:
        """Single-threaded driver time of the AR decode kernel per block,
        over every block of the seed's first docs."""
        from openocr_spark.fixtures import doc_id_for
        from openocr_spark.kernels.ar_decode import ar_decode_text

        pdf = inputs.layout_pdf([doc_id_for(inp.first + i) for i in range(n_docs)])
        keys = [f"{r['doc_id']}/{r['label']}_{k:02d}" for k, r in enumerate(pdf.to_dict("records"))]
        t0 = time.perf_counter()
        for key in keys:
            ar_decode_text(key)
        return {"ar_decode.ms_per_block": 1e3 * (time.perf_counter() - t0) / max(len(keys), 1)}


def registry(sizes: dict[str, int]) -> dict:
    """Workload name → workload, at the given per-job item counts."""
    return {
        "extract_synth": Extract("extract_synth", joined=False, n_docs=sizes["extract_synth"]),
        "extract_joined": Extract("extract_joined", joined=True, n_docs=sizes["extract_joined"]),
        "decode_mix": DecodeMix("decode_mix", n_media=sizes["decode_mix"]),
        "doc_parse": DocParse("doc_parse", n_docs=sizes["doc_parse"]),
    }
