"""Self-tests of the benchmark itself. Run from the root of a checkout:

    python3 perfbench/selftest.py

1. The metric names and units the benchmark prints match BENCHMARK.json.
2. A tiny smoke run of each workload's flow passes its output check.
3. One altered span text, and one corrupted payload, make the check
   fail (so `failed_share` rises above 0).

Exits 0 when every test passes. Takes a few minutes (one Spark session).
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 424242  # a window of its own, so the cache never mixes with real runs
TINY = {"extract_synth": 24, "extract_joined": 24, "decode_mix": 20, "doc_parse": 12}


def check_metric_names() -> None:
    from perfbench import bench, workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == bench.END_TO_END, (e2e, bench.END_TO_END)
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert layer == bench.PER_LAYER, set(layer) ^ set(bench.PER_LAYER)
    for w in spec["workloads"]:
        assert w["name"] in bench.SIZES, w["name"]
    # the record an untraced run prints, from made-up measurements
    wl = workloads.registry(bench.SIZES)["decode_mix"]
    inp = workloads.Inputs({}, {}, 0, wl.n_items)
    result, _ = bench._untraced_result(
        wl, inp, jobs=[(1.0, 4.0, 0.0, bench.PROBE_REF_S)] * 6, failed_jobs=0,
        chk=workloads.Check(bad=set(), output_digest=""), gen_s=0.0,
        starts=[1.0] * 4, warms=[2.0] * 4,
    )
    printed = {k: m["unit"] for k, m in result["metrics"].items()}
    assert printed == e2e, (printed, e2e)
    print("ok  metric names and units match BENCHMARK.json")


def smoke_and_corruption(tmp: str) -> None:
    from pyspark.sql import functions as F

    from perfbench import bench, workloads

    wls = workloads.registry(TINY)
    sess = bench.Sessions(ROOT, tmp)
    try:
        spark = sess.start()
        prepared = {}
        for name, wl in wls.items():
            inp = wl.prepare(sess, SEED)
            out = wl.flow(spark, inp.tables)
            bench.force(wl.flow(spark, inp.warm))
            jobs, failed_jobs = bench.timed_jobs(out, 0, min_jobs=1)
            chk = wl.check(spark, out, inp)
            assert failed_jobs == 0 and not chk.bad, (name, chk.notes)
            prepared[name] = (inp, chk)
            print(f"ok  smoke {name}: {wl.n_items} items ({wl.item}) in {jobs[0][0]:.2f} s")
        assert (
            prepared["extract_synth"][1].output_digest
            == prepared["extract_joined"][1].output_digest
        ), "payload paths disagree"
        print("ok  extract_synth and extract_joined outputs are equal")

        # one altered span text in the output of the first doc
        wl = wls["extract_synth"]
        inp = prepared["extract_synth"][0]
        first_doc = f"doc-{inp.first:08d}"
        out = wl.flow(spark, inp.tables)
        altered = out.withColumn(
            "spans",
            F.when(
                F.col("doc_id") == first_doc,
                F.transform(
                    "spans",
                    lambda s, i: s.withField(
                        "text",
                        F.when(i == 0, F.concat(F.coalesce(s["text"], F.lit("")), F.lit("x")))
                        .otherwise(s["text"]),
                    ),
                ),
            ).otherwise(F.col("spans")),
        )
        chk = wl.check(spark, altered, inp)
        assert chk.bad == {first_doc}, chk.bad
        print("ok  an altered span text fails its doc")

        # one corrupted payload: a blank score map for a media span of a
        # sampled doc, so its text changes while every job still runs
        wl = wls["extract_joined"]
        inp = prepared["extract_joined"][0]
        ref = _media_with_text(inp.first)
        pay = spark.read.parquet(inp.tables["payloads"])
        bad_pay = pay.withColumn(
            "score_map",
            F.when(
                F.col("media_ref") == ref, F.expr("unhex(repeat('00', length(score_map)))")
            ).otherwise(F.col("score_map")),
        )
        path = os.path.join(tmp, "corrupt-payloads")
        bad_pay.write.mode("overwrite").parquet(path)
        corrupt = workloads.Inputs({**inp.tables, "payloads": path}, inp.warm, inp.first,
                                   inp.n_items)
        chk = wl.check(spark, wl.flow(spark, corrupt.tables), corrupt)
        assert chk.bad == {first_doc}, chk.bad
        print(f"ok  a corrupted payload ({ref}) fails its doc")

        # one corrupted media item: another valid image in the same
        # container decodes fine but to the wrong pixels
        wl = wls["decode_mix"]
        inp = prepared["decode_mix"][0]
        media = spark.read.parquet(inp.tables["media"])
        victim = inp.meta["ids"][0]
        pool = spark.read.parquet(inp.meta["pool"])
        donor = victim + 10 if victim + 10 < pool.count() else victim - 10
        donor_bytes = pool.filter(F.col("media_id") == donor).collect()[0]["content"]
        swapped = media.withColumn(
            "content",
            F.when(F.col("media_ref") == f"bench://{victim}", F.lit(bytes(donor_bytes)))
            .otherwise(F.col("content")),
        )
        path = os.path.join(tmp, "corrupt-media")
        swapped.write.mode("overwrite").parquet(path)
        corrupt = workloads.Inputs({"media": path}, inp.warm, inp.first, inp.n_items,
                                   meta=inp.meta)
        chk = wl.check(spark, wl.flow(spark, corrupt.tables), corrupt)
        assert chk.bad == {f"bench://{victim}"}, chk.bad
        print(f"ok  a corrupted media item (bench://{victim}) fails")
    finally:
        sess.shutdown()


def _media_with_text(first: int) -> str:
    """A media ref of the window's first doc whose extracted text is not
    empty (blanking its score map must change the output)."""
    from openocr_spark.fixtures import doc_id_for, spans_for_doc
    from openocr_spark.oracle import extract_media_text

    for s in spans_for_doc(doc_id_for(first)):
        if s["kind"] == "media" and extract_media_text(s["media_ref"]):
            return s["media_ref"]
    raise RuntimeError("no media span with text in the first doc")


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.run import confine

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"selftest-{os.getpid()}")
    confine(tmp)
    from perfbench import bench

    try:
        check_metric_names()
        smoke_and_corruption(tmp)
    finally:
        bench.clean_tmp(tmp)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
