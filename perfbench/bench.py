"""One benchmark run: start Spark, build (or reuse) the seeded inputs,
time set-up, time the workload's flow for a fixed window, check the
outputs, and return the result record.

Untraced runs report the end-to-end metrics; traced runs (`trace=True`)
report the per-layer metrics (see README.md in this directory).
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import time
import zipfile

from perfbench import inputs, trace
from perfbench.workloads import Check, registry

CORES = 4
# items per timed job, per workload
SIZES = {"extract_synth": 600, "extract_joined": 600, "decode_mix": 600, "doc_parse": 200}
# set-up cycles in a JVM that is already up; one cold cycle (JVM launch)
# runs before them and is reported on its own
SETUP_CYCLES = 3
# the first full-size jobs of a window still run the JVM's just-compiled
# code paths; they are timed and reported but left out of the medians
WARM_JOBS = 2
MIN_JOBS = WARM_JOBS + 3
# host-speed normalization: the end-to-end timings are scaled by the
# median `host_probe` time, taken right after each steady job, relative
# to PROBE_REF_S (that median on the 4-vCPU host the bounds were fixed
# on). The host's speed drifts by up to 30% over minutes and both the
# flows and the probe follow it; an idle-host probe (before Spark starts)
# does not, as single-core turbo makes it fast and erratic.
PROBE_REF_S = 0.045
FORMATS = inputs.FORMATS

END_TO_END = {
    "items_per_s": "items/s",
    "core_ms_per_item": "ms",
    "setup_s": "s",
    "ok_share": "ratio",
}


# ------------------------------------------------------------ process


def _proc_stat(pid: str):
    with open(f"/proc/{pid}/stat") as f:
        stat = f.read()
    rest = stat[stat.rindex(")") + 2:].split()
    return int(rest[1]), sum(int(x) for x in rest[11:15])


def tree(pid: int) -> dict[int, int]:
    """pid → cumulative CPU ticks (own plus reaped children) of `pid` and
    every live descendant. Reaped processes are counted once, in their
    parent's child times."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                procs[int(d)] = _proc_stat(d)
            except (OSError, ValueError, IndexError):
                continue
    kids: dict[int, list[int]] = {}
    for p, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(p)
    out, todo = {}, [pid]
    while todo:
        p = todo.pop()
        if p in procs:
            out[p] = procs[p][1]
            todo.extend(kids.get(p, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(pid: int) -> float:
    return sum(tree(pid).values()) / _TICK


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


# ------------------------------------------------------------ session


class Sessions:
    """Starts and stops the SparkSessions of one run. Every scratch file
    Spark, the JVM or the package writes goes under `tmp`."""

    def __init__(self, root: str, tmp: str):
        self.root = root
        self.tmp = tmp
        self.spark = None
        self.zip = os.path.join(tmp, "perfbench.zip")
        with zipfile.ZipFile(self.zip, "w") as zf:
            pkg = os.path.join(root, "perfbench")
            for f in sorted(os.listdir(pkg)):
                if f.endswith(".py"):
                    zf.write(os.path.join(pkg, f), f"perfbench/{f}")

    def start(self, cores: int = CORES):
        from openocr_spark.session import get_spark

        spark = get_spark(
            "perfbench",
            master=f"local[{cores}]",
            shuffle_partitions=2 * cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": "4g",
                "spark.local.dir": os.path.join(self.tmp, "spark-local"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        # the input generators run in the Python workers
        spark.sparkContext.addPyFile(self.zip)
        self.spark = spark
        return spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        return gw.proc.pid if gw is not None and gw.proc is not None else None

    def shutdown(self, timeout: float = 60.0) -> None:
        """Stop Spark, end the JVM and wait for every child process."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            if gw.proc is not None:
                gw.proc.stdin.close()
                try:
                    gw.proc.wait(timeout)
                except subprocess.TimeoutExpired:
                    gw.proc.kill()
                    gw.proc.wait(timeout)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + timeout
        while len(tree(os.getpid())) > 1 and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in tree(os.getpid()):
            if pid != os.getpid():
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
        for pid in tree(os.getpid()):
            if pid != os.getpid():
                try:
                    os.waitpid(pid, 0)
                except ChildProcessError:
                    pass


def force(df) -> None:
    """Materialize every column of `df` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------- run


def _setup(sess: Sessions, wl, inp, cycles: int):
    """1 + `cycles` timed (session start, warm-up job) pairs, each in a
    fresh SparkContext. The first also launches the JVM (unless input
    generation already did) and JIT-compiles the warm-up's code paths.
    The session of the last cycle stays up."""
    starts, warms = [], []
    for _ in range(1 + cycles):
        sess.stop()
        t0 = time.monotonic()
        spark = sess.start()
        t1 = time.monotonic()
        force(wl.flow(spark, inp.warm))
        t2 = time.monotonic()
        starts.append(t1 - t0)
        warms.append(t2 - t1)
    return starts, warms


def timed_jobs(df, seconds: float, min_jobs: int = MIN_JOBS):
    """Force `df` repeatedly for `seconds` (at least `min_jobs` times):
    [(wall s, process-tree CPU s, host stolen-CPU share, host probe s)]
    and the number of failed jobs. A failing flow is reported, not
    retried."""
    jobs, failed = [], 0
    me = os.getpid()
    deadline = time.monotonic() + seconds
    while len(jobs) + failed < min_jobs or time.monotonic() < deadline:
        c0 = tree_cpu_s(me)
        h0 = host_ticks()
        t0 = time.monotonic()
        try:
            force(df)
        except Exception as e:
            failed += 1
            print(f"job failed: {type(e).__name__}: {str(e)[:300]}", flush=True)
            break
        wall = time.monotonic() - t0
        h1 = host_ticks()
        steal = (h1[1] - h0[1]) / max(h1[0] - h0[0], 1)
        jobs.append((wall, tree_cpu_s(me) - c0, steal, host_probe()))
    return jobs, failed


_PROBE = list(range(200_000))


def host_probe() -> float:
    """Seconds for a fixed single-threaded reference computation."""
    t0 = time.perf_counter()
    x = 0
    for i in _PROBE:
        x += i * i % 7
    sorted(_PROBE, key=lambda v: -v)
    return time.perf_counter() - t0


def host_ticks() -> tuple[int, int]:
    """(all CPU ticks, stolen ticks) of the host so far."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7]


def prepare(sess: Sessions, wl, seed: int):
    """Build or reuse the workload's inputs; (inputs, seconds taken)."""
    t0 = time.monotonic()
    inp = wl.prepare(sess, seed)
    inp.seed = seed
    inp.digest = ",".join(
        f"{k}={inputs.table_digest(p)}" for k, p in sorted(inp.tables.items())
    )
    return inp, time.monotonic() - t0


def run(root: str, tmp: str, name: str, seed: int, seconds: float, traced: bool) -> tuple[dict, dict]:
    """(result record, info record) of one run."""
    wl = registry(SIZES)[name]
    sess = Sessions(root, tmp)
    try:
        inp, gen_s = prepare(sess, wl, seed)
        starts, warms = _setup(sess, wl, inp, SETUP_CYCLES)
        if traced:
            return _run_traced(sess, wl, inp, seconds, gen_s, starts, warms)
        jobs, failed_jobs = timed_jobs(wl.flow(sess.spark, inp.tables), seconds)
        chk = None if failed_jobs else wl.check(sess.spark, wl.flow(sess.spark, inp.tables), inp)
    finally:
        sess.shutdown()
    return _untraced_result(wl, inp, jobs, failed_jobs, chk, gen_s, starts, warms)


def _untraced_result(wl, inp, jobs, failed_jobs, chk, gen_s, starts, warms):
    n = wl.n_items
    attempted = n * (len(jobs) + failed_jobs)
    if chk is None:
        # a failed job fails all of its items, and the flow's output
        # cannot be checked
        chk = Check(bad=set(range(n)), output_digest="", notes=["a job failed"])
    failed = len(chk.bad) * len(jobs) + n * failed_jobs
    steady = jobs[WARM_JOBS:] or jobs
    wall = statistics.median(j[0] for j in steady) if steady else 0.0
    cpu = statistics.median(j[1] for j in steady) if steady else 0.0
    setup = statistics.median(s + w for s, w in zip(starts[1:], warms[1:]))
    # > 1 when the host ran slower than the reference host
    slow = statistics.median(j[3] for j in steady) / PROBE_REF_S if steady else 1.0
    values = {
        "items_per_s": slow * n / wall if wall else 0.0,
        "core_ms_per_item": 1e3 * cpu / n / slow,
        "setup_s": setup / slow,
        "ok_share": 1.0 - failed / max(attempted, 1),
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()},
    }
    info = {
        "workload": wl.name, "seed": inp.seed, "items_per_job": n, "item": wl.item,
        "cores": CORES, "jobs": len(jobs), "failed_jobs": failed_jobs,
        "job_s": [round(j[0], 4) for j in jobs],
        "job_cpu_s": [round(j[1], 4) for j in jobs],
        "job_steal": [round(j[2], 4) for j in jobs],
        "setup_start_s": [round(s, 4) for s in starts],
        "setup_warmup_s": [round(w, 4) for w in warms],
        "gen_s": round(gen_s, 4),
        "job_probe_s": [round(j[3], 5) for j in jobs], "host_slowdown": round(slow, 4),
        "raw": {"items_per_s": n / wall if wall else 0.0,
                "core_ms_per_item": 1e3 * cpu / n, "setup_s": setup},
        "input_digest": inp.digest, "output_digest": chk.output_digest,
        "check": chk.notes, **chk.detail,
    }
    return result, info


# -------------------------------------------------------------- traced

PY_NODES = ("MapInPandas", "MapInArrow", "FlatMapGroupsInPandas", "ArrowEvalPython",
            "BatchEvalPython", "FlatMapCoGroupsInPandas", "PythonMapInArrow")


def _total(nodes, prefix, metric):
    return sum(
        n["metrics"].get(metric, {}).get("total", 0.0)
        for n in nodes
        if n["name"].startswith(prefix)
    )


def _stages_of(nodes, prefix, metric):
    return {
        n["metrics"][metric]["stage"]
        for n in nodes
        if n["name"].startswith(prefix) and "stage" in n["metrics"].get(metric, {})
    }


def layer_metrics(nodes: list[dict], stages: list[dict]) -> dict[str, float]:
    """Per-layer figures of one job from its plan nodes and stages."""
    by_id = {s["stage"]: s for s in stages}
    py = [n for n in nodes if n["name"].startswith(PY_NODES)]
    py_stages = _stages_of(nodes, PY_NODES, "time to run Python workers") & set(by_id)
    scan_stages = _stages_of(nodes, "Scan", "scan time") & set(by_id)
    exch = [n for n in nodes if n["name"] == "Exchange"]
    multi = [s for s in stages if len(s["task_s"]) > 1]
    return {
        "scan.rows": _total(nodes, "Scan", "number of output rows"),
        "scan.bytes": _total(nodes, "Scan", "size of files read"),
        "scan.time_ms": 1e3 * _total(nodes, "Scan", "scan time"),
        "scan.tasks": sum(by_id[s]["tasks"] for s in scan_stages),
        "shuffle.bytes": _total(exch, "", "shuffle bytes written"),
        "shuffle.records": _total(exch, "", "shuffle records written"),
        "shuffle.write_ms": 1e3 * _total(exch, "", "shuffle write time"),
        "shuffle.exchanges": len(exch),
        "join.broadcast_joins": sum(n["name"] == "BroadcastHashJoin" for n in nodes),
        "join.sort_merge_joins": sum(n["name"] == "SortMergeJoin" for n in nodes),
        "join.broadcast_bytes": _total(nodes, "BroadcastExchange", "data size"),
        "py.boot_ms": 1e3 * _total(py, "", "time to start Python workers"),
        "py.init_ms": 1e3 * _total(py, "", "time to initialize Python workers"),
        "py.run_ms": 1e3 * _total(py, "", "time to run Python workers"),
        "py.bytes_sent": _total(py, "", "data sent to Python workers"),
        "py.bytes_returned": _total(py, "", "data returned from Python workers"),
        "py.tasks": sum(by_id[s]["tasks"] for s in py_stages),
        "py.task_skew": max((trace.skew(by_id[s]["task_s"]) for s in py_stages), default=1.0),
        "stage.tasks": sum(s["tasks"] for s in stages),
        "stage.task_skew": max((trace.skew(s["task_s"]) for s in multi), default=1.0),
        "codegen.duration_ms": 1e3 * _total(nodes, "WholeStageCodegen", "duration"),
        "extract.exploded_rows": _total(nodes, "Generate", "number of output rows"),
        "extract.media_rows": _total(
            [n for n in py if n["name"].startswith(("MapInArrow", "MapInPandas"))],
            "", "number of output rows",
        ),
    }


# per-layer metric → unit, in report order (every traced run reports all
# of them; a layer the workload does not reach reads 0)
PER_LAYER = {
    "gen_s": "s", "session.cold_start_s": "s", "session.start_s": "s",
    "session.warmup_s": "s",
    "scan.rows": "count", "scan.bytes": "B", "scan.time_ms": "ms", "scan.tasks": "count",
    "fixtures.payload_ms_per_media": "ms",
    "extract.explode_s": "s", "extract.flat_s": "s", "extract.assemble_s": "s",
    "extract.media_rows": "count", "extract.tombstone_ratio": "ratio",
    "shuffle.bytes": "B", "shuffle.records": "count", "shuffle.write_ms": "ms",
    "shuffle.exchanges": "count",
    "join.broadcast_joins": "count", "join.sort_merge_joins": "count",
    "join.broadcast_bytes": "B",
    "py.boot_ms": "ms", "py.init_ms": "ms", "py.run_ms": "ms",
    "py.bytes_sent": "B", "py.bytes_returned": "B", "py.tasks": "count",
    "py.task_skew": "ratio",
    "detection.ms_per_media": "ms", "detection.assign_ms_per_media": "ms",
    "detection.boxes_per_media": "count",
    "recognition.ms_per_region": "ms", "recognition.regions_per_media": "count",
    "recognition.kept_ratio": "ratio",
    **{f"decode.ms_per_item.{f}": "ms" for f in FORMATS},
    **{f"decode.failed.{f}": "count" for f in FORMATS},
    "decode.pages_per_item": "count", "features.s": "s",
    "layout.score_filter_s": "s", "layout.overlap_s": "s", "layout.order_route_s": "s",
    "doc_parse.recognize_s": "s", "doc_parse.assemble_s": "s",
    "ar_decode.ms_per_block": "ms",
    "stage.tasks": "count", "stage.task_skew": "ratio", "jvm.gc_ms": "ms",
    "codegen.duration_ms": "ms", "jvm.peak_rss_mb": "MiB", "py.peak_rss_mb": "MiB",
    "trace.items_per_s": "items/s", "trace.untraced_items_per_s": "items/s",
    "trace.overhead": "ratio", "host.probe_ms": "ms",
    "scaling.items_per_s_4core": "items/s", "scaling.items_per_s_1core": "items/s",
    "scaling_eff": "ratio", "failed_share": "ratio",
}


# flows no gated workload runs, profiled inside the traced run of one
# that shares their inputs or is the shortest, so every layer is measured
EXTRA_PROFILES = {"extract_joined": ("extract_synth",), "decode_mix": ("doc_parse",)}


def _run_traced(sess, wl, inp, seconds, gen_s, starts, warms):
    tr = trace.Tracer(f"{wl.name}-s{inp.seed}-{int(time.time())}")
    m: dict[str, float] = {name: 0.0 for name in PER_LAYER}
    m["gen_s"] = gen_s
    m["session.cold_start_s"] = starts[0]
    m["session.start_s"] = statistics.median(starts[1:])
    m["session.warmup_s"] = statistics.median(warms[1:])
    n = wl.n_items
    spark = sess.spark
    with tr.span("run", workload=wl.name, seed=inp.seed):
        out = wl.flow(spark, inp.tables)
        with tr.span("untraced_jobs"):
            plain, _ = timed_jobs(out, seconds / 2, min_jobs=WARM_JOBS + 2)
        m["trace.untraced_items_per_s"] = n / statistics.median(
            j[0] for j in plain[WARM_JOBS:]
        )
        m["host.probe_ms"] = 1e3 * statistics.median(j[3] for j in plain[WARM_JOBS:])

        # traced jobs: a span around each job, then the status-store reads
        walls, nodes, stages = [], [], []
        gc0 = trace.jvm_gc_ms(spark)
        for k in range(2):
            t0 = time.monotonic()
            with tr.span("job", k=k):
                e0, s0 = trace.max_execution_id(spark), trace.max_stage_id(spark)
                with tr.span(f"flow.{wl.name}"):
                    force(out)
                with tr.span("status_store"):
                    _eid, nodes = trace.last_execution_nodes(spark, e0)
                    stages = trace.stages_since(spark, s0)
            walls.append(time.monotonic() - t0)
        m["jvm.gc_ms"] = (trace.jvm_gc_ms(spark) - gc0) / len(walls)
        m["trace.items_per_s"] = n / statistics.median(walls)
        m["trace.overhead"] = 1.0 - m["trace.items_per_s"] / m["trace.untraced_items_per_s"]
        layer = layer_metrics(nodes, stages)
        exploded = layer.pop("extract.exploded_rows")
        m.update(layer)

        chk = _profile(tr, spark, wl, inp, m)
        bad = set(chk.bad)
        if exploded:
            m["extract.tombstone_ratio"] = 1.0 - chk.detail.get("spans", 0) / exploded
        if wl.name == "decode_mix":
            for f, c in chk.detail["failed_per_format"].items():
                m[f"decode.failed.{f}"] = c
            m["decode.pages_per_item"] = chk.detail["pages"] / n
        pids = trace_pids(sess)
        m["jvm.peak_rss_mb"] = peak_rss_mb(pids["jvm"]) if pids["jvm"] else 0.0
        m["py.peak_rss_mb"] = max((peak_rss_mb(p) for p in pids["python"]), default=0.0)
        m["failed_share"] = len(bad) / n

        for extra in EXTRA_PROFILES.get(wl.name, ()):
            with tr.span(f"extra.{extra}"):
                bad |= _profile_extra(sess, tr, registry(SIZES)[extra], inp.seed, chk, m)

    path = os.path.join(sess.root, ".perfbench_out", f"trace-{wl.name}-s{inp.seed}.json")
    tr.write(path, {
        "metrics": m, "self_s": tr.self_times(), "check": chk.notes,
        # plan nodes and stages of the last traced job
        "nodes": nodes, "stages": stages,
    })
    result = {
        "correct": not bad,
        "attempted": n,
        "failed": len(bad),
        "metrics": {k: {"value": v, "unit": PER_LAYER[k]} for k, v in m.items()},
    }
    info = {
        "workload": wl.name, "seed": inp.seed,
        "trace_file": os.path.relpath(path, sess.root),
        "self_s": {k: round(v, 4) for k, v in tr.self_times().items()},
        "input_digest": inp.digest, "output_digest": chk.output_digest, "check": chk.notes,
    }
    return result, info


def _profile(tr, spark, wl, inp, m):
    """Layer self times of `wl` from forcing each public-function prefix
    of its flow (best of two) and taking differences, its driver-side
    kernel sample, and its output check (returned)."""
    t_prefix = {}
    for pname, df in wl.prefixes(spark, inp.tables):
        with tr.span(f"prefix.{wl.name}.{pname}"):
            t_prefix[pname] = min(j[0] for j in timed_jobs(df, 0, min_jobs=2)[0])
    for metric, (a, b) in wl.prefix_metrics.items():
        m[metric] = t_prefix[a] - t_prefix[b]
    with tr.span(f"kernels.{wl.name}"):
        m.update(wl.kernel_sample(spark, inp))
    with tr.span(f"check.{wl.name}"):
        return wl.check(spark, wl.flow(spark, inp.tables), inp)


def _profile_extra(sess, tr, wl, seed, primary, m) -> set:
    """Profile a flow no gated workload runs; returns its failed items.
    extract_synth: its spans must equal the joined path's per doc, and
    its single-core throughput gives `scaling_eff`. doc_parse: the
    layout layers."""
    spark = sess.spark
    inp, _ = prepare(sess, wl, seed)
    force(wl.flow(spark, inp.warm))
    if wl.name == "doc_parse":
        return set(_profile(tr, spark, wl, inp, m).bad)
    chk = wl.check(spark, wl.flow(spark, inp.tables), inp)
    differ = {d for d, h in chk.per_doc.items() if primary.per_doc.get(d) != h}
    if differ:
        primary.notes.append(f"{len(differ)} docs differ between the payload paths")
    n = wl.n_items
    with tr.span("scaling"):
        four, _ = timed_jobs(wl.flow(spark, inp.tables), 0, min_jobs=2)
        sess.stop()
        spark = sess.start(cores=1)
        force(wl.flow(spark, inp.warm))
        one, _ = timed_jobs(wl.flow(spark, inp.tables), 0, min_jobs=1)
    m["scaling.items_per_s_4core"] = n / statistics.median(j[0] for j in four)
    m["scaling.items_per_s_1core"] = n / one[0][0]
    m["scaling_eff"] = m["scaling.items_per_s_4core"] / (
        CORES * m["scaling.items_per_s_1core"]
    )
    return set(chk.bad) | differ


def trace_pids(sess: Sessions) -> dict:
    """The JVM and the Python worker processes of the live session."""
    jvm = sess.jvm_pid()
    py = []
    if jvm:
        for pid in tree(jvm):
            try:
                with open(f"/proc/{pid}/comm") as f:
                    if f.read().startswith("python"):
                        py.append(pid)
            except OSError:
                continue
    return {"jvm": jvm, "python": py}


def clean_tmp(tmp: str) -> None:
    shutil.rmtree(tmp, ignore_errors=True)
