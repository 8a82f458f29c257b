"""Linkage benchmark: checkpointed entity-resolution runs, checked and timed.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload checkpointed --seed 1 --seconds 20 --trace 0

Each run starts the session, generates a labelled corpus from ``--seed``
(untimed), then times closed-loop cycles of one fresh ``run_checkpointed``
into an empty snapshot store (on ``checkpointed`` followed by one resume
after the ``edges`` and ``clusters`` stages are deleted), until ``--seconds``
of timed work have passed (at least one cycle).
Every cycle's outputs are checked. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` wraps the package's layer entry points in spans,
records Spark's event log and reports per-layer metrics instead.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. See README.md in this
directory for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# name -> (planted entities in the generated corpus, resume after the fresh run)
WORKLOADS = {
    "checkpointed_small": (400, False),
    "checkpointed": (4000, True),
}
DRIVER_MEMORY = "4g"
INPUT_FILES = 8
WATCHDOG_S = 170
REFERENCE = os.path.join(HERE, "reference.json")


class Timeout(Exception):
    pass


# ---------------------------------------------------------------------------
# Process-tree RSS (psutil is not available: read /proc)
# ---------------------------------------------------------------------------

def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler(threading.Thread):
    """Peak RSS of this process tree while it runs (one sampler per cycle).

    A process counts from its second sample on. The JVM starts commands with
    vfork, and until the child execs, /proc shows the JVM's whole RSS under
    the child's pid as well; counting it would double the JVM for a sample.
    """

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        seen: set[int] = set()
        while not self._halt.is_set():
            pids = set(_tree_pids(me))
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids & seen))
            seen = pids
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        self.join()


# ---------------------------------------------------------------------------
# Environment
# ---------------------------------------------------------------------------

def cpu_stamp() -> float:
    """Milliseconds for a fixed pure-Python loop (median of 3): context for
    comparing hosts, not a metric and not used to normalize anything."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        times.append((time.perf_counter() - t0) * 1000)
    return round(statistics.median(times), 3)


def pin_environment(root: str, work: str) -> int:
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included, keeps its files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import the package: they inherit this from the JVM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    for var in ("SPARK_GRAFT_MASTER", "IMS_DEBUG_TIMING"):
        os.environ.pop(var, None)
    if root not in sys.path:
        sys.path.insert(0, root)
    return cpus


def session_conf(work: str) -> dict[str, str]:
    return {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "tmp"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def warm_up(spark) -> None:
    """The first pandas-UDF job: starts the Python worker pool."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    udf = F.pandas_udf(lambda s: s * 1.0, T.DoubleType())
    spark.range(0, 10_000, 1, spark.sparkContext.defaultParallelism).select(
        F.sum(udf(F.col("id").cast("double")))
    ).collect()


def stop_spark(spark) -> None:
    """Stop the session, the JVM and every process it started; wait for each."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    me = os.getpid()
    deadline = time.time() + 20
    while True:
        left = [p for p in _tree_pids(me) if p != me]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.2)
        for p in left:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass


# ---------------------------------------------------------------------------
# Input
# ---------------------------------------------------------------------------

def make_input(spark, n_entities: int, seed: int, work: str) -> tuple[str, str, int]:
    """Corpus from ``seed`` as a parquet table of the program's input columns,
    plus a separate labels table (record_id, entity_id)."""
    from pyspark.sql import functions as F

    from identity_matching_spark import corpus

    corpus.SEED = seed  # read by corpus._h at call time
    raw_path = os.path.join(work, "generated")
    input_path = os.path.join(work, "input")
    labels_path = os.path.join(work, "labels")
    # one pass of the (large) generator plan; the two tables are cheap
    # projections of its output
    corpus.generate_files(spark, n_entities).write.parquet(raw_path)
    raw = spark.read.parquet(raw_path)
    raw.select("repo", "path", "commit", "lang", "content").repartition(
        INPUT_FILES
    ).write.parquet(input_path)
    raw.select(
        F.sha2(F.concat_ws("\x1f", "repo", "path", "commit"), 256).alias("record_id"),
        "entity_id",
    ).write.parquet(labels_path)
    shutil.rmtree(raw_path)
    n_rows = spark.read.parquet(input_path).count()
    return input_path, labels_path, n_rows


def release_memory(spark) -> None:
    """A full collection in the driver JVM and in Python. G1 gives the freed
    heap back to the OS on a full collection, so work done before the timed
    window (input generation, the checks of an earlier cycle) does not set
    the RSS floor of the window."""
    import gc

    spark.sparkContext._jvm.System.gc()
    gc.collect()


def dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


# ---------------------------------------------------------------------------
# JSON files: the committed reference fingerprints, and the untraced walls
# kept across runs in this checkout (for the tracing overhead)
# ---------------------------------------------------------------------------

def load_json(path: str) -> dict:
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def save_json(path: str, data: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
        fh.write("\n")
    os.replace(tmp, path)


# ---------------------------------------------------------------------------
# One cycle: fresh run (+ resume)
# ---------------------------------------------------------------------------

def run_cycle(spark, tracer, input_path: str, store_dir: str, config, resume: bool) -> dict:
    from identity_matching_spark.plans import pipeline

    import checks

    def timed(label: str, resume: bool):
        t0 = time.time()
        span = tracer.open(label, "pipeline") if tracer else None
        try:
            files = spark.read.parquet(input_path)
            out = pipeline.run_checkpointed(spark, files, config, store_dir, resume=resume)
            fp = checks.fingerprint(out["clusters"])
        finally:
            if span is not None:
                tracer.close(span)
        return time.time() - t0, fp, span

    fresh_s, fresh_fp, fresh_span = timed("run_checkpointed", resume=False)
    store_bytes, _ = dir_bytes(store_dir)
    parquet_bytes, parquet_files = dir_bytes(store_dir, ".parquet")
    cc_iterations = sum(
        1 for d in os.listdir(os.path.join(store_dir, "cc")) if d.startswith("cc_iter_")
    ) - 1
    resume_s = resume_fp = None
    if resume:
        for stage in ("edges", "clusters"):
            shutil.rmtree(os.path.join(store_dir, stage))
        resume_s, resume_fp, _ = timed("run_checkpointed_resume", resume=True)
    return {
        "pipeline_s": fresh_s,
        "resume_s": resume_s,
        "clusters_fp": fresh_fp,
        "resume_clusters_fp": resume_fp,
        "store_bytes": store_bytes,
        "parquet_bytes": parquet_bytes,
        "parquet_files": parquet_files,
        "span": fresh_span,
        "cc_iterations": cc_iterations,
    }


def check_cycle(spark, cyc: dict, store_dir: str, files, labels, config,
                want_fps: dict | None) -> tuple[list[str], list[str], dict]:
    """Failures of the fresh op and of the resume op, plus exact counts.
    ``want_fps`` are the fingerprints the outputs must have (the committed
    reference, else the run's first cycle); None compares nothing."""
    from identity_matching_spark.plans.pipeline import verify_content_invariant
    from identity_matching_spark.sources.snapshots import SnapshotStore

    import checks

    store = SnapshotStore(spark, store_dir)
    records = store.read("records")
    scored = store.read("scored_pairs")
    clusters = store.read("clusters")
    fresh: list[str] = []
    resume: list[str] = []
    if cyc["resume_s"] is not None and cyc["resume_clusters_fp"] != cyc["clusters_fp"]:
        resume.append("resume: clusters differ from the fresh run")
    fps = {"scored_pairs": checks.fingerprint(scored), "clusters": cyc["clusters_fp"]}
    cyc["fingerprints"] = fps
    for name, want in (want_fps or {}).items():
        if fps[name] != want:
            fresh.append(f"{name}: fingerprint {fps[name]}, expected {want}")
    bad = verify_content_invariant(files, records)
    if bad:
        fresh.append(f"content invariant: {bad} violations")
    fresh += checks.regrade(scored)
    fresh += checks.closure_clusters(records, scored, clusters, config.cluster_threshold)
    rows_out = {}
    with open(os.path.join(store_dir, "lineage-log.jsonl")) as fh:
        for line in fh:
            row = json.loads(line)
            rows_out.setdefault(row["stage"], row["rows_out"])
    counts = {
        "pairs": rows_out["pairs"],
        "scored": fps["scored_pairs"][0],
        "edges": rows_out["edges"],
        "guarded_blocks": store.read("block_stats").count() if store.has("block_stats") else 0,
        "f1": checks.pairwise_f1(clusters, labels),
    }
    return fresh, resume, counts


# ---------------------------------------------------------------------------
# Per-layer metrics from the traced cycle
# ---------------------------------------------------------------------------

def per_layer(tracer, session_spans, root, jobs, input_stages, cores, fallbacks,
              counts, cyc, jw_rows) -> dict:
    from tracing import LAYERS, SHUFFLE_LAYERS

    spans = tracer.descendants(root)
    span_by_id = {s.id: s for s in spans + session_spans}

    def layer_of(job):
        s = span_by_id.get(job.span) if job.span is not None else None
        if s is None:
            s = tracer.innermost_at(job.submit, spans + session_spans)
        return s.layer if s is not None else None

    wall = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        wall[s.layer] += tracer.self_time(s)
    wall["session"] = sum(s.end - s.start for s in session_spans)
    window_jobs = [j for j in jobs if root.start <= j.submit <= root.end]
    window_ids = {j.id for j in window_jobs}
    by_layer: dict[str, list] = {layer: [] for layer in LAYERS}
    for j in jobs:
        layer = layer_of(j)
        if layer == "session" or (layer in by_layer and j.id in window_ids):
            by_layer[layer].append(j)

    m: dict[str, tuple] = {}
    for layer in LAYERS:
        js = by_layer[layer]
        m[f"{layer}.wall_s"] = (wall[layer], "s")
        m[f"{layer}.task_s"] = (sum(j.task_s for j in js), "s")
        m[f"{layer}.jobs"] = (len(js), "count")
        if layer in SHUFFLE_LAYERS:
            m[f"{layer}.shuffle_mb"] = (sum(j.shuffle_bytes for j in js) / 1e6, "MB")
            m[f"{layer}.spill_mb"] = (sum(j.spill_bytes for j in js) / 1e6, "MB")
            per_stage: dict[int, list] = {}
            for j in js:
                for stage, t in j.tasks:
                    per_stage.setdefault(stage, []).append(t)
            skew = 1.0
            if per_stage:
                ts = max(per_stage.values(), key=sum)
                med = statistics.median(ts)
                skew = max(ts) / med if med > 0 else 1.0
            m[f"{layer}.task_skew"] = (skew, "ratio")

    def total(pred) -> float:
        return sum(s.end - s.start for s in spans if pred(s))

    writes = {
        st: total(lambda s, st=st: s.name == "SnapshotStore.write" and s.arg == st)
        for st in ("records", "pairs", "scored_pairs", "edges", "clusters")
    }
    window = root.end - root.start
    busy = 0.0  # wall covered by at least one running job
    cur_s = cur_e = None
    for a, b in sorted((j.submit, min(j.end or root.end, root.end)) for j in window_jobs):
        if cur_e is None or a > cur_e:
            busy += 0.0 if cur_e is None else cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    busy += 0.0 if cur_e is None else cur_e - cur_s
    window_task = sum(j.task_s for j in window_jobs)
    window_stages = {st for j in window_jobs for st in j.stages}
    scored_stage_s = (
        total(lambda s: s.name in ("compare_pairs_fuzzy", "compare_pairs", "grade_pairs"))
        + writes["scored_pairs"]
    )
    m.update({
        "normalize.dense_ids_s": (total(lambda s: s.name == "with_dense_ids"), "s"),
        "normalize.rows_out": (counts["normalize_out"], "count"),
        "validate.rows_dropped": (counts["normalize_out"] - counts["gate_out"], "count"),
        "blocking.pairs": (counts["pairs"], "count"),
        "blocking.guarded_blocks": (counts["guarded_blocks"], "count"),
        "blocking.match_yield": (counts["edges"] / max(1, counts["pairs"]), "ratio"),
        "compare.phonetic_s": (total(lambda s: s.name == "enrich_phonetic"), "s"),
        "compare.jw_rows": (jw_rows, "count"),
        "compare.pairs_per_s": (counts["scored"] / scored_stage_s if scored_stage_s else 0.0, "1/s"),
        "cluster.iterations": (cyc["cc_iterations"], "count"),
        "cluster.edges": (counts["edges"], "count"),
        "cluster.driver_finish": (
            sum(1 for j in by_layer["cluster"] if (j.call_site or "").startswith("toPandas")),
            "count",
        ),
        "pipeline.driver_only_s": (window - busy, "s"),
        "pipeline.busy_frac": (window_task / (window * cores), "ratio"),
        "pipeline.codegen_fallbacks": (fallbacks, "count"),
        "pipeline.input_scans": (len(window_stages & input_stages), "count"),
        "snapshots.write_s": (total(lambda s: s.name == "SnapshotStore.write"), "s"),
        "snapshots.read_s": (total(lambda s: s.name == "SnapshotStore.read"), "s"),
        "snapshots.bytes_written": (cyc["parquet_bytes"], "bytes"),
        "snapshots.files_written": (cyc["parquet_files"], "count"),
        "trace.pipeline_s": (window, "s"),
    })
    for st, t in writes.items():
        m[f"snapshots.write.{st}_s"] = (t, "s")
    return m


def pipeline_call_sites(tracer, root, jobs) -> dict[str, float]:
    """Job wall per call site for jobs that belong to the pipeline layer,
    with paths relative to the package (``count at plans/pipeline.py:105``)."""
    import re

    ids = {s.id for s in tracer.descendants(root) if s.layer == "pipeline"}
    out: dict[str, float] = {}
    for j in jobs:
        if j.span in ids and root.start <= j.submit <= root.end:
            key = re.sub(r"\S*/identity_matching_spark/|\S*/(?=perfbench/)", "",
                         j.call_site or "?")
            out[key] = out.get(key, 0.0) + ((j.end or j.submit) - j.submit)
    return {k: round(v, 3) for k, v in sorted(out.items(), key=lambda kv: -kv[1])}


# ---------------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-reference", action="store_true",
                    help="when reference.json has no fingerprints for this workload "
                         "and seed, add this run's (only on code known to be correct)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "identity_matching_spark", "plans", "pipeline.py")):
        print("perfbench: run from the root of a checkout that holds the "
              "identity_matching_spark package", file=sys.stderr)
        return 2

    def on_alarm(*_):
        raise Timeout(f"run exceeded {WATCHDOG_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(WATCHDOG_S)

    state_dir = os.path.join(root, ".perfbench")
    work = os.path.join(state_dir, f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    cpus = pin_environment(root, work)
    try:
        return run(args, work, cpus)
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)


def run(args, work, cpus) -> int:
    import tracing

    stamp = cpu_stamp()
    tracer = tracing.Tracer(f"{args.workload}-{args.seed}") if args.trace else None
    conf = session_conf(work)
    if tracer:
        conf.update(tracing.event_log_conf(os.path.join(work, "eventlog")))
        tracer.install()

    from identity_matching_spark.session import build_session

    spark = None
    session_spans = []
    stderr_log = os.path.join(work, "driver-stderr.log")
    try:
        # The JVM and its Python workers inherit fd 2: capture their log here.
        saved_fd = os.dup(2)
        log_fd = os.open(stderr_log, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
        os.dup2(log_fd, 2)
        try:
            t0 = time.time()
            if tracer:
                with tracer.span("build_session", "session") as s:
                    spark = build_session("perfbench", cpus=cpus, extra_conf=conf)
                session_spans.append(s)
                tracer.sc = spark.sparkContext
                with tracer.span("warm_up", "session") as s:
                    warm_up(spark)
                session_spans.append(s)
            else:
                spark = build_session("perfbench", cpus=cpus, extra_conf=conf)
                warm_up(spark)
            setup_s = time.time() - t0
        finally:
            os.dup2(saved_fd, 2)
            os.close(saved_fd)
            os.close(log_fd)
        return measure(args, spark, tracer, session_spans, work, cpus, stamp, stderr_log,
                       setup_s)
    finally:
        stop_spark(spark)
        if tracer:
            tracer.uninstall()


def measure(args, spark, tracer, session_spans, work, cpus, stamp, stderr_log,
            setup_s) -> int:
    import pyspark

    import tracing
    from identity_matching_spark.config import MatchConfig

    n_entities, resume = WORKLOADS[args.workload]
    config = MatchConfig()
    phases = {"setup": round(setup_s, 3)}
    t_phase = time.time()
    input_path, labels_path, input_rows = make_input(spark, n_entities, args.seed, work)
    phases["input"] = round(time.time() - t_phase, 3)
    input_bytes, _ = dir_bytes(input_path, ".parquet")
    files = spark.read.parquet(input_path)
    labels = spark.read.parquet(labels_path)
    key = f"{args.workload}/n{n_entities}/seed{args.seed}"
    ref_fps = load_json(REFERENCE).get("fingerprints", {}).get(key)

    context = {
        "workload": args.workload, "seed": args.seed, "entities": n_entities,
        "input_rows": input_rows, "cpus": cpus, "driver_memory": DRIVER_MEMORY,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "cpu_stamp_ms": stamp, "trace": args.trace,
    }
    print("context: " + json.dumps(context), flush=True)
    if ref_fps is None:
        print(f"fingerprints: NO REFERENCE for {key} in perfbench/reference.json; "
              "outputs are compared only between this run's cycles", flush=True)

    cycles, failed_ops, attempted, failures = [], 0, 0, []
    counts = None
    fb_start = os.path.getsize(stderr_log)
    fb_end = fb_start
    measured = 0.0
    while not cycles or measured < args.seconds:
        store_dir = os.path.join(work, f"store{len(cycles)}")
        attempted += 1 + resume
        release_memory(spark)
        sampler = RssSampler()  # RSS is sampled over the timed cycle only
        sampler.start()
        try:
            cyc = run_cycle(spark, tracer, input_path, store_dir, config, resume)
        except Timeout:
            raise
        except Exception as exc:  # the op raised: count it, do not retry
            failed_ops += 1 + resume
            failures.append(f"cycle raised: {exc!r}"[:500])
            break
        finally:
            sampler.stop()
        cyc["peak_rss"] = sampler.peak
        if not cycles:
            fb_end = os.path.getsize(stderr_log)
        measured += cyc["pipeline_s"] + (cyc["resume_s"] or 0.0)
        t_phase = time.time()
        want = ref_fps or (cycles[0]["fingerprints"] if cycles else None)
        fresh_fail, resume_fail, cyc_counts = check_cycle(
            spark, cyc, store_dir, files, labels, config, want
        )
        failed_ops += bool(fresh_fail) + bool(resume_fail)
        failures += fresh_fail + resume_fail
        counts = counts or cyc_counts
        phases["checks"] = phases.get("checks", 0) + round(time.time() - t_phase, 3)
        cycles.append(cyc)
        if tracer:
            break  # one traced cycle gives the per-layer breakdown

    phases["timed"] = round(measured, 3)
    print("phases (s): " + json.dumps(phases), flush=True)
    for f in failures:
        print("FAILED: " + f, flush=True)
    correct = failed_ops == 0 and bool(cycles)
    result = {"correct": correct, "attempted": attempted, "failed": failed_ops, "metrics": {}}
    if not cycles:
        print(json.dumps(result))
        return 1

    print("fingerprints: " + json.dumps({key: cycles[0]["fingerprints"]}), flush=True)
    if args.record_reference and ref_fps is None and correct:
        ref = load_json(REFERENCE)
        ref.setdefault("fingerprints", {})[key] = cycles[0]["fingerprints"]
        save_json(REFERENCE, ref)
        print(f"fingerprints: recorded {key} in perfbench/reference.json", flush=True)

    walls_path = os.path.join(os.path.dirname(work), "untraced-walls.json")
    all_walls = load_json(walls_path)
    walls = all_walls.setdefault(f"{args.workload}/n{n_entities}", [])
    if tracer:
        from identity_matching_spark.operators.compare import jw_stem_table
        from identity_matching_spark.sources.snapshots import SnapshotStore

        cyc = cycles[0]
        tracer.uninstall()
        # rows the normalize and gate layers returned in the fresh run,
        # counted after the timed window
        for name, label in (("normalize_files", "normalize_out"),
                            ("validation_gate", "gate_out")):
            df = next(s.result for s in tracer.descendants(cyc["span"]) if s.name == name)
            counts[label] = df.count()
        # rows of the distinct-stem-pair JW table the scored stage built
        store = SnapshotStore(spark, os.path.join(work, "store0"))
        jw_rows = jw_stem_table(store.read("pairs"), store.read("records")).count()
        spark.stop()
        jobs, input_stages = tracing.read_event_log(os.path.join(work, "eventlog"), input_path)
        fallbacks = tracing.count_fallbacks(stderr_log, fb_start, fb_end)
        metrics = per_layer(tracer, session_spans, cyc["span"], jobs, input_stages, cpus,
                            fallbacks, counts, cyc, jw_rows)
        tracer.dump(os.path.join(os.path.dirname(work), f"spans-{args.workload}.jsonl"))
        covered = sum(v for k, (v, _) in metrics.items()
                      if k.endswith(".wall_s") and not k.startswith("session."))
        print(f"trace: layer self times sum to {covered:.3f} s of traced pipeline_s "
              f"{cyc['pipeline_s']:.3f} s", flush=True)
        if resume:
            print(f"trace: resume_s {cyc['resume_s']:.3f} s", flush=True)
        print("trace: pipeline-layer jobs by call site (wall s): "
              + json.dumps(pipeline_call_sites(tracer, cyc["span"], jobs)), flush=True)
        if walls:
            base = statistics.median(walls)
            print(f"trace: overhead = traced pipeline_s - untraced median = "
                  f"{cyc['pipeline_s'] - base:+.3f} s (untraced n={len(walls)})", flush=True)
        else:
            print("trace: overhead unknown (no untraced run of this workload yet)", flush=True)
        for name, (v, unit) in metrics.items():
            result["metrics"][name] = {"value": v, "unit": unit}
    else:
        pipe = [c["pipeline_s"] for c in cycles]
        walls.extend(pipe)
        del walls[:-50]
        save_json(walls_path, all_walls)
        e2e = {
            "setup_s": ([setup_s], "s"),
            "pipeline_s": (pipe, "s"),
            "stored_bytes_ratio": ([c["store_bytes"] / input_bytes for c in cycles], "ratio"),
            "peak_rss_gb": ([c["peak_rss"] / 2**30 for c in cycles], "GB"),
            "pairwise_f1": ([counts["f1"]], "ratio"),
        }
        for name, (vals, unit) in e2e.items():
            v = statistics.median(vals)
            print(f"{name}: {v:.6g} {unit} (median of n={len(vals)})", flush=True)
            result["metrics"][name] = {"value": v, "unit": unit}
        if resume:
            # printed, not listed: one short sample per cycle is too noisy for a bound
            res = [c["resume_s"] for c in cycles]
            print(f"resume_s: {statistics.median(res):.6g} s (median of n={len(res)})",
                  flush=True)
        print(f"ops_failed_frac: {failed_ops / attempted:.6g} ratio "
              f"(n={attempted} ops)", flush=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
