#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as the last stdout line.

    python3 perfbench/run.py --workload tile_pip --seed 1 --seconds 10 --trace 0

One Python driver, one pass at a time (a closed loop with one client), on a
local Spark session of min(nproc, 4) cores. The run:

1. generates the seed's inputs into .perfbench/data/ (not timed);
2. sets up: session start, layer structures, input caches, a warm-up pass
   at the base size that is checked against the numpy goldens, and one
   untimed pass at the replicated size;
3. makes as many timed passes at the replicated size as the workload's
   nominal pass time fits in --seconds, and checks that every pass gives
   the same output hashes as the first, and as any earlier run of the same
   workload and seed in this checkout;
4. or, with --trace 1, starts a session with the Spark event log on in the
   same JVM instead, repeats the passes with every layer call in a span,
   and reports the per-layer metrics instead of the end-to-end ones.

Every finished pass is appended to .perfbench/records/ at once, so a run
that is killed keeps each pass it completed.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import threading
import time

T_PROCESS = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")
PROTOCOL_VERSION = "perfbench-1"
WORKLOADS = ("tile_pip", "knn_dense", "ingest_commit")
END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
    "ok_ratio": "ratio",
}
MAX_CORES = 4
DRIVER_MEMORY = "2g"
CALL_TIMEOUT_S = 60.0


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def host_memory_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    return 0.0


class Record:
    """Append-only JSON-lines record; every line is flushed to disk at once."""

    def __init__(self, path: str, tags: dict):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        self.path = path
        self.tags = tags

    def write(self, event: str, **fields) -> None:
        line = json.dumps({"event": event, "time": time.time(), **self.tags, **fields})
        with open(self.path, "a") as f:
            f.write(line + "\n")
            f.flush()
            os.fsync(f.fileno())


class RssSampler:
    """Peak summed RSS of a process and all its descendants, from /proc."""

    def __init__(self, pid: int, interval_s: float = 0.2):
        self.pid = pid
        self.interval_s = interval_s
        self.peak = 0
        self.peak_parts: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree_rss(self) -> int:
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        stat = f.read()
                except OSError:
                    continue
                parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree, frontier = {self.pid}, [self.pid]
        while frontier:
            p = frontier.pop()
            for c, pp in parent.items():
                if pp == p and c not in tree:
                    tree.add(c)
                    frontier.append(c)
        rss = {}
        for p in tree:
            try:
                with open(f"/proc/{p}/statm") as f:
                    rss[p] = int(f.read().split()[1]) * self._page
            except OSError:
                pass
        return rss

    def _run(self) -> None:
        while not self._stop.is_set():
            rss = self._tree_rss()
            total = sum(rss.values())
            if total > self.peak:
                self.peak = total
                self.peak_parts = {
                    "jvm_mb": rss.get(self.pid, 0) / 2**20,
                    "children": len(rss) - 1,
                    "children_mb": (total - rss.get(self.pid, 0)) / 2**20,
                }
            self._stop.wait(self.interval_s)


def gc_log_path() -> str:
    return os.path.join(OUT, "tmp", f"gc-{os.getpid()}.log")


def gc_heap(path: str) -> dict:
    """The driver heap at its collections, from the JVM's GC log (lines like
    `... 651M->230M(1028M) ...`): the peaks before and after a collection,
    the peak committed heap, and the number of collections."""
    mb = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}
    peaks, n = [0.0, 0.0, 0.0], 0
    with open(path) as f:
        for line in f:
            m = re.search(r"(\d+)([KMG])->(\d+)([KMG])\((\d+)([KMG])\)", line)
            if m:
                n += 1
                g = m.groups()
                for i in range(3):
                    peaks[i] = max(peaks[i], int(g[2 * i]) * mb[g[2 * i + 1]])
    return {"before_mb": peaks[0], "after_mb": peaks[1], "committed_mb": peaks[2], "gcs": n}


def start_session(cores: int, event_log_dir: str | None = None):
    from temp_c__bpf_osm_reader_spark.session import get_spark

    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    extra = {
        "spark.driver.memory": DRIVER_MEMORY,
        # the GC log goes into the run record when the JVM has exited. The
        # serial collector sizes the heap from the free space after each
        # collection, so peak RSS follows the program's heap use; G1 sizes
        # it from the wall time its collections take, so it follows the
        # host's load.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xlog:gc:file={gc_log_path()} -XX:+UseSerialGC"
        ),
        "spark.local.dir": tmp,
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(app="perfbench", cores=cores, extra=extra)
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


class Runner:
    """Set-up, passes and output checks of one workload in one session."""

    def __init__(self, workload, tracer, record: Record, reference: dict | None):
        self.w = workload
        self.tracer = tracer
        self.record = record
        self.reference = reference  # output hashes every replicated pass must repeat
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.check_s = 0.0  # time spent in the benchmark's own output checks

    def one_pass(self, phase: str, base: bool = False) -> dict:
        """Run, check and record one pass; return its span."""
        bad: list[str] = []
        out = None
        with self.tracer.span("pass") as p:
            try:
                out = self.w.run_pass(self.tracer, p, base)
            except Exception as e:  # a failed layer call is counted, not fatal
                bad.append(f"error: {type(e).__name__}: {str(e)[:300]}")
        if out is not None:
            t0 = time.time()
            bad += self.w.check_base(out) if base else self.check_replicated(out)
            self.check_s += time.time() - t0
        failed = min(len(bad), self.w.calls)
        self.attempted += self.w.calls
        self.failed += failed
        self.problems += [f"{phase}: {b}" for b in bad]
        self.record.write(
            "pass", phase=phase, wall_s=wall(p), failed_calls=failed, problems=bad,
            hashes=None if base or out is None else hashes_of(out),
            write_amp=(out or {}).get("write_amp"),
        )
        return p

    def check_replicated(self, out: dict) -> list[str]:
        bad = self.w.check_pass(out)
        h = hashes_of(out)
        if self.reference is None:
            self.reference = h
        return bad + [f"hash:{k}" for k in h if h[k] != self.reference.get(k)]

    def timed(self, phase: str, seconds: float) -> list[dict]:
        """A fixed number of passes, so that every run measures the same work:
        as many nominal passes as fit in `seconds`, and at least two."""
        n = max(2, round(seconds / self.w.pass_s))
        return [self.one_pass(phase) for _ in range(n)]


def hashes_of(out: dict) -> dict:
    return {k: list(v) for k, v in out.items() if isinstance(v, tuple)}


def wall(span: dict) -> float:
    return span["end"] - span["start"]


def layer_walls(spans: list[dict], passes: list[dict]) -> dict:
    """Median over the given passes of each layer's wall time, and of the
    snapshot's commit_s and resume_s."""
    from perfbench import trace

    per_pass = [trace.pass_walls(p, spans) for p in passes]
    keys = set().union(*per_pass) if per_pass else set()
    return {k: statistics.median(w.get(k, 0.0) for w in per_pass) for k in sorted(keys)}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench import inputs

    cores = min(os.cpu_count() or 1, MAX_CORES)
    size = f"base{inputs.base_n(args.workload)}x{inputs.REPLICATE[args.workload]}"
    protocol = f"{PROTOCOL_VERSION}/{args.workload}/{size}/local[{cores}]"
    tag = f"{args.workload}-seed{args.seed}"
    data_dir = os.path.join(OUT, "data", f"{args.workload}-{size}-seed{args.seed}")
    # the engine's fixture module reads this once, when it is first imported
    os.environ["SPARK_GRAFT_DATA_DIR"] = data_dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(OUT, "tmp")
    os.environ["TMPDIR"] = os.path.join(OUT, "tmp")
    # no JVM performance-data files in the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    record = Record(
        os.path.join(OUT, "records", f"{tag}-trace{args.trace}.jsonl"),
        {
            "protocol": protocol,
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": os.cpu_count(),
            "host_mem_gb": round(host_memory_gb(), 2),
            "pid": os.getpid(),
        },
    )

    t_gen = time.time()
    inputs.prune(os.path.join(OUT, "data"), keep=data_dir)
    meta = inputs.prepare(args.workload, args.seed, data_dir)
    gen_s = time.time() - t_gen
    record.write("input", run_generation_s=gen_s, **{k: v for k, v in meta.items() if k != "paths"})

    hash_path = os.path.join(OUT, "hashes", f"{tag}.json")
    reference = None
    if os.path.exists(hash_path):
        with open(hash_path) as f:
            saved = json.load(f)
        if saved.get("protocol") == protocol:
            reference = saved["hashes"]

    spark = start_session(cores)
    session_s = time.time() - T_PROCESS - gen_s
    try:
        result_metrics, runner = measure(args, spark, record, reference, meta, cores, gen_s, session_s)
    finally:
        stop_session(spark)
    record.write("end", correct=runner.failed == 0, heap=gc_heap(gc_log_path()))
    os.remove(gc_log_path())
    if runner.reference and not runner.failed:
        os.makedirs(os.path.dirname(hash_path), exist_ok=True)
        with open(hash_path, "w") as f:
            json.dump({"protocol": protocol, "hashes": runner.reference}, f)
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": result_metrics,
            }
        )
    )
    return 0


def measure(args, spark, record, reference, meta, cores, gen_s, session_s):
    """Set-up with its base and warm-up passes, then the timed passes, or
    with --trace 1 the traced sessions. Returns the result metrics and the
    runner.

    setup_s is the wall time from process start until the warm-up is done,
    less input generation and the benchmark's own output checks."""
    from pyspark import SparkContext

    from perfbench import trace, workloads

    with RssSampler(SparkContext._gateway.proc.pid) as rss:
        tracer = trace.Tracer(spark.sparkContext, CALL_TIMEOUT_S)
        w = workloads.WORKLOADS[args.workload](spark, meta, os.path.join(OUT, "work"))
        runner = Runner(w, tracer, record, reference)
        layer = w.layer_setup()
        t0 = time.time()
        w.cache_inputs()
        runner.one_pass("base", base=True)
        if w.reps > 1:  # the base pass already ran the timed size
            runner.one_pass("warm")
        ready = time.time() - runner.check_s
        setup = {"session.start_s": session_s, "session.warmup_s": ready - t0, **layer}
        setup_s = ready - T_PROCESS - gen_s
        record.write("setup", setup_s=setup_s, check_s=runner.check_s, parts=setup)
        if args.trace:  # the traced sessions below measure instead
            spark.stop()  # they reuse the warm JVM
            return traced_run(args, runner, record, cores, setup, meta), runner
        passes = runner.timed("timed", args.seconds)
    walls = [wall(p) for p in passes]
    run_s = statistics.median(walls)
    metrics = {
        "setup_s": setup_s,
        "run_s": run_s,
        "items_per_s": w.items / run_s,
        "peak_rss_mb": rss.peak / 2**20,
        "ok_ratio": 1.0 - runner.failed / runner.attempted,
    }
    record.write(
        "result", metrics=metrics, passes=walls, items=w.items, rss_at_peak=rss.peak_parts,
        layers=layer_walls(tracer.spans, passes), problems=runner.problems,
    )
    record.write("spans", spans=tracer.spans)
    return {k: {"value": metrics[k], "unit": END_TO_END[k]} for k in END_TO_END}, runner


def traced_run(args, runner, record, cores, setup, meta):
    """Per-layer metrics: a session with the Spark event log on repeats the
    passes, each layer call in a span, and the log is joined to the spans.
    A second session without the log, equally warm, gives the untraced
    run_s that trace.overhead compares against."""
    from perfbench import inputs, trace

    log_dir = os.path.join(OUT, "eventlog", f"{os.getpid()}")
    walls, spans, app_id = warm_session_passes(args, runner, cores, meta, "traced", log_dir)
    record.write("traced-spans", spans=spans)
    plain, _, _ = warm_session_passes(args, runner, cores, meta, "untraced", None)
    try:
        return trace.layer_metrics(
            ROOT, os.path.join(log_dir, app_id), spans, cores,
            inputs.column_bytes(meta["paths"]["images"]),
            setup, statistics.median(walls), statistics.median(plain),
        )
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)


def warm_session_passes(args, runner, cores, meta, phase, log_dir):
    """A new session in the already warm JVM: set-up, one warm-up pass, then
    the timed passes. Returns their walls, their spans and the app id."""
    from perfbench import trace, workloads

    spark = start_session(cores, event_log_dir=log_dir)
    app_id = spark.sparkContext.applicationId
    tracer = trace.Tracer(spark.sparkContext, CALL_TIMEOUT_S)
    w = workloads.WORKLOADS[args.workload](spark, meta, os.path.join(OUT, "work"))
    w.layer_setup()
    w.cache_inputs()
    runner.w, runner.tracer = w, tracer
    runner.one_pass(f"{phase}-warm")
    first = len(tracer.spans)
    passes = runner.timed(phase, args.seconds / 2)  # two such sessions per traced run
    spark.stop()
    return [wall(p) for p in passes], tracer.spans[first:], app_id


if __name__ == "__main__":
    sys.exit(main())
