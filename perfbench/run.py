"""Link-graph benchmark: one workload per run, one client, one Spark application.

    python3 perfbench/run.py --workload web-analytics --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout. Each run times one batch (fixed work);
``--seconds`` is the length of the query phase that traced web-analytics
runs add. The session is the one ``get_spark()`` gives by default, on
``local[<cores>]`` (``SPARK_GRAFT_CPUS`` = usable cores); a traced run adds
only the event log. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics untraced, the per-layer metrics traced).
``--smoke`` runs toy sizes with the same checks (perfbench/test_perfbench.py).

Everything the run writes stays under ``.perfbench/`` in the checkout:
generated inputs cached per (workload, seed, size), Spark scratch space,
the event log and the span dump of the last traced run.
Every process the run starts (the JVM and its python workers) has ended
before the run exits: the run adopts and waits for each.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

END_TO_END = {
    "batch_s": "s",
    "setup_s": "s",
}

PR_SET = [
    ("iterations", "count"), ("s_per_iter", "s"), ("call_setup_s", "s"), ("jobs_per_iter", "count"),
    ("tasks_per_iter", "count"), ("iters_per_hour", "1/h"),
    ("shuffle_bytes_per_iter", "bytes"), ("edge_traversals_per_s", "1/s"),
    ("executor_busy_share", "ratio"),
]
OP_SET = [
    ("wall_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"), ("executor_busy_share", "ratio"),
]
PER_LAYER = dict(
    [("session.start_s", "s"), ("session.peak_rss_mb", "MB")]
    + [(f"graph_build.{m}", u) for m, u in OP_SET[:5]] + [("graph_build.rows_per_s", "1/s")]
    + [(f"pagerank.{m}", u) for m, u in PR_SET]
    + [("pagerank.warm_iterations", "count"), ("pagerank.cold_iterations", "count")]
    + [(f"csr_kernel.{m}", u) for m, u in PR_SET]
    + [(f"{layer}.{m}", u) for layer in ("components", "labelprop", "triangles") for m, u in OP_SET]
    + [("triangles.count", "count")]
    + [("incremental.update_s", "s"), ("incremental.jobs", "count"),
       ("incremental.tasks", "count"), ("incremental.shuffle_bytes", "bytes")]
    + [("html.extract_s", "s"), ("html.pages_per_s", "1/s"), ("html.text_mismatches", "count")]
    + [("pipeline.search_ms", "ms"), ("pipeline.jobs_per_query", "count"),
       ("pipeline.tasks_per_query", "count"), ("synonyms.expand_ms", "ms")]
    + [("spark.task_failures", "count"), ("spark.gc_s", "s")]
    + [(f"traced.{m}", u) for m, u in END_TO_END.items()]
)


class Context:
    def __init__(self, spark, tracer, seed: int, seconds: float, size: str):
        self.spark, self.tracer = spark, tracer
        self.seed, self.seconds, self.size = seed, seconds, size

    def cache(self, workload: str, size: dict) -> str:
        key = hashlib.sha1(json.dumps(size, sort_keys=True).encode()).hexdigest()[:10]
        return os.path.join(WORK, "cache", f"{workload}-{self.seed}-{key}")

    @staticmethod
    def cached(path: str, make):
        """Return make()'s value, computed once per cache directory; make
        writes its parquet files under ``path``, the value goes beside it."""
        done = path + ".pkl"
        if os.path.exists(done):
            with open(done, "rb") as f:
                return pickle.load(f)
        shutil.rmtree(path, ignore_errors=True)
        t0 = time.perf_counter()
        value = make()
        print(f"perfbench: generated inputs {time.perf_counter() - t0:.3f}s", file=sys.stderr, flush=True)
        with open(done + ".tmp", "wb") as f:
            pickle.dump(value, f)
        os.replace(done + ".tmp", done)
        return value


def per_iteration(prefix: str, spans, cores: int) -> dict:
    """Per-iteration figures of an iterative layer from a pair of calls on
    the same graph that differ only in how many iterations they run (the
    spans tagged ``pair`` short and long). Times come from the long call:
    its iterations' wall as the result reports them, over its iteration
    count; the rest of the call's wall is its fixed set-up (``call_setup_s``).
    Jobs, tasks and shuffle bytes are the long call's excess over the short
    one per extra iteration, so per-call set-up work does not count."""
    pair = {s.info.get("pair"): s for s in spans}
    short, long_ = pair.get("short"), pair.get("long")
    if short is None or long_ is None:
        return {}
    iters = long_.info["iterations"]
    extra = iters - short.info["iterations"]
    s_per_iter = long_.info["loop_s"] / iters
    if extra <= 0 or s_per_iter <= 0:
        return {}
    return {
        f"{prefix}.iterations": iters,
        f"{prefix}.s_per_iter": s_per_iter,
        f"{prefix}.call_setup_s": long_.wall_s - long_.info["loop_s"],
        f"{prefix}.jobs_per_iter": (len(long_.jobs) - len(short.jobs)) / extra,
        f"{prefix}.tasks_per_iter": (long_.tasks - short.tasks) / extra,
        f"{prefix}.iters_per_hour": 3600.0 / s_per_iter,
        f"{prefix}.shuffle_bytes_per_iter": (long_.shuffle_bytes - short.shuffle_bytes) / extra,
        f"{prefix}.edge_traversals_per_s": long_.info["nnz"] / s_per_iter,
        f"{prefix}.executor_busy_share": long_.task_s / (long_.wall_s * cores),
    }


def end_to_end(outcome) -> dict:
    return {
        "batch_s": statistics.median(outcome.batch_s),
        "setup_s": statistics.median(outcome.setup_s),
    }


def per_layer(tracer, outcome, cores: int, start_s: float, rss_mb: float, gc_s: float, failed_tasks: int) -> dict:
    m = {name: 0.0 for name in PER_LAYER}
    m["session.start_s"] = start_s
    m["session.peak_rss_mb"] = rss_mb
    m["spark.gc_s"] = gc_s
    m["spark.task_failures"] = failed_tasks
    calls = tracer.layer

    def mean(spans, f):
        return sum(f(s) for s in spans) / len(spans) if spans else 0.0

    def busy(spans):
        wall = sum(s.wall_s for s in spans)
        return sum(s.task_s for s in spans) / (wall * cores) if wall else 0.0

    gb = calls("graph_build")
    if gb:
        m["graph_build.wall_s"] = mean(gb, lambda s: s.wall_s)
        m["graph_build.jobs"] = mean(gb, lambda s: len(s.jobs))
        m["graph_build.tasks"] = mean(gb, lambda s: s.tasks)
        m["graph_build.shuffle_bytes"] = mean(gb, lambda s: s.shuffle_bytes)
        m["graph_build.spill_bytes"] = mean(gb, lambda s: s.spill_bytes)
        m["graph_build.rows_per_s"] = sum(s.info.get("rows", 0) for s in gb) / sum(s.wall_s for s in gb)

    for layer in ("pagerank", "csr_kernel"):
        m.update(per_iteration(layer, calls(layer), cores))
    m["pagerank.warm_iterations"] = outcome.info.get("warm_iterations", 0)
    m["pagerank.cold_iterations"] = outcome.info.get("cold_iterations", 0)

    for layer in ("components", "labelprop", "triangles"):
        spans = calls(layer)
        if spans:
            m[f"{layer}.wall_s"] = mean(spans, lambda s: s.wall_s)
            m[f"{layer}.jobs"] = mean(spans, lambda s: len(s.jobs))
            m[f"{layer}.tasks"] = mean(spans, lambda s: s.tasks)
            m[f"{layer}.shuffle_bytes"] = mean(spans, lambda s: s.shuffle_bytes)
            m[f"{layer}.spill_bytes"] = mean(spans, lambda s: s.spill_bytes)
            m[f"{layer}.executor_busy_share"] = busy(spans)
    tri = calls("triangles")
    if tri:
        m["triangles.count"] = tri[-1].info["count"]

    inc = calls("incremental")
    if inc:
        m["incremental.update_s"] = mean(inc, lambda s: s.wall_s)
        m["incremental.jobs"] = mean(inc, lambda s: len(s.jobs))
        m["incremental.tasks"] = mean(inc, lambda s: s.tasks)
        m["incremental.shuffle_bytes"] = mean(inc, lambda s: s.shuffle_bytes)

    html = calls("html")
    if html:
        m["html.extract_s"] = mean(html, lambda s: s.wall_s)
        m["html.pages_per_s"] = sum(s.info["pages"] for s in html) / sum(s.wall_s for s in html)
    m["html.text_mismatches"] = outcome.info.get("text_mismatches", 0)

    search = calls("pipeline")
    if search:
        m["pipeline.search_ms"] = 1000.0 * statistics.median(s.wall_s for s in search)
        m["pipeline.jobs_per_query"] = mean(search, lambda s: len(s.jobs))
        m["pipeline.tasks_per_query"] = mean(search, lambda s: s.tasks)
    syn = calls("synonyms")
    if syn:
        m["synonyms.expand_ms"] = 1000.0 * statistics.median(s.wall_s for s in syn)

    for name, value in end_to_end(outcome).items():
        m[f"traced.{name}"] = value
    return m


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _adopt_descendants() -> None:
    """Make this process the reaper of every process started under it
    (Linux PR_SET_CHILD_SUBREAPER): the JVM's python workers, orphaned when
    the JVM exits, become its children instead of init's, so
    ``_stop_processes`` can wait for each of them."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        print(f"perfbench: prctl failed: {os.strerror(ctypes.get_errno())}", file=sys.stderr)


def _children() -> list[int]:
    """Live (not yet exited) child processes of this process."""
    me, kids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                state, ppid = f.read().rsplit(")", 1)[1].split()[:2]
        except OSError:
            continue
        if int(ppid) == me and state != "Z":
            kids.append(int(entry))
    return kids


def _stop_processes(grace_s: float = 30.0) -> None:
    """End the JVM and every process started under this one, and wait until
    each has ended. Closing the JVM's stdin makes it exit; its python
    daemon exits when the JVM's end of its pipe closes. Whatever is still
    alive after half of ``grace_s`` gets SIGTERM, after ``grace_s`` SIGKILL."""
    import signal

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()
        SparkContext._gateway = SparkContext._jvm = None
    t0 = time.perf_counter()
    sent = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return  # no children left, exited or not
        kids = _children()
        if not kids:
            time.sleep(0.01)  # exited but not yet reaped: the next waitpid takes them
            continue
        waited = time.perf_counter() - t0
        sig = signal.SIGKILL if waited > grace_s else signal.SIGTERM if waited > grace_s / 2 else None
        if sig is not None and sig != sent:
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.05)


def _environment(cores: int) -> None:
    """Process environment for this process, the JVM and the python workers:
    workers import the package from the checkout, and Spark's scratch and
    temporary files stay inside it."""
    scratch = os.path.join(WORK, "tmp")
    os.makedirs(scratch, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = scratch
    # no hsperfdata file under /tmp: the JVM's monitoring counters are off
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable


def main(argv=None) -> int:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="toy sizes, same checks")
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import web_search_pagerank_project_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.exists(os.path.join(ROOT, "tests", "fixtures", "glove_slice_50w_25d.txt")):
        print("perfbench: tests/fixtures/glove_slice_50w_25d.txt is missing", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    _adopt_descendants()
    _environment(cores)
    os.chdir(ROOT)
    log_dir = os.path.join(WORK, "eventlog")
    extra = None
    if args.trace:
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        # one uncompressed log file: these settings change only the log
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    from web_search_pagerank_project_spark import get_spark

    from spans import Tracer

    t0 = time.perf_counter()
    try:
        spark = get_spark(extra_conf=extra)
        start_s = time.perf_counter() - t0
        print(f"perfbench: session start {start_s:.3f}s", file=sys.stderr)
        try:
            spark.sparkContext.setLogLevel("ERROR")
            tracer = Tracer(spark.sparkContext, bool(args.trace))
            ctx = Context(spark, tracer, args.seed, args.seconds, "smoke" if args.smoke else "full")
            outcome = WORKLOADS[args.workload](ctx)
            failed_tasks = tracer.failed_tasks()
            rss = _jvm_peak_rss_mb(spark) if args.trace else 0.0
        finally:
            t1 = time.perf_counter()
            spark.stop()
            print(f"perfbench: workload {t1 - t0 - start_s:.3f}s, session stop {time.perf_counter() - t1:.3f}s", file=sys.stderr)
    finally:
        t1 = time.perf_counter()
        _stop_processes()
        print(f"perfbench: processes stopped {time.perf_counter() - t1:.3f}s", file=sys.stderr)
    outcome.check(failed_tasks == 0, f"{failed_tasks} failed Spark task attempts")
    for err in outcome.errors:
        print(f"perfbench: FAILED {err}", file=sys.stderr)

    if args.trace:
        gc_s = tracer.attach_event_log(log_dir)
        tracer.dump(os.path.join(WORK, f"spans-{args.workload}.jsonl"))
        values = per_layer(tracer, outcome, cores, start_s, rss, gc_s, failed_tasks)
        units = PER_LAYER
    else:
        values, units = end_to_end(outcome), END_TO_END
    print(
        json.dumps(
            {
                "correct": outcome.failed == 0,
                "attempted": outcome.attempted,
                "failed": outcome.failed,
                "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
