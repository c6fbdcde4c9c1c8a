"""Benchmark entry point. Run from the repository root:

    python3 crawlbench/run.py --workload crawl_stream --seed 1 --seconds 24 --trace 0

One workload per process. The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. A
failed output check makes the exit code 1. Every Spark directory and
temporary file lives under ``crawlbench/.work``; the JVM is stopped and
waited for before exit.
"""

import time

T0 = time.time()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

from spans import END_TO_END, LAYERS, TRACED_PREFIX, covered, layer_times, per_layer_metrics  # noqa: E402
from workloads import WORKLOADS, end_to_end  # noqa: E402


# ---- process tree ------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers), sampled every 200 ms.

    Python processes count their proportional set size, so pages a forked
    worker shares with its daemon are not counted once per worker. The
    JVM counts its resident set (its memory is private): reading a
    multi-GB JVM's smaps takes ~35 ms under the JVM's mmap lock, which
    would stall it five times a second."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _bytes(self, pid: int) -> int:
        with open(f"/proc/{pid}/comm") as f:
            if f.read().strip() == "java":
                with open(f"/proc/{pid}/statm") as g:
                    return int(g.read().split()[1]) * self._page
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
        return 0

    def sample(self) -> None:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                total += self._bytes(pid)
            except (OSError, IndexError, ValueError):
                continue
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._stop_evt.wait(0.2):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


# ---- Spark -------------------------------------------------------------------

def start_spark(run_dir: str, trace: bool):
    from frontier_engine import session

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir.
        # -Xmn fixes G1's young generation: left adaptive, the heap grows
        # differently from run to run (peak RSS 2.9-4.2 GB on identical runs)
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={os.path.join(run_dir, 'derby')} "
            "-XX:-UsePerfData -Xmn512m"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        from tracing import TRACE_CONF

        conf.update(TRACE_CONF)
    spark = session.get_spark(
        app_name="crawlbench", master=f"local[{cpus}]", shuffle_partitions=cpus, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, close the gateway so the JVM exits, and wait until
    every process this one started has gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 60
    while time.time() < deadline:
        left = descendants(os.getpid())
        if not left:
            return
        if time.time() > deadline - 30:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)


# ---- traced metrics ----------------------------------------------------------

def layer_metrics(bench, tracer, res, e2e: dict) -> tuple[dict, list[str]]:
    import tracing

    spark = bench.spark
    jobs = tracing.read_jobs(spark.sparkContext, (T0, res.window[1]))
    tracing.charge_jobs(jobs, tracer.spans)
    in_window = [j for j in jobs if j["start"] >= res.window[0]]
    in_setup = [j for j in jobs if j["start"] < res.window[0]]
    span_of = lambda js: [(j["start"], j["end"]) for j in js]  # noqa: E731
    times = layer_times(tracer.spans, res.window, span_of(in_window))
    window_times = dict(times)
    # the session is entered during set-up only: its metrics cover set-up
    times["session"] = layer_times(
        tracer.spans, (T0, res.window[0]), span_of(in_setup)
    ).get("session", {})
    out: dict[str, float] = {}
    for layer in LAYERS:
        charged = [j for j in (in_setup if layer == "session" else in_window) if j["layer"] == layer]
        t = times.get(layer, {})
        out[f"{layer}.wall_s"] = t.get("wall_s", 0.0)
        out[f"{layer}.self_s"] = t.get("self_s", 0.0)
        out[f"{layer}.driver_s"] = t.get("driver_s", 0.0)
        out[f"{layer}.jobs"] = len(charged)
        out[f"{layer}.task_s"] = sum(j["task_s"] for j in charged)
        out[f"{layer}.shuffle_bytes"] = sum(j["shuffle_bytes"] for j in charged)
    udf = tracing.udf_seconds(spark, os.path.join(bench.work, "udf-profile"))
    for layer in ("seen", "robots", "streaming", "html_text"):
        out[f"{layer}.udf_s"] = udf.get(layer, 0.0)

    c = res.counts
    in_win = lambda name: [  # noqa: E731
        s for s in tracer.spans if s.name == name and res.window[0] <= s.start < res.window[1]
    ]
    admitted = sum(n for t, n in tracer.admitted if res.window[0] <= t < res.window[1])
    out["crawler.jobs_per_round"] = len(in_window) / len(res.units)
    out["crawler.frontier_compactions"] = c.get("frontier_compactions", 0)
    out["fetch.hit_ratio"] = c["hit_ratio"]
    out["seen.new_ratio"] = admitted / c["candidates"] if c.get("candidates") else 0.0
    out["seen_store.compactions"] = len(in_win("seen_store.SeenExactStore.compact"))
    out["seen_store.bytes_rewritten"] = c.get("seen_bytes_rewritten", 0)
    out["snapshots.files_written"] = c.get("snapshot_files", 0)
    out["textops.minhash.dup_ratio"] = c.get("dup_ratio", 0.0)
    out["session.gc_s"] = tracer.gc[1] - tracer.gc[0]
    for name, value in e2e.items():
        out[TRACED_PREFIX + name] = value

    # bookkeeping: the layers' self times add up to the traced window
    failures = []
    window = res.window[1] - res.window[0]
    self_sum = sum(t["self_s"] for t in window_times.values())
    span_sum = covered(tracer.spans, res.window)
    if abs(self_sum - span_sum) > 1e-3 or span_sum < 0.97 * window:
        failures.append(
            f"layer self times {self_sum:.3f}s, spans cover {span_sum:.3f}s of a {window:.3f}s window"
        )
    print(f"trace: {len(tracer.wrapped)} functions wrapped, {len(in_window)} jobs in the window, "
          f"self times {self_sum:.3f}s of a {window:.3f}s window")
    return out, failures


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isfile(os.path.join(ROOT, "frontier_engine", "__init__.py")):
        print(f"no frontier_engine package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    cache = os.path.join(work, "cache")
    for d in (os.path.join(run_dir, "tmp"), cache):
        os.makedirs(d, exist_ok=True)
    # Python workers import frontier_engine; temp files stay in the run dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    sys.path.insert(0, ROOT)

    # a timeout's SIGTERM still runs the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sampler = RssSampler()
    sampler.start()
    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
        tracer.install()
    from workloads import Bench

    spark = start_spark(run_dir, bool(args.trace))
    try:
        bench = Bench(spark, run_dir, cache, args.seed, args.seconds, T0, tracer)
        bench.log("session up")
        if tracer:
            tracing.attach(tracer, bench)
        res = WORKLOADS[args.workload](bench)
        failures = list(res.failures)
        sampler.sample()
        e2e = end_to_end(res, res.window[0] - T0, sampler.peak / 2**20) if res.units else {}
        metrics = {name: (e2e.get(name, 0.0), unit) for name, unit in END_TO_END}
        if tracer and res.units:
            values, bad = layer_metrics(bench, tracer, res, e2e)
            failures += bad
            metrics = {name: (values[name], unit) for name, unit in per_layer_metrics()}
    finally:
        try:
            stop_spark(spark)
        finally:
            sampler.stop()
            shutil.rmtree(run_dir, ignore_errors=True)

    for f in failures:
        print(f"CHECK FAILED: {f}")
    if res.units:
        print(f"round_s.p50 over {len(res.units)} timed rounds: "
              + ", ".join(f"{u:.3f}" for u in res.units))
    print(json.dumps({
        "correct": not failures,
        "attempted": max(1, len(res.units)),
        "failed": len(failures),
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
