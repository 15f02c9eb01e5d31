"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest|serve --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Every input is generated from
``--seed``; all scratch data lives under ``.perfbench_work/`` in the
checkout and is removed on exit. The last stdout line is the result
object (``correct``, ``attempted``, ``failed``, ``metrics``); the line
before it carries the host fingerprint and sample counts. With
``--trace 0`` the metrics are the ``end_to_end`` list of BENCHMARK.json,
with ``--trace 1`` the ``per_layer`` list (0 marks a layer the workload
does not exercise). Exits 1 when any oracle fails.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _isolate(work: str) -> None:
    """Keep Spark's and the workers' scratch files inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()


class Ctx:
    """Session, scratch paths and job-group tagging for one run."""

    def __init__(self, args, work: str):
        from perfbench import host

        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.work = work
        self.cores = host.nproc()
        self.spark = None
        self.sampler = host.RssSampler().start()
        self.peak_rss = 0
        self.phases: dict[str, float] = {}

    def mark(self, phase: str) -> None:
        """Record the wall clock since process start at the end of a phase."""
        self.phases[phase] = round(time.time() - T_START, 2)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def start_spark(self) -> float:
        from perfbench import eventlog

        from ocr_search_spark.session import get_spark

        conf = {"spark.sql.warehouse.dir": self.path("warehouse")}
        if self.trace:
            os.makedirs(self.path("eventlog"))
            conf |= eventlog.EVENTLOG_CONF
            conf["spark.eventLog.dir"] = "file://" + self.path("eventlog")
        t = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cores=self.cores, extra_conf=conf)
        return time.perf_counter() - t

    @contextlib.contextmanager
    def layer(self, name: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def measured(self) -> None:
        """End of the measured section: stop sampling RSS before the
        oracle builds its own (large, pure-Python) state."""
        if self.sampler is not None:
            self.mark("measured")
            self.peak_rss = self.sampler.stop()
            self.sampler = None

    def stop_spark(self) -> None:
        """Stop the session, then the JVM (it exits when its stdin closes)
        and wait for every process this run started to end."""
        self.measured()
        if self.spark is None:
            return
        from pyspark import SparkContext

        from perfbench import host

        started = host.descendants(os.getpid())
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None
        host.wait_exit(started, timeout_s=60)

    def rollups(self):
        from perfbench import eventlog

        return defaultdict(eventlog.Rollup, eventlog.read(self.path("eventlog")))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    try:
        import ocr_search_spark  # noqa: F401  (the program under test)
    except ImportError as err:
        print(f"perfbench: cannot import the program: {err}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(work)

    from perfbench import host, workloads

    load_before, steal_before = host.loadavg(), host.steal_s()
    ctx = Ctx(args, work)
    try:
        session_s = ctx.start_spark()
        with ctx.layer("session"):
            # the first job spawns a Python worker per core
            ctx.spark.range(ctx.cores, numPartitions=ctx.cores).mapInArrow(
                lambda batches: batches, "id long"
            ).collect()
        setup_s = time.time() - T_START
        ctx.mark("setup")
        fp = host.fingerprint(ctx.spark)
        res = {"ingest": workloads.ingest, "serve": workloads.serve}[args.workload](ctx)
        setup_s += res.setup_s
        ctx.mark("checked")
    finally:
        ctx.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left in place while another run uses it
            os.rmdir(os.path.dirname(work))
    ctx.mark("stopped")

    failed = min(len(res.failures), res.attempted)
    res.e2e["setup_s"] = setup_s
    res.e2e["ok_ratio"] = 1 - failed / res.attempted
    res.layers["session.start_s"] = session_s
    res.layers["process.peak_rss_mb"] = ctx.peak_rss / 2**20
    res.layers["trace.latency_p50_ms"] = res.e2e["latency_p50_ms"]
    if args.trace:
        names = spec["per_layer"]
        metrics = {m["name"]: {"value": res.layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in names}
    else:
        metrics = {m["name"]: {"value": res.e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "samples": res.samples, "phases": ctx.phases,
        "peak_rss_mb": round(ctx.peak_rss / 2**20, 1),
        "host": fp | {"loadavg_before": load_before, "loadavg_after": host.loadavg(),
                      "steal_s": round(host.steal_s() - steal_before, 2)},
        "failures": res.failures[:5],
    }
    print(json.dumps(detail))
    print(json.dumps({"correct": not res.failures, "attempted": res.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if not res.failures else 1


if __name__ == "__main__":
    sys.exit(main())
