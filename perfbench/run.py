"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the workload's inputs from the seed,
sets the engine up (warm-up passes on inputs the timed passes never
read), then runs a fixed number of timed passes derived from
``--seconds``, each on a fresh input directory. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics untraced, the per-layer metrics with ``--trace 1``).

Everything the run writes lives under ``.perfbench_tmp/`` in the current
directory and is removed before exit. See perfbench/README.md for the
workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracing as bt  # noqa: E402

WORKLOADS = ("bulk_sync", "query_suite")


def _load_manifest(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _units(manifest: dict, key: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in manifest[key]}


class Run:
    """State one benchmark process shares with its workload: the seed,
    the scratch directory, the Spark session (if any) and the running
    correctness tally."""

    def __init__(self, root: str, work: str, seed: int, trace: bool):
        self.root = root
        self.work = work
        self.seed = seed
        self.trace = trace
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.import_s = 0.0  # process start to engine imported
        self.canary_s = 0.0
        self.steal0 = steal_seconds()
        self.inputs: dict = {}  # the workload's input sizes
        self.pass_walls: list[float] = []  # every untraced timed pass
        self.pass_steal: list[float] = []  # hypervisor steal in each
        self.span_log: list[dict] = []  # every traced pass's spans
        self._dirs = 0

    def fresh_dir(self, tag: str) -> str:
        """A directory no earlier pass of this process has used."""
        self._dirs += 1
        path = os.path.join(self.work, f"{tag}{self._dirs:03d}")
        os.makedirs(path)
        return path

    def tally(self, attempted: int, failures: list[str]) -> None:
        self.attempted += attempted
        self.failed += len(failures)
        self.failures.extend(failures)

    def start_spark(self):
        """local[<cores>] session with every scratch path under the run
        directory; the repository root rides PYTHONPATH so Spark's Python
        workers can unpickle the engine's UDFs."""
        from mysql2pg_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session, then the gateway JVM, and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def measure(run: Run, workload, seconds: float) -> dict:
    """Warm up, then run ``workload.timed_passes(seconds)`` untraced
    timed passes (with traced ones interleaved when tracing, at least
    one); a traced run then adds the workload's extra layers. Returns
    the samples."""
    t0 = time.perf_counter()
    workload.setup(run)
    for i in range(workload.warmups):
        workload.warmup(run, i)
    setup_s = time.perf_counter() - t0 + run.import_s

    walls, cpus, traced_walls, layers = [], [], [], []
    untraced = workload.timed_passes(seconds)
    i = 0
    while len(walls) < untraced or (run.trace and not traced_walls):
        traced = run.trace and i % 2 == 1
        i += 1
        inp = workload.make_input(run)
        spans = bt.Spans(traced)
        cpu0 = bt.tree_cpu_seconds()
        st0 = steal_seconds()
        start = time.perf_counter()
        spans.root = spans.begin("pass")
        out = workload.run_pass(run, inp, spans)
        spans.end(spans.root)
        wall = time.perf_counter() - start
        cpu = bt.tree_cpu_seconds() - cpu0
        run.tally(*workload.check(run, inp, out))
        if traced:
            traced_walls.append(wall)
            layers.append(workload.layers(run, out, spans))
            run.span_log.extend(spans.records)
        else:
            walls.append(wall)
            cpus.append(cpu)
            run.pass_walls.append(round(wall, 3))
            run.pass_steal.append(round(steal_seconds() - st0, 2))
        workload.cleanup(inp)
    return {
        "setup_s": setup_s, "walls": walls, "cpus": cpus,
        "traced_walls": traced_walls, "layers": layers,
        "extra_layers": workload.extra_layers(run) if run.trace else {},
        "peak_rss_mb": bt.tree_peak_rss_mb(),
    }


def summarize(sample: dict, trace: bool) -> dict:
    """The metrics of one run's samples. Pass wall time is the fastest
    pass: on a shared host other guests only ever add to a pass (CPU
    steal stretched single passes by up to 2x on the reference host), so
    the fastest pass is the one closest to the program's own time. CPU
    time, which steal does not inflate, and the per-layer values are
    medians over the passes."""
    walls = sample["walls"]
    if trace:
        layers = sample["layers"]
        per_layer = {
            k: statistics.median(d[k] for d in layers) for k in layers[0]
        }
        per_layer["pass_s"] = min(walls)
        per_layer["trace.overhead_s"] = (
            min(sample["traced_walls"]) - min(walls)
        )
        per_layer["process.peak_rss_mb"] = sample["peak_rss_mb"]
        per_layer.update(sample["extra_layers"])
        return per_layer
    return {
        "setup_s": sample["setup_s"],
        "cpu_s": statistics.median(sample["cpus"]),
    }


def _workload(name: str):
    if name == "bulk_sync":
        from migrate import BulkSync
        return BulkSync()
    from suite import QuerySuite
    return QuerySuite()


def canary_s() -> float:
    """Seconds for a fixed single-threaded CPU loop: a host-speed
    reference printed with each run, so a slow run can be told apart
    from a slow program."""
    start = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - start


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over all
    CPUs since boot (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / bt.CLK_TCK


def context(run: Run, name: str) -> dict:
    import duckdb
    import pyspark

    return {
        "workload": name,
        "seed": run.seed,
        "nproc": os.cpu_count(),
        "cores_used": run.cores,
        "loadavg": os.getloadavg(),
        "canary_s": run.canary_s,
        "steal_s": steal_seconds() - run.steal0,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "inputs": run.inputs,
        "pass_walls": run.pass_walls,
        "pass_steal": run.pass_steal,
        "pass_s": min(run.pass_walls),
    }


def isolate(root: str, tag: str) -> str:
    """Create this process's run directory under ``.perfbench_tmp`` and
    point every temp path of the process, the JVM and Spark's Python
    workers at it; put the repository root on the workers' path."""
    base = os.path.join(root, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{tag}-", dir=base)
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    # every JVM (spark-submit's launcher too): temp files under the run
    # directory, and no hsperfdata file, which always goes to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, root)
    return work


def result(manifest: dict, run: Run, metrics: dict) -> dict:
    """The result line: the end-to-end metrics, or with tracing the
    per-layer ones (a layer the workload never enters reads 0)."""
    units = _units(manifest, "per_layer" if run.trace else "end_to_end")
    if run.trace:
        metrics = {k: metrics.get(k, 0.0) for k in units}
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"no value for {sorted(missing)}")
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            k: {"value": float(metrics[k]), "unit": u}
            for k, u in units.items()
        },
    }


def main(argv=None) -> int:
    t_import = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "mysql2pg_spark", "__init__.py")):
        print("perfbench: run from the repository root "
              "(mysql2pg_spark/ not found)", file=sys.stderr)
        return 2
    manifest = _load_manifest(root)
    work = isolate(root, args.workload)
    run = Run(root, work, args.seed, bool(args.trace))
    workload = _workload(args.workload)
    try:
        import mysql2pg_spark.orchestrator  # noqa: F401  (import is set-up)

        run.import_s = time.perf_counter() - t_import
        metrics = summarize(measure(run, workload, args.seconds), run.trace)
        run.inputs = workload.describe()
        run.canary_s = canary_s()
        ctx = context(run, args.workload)
        # rows (bulk_sync) or queries (query_suite) per second
        ctx["items_per_s"] = workload.items_per_pass / ctx["pass_s"]
    finally:
        run.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left only if another run is live
            os.rmdir(os.path.dirname(work))

    line = result(manifest, run, metrics)
    if run.trace:
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"context": ctx, "spans": run.span_log}, fh)
    for f in run.failures[:20]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print("# context " + json.dumps(ctx))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
