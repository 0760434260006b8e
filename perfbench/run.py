"""Benchmark command: one closed-loop client, one operation at a time.

    python3 perfbench/run.py --workload pit_features --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints progress on stderr and, as the last
line of stdout, one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import contextlib  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

DRIVER_MEM = "4g"
#: measured operations per run, whatever --seconds says
MIN_OPS = 2
#: value printed for a workload-specific end-to-end metric on the other workloads
NOT_APPLICABLE = 1.0


def spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def slots() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str):
    """local[nproc] session whose temporary files all live under ``work``."""
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(slots())
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    from transmog_spark.session import get_spark

    return get_spark(
        f"local[{slots()}]",
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of the whole machine so far, from
    /proc/stat; (0, 0) where that file does not exist."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return 0, 0
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the machine's runnable CPU time the hypervisor took away
    between two ``cpu_ticks`` readings."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return stolen / (busy + stolen) if busy + stolen else 0.0


START_TICKS = cpu_ticks()


class HeapProbe:
    """Peak JVM heap between ``reset`` and ``peak_mb`` (sum of pool peaks)."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.pools = [p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"]

    def reset(self) -> None:
        for p in self.pools:
            p.resetPeakUsage()

    def peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self.pools) / 2**20


class Tracer:
    """Spans around each layer call, kept in memory, written out at the end."""

    def __init__(self, workload):
        self.wl = workload
        self.spark = workload.spark
        self.reader = workload.reader
        self.root = os.path.join(workload.work, "trace")
        self.spans: list[dict] = []
        self.values: dict = {}
        self.layer_totals: dict[str, dict] = {}
        self.problems: list[str] = []
        self._parent = None

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    @contextlib.contextmanager
    def span(self, name: str, kind: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "kind": kind, "parent": self._parent}
        self.spans.append(rec)
        prev, self._parent = self._parent, sid
        with self.reader.group(name) as gid:
            rec["start"] = time.perf_counter()
            try:
                yield rec
            finally:
                rec["end"] = time.perf_counter()
                self._parent = prev
        rec["metrics"] = self.reader.metrics(gid)
        if kind == "layer":
            tot = self.layer_totals.setdefault(name, {"wall_s": 0.0})
            tot["wall_s"] += rec["end"] - rec["start"]
            for k in ("jobs", "task_cpu_s", "shuffle_write_bytes"):
                tot[k] = tot.get(k, 0) + rec["metrics"][k]

    def stage(self, name: str):
        """Writing a layer's inputs to temporary parquet: tracing overhead."""
        return self.span(f"stage.{name}", "stage")

    def persist(self, df, name: str):
        p = self.path(name)
        df.write.mode("overwrite").parquet(p)
        return self.spark.read.parquet(p)

    def layer(self, name: str, build, *, rows_key: str | None = None, sink=None):
        """Run one layer alone over staged inputs; return its staged output
        (or ``sink``'s result when given)."""
        with self.span(name, "layer"):
            df = build()
            result = sink(df) if sink else df.write.format("noop").mode("overwrite").save()
        if sink:
            return result
        with self.stage(name) as rec:
            staged = self.persist(df, name.replace(".", "_"))
        if rows_key:
            self.values[rows_key] = rec["metrics"]["output_records"]
        return staged

    def action(self, name: str, fn) -> None:
        with self.span(name, "layer"):
            fn()

    def build(self, fn) -> None:
        """Time the lazy public calls twice: cold plan, then repeated plan."""
        times = []
        for _ in range(2):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        self.values["build.plan_s"], self.values["build.plan_cached_s"] = times

    def expect_digest(self, got: int, want: int) -> None:
        if got != want:
            self.problems.append(f"traced output digest {got} != untraced {want}")

    def run(self) -> float:
        t0 = time.perf_counter()
        with self.span("trace", "op"):
            self.wl.trace(self)
        return time.perf_counter() - t0

    def layer_metrics(self) -> dict:
        out = dict(self.values)
        for name, tot in self.layer_totals.items():
            out[f"{name}.wall_s"] = tot["wall_s"]
            out[f"{name}.task_cpu_s"] = tot["task_cpu_s"]
            out[f"{name}.shuffle_bytes"] = tot["shuffle_write_bytes"]
            out[f"{name}.jobs"] = tot["jobs"]
        return out

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        covered: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] = covered.get(s["parent"], 0.0) + s["end"] - s["start"]
        rows = [
            {
                "id": s["id"],
                "name": s["name"],
                "kind": s["kind"],
                "parent": s["parent"],
                "start_s": s["start"] - t0,
                "end_s": s["end"] - t0,
                "self_s": s["end"] - s["start"] - covered.get(s["id"], 0.0),
                "metrics": s["metrics"],
            }
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"workload": self.wl.name, "seed": self.wl.seed, "spans": rows}, f, indent=1)


def run(spark, workload: str, seed: int, seconds: float, trace: bool, work: str,
        n_docs: int | None = None, trace_out: str | None = None) -> dict:
    """Set up, warm up, measure and (optionally) trace one workload; return
    the result object the command prints."""
    from status import StatusReader
    from workloads import WORKLOADS

    log = lambda *a: print(f"[perfbench {workload}]", *a, file=sys.stderr, flush=True)  # noqa: E731
    reader = StatusReader(spark)
    heap = HeapProbe(spark)
    wl = WORKLOADS[workload](spark, reader, seed, work, n_docs)
    log(f"session ready at {time.monotonic() - PROCESS_START:.1f}s")
    wl.prepare()
    log(f"inputs ready at {time.monotonic() - PROCESS_START:.1f}s")

    results, heaps = [], []

    def one(k: int):
        heap.reset()
        try:
            r = wl.operation(k)
        except Exception as e:  # an operation that raises counts as failed
            log(f"operation {k} raised {type(e).__name__}: {e}")
            results.append(None)
            return
        r.steal_frac = steal_share(ticks[k], cpu_ticks())
        heaps.append(heap.peak_mb())
        results.append(r)
        log(f"op {k}: wall {r.wall_s:.2f}s cpu {r.exec['task_cpu_s']:.2f}s jobs {r.exec['jobs']} "
            f"steal {r.steal_frac:.2f}"
            + (f" PROBLEMS {r.problems}" if r.problems else ""))

    # The first wl.warmup_ops operations are warm-up: the count at which task
    # CPU stopped drifting in trial runs. The count is fixed, so every run
    # measures the same JIT stage.
    starts, ticks = [], []
    n_warm = wl.warmup_ops
    while True:
        starts.append(time.monotonic())
        ticks.append(cpu_ticks())
        one(len(starts) - 1)
        k = len(starts)
        if k - n_warm >= MIN_OPS and time.monotonic() - starts[n_warm] >= seconds:
            break
    # unshared, like docs_per_s: set-up wall time less the stolen share
    setup_s = (starts[n_warm] - PROCESS_START) * (1.0 - steal_share(START_TICKS, ticks[n_warm]))
    log(f"measured ops {n_warm}..{k - 1}; output digest {wl.digests[0] if wl.digests else None}")

    measured = [r for r in results[n_warm:] if r is not None]
    attempted = len(results)
    failed = sum(1 for r in results if r is None or r.problems)
    if not measured:
        return {"correct": False, "attempted": attempted, "failed": failed, "metrics": {}}

    bench = spec()
    if not trace:
        values = {
            "setup_s": setup_s,
            "docs_per_s": wl.n_docs / statistics.median([r.unshared_wall_s for r in measured]),
            "task_cpu_s": statistics.median([r.exec["task_cpu_s"] for r in measured]),
            "success_rate": (attempted - failed) / attempted,
        }
        values.update(wl.quality(measured))
        metrics = {
            m["name"]: {"value": values.get(m["name"], NOT_APPLICABLE), "unit": m["unit"]}
            for m in bench["end_to_end"]
        }
        return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}

    wall = statistics.median([r.wall_s for r in measured])
    ex = {key: statistics.median([r.exec[key] for r in measured]) for key in measured[0].exec}
    values = {
        "exec.wall_s": wall,
        "host.steal_frac": statistics.median([r.steal_frac for r in measured]),
        "exec.jobs": ex["jobs"],
        "exec.stages": ex["stages"],
        "exec.tasks": ex["tasks"],
        "exec.task_run_s": ex["task_run_s"],
        "exec.gc_s": ex["gc_s"],
        "exec.spill_bytes": ex["spill_bytes"],
        "exec.peak_exec_mem_mb": ex["peak_exec_mem_bytes"] / 2**20,
        "exec.shuffle_records_per_row": ex["shuffle_write_records"] / wl.n_docs,
        "exec.slot_busy_frac": statistics.median(
            [r.exec["task_run_s"] / (r.wall_s * slots()) for r in measured]
        ),
        "jvm.peak_heap_mb": max(heaps),
    }
    values.update(wl.layers(measured))
    tracer = Tracer(wl)
    log("traced pass")
    total = tracer.run()
    values.update(tracer.layer_metrics())
    values["trace.total_s"] = total
    values["trace.overhead_s"] = total - wall
    if trace_out:
        tracer.dump(trace_out)
    failed += bool(tracer.problems)
    attempted += 1
    for p in tracer.problems:
        log("TRACE PROBLEM", p)
    metrics = {
        m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]} for m in bench["per_layer"]
    }
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    from workloads import DEFAULT_SEED, WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=spec()["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    work = os.path.join(REPO, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        spark = start_spark(work)
        try:
            out = run(
                spark, args.workload, args.seed, args.seconds, bool(args.trace), work,
                trace_out=os.path.join(REPO, ".bench_traces", f"{args.workload}-seed{args.seed}.json"),
            )
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
