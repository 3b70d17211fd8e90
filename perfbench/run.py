"""Run one benchmark workload and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One process, one client thread, closed loop: each op starts when the
previous one has finished. Spark runs at ``local[<cpus>]``.

The run generates its inputs from the seed, starts the session, warms
up (warm-up op, memo builds, an untimed codegen pass), checks outputs
(untimed), then runs whole passes over the workload's ops until
``--seconds`` have passed. With ``--trace 0`` the last stdout line is
the end-to-end metrics as JSON; with ``--trace 1`` passes alternate
untraced and traced, and the last line is the per-layer metrics.
Earlier stdout lines report every metric with its unit and sample
count, plus the host fingerprint. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, fields  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
BENCHMARK_JSON = ROOT / "BENCHMARK.json"


def meminfo_mb(key: str = "MemTotal") -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) // 1024
    raise RuntimeError(f"{key} missing from /proc/meminfo")


def pin_host(work: Path) -> dict:
    """Pin the settings numbers depend on, before Spark starts: cores,
    driver heap (sized from MemTotal; the program's 16g default does not
    fit every host), the Python workers' import path, and scratch dirs
    inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    driver_mb = min(4096, meminfo_mb() // 4)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{driver_mb}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # the short-lived JVM that spark-submit starts first would otherwise
    # write its perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    tempfile.tempdir = None
    return {"cpus": cpus, "mem_total_mb": meminfo_mb(), "driver_memory": f"{driver_mb}m"}


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def descendants(pid: int) -> set[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, todo = set(), [pid]
    while todo:
        p = todo.pop()
        kids = {c for c, pp in parent.items() if pp == p}
        out |= kids
        todo.extend(kids)
    return out


@dataclass
class Timed:
    name: str
    pass_no: int
    seconds: float
    ok: bool
    traced: bool
    seq: int


class Harness:
    """Runs ops under job groups and spans; owns the session."""

    def __init__(self, spark, rec, groups) -> None:
        self.spark, self.rec, self.groups = spark, rec, groups
        self.seq = 0
        self.last = (0.0, 0)  # (seconds, seq) of the latest op

    def run_op(self, op, *, collect: bool = False, setup: bool = False):
        """Run ``op``; return ``(cols, rows)`` when collecting a frame,
        True on other success, None when it raised. The op's time, which
        leaves out the ``clear_state`` after it, is left in ``last``.
        Setup ops are never read back from the status store."""
        from movie_data_pipeline_spark.session import clear_state

        self.seq += 1
        seq, rec = self.seq, self.rec
        result: object = True
        wall0, t = time.time(), time.perf_counter()
        try:
            with rec.span(op.name, seq):
                self.groups.set(seq, op.span, op.name)
                with rec.span(op.span):
                    df = op.build()
                if df is not None:
                    self.groups.set(seq, "action", op.name)
                    with rec.span("sink"):
                        if collect:
                            result = (df.columns, [tuple(r) for r in df.collect()])
                        else:
                            df.write.format("noop").mode("overwrite").save()
        except Exception:  # an op that raises is counted failed; the loop goes on
            traceback.print_exc(file=sys.stderr)
            result = None
        self.last = (time.perf_counter() - t, seq)
        wall1 = time.time()
        self.groups.set(seq, "clear_state", op.name)
        with rec.span("clear_state", seq):
            clear_state(self.spark)
        if rec.enabled and not setup:
            rec.pending.append((seq, self.groups.by_op[seq], (wall0, wall1)))
        return result


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method); the value itself for one
    sample."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def layer_metrics(rec, timed: list[Timed], passes: list[tuple[float, bool]],
                  cpus: int, start_s: float) -> dict[str, float]:
    """Per-layer metrics from the traced passes, as means per pass."""
    from perfbench.spans import OpStats

    traced_ops = {t.seq for t in timed if t.traced}
    n = sum(1 for _, traced in passes if traced)
    tot = {f.name: 0.0 for f in fields(OpStats)}
    for seq in traced_ops:
        for k, v in vars(rec.op_stats.get(seq, OpStats())).items():
            tot[k] += v
    span_s: dict[str, float] = {}
    for s in rec.spans:
        if s.op in traced_ops:
            span_s[s.name] = span_s.get(s.name, 0.0) + s.end - s.start
    counters = {}
    for (seq, name), v in rec.counters.items():
        if seq in traced_ops:
            counters[name] = counters.get(name, 0.0) + v
    op_wall = sum(t.seconds for t in timed if t.traced)
    med = {tr: statistics.median([s for s, t in passes if t == tr]) for tr in (False, True)}
    out = {
        "plans.build_s": span_s.get("builder", 0.0) / n,
        "plans.build_jobs": tot["build_jobs"] / n,
        "plans.action_s": span_s.get("sink", 0.0) / n,
        "spark.jobs": tot["jobs"] / n,
        "spark.stages": tot["stages"] / n,
        "spark.tasks": tot["tasks"] / n,
        "spark.driver_gap_s": tot["driver_gap_s"] / n,
        "spark.executor_run_s": tot["executor_run_s"] / n,
        "spark.executor_cpu_s": tot["executor_cpu_s"] / n,
        "spark.core_util": tot["executor_run_s"] / (cpus * op_wall) if op_wall else 0.0,
        "spark.shuffle_read_mb": tot["shuffle_read_mb"] / n,
        "spark.shuffle_write_mb": tot["shuffle_write_mb"] / n,
        "spark.gc_s": tot["gc_s"] / n,
        "spark.spill_mb": tot["spill_mb"] / n,
        "sources.publish_s": span_s.get("publish_snapshot", 0.0) / n,
        "sources.bytes_written_mb": counters.get("bytes_written_mb", 0.0) / n,
        "sources.files_written": counters.get("files_written", 0.0) / n,
        "sources.read_snapshot_s": span_s.get("read_snapshot_table", 0.0) / n,
        "functions.udf_rows": tot["udf_rows"] / n,
        "functions.udf_s": tot["udf_s"] / n,
        "session.start_s": start_s,
        "session.clear_state_s": span_s.get("clear_state", 0.0) / n,
        "bench.tracing_overhead_frac": med[True] / med[False] - 1.0,
        "bench.unattributed_jobs": float(rec.unattributed_jobs()),
    }
    return out


def declared(section: str) -> dict[str, str]:
    """metric name -> unit, as BENCHMARK.json declares them."""
    spec = json.loads(BENCHMARK_JSON.read_text())
    return {m["name"]: m["unit"] for m in spec[section]}


def main(argv: list[str] | None = None, wl=None) -> int:
    """``wl`` replaces the named workload's default object; the tests
    pass smaller ones."""
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    WORK.mkdir(exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK))
    try:
        return run(args, run_dir, wl)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, run_dir: Path, wl=None) -> int:
    excluded = 0.0  # harness-own work kept out of setup_s
    t = time.perf_counter()
    host = pin_host(run_dir)
    sys.path.insert(0, str(ROOT))
    from bench import cpu_calibration_sec, read_proc_stat

    host["load1"] = round(os.getloadavg()[0], 2)
    host["calib_s"] = cpu_calibration_sec(reps=2)
    steal0, busy0 = read_proc_stat()
    excluded += time.perf_counter() - t

    from perfbench import workloads
    from perfbench.spans import Recorder

    wl = wl or workloads.make(args.workload)
    t = time.perf_counter()
    wl.prepare(run_dir, args.seed)
    excluded += time.perf_counter() - t

    from movie_data_pipeline_spark.session import get_spark

    rec = Recorder(None, enabled=bool(args.trace))
    t = time.perf_counter()
    with rec.span("get_spark"):
        spark = get_spark("perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
        })
    host["session_start_s"] = time.perf_counter() - t
    rec.spark = spark
    try:
        result = measure(args, wl, spark, rec, host, excluded)
        steal1, busy1 = read_proc_stat()
        host["steal_pct"] = round((steal1 - steal0) / max(busy1 - busy0, 1) * 100, 2)
        report(args, wl, rec, host, result)
    finally:
        shutdown(spark)
    print(json.dumps(result["json"]))
    return 0


def measure(args, wl, spark, rec, host: dict, excluded: float) -> dict:
    """Set up, check, run the timed passes, check again; return the
    figures the report needs."""
    from perfbench.spans import JobGroups

    h = Harness(spark, rec, JobGroups(spark.sparkContext))
    outputs = wl.setup(h)
    # the checks below run DuckDB in this process; keep their memory out
    # of the program's peak
    py_peak_mb = vm_hwm_mb("self")
    t = time.perf_counter()
    problems = wl.check(h, outputs)
    excluded += time.perf_counter() - t
    setup_s = time.perf_counter() - _T0 - excluded

    rng = random.Random(args.seed)
    timed: list[Timed] = []
    passes: list[tuple[float, bool]] = []
    deadline = time.perf_counter() + args.seconds
    while True:
        traced = bool(args.trace) and len(passes) % 2 == 1
        rec.enabled = traced
        t = time.perf_counter()
        for op in wl.pass_ops(rng):
            ok = h.run_op(op) is not None
            sec, seq = h.last
            timed.append(Timed(op.name, len(passes), sec, ok, traced, seq))
        passes.append((time.perf_counter() - t, traced))
        rec.flush()
        if time.perf_counter() >= deadline and (not args.trace or len(passes) >= 2):
            break

    problems.update(wl.final_check(h))
    bad_ops = {k.split(":")[0] for k in problems}
    for tm in timed:
        tm.ok = tm.ok and tm.name not in bad_ops
    failed = sum(1 for tm in timed if not tm.ok)

    host["pyspark"] = spark.version
    host["java"] = spark._jvm.System.getProperty("java.version")
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    untraced = [tm.seconds for tm in timed if not tm.traced]
    pass_untraced = [s for s, traced in passes if not traced]
    e2e = {
        "setup_s": (setup_s, "s", 1),
        "pass_s": (statistics.median(pass_untraced), "s", len(pass_untraced)),
        "op_p50_s": (statistics.median(untraced), "s", len(untraced)),
        "op_p90_s": (quantile(untraced, 90), "s", len(untraced)),
        "peak_rss_mb": (vm_hwm_mb(jvm_pid) + py_peak_mb, "MB", 1),
        "ops_failed_frac": (failed / len(timed), "ratio", len(timed)),
    }
    e2e.update(wl.extra_metrics([tm for tm in timed if not tm.traced]))
    layers = (layer_metrics(rec, timed, passes, host["cpus"], host["session_start_s"])
              if args.trace else {})
    section, values = (("per_layer", layers) if args.trace
                       else ("end_to_end", {k: v[0] for k, v in e2e.items()}))
    return {
        "problems": problems,
        "e2e": e2e,
        "layers": layers,
        "traced_passes": sum(1 for _, tr in passes if tr),
        "groups": h.groups.by_op,
        "json": {
            "correct": not problems and failed == 0,
            "attempted": len(timed),
            "failed": failed,
            "metrics": {name: {"value": values[name], "unit": unit}
                        for name, unit in declared(section).items()},
        },
    }


def report(args, wl, rec, host: dict, result: dict) -> None:
    """The report lines printed before the JSON line, and in a traced
    run the trace file."""
    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace}")
    print("host " + json.dumps(host, sort_keys=True))
    for k, v in result["problems"].items():
        print(f"check FAILED {k}: {v}")
    for name, (value, unit, n) in result["e2e"].items():
        print(f"metric {name} {value:.6g} {unit} n={n}")
    if not args.trace:
        return
    for name, value in result["layers"].items():
        print(f"layer {name} {value:.6g} n={result['traced_passes']}")
    traces = WORK / "traces"
    traces.mkdir(exist_ok=True)
    out = traces / f"{args.workload}-seed{args.seed}.json"
    rec.write(str(out), {"workload": args.workload, "seed": args.seed, "host": host,
                         "layers": result["layers"], "groups": result["groups"]})
    print(f"trace written to {out.relative_to(ROOT)}")


def shutdown(spark) -> None:
    """Stop Spark, end the JVM, and wait for every process under it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(proc.pid) if proc else set()
    spark.stop()
    gateway.shutdown()
    if proc:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while kids and time.monotonic() < deadline:
        kids = {p for p in kids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)


if __name__ == "__main__":
    sys.exit(main())
