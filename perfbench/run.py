"""pipetree-spark benchmark: one closed-loop client on ``local[nproc]``.

Run from the repository root:

    python3 perfbench/run.py --workload pipeline_incremental --seed 1 --seconds 5 --trace 0

A run generates its inputs from ``--seed`` (perfbench/gen.py), sets the
session up twice, each time from a fresh JVM, makes one untimed warm pass
(for the pipeline, the from-scratch walk of the edited spec that edited
walks must equal) while the DuckDB oracles run on a background thread,
then issues operations back to back, in whole rounds (a query round is 8
queries, a pipeline round one cold/warm/edited cycle), until ``--seconds``
have passed, and checks every result. It prints one record
line (host, session settings, input hash, every end-to-end figure with its
unit and sample count) and, last, the result line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json; ``--trace 1``
wraps the layer boundaries in spans, counts py4j calls and reads Spark's
own statistics after each operation, and reports the per-layer metrics.
Spans are written to ``.perfbench_run/spans-<run id>.json``.

Everything the run writes (inputs, artifacts, Spark local dirs, temp
files) lives under ``.perfbench_run/`` in the repository and is removed at
the end, except the span file.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SCRATCH = ROOT / ".perfbench_run"
WORKLOADS = ("pipeline_incremental", "query_llm_ops")
#: cold session set-ups per run, each in a fresh JVM; setup_s is their
#: median. Two: a JVM launch costs ~9 s on 4 vCPUs, and a third would push
#: the benchmark's full set of runs past its time budget.
SETUPS = 2
#: tail percentiles tried, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def configure_env(work: Path, nproc: int) -> dict[str, str]:
    """Point every writer at ``work`` and size the session to the host.
    Must run before the JVM starts."""
    tmp, local = work / "tmp", work / "spark-local"
    for d in (tmp, local, work / "duckdb"):
        d.mkdir(parents=True, exist_ok=True)
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    settings = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": str(local),
        # explicit, and well below physical memory (session.py defaults to
        # 16g); a capped heap also keeps the peak-RSS figure steady
        "PIPETREE_SPARK_DRIVER_MEM": f"{max(1024, min(2048, phys_mb // 4))}m",
    }
    os.environ.update(settings)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    # the launcher JVM that assembles the Spark command line, too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        # no hsperfdata file: the JVM would write it to /tmp
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={work / 'warehouse'}"),
        "pyspark-shell",
    ])
    return settings


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _reset_hwm(pid: int) -> None:
    """Restart the peak-RSS count (VmHWM) of ``pid`` from its current RSS."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def _children(pids: set[int]) -> set[int]:
    """Every live descendant of ``pids``."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
    out: set[int] = set()
    frontier = set(pids)
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - out
        out |= frontier
    return out


def tree_cpu_s(root_pids: set[int]) -> float:
    """CPU seconds (user + system, own and reaped children) of
    ``root_pids`` and all their live descendants."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in root_pids | _children(root_pids):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, ValueError, IndexError):
            continue
    return total / tick


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process it started, and
    wait for each to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    descendants = _children({proc.pid}) if proc else set()
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while descendants and time.monotonic() < deadline:
        descendants = {p for p in descendants if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in descendants:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def tail_latency(values: list[float]) -> tuple[float, float]:
    """(percentile, value) for the highest percentile with at least ten
    samples beyond it; the maximum (percentile 100) when there are fewer
    than twenty samples."""
    vals = sorted(values)
    n = len(vals)
    for p in TAIL_PERCENTILES:
        if n * (1 - p / 100.0) >= 10:
            return p, vals[min(n - 1, int(p / 100.0 * n))]
    return 100.0, vals[-1] if vals else 0.0


def figure(value: float, unit: str, samples: int, **extra) -> dict:
    return {"value": value, "unit": unit, "samples": samples, **extra}


def end_to_end(workload: str, ops, setups, loop_s: float, loop_cpu_s: float, rss_mb: float,
               cold_bytes) -> dict:
    """Every end-to-end figure of the workload, by name, with unit and
    sample count."""
    ok = [o for o in ops if o.ok]
    lat = [o.latency for o in ok]
    pct, tail = tail_latency(lat)
    out = {
        "setup_s": figure(statistics.median(setups), "s", len(setups)),
        "throughput_qps": figure(len(ok) / loop_s, "ops/s", len(ops)),
        "latency_p50_s": figure(statistics.median(lat) if lat else 0.0, "s", len(lat)),
        "latency_tail_s": figure(tail, "s", len(lat), percentile=pct),
        "failure_ratio": figure((len(ops) - len(ok)) / len(ops), "ratio", len(ops)),
        "success_ratio": figure(len(ok) / len(ops), "ratio", len(ops)),
        "cpu_s_per_op": figure(loop_cpu_s / len(ops), "s", len(ops)),
        "peak_rss_mb": figure(rss_mb, "MB", 1),
    }
    if workload == "pipeline_incremental":
        for phase in ("cold", "warm", "edit"):
            times = [o.latency for o in ok if o.name == phase]
            out[f"walk_{phase}_s"] = figure(statistics.median(times) if times else 0.0, "s",
                                            len(times))
        out["artifact_mb"] = figure(
            statistics.median(cold_bytes) / 1e6 if cold_bytes else 0.0, "MB", len(cold_bytes)
        )
    return out


def per_layer(tracer, loop_span: int, ops, get_spark_s) -> dict[str, float]:
    """Per-layer metrics from the loop's spans and per-operation stats,
    as means per operation unless noted."""
    from spans import self_times

    spans = [s for s in tracer.spans if s.span_id > loop_span]  # inside the loop
    selfs = self_times(spans)
    total, calls, self_s = defaultdict(float), defaultdict(int), defaultdict(float)
    for s in spans:
        total[s.name] += s.duration
        calls[s.name] += 1
        self_s[s.name] += selfs[s.span_id]
    n = len(ops)
    stat_sum, stat_max = defaultdict(float), defaultdict(float)
    for o in ops:
        for k, v in o.stats.items():
            stat_sum[k] += v
            stat_max[k] = max(stat_max[k], v)
    phase_n = {ph: sum(o.name == ph for o in ops) for ph in ("cold", "warm", "edit")}

    m = {"session.get_spark_s": statistics.median(get_spark_s)}
    m["pipeline.from_spec_s"] = total["pipeline.from_spec"] / n
    m["pipeline.run_s"] = total["pipeline.run"] / n
    m["pipeline.run_self_s"] = self_s["pipeline.run"] / n
    m["pipeline.report_collect_s"] = total["pipeline.report_collect"] / n
    m["pipeline.stage_build_s"] = total["pipeline.stage_build"] / n
    for phase, count in phase_n.items():
        for kind in ("computed", "materialized", "hit", "skipped"):
            key = f"pipeline.{phase}.stages_{kind}"
            m[key] = stat_sum[key] / count if count else 0.0
    m["pipeline.edit_recompute_ratio"] = (
        stat_sum["pipeline.edit_recompute_ratio"] / phase_n["edit"] if phase_n["edit"] else 0.0
    )
    for layer in ("content_key", "has", "load", "materialize"):
        m[f"cache.{layer}_calls"] = calls[f"cache.{layer}"] / n
        m[f"cache.{layer}_s"] = total[f"cache.{layer}"] / n
    m["cache.hit_ratio"] = stat_sum["cache.hits"] / calls["cache.has"] if calls["cache.has"] else 0.0
    m["cache.bytes_written"] = stat_sum["cache.bytes_written"] / n
    m["queries.construct_s"] = total["queries.construct"] / n
    m["exec.action_s"] = (total["exec.action"] + total["pipeline.report_collect"]) / n
    for key in ("py4j.rpcs", "spark.jobs_construct", "spark.jobs_action", "spark.stages_action",
                "spark.tasks_action", "catalyst.analysis_s", "catalyst.optimization_s",
                "catalyst.planning_s", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
                "exec.spill_bytes", "exec.python_boundary_bytes", "exec.python_boundary_s",
                "exec.rows_out"):
        m[key] = stat_sum[key] / n
    m["spark.tasks_failed"] = stat_sum["spark.tasks_failed"]
    m["exec.persistent_rdds_after"] = stat_max["exec.persistent_rdds_after"]
    return m


def install_layer_spans(tracer) -> None:
    """Spans around the pipeline and cache entry points (traced runs only)."""
    import pipetree_spark.pipeline as pipeline_mod
    from pipetree_spark.cache import ArtifactCache
    from pipetree_spark.pipeline import Pipeline

    tracer.patch(Pipeline, "from_spec", "pipeline.from_spec")
    tracer.patch(Pipeline, "run", "pipeline.run")
    tracer.patch(pipeline_mod, "content_key", "cache.content_key")
    for method in ("has", "load", "materialize"):
        tracer.patch(ArtifactCache, method, f"cache.{method}")


def run(args, work: Path) -> tuple[dict, dict]:
    nproc = len(os.sched_getaffinity(0))
    settings = configure_env(work, nproc)
    for p in (ROOT / "tools", ROOT, HERE):
        sys.path.insert(0, str(p))
    import duckdb
    import pyspark

    import gen
    import workloads
    from bench import _cpu_totals
    from sparkstats import OpStats
    from spans import RpcCounter, Tracer, self_time_by_name

    from pipetree_spark.queries import load_registry
    from pipetree_spark.session import get_spark

    load_before = os.getloadavg()
    cpu0, steal0 = _cpu_totals()
    t0 = time.perf_counter()
    inputs = work / "inputs"
    input_hash = gen.generate(inputs, args.seed, row_groups=nproc)
    gen_s = time.perf_counter() - t0

    run_id = f"{args.workload}-s{args.seed}-p{os.getpid()}"
    tracer = Tracer(args.trace == 1, run_id)
    stats = None
    if tracer.enabled:
        rpc = RpcCounter()
        rpc.install(tracer)
        install_layer_spans(tracer)
        stats = OpStats(rpc, run_id)
    wl = workloads.make(args.workload, inputs, work, tracer, stats)

    spark = None
    setups, get_spark_s = [], []
    problems: list[str] = []
    for _ in range(SETUPS):
        if spark is not None:
            stop_spark(spark)  # every set-up launches its own JVM
        t0 = time.perf_counter()
        with tracer.span("setup"):
            g0 = time.perf_counter()
            with tracer.span("session.get_spark"):
                spark = get_spark("perfbench")
            get_spark_s.append(time.perf_counter() - g0)
            with tracer.span("queries.load_registry"):
                registry = load_registry()
            with tracer.span("catalog.register_inputs"):
                wl.register(spark)
            with tracer.span("setup.warm_up"):
                wl.warm_up(spark)
        setups.append(time.perf_counter() - t0)

    # Expected hashes are computed on a background thread during the
    # untimed warm pass, and are ready before the timed loop starts.
    oracle = workloads.Oracle(
        lambda: workloads.duckdb_hashes(inputs, work, wl.oracle_sqls(registry))
    )
    t0 = time.perf_counter()
    with tracer.span("prepare"):
        problems += wl.prepare(spark, registry)
        try:
            wl.expected.update(oracle.wait())
        except RuntimeError as exc:  # no expected output: every check fails
            problems.append(str(exc))
    prepare_s = time.perf_counter() - t0
    problems += [f"warm pass {n}: {h} != expected {wl.expected.get(n)}"
                 for n, h in wl.warm_hashes.items() if h != wl.expected.get(n)]

    jvm_pid = spark.sparkContext._gateway.proc.pid
    # peak RSS of the timed loop only, not of generation, oracles or warm pass
    for pid in (os.getpid(), jvm_pid):
        _reset_hwm(pid)
    loop_span = len(tracer.spans)
    cpu_before = tree_cpu_s({os.getpid(), jvm_pid})
    t0 = time.perf_counter()
    with tracer.span("loop"):
        ops = wl.loop(spark, registry, args.seconds)
    loop_s = time.perf_counter() - t0
    loop_cpu_s = tree_cpu_s({os.getpid(), jvm_pid}) - cpu_before

    rss_mb = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)
    sc = spark.sparkContext
    session = {
        "master": sc.master,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "SPARK_LOCAL_DIRS": os.path.relpath(settings["SPARK_LOCAL_DIRS"], ROOT),
        "PIPETREE_SPARK_DRIVER_MEM": settings["PIPETREE_SPARK_DRIVER_MEM"],
        "spark.driver.memory": sc.getConf().get("spark.driver.memory"),
    }
    stop_spark(spark)
    tracer.close()
    cpu1, steal1 = _cpu_totals()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    failures = [f"{o.name}: {o.error}" for o in ops if not o.ok]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "input_hash": input_hash,
        "expected": wl.expected,
        "host": {
            "nproc": nproc,
            "steal_pct": 100.0 * (steal1 - steal0) / max(cpu1 - cpu0, 1),
            "loadavg_before": list(load_before),
            "loadavg_after": list(os.getloadavg()),
            "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__,
        },
        "session": session,
        "phases_s": {"generate": gen_s, "setups": setups, "prepare": prepare_s, "loop": loop_s,
                     "loop_cpu": loop_cpu_s},
        "end_to_end": end_to_end(args.workload, ops, setups, loop_s, loop_cpu_s, rss_mb,
                                 wl.cold_bytes),
        "ops": [[o.name, round(o.latency, 4), o.ok, *([o.stats["py4j.rpcs"]] if o.stats else [])]
                for o in ops],
        "problems": problems + failures[:10],
    }
    result = {
        "correct": not problems and not failures,
        "attempted": len(ops),
        "failed": len(failures),
    }
    if tracer.enabled:
        values = per_layer(tracer, loop_span, ops, get_spark_s)
        declared = bench["per_layer"]
        record["self_s"] = self_time_by_name([s for s in tracer.spans if s.span_id >= loop_span])
        SCRATCH.mkdir(exist_ok=True)
        (SCRATCH / f"spans-{run_id}.json").write_text(json.dumps(tracer.dump()))
    else:
        values = {name: f["value"] for name, f in record["end_to_end"].items()}
        declared = bench["end_to_end"]
    result["metrics"] = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                         for m in declared}
    return record, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "pipetree_spark").is_dir() or not (ROOT / "tools" / "check_parity.py").is_file():
        print(f"perfbench: no pipetree_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    work = SCRATCH / f"{args.workload}-s{args.seed}-p{os.getpid()}"
    try:
        record, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
