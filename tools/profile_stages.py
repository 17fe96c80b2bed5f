"""Per-stage profiling for bench queries via the Spark event log (guide §1/§7).

The session UI is disabled, so stage-level evidence comes from
`spark.eventLog.enabled` instead: run each requested query once (noop-style
full collect, labeled with setJobDescription), then parse the event log for
per-stage wall time, task count, shuffle bytes and python boundary time.

Usage:
    python tools/profile_stages.py q_dedup_semantic_ann q_dedup_cc ...
    python tools/profile_stages.py --all        # every bench metric
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import BENCH_QUERIES  # noqa: E402
from pipetree_spark.queries import load_registry  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
LOG_DIR = "/tmp/spark-events-r15"


def get_profiling_spark():
    from pyspark.sql import SparkSession

    from pipetree_spark.session import ENGINE_CONFS, default_driver_memory, default_parallelism

    os.makedirs(LOG_DIR, exist_ok=True)
    cores = default_parallelism()
    b = (
        SparkSession.builder.appName("pipetree-spark-profile")
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{LOG_DIR}")
        # the system zstd binary this tool shelled out to is not
        # guaranteed present; plain-text segments parse everywhere
        .config("spark.eventLog.compress", "false")
    )
    for k, v in ENGINE_CONFS.items():
        b = b.config(k, v)
    return b.getOrCreate()


class _RpcCounter:
    """Counts py4j gateway round trips (r16, r15 verdict item 8): every
    send_command on the client-server connection is one cross-process
    RPC — the construction tax this sandbox pays at ~0.2-1.2 ms each.
    Patch is process-wide and additive-only (no behavior change).
    ``on_rpc`` (optional) is invoked per RPC — tools/rpc_attrib.py hooks
    its stack-walk attribution through it rather than re-implementing
    the patch."""

    def __init__(self, on_rpc=None) -> None:
        self.n = 0
        self.on_rpc = on_rpc
        self._origs: list[tuple[type, object]] = []

    def install(self) -> None:
        import py4j.clientserver as cs
        import py4j.java_gateway as jg

        counter = self

        for klass in (cs.ClientServerConnection, jg.GatewayConnection):
            orig = klass.send_command

            def wrapped(slf, *a, _orig=orig, **kw):
                counter.n += 1
                if counter.on_rpc is not None:
                    counter.on_rpc()
                return _orig(slf, *a, **kw)

            self._origs.append((klass, orig))
            klass.send_command = wrapped


def _phase_ms(df) -> dict[str, float]:
    """Catalyst phase wall (ms) from the QueryExecutionTracker — splits
    the driver gap into parse/analyze/optimize/plan vs everything else
    (Python-side construction RPCs, action dispatch)."""
    try:
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        out = {}
        while it.hasNext():
            kv = it.next()
            ph = kv._2()
            out[str(kv._1())] = ph.endTimeMs() - ph.startTimeMs()
        return out
    except Exception:
        return {}


def main() -> None:
    args = sys.argv[1:]
    if not args:
        print(__doc__)
        return
    if args == ["--all"]:
        metrics = dict(BENCH_QUERIES)
    else:
        metrics = {m: BENCH_QUERIES.get(m, m) for m in args}

    registry = load_registry()
    spark = get_profiling_spark()
    app_id = spark.sparkContext.applicationId
    sc = spark.sparkContext
    rpc = _RpcCounter()
    rpc.install()

    spans: dict[str, tuple[float, float]] = {}
    for metric, qname in metrics.items():
        fn = registry[qname].fn
        fn(spark, SF_DIR).collect()  # warm-up
        sc.setJobDescription(f"PROFILE:{metric}")
        t0 = time.time()
        r0 = rpc.n
        df = fn(spark, SF_DIR)
        t_built = time.time()
        r_built = rpc.n
        df.collect()
        t1 = time.time()
        sc.setJobDescription(None)
        ph = _phase_ms(df)
        spans[metric] = (t0 * 1000, t1 * 1000)
        print(
            f"# {metric}: {t1 - t0:.3f}s wall | construction "
            f"{t_built - t0:.3f}s / {r_built - r0} RPCs | action "
            f"{t1 - t_built:.3f}s / {rpc.n - r_built} RPCs | catalyst(ms) "
            + ",".join(f"{k}={v}" for k, v in sorted(ph.items()))
        )
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    spark.stop()
    time.sleep(1)

    # parse the event log — Spark 4 writes a rolling V2 directory
    # (eventlog_v2_<appId>/events_*_<appId>[.zstd]); older layouts are a
    # flat <appId> file. Handle both; .zstd segments go through the
    # system `zstd` binary.
    candidates = list(Path(LOG_DIR).glob(f"*{app_id}*"))
    log_files: list[Path] = []
    for c in candidates:
        if c.is_dir():
            log_files.extend(sorted(c.glob(f"events_*")))
        else:
            log_files.append(c)
    events = []
    for lf in log_files:
        if lf.suffix == ".zstd":
            import subprocess

            raw = subprocess.run(
                ["zstd", "-dc", str(lf)], capture_output=True, check=True
            ).stdout.decode("utf-8", "replace")
            lines = raw.splitlines()
        else:
            lines = open(lf).read().splitlines()
        for line in lines:
            try:
                events.append(json.loads(line))
            except json.JSONDecodeError:
                pass

    # job id -> description; stage id -> job id
    job_desc: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    job_span: dict[int, tuple[int, int]] = {}
    stages: dict[int, dict] = {}
    stage_metrics: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for ev in events:
        t = ev.get("Event")
        if t == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            job_desc[jid] = props.get("spark.job.description", "")
            job_span[jid] = (ev.get("Submission Time", 0), 0)
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif t == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_span:
                job_span[jid] = (job_span[jid][0], ev.get("Completion Time", 0))
        elif t == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sid = si["Stage ID"]
            stages[sid] = {
                "name": si.get("Stage Name", ""),
                "tasks": si.get("Number of Tasks", 0),
                "submit": si.get("Submission Time", 0),
                "complete": si.get("Completion Time", 0),
            }
        elif t == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            tm = ev.get("Task Metrics") or {}
            m = stage_metrics[sid]
            m["run_ms"] += tm.get("Executor Run Time", 0)
            m["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            m["gc_ms"] += tm.get("JVM GC Time", 0)
            m["deser_ms"] += tm.get("Executor Deserialize Time", 0)
            srm = tm.get("Shuffle Read Metrics") or {}
            m["sh_read_b"] += srm.get("Local Bytes Read", 0) + srm.get(
                "Remote Bytes Read", 0
            )
            m["fetch_wait_ms"] += srm.get("Fetch Wait Time", 0)
            swm = tm.get("Shuffle Write Metrics") or {}
            m["sh_write_b"] += swm.get("Shuffle Bytes Written", 0)
            inm = tm.get("Input Metrics") or {}
            m["input_b"] += inm.get("Bytes Read", 0)
            pym = tm.get("Python Worker Metrics") or {}

    # report per metric
    for metric, (t0, t1) in spans.items():
        label = f"PROFILE:{metric}"
        jids = [j for j, d in job_desc.items() if d == label]
        sids = sorted(s for s, j in stage_job.items() if j in jids and s in stages)
        print(f"\n=== {metric} ({(t1 - t0) / 1000:.3f}s wall, {len(jids)} jobs, {len(sids)} stages)")
        # account for gaps between jobs (driver-side time)
        tot_job_ms = sum(job_span[j][1] - job_span[j][0] for j in jids if job_span[j][1])
        print(f"    sum(job wall) = {tot_job_ms / 1000:.3f}s; driver/gap = {((t1 - t0) - tot_job_ms) / 1000:.3f}s")
        rows = []
        for sid in sids:
            st = stages[sid]
            m = stage_metrics[sid]
            dur = st["complete"] - st["submit"]
            rows.append((dur, sid, st, m))
        rows.sort(reverse=True)
        for dur, sid, st, m in rows[:14]:
            print(
                f"  stage {sid:5d} {dur/1000:7.3f}s  tasks={st['tasks']:4d} "
                f"run={m['run_ms']/1000:7.3f}s cpu={m['cpu_ms']/1000:7.3f}s gc={m['gc_ms']/1000:6.3f}s "
                f"shR={m['sh_read_b']/1e6:7.2f}MB shW={m['sh_write_b']/1e6:7.2f}MB "
                f"in={m['input_b']/1e6:6.1f}MB  {st['name'][:70]}"
            )


if __name__ == "__main__":
    main()
