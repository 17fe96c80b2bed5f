"""The benchmark's workloads: what one operation is, how it is checked,
and where its expected output comes from.

An operation is built, then run to its collect:

- ``query_llm_ops``: one declared query, ``fn(spark, sf_dir)`` then
  ``collect()``. Expected output is the query's DuckDB oracle on the same
  generated files.
- ``pipeline_incremental``: one walk of the curation spec,
  ``Pipeline.from_spec`` then ``run(targets=["report"])`` then the
  report's ``collect()``. A cycle is a cold walk on a fresh cache root, a
  warm walk and an edited walk (``pairs.args.threshold`` 0.5 -> 0.6).
  Cold and warm walks must equal the spec's DuckDB oracle; edited walks
  must equal a from-scratch walk of the edited spec on an empty cache root.

Every result is hashed with ``tools/check_parity.py``'s canonicalization.
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from importlib import resources
from pathlib import Path

from check_parity import canon_result, run_oracle

from pipetree_spark.catalog import TABLES, load_table, table_path

LLM_QUERIES = (
    "q_dedup_near_lsh", "q_dedup_cluster_lsh", "q_dedup_cc", "q_dedup_semantic_ann",
    "q_vec_ann_pq_ivf", "q_text_decontam_bloom", "q_graph_pagerank",
    "q_text_cjk_segment_dict",
)
EDIT_STAGE, EDIT_ARG, EDIT_FROM, EDIT_TO = "pairs", "threshold", 0.5, 0.6
#: concurrent queries in the untimed warm pass
WARM_THREADS = 4
PHASES = ("cold", "warm", "edit")


def result_hash(cols, rows) -> str:
    c, data = canon_result(list(cols), [tuple(r) for r in rows])
    return hashlib.sha256(repr((c, data)).encode()).hexdigest()[:16]


@dataclass
class OpResult:
    name: str
    latency: float
    ok: bool
    error: str = ""
    stats: dict[str, float] = field(default_factory=dict)


class Oracle:
    """Computes expected hashes on a background thread (DuckDB releases
    the interpreter lock), so it overlaps the untimed warm pass."""

    def __init__(self, fn):
        self.result: dict[str, str] = {}
        self.error: BaseException | None = None
        self._thread = threading.Thread(target=self._run, args=(fn,), daemon=True)
        self._thread.start()

    def _run(self, fn) -> None:
        try:
            self.result = fn()
        except Exception as exc:  # reported as a failed run, not lost
            self.error = exc

    def wait(self) -> dict[str, str]:
        self._thread.join()
        if self.error is not None:
            raise RuntimeError(f"oracle failed: {self.error!r}") from self.error
        return self.result


def duckdb_hashes(inputs: Path, work: Path, oracles: dict[str, str]) -> dict[str, str]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{work / 'duckdb'}'")
        # two threads, so the warm pass it overlaps keeps cores to warm on
        con.execute("SET threads = 2")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(str(inputs), t)}')")
        return {name: result_hash(*run_oracle(con, sql)) for name, sql in oracles.items()}
    finally:
        con.close()


class Workload:
    """One closed-loop client issuing operations back to back."""

    tables: tuple[str, ...] = ()

    def __init__(self, inputs: Path, work: Path, tracer, stats):
        self.inputs = inputs
        self.work = work
        self.tracer = tracer
        self.stats = stats  # OpStats when traced, else None
        self.expected: dict[str, str] = {}
        self.warm_hashes: dict[str, str] = {}  # warm-pass results, checked like any other
        self.cold_bytes: list[int] = []  # artifact bytes per cold walk

    def register(self, spark) -> None:
        """Input registration: resolve every table the workload reads."""
        for t in self.tables:
            load_table(spark, str(self.inputs), t)

    def warm_up(self, spark) -> None:
        """One light fixed job (the heavy JIT warm-up is :meth:`prepare`)."""
        load_table(spark, str(self.inputs), self.tables[0]).count()

    def oracle_sqls(self, registry) -> dict[str, str]:
        """DuckDB SQL of every expected result, by name."""
        raise NotImplementedError

    def prepare(self, spark, registry) -> list[str]:
        """Untimed: one warm pass (JIT, code cache and file cache fill).
        Records result hashes in :attr:`warm_hashes` (checked against
        :attr:`expected` once the oracles are done) and returns the
        problems found."""
        raise NotImplementedError

    def loop(self, spark, registry, seconds: float) -> list[OpResult]:
        raise NotImplementedError


class QueryLoop(Workload):
    """Rounds over a fixed query list, one query at a time."""

    def __init__(self, queries: tuple[str, ...], tables: tuple[str, ...], *args):
        super().__init__(*args)
        self.queries = queries
        self.tables = tables

    def _op(self, spark, registry, name: str) -> tuple[OpResult, str]:
        fn = registry[name].fn
        st = self.stats
        t0 = time.perf_counter()
        try:
            if st:
                st.begin(spark, "construct")
            with self.tracer.span("queries.construct"):
                df = fn(spark, str(self.inputs))
            if st:
                st.begin(spark, "action")
            with self.tracer.span("exec.action"):
                rows = df.collect()
        except Exception as exc:  # a failed operation is counted, not fatal
            return OpResult(name, time.perf_counter() - t0, False, repr(exc)[:300]), ""
        latency = time.perf_counter() - t0
        stats = st.finish(spark, df, len(rows)) if st else {}
        return OpResult(name, latency, True, stats=stats), result_hash(df.columns, rows)

    def oracle_sqls(self, registry) -> dict[str, str]:
        return {n: registry[n].oracle for n in self.queries}

    def _warm(self, spark, registry, name: str) -> str:
        df = registry[name].fn(spark, str(self.inputs))
        return result_hash(df.columns, df.collect())

    def prepare(self, spark, registry) -> list[str]:
        """Every query once, WARM_THREADS at a time: the pass is untimed
        and mostly first-use cost (class loading, JIT, code generation),
        which overlaps well."""
        with ThreadPoolExecutor(WARM_THREADS) as pool:
            futures = {n: pool.submit(self._warm, spark, registry, n) for n in self.queries}
        problems = []
        for name, fut in futures.items():
            try:
                self.warm_hashes[name] = fut.result()
            except Exception as exc:  # a failed warm query is a problem, not fatal
                problems.append(f"warm pass {name}: {exc!r}"[:300])
        return problems

    def loop(self, spark, registry, seconds: float) -> list[OpResult]:
        """Whole rounds over the query list while time is left, so every
        query weighs the same in each run's figures."""
        out: list[OpResult] = []
        start = time.perf_counter()
        while time.perf_counter() - start < seconds:
            for name in self.queries:
                res, h = self._op(spark, registry, name)
                want = self.expected.get(name)
                if res.ok and h != want:
                    res.ok, res.error = False, f"result hash {h} != expected {want}"
                out.append(res)
        return out


def curation_specs(inputs: Path) -> tuple[dict, dict]:
    """The shipped 24-stage curation spec reading ``inputs``, and its
    one-stage edit."""
    spec = json.loads(
        resources.files("pipetree_spark").joinpath("specs/curation_full_pipeline.json").read_text()
    )
    spec["stages"]["documents"]["sf_dir"] = str(inputs)
    edited = copy.deepcopy(spec)
    if edited["stages"][EDIT_STAGE]["args"][EDIT_ARG] != EDIT_FROM:
        raise ValueError(f"spec's {EDIT_STAGE}.{EDIT_ARG} is no longer {EDIT_FROM}")
    edited["stages"][EDIT_STAGE]["args"][EDIT_ARG] = EDIT_TO
    return spec, edited


def edit_closure(spec: dict, edited: str, target: str = "report") -> set[str]:
    """Materialized stages a walk to ``target`` must rewrite after
    ``edited`` changes: its downstream closure, restricted to stages the
    target needs and that are materialized."""
    stages = spec["stages"]
    consumers: dict[str, list[str]] = {n: [] for n in stages}
    for name, s in stages.items():
        for i in s.get("inputs", []):
            consumers[i].append(name)
    down, stack = set(), [edited]
    while stack:
        n = stack.pop()
        if n not in down:
            down.add(n)
            stack.extend(consumers[n])
    needed, stack = set(), [target]
    while stack:
        n = stack.pop()
        if n not in needed:
            needed.add(n)
            stack.extend(stages[n].get("inputs", []))
    return {n for n in down & needed if stages[n].get("materialize")}


def dir_bytes(root: Path) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files
    )


class PipelineCycles(Workload):
    """Cycles of cold, warm and edited walks, each cycle on a fresh root."""

    tables = ("documents",)

    def __init__(self, *args):
        super().__init__(*args)
        self.spec, self.edited = curation_specs(self.inputs)
        self.closure = edit_closure(self.spec, EDIT_STAGE)
        self.materialized = {n for n, s in self.spec["stages"].items() if s.get("materialize")}
        self.roots = 0

    def _fresh_root(self) -> Path:
        self.roots += 1
        root = self.work / "artifacts" / f"root{self.roots}"
        root.mkdir(parents=True)
        return root

    def _walk(self, spark, spec: dict, root: Path, phase: str):
        from pipetree_spark.cache import ArtifactCache
        from pipetree_spark.pipeline import Pipeline

        st = self.stats
        before = dir_bytes(root)
        t0 = time.perf_counter()
        try:
            # the "construct" job group and RPC window cover the whole walk
            # up to the report collect (from_spec and run, materializations
            # included); from_spec and run have spans of their own
            if st:
                st.begin(spark, "construct")
            p = Pipeline.from_spec(spec, sf_dir=str(self.inputs))
            if st:
                for stage in p.stages.values():
                    stage.fn = self.tracer.wrap("pipeline.stage_build", stage.fn)
            frames = p.run(spark, ArtifactCache(str(root)), targets=["report"])
            if st:
                st.begin(spark, "action")
            with self.tracer.span("pipeline.report_collect"):
                df = frames["report"]
                rows = df.collect()
        except Exception as exc:  # a failed walk is counted, not fatal
            return OpResult(phase, time.perf_counter() - t0, False, repr(exc)[:300]), "", {}
        latency = time.perf_counter() - t0
        written = dir_bytes(root) - before
        stats = st.finish(spark, df, len(rows)) if st else {}
        report = dict(p.last_run_report)
        if st:
            stats["cache.bytes_written"] = written
            for kind in ("computed", "materialized", "hit", "skipped"):
                stats[f"pipeline.{phase}.stages_{kind}"] = sum(v == kind for v in report.values())
            stats["cache.hits"] = sum(v == "hit" for v in report.values())
        if phase == "cold":
            self.cold_bytes.append(written)
        return OpResult(phase, latency, True, stats=stats), result_hash(df.columns, rows), report

    def _check(self, res: OpResult, h: str, report: dict) -> None:
        """A walk fails on a wrong report or on a rewrite the spec rules
        out: an undeclared stage, any stage in a warm walk, a stage outside
        the edit closure. Rewriting less than the closure (early cutoff)
        passes and shows in ``pipeline.edit_recompute_ratio``."""
        if not res.ok:
            return
        want = self.expected.get("edit" if res.name == "edit" else "base")
        rewritten = {n for n, v in report.items() if v == "materialized"}
        allowed = {"cold": self.materialized, "warm": set(), "edit": self.closure}[res.name]
        if h != want:
            res.ok, res.error = False, f"report hash {h} != expected {want}"
        elif not rewritten <= allowed:
            res.ok, res.error = False, (
                f"{res.name} walk rewrote {sorted(rewritten - allowed)} outside {sorted(allowed)}"
            )
        if res.name == "edit" and self.stats:
            res.stats["pipeline.edit_recompute_ratio"] = len(rewritten) / len(self.closure)

    def oracle_sqls(self, registry) -> dict[str, str]:
        return {"base": registry["q_pipe_curation_full"].oracle}

    def prepare(self, spark, registry) -> list[str]:
        """The warm pass is a from-scratch walk of the edited spec on an
        empty root: the recompute every incremental edited walk must equal."""
        root = self._fresh_root()
        res, h, _ = self._walk(spark, self.edited, root, "recompute")
        shutil.rmtree(root, ignore_errors=True)
        self.expected["edit"] = h
        return [] if res.ok else [f"recompute walk failed: {res.error}"]

    def loop(self, spark, registry, seconds: float) -> list[OpResult]:
        out: list[OpResult] = []
        start = time.perf_counter()
        while time.perf_counter() - start < seconds:
            root = self._fresh_root()
            for phase in PHASES:
                res, h, report = self._walk(spark, self.edited if phase == "edit" else self.spec,
                                            root, phase)
                self._check(res, h, report)
                out.append(res)
            shutil.rmtree(root, ignore_errors=True)
        return out


def make(name: str, inputs: Path, work: Path, tracer, stats) -> Workload:
    if name == "pipeline_incremental":
        return PipelineCycles(inputs, work, tracer, stats)
    if name == "query_llm_ops":
        return QueryLoop(LLM_QUERIES, ("documents", "embeddings", "orders", "lineitem"),
                         inputs, work, tracer, stats)
    raise ValueError(f"unknown workload {name!r}")
