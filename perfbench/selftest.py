"""Self-test of the benchmark's own machinery.

    python3 perfbench/selftest.py          # all checks (starts Spark once)
    python3 -m pytest perfbench/selftest.py

1. The input generator is deterministic per seed and differs across seeds.
2. Span self-time arithmetic is right on a hand-built span tree.
3. The edit closure derived from the spec equals the materialized stages a
   real edited walk rewrites (cold walk, then the one-stage edit).
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
for _p in (ROOT / "tools", ROOT, HERE):
    if str(_p) not in sys.path:
        sys.path.insert(0, str(_p))

import gen  # noqa: E402
from spans import Span, self_time_by_name, self_times  # noqa: E402


def _work(name: str) -> Path:
    path = ROOT / ".perfbench_run" / f"selftest-{name}"
    shutil.rmtree(path, ignore_errors=True)
    return path


def test_generator_deterministic_per_seed() -> None:
    work = _work("gen")
    try:
        a = gen.generate(work / "a", seed=11, row_groups=4)
        b = gen.generate(work / "b", seed=11, row_groups=4)
        c = gen.generate(work / "c", seed=12, row_groups=4)
        assert a == b, "equal seeds gave different inputs"
        assert a != c, "different seeds gave equal inputs"
        import pyarrow.parquet as pq

        for name in ("lineitem", "documents", "embeddings", "region"):
            meta = pq.ParquetFile(work / "a" / f"{name}.parquet").metadata
            assert meta.num_row_groups >= 4, (name, meta.num_row_groups)
        docs = pq.read_table(work / "a" / "documents.parquet").to_pydict()
        assert sorted(docs["doc_id"]) == list(range(gen.SIZES["documents"]))
        assert len(set(docs["text"])) < len(docs["text"]), "no exact copies planted"
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_self_time_arithmetic() -> None:
    # root [0,10] with children a [1,4] and b [3,6] (overlapping) and
    # c [9,12] (runs past its parent); a has child g [2,3].
    spans = [
        Span(0, None, "root", 0.0, 10.0, "t"),
        Span(1, 0, "a", 1.0, 4.0, "t"),
        Span(2, 0, "b", 3.0, 6.0, "t"),
        Span(3, 0, "c", 9.0, 12.0, "t"),
        Span(4, 1, "g", 2.0, 3.0, "t"),
    ]
    got = self_times(spans)
    # root: 10 - |[1,6] ∪ [9,10]| = 10 - 6
    assert got == {0: 4.0, 1: 2.0, 2: 3.0, 3: 3.0, 4: 1.0}, got
    spans.append(Span(5, 0, "a", 6.5, 7.0, "t"))
    by_name = self_time_by_name(spans)
    assert by_name["a"] == 2.5 and by_name["root"] == 3.5, by_name


def test_edit_closure_from_spec() -> None:
    import workloads

    spec, edited = workloads.curation_specs(Path("inputs"))
    closure = workloads.edit_closure(spec, workloads.EDIT_STAGE)
    assert closure == {"near_keep", "rep_gated", "cap_keep", "budget"}, closure
    assert edited["stages"]["pairs"]["args"]["threshold"] == workloads.EDIT_TO


def test_edit_closure_matches_walk() -> None:
    import os

    import run

    work = _work("walk")
    try:
        run.configure_env(work, len(os.sched_getaffinity(0)))
        import workloads
        from pipetree_spark.cache import ArtifactCache
        from pipetree_spark.pipeline import Pipeline
        from pipetree_spark.session import get_spark

        inputs = work / "inputs"
        gen.generate(inputs, seed=3, row_groups=4)
        spec, edited = workloads.curation_specs(inputs)
        cache = ArtifactCache(str(work / "artifacts"))
        spark = get_spark("perfbench-selftest")
        try:
            reports = []
            for s in (spec, spec, edited):
                p = Pipeline.from_spec(s, sf_dir=str(inputs))
                p.run(spark, cache, targets=["report"])["report"].collect()
                reports.append(p.last_run_report)
        finally:
            run.stop_spark(spark)
        rewritten = [{n for n, v in r.items() if v == "materialized"} for r in reports]
        materialized = {n for n, s in spec["stages"].items() if s.get("materialize")}
        assert rewritten[0] == materialized & set(reports[0]), rewritten[0]
        assert rewritten[1] == set(), rewritten[1]
        assert rewritten[2] == workloads.edit_closure(spec, workloads.EDIT_STAGE), rewritten[2]
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        t()
        print(f"ok   {t.__name__}")
    print(f"{len(tests)} passed")
