"""Engine facade tests (SURVEY §3.2): both entry points, plan
inspection, and the runtime-conf contract on a vanilla session."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pipetree_spark.engine import Engine


def test_table_builder_path(spark, sf_small):
    eng = Engine(spark, sf_dir=sf_small)
    df = eng.table("lineitem").filter(F.col("l_quantity") > 40).groupBy("l_returnflag").count()
    rows = {r["l_returnflag"]: r["count"] for r in df.collect()}
    assert set(rows) == {"A", "N", "R"} and all(v > 0 for v in rows.values())


def test_sql_entry_over_registered_views(spark, sf_small):
    eng = Engine(spark, sf_dir=sf_small)
    out = eng.sql(
        "SELECT r_name, COUNT(*) AS n FROM nation JOIN region ON n_regionkey = r_regionkey GROUP BY r_name"
    ).collect()
    assert sum(r["n"] for r in out) == 25


def test_sql_reads_events_through_conversion(spark, sf_small):
    # events is the ns-timestamp table; the view must expose converted ts
    eng = Engine(spark, sf_dir=sf_small)
    row = eng.sql("SELECT MIN(ts) AS mn, MAX(ts) AS mx, COUNT(*) AS n FROM events").collect()[0]
    assert row["n"] == 1000
    assert row["mn"].year == 2024 and row["mx"].year == 2024


def test_explain_passthrough_smoke(spark, sf_small, capsys):
    eng = Engine(spark, sf_dir=sf_small)
    eng.explain(eng.table("orders").filter(F.col("o_totalprice") > 0))
    out = capsys.readouterr().out
    assert "Physical Plan" in out


def test_parse_byte_conf_unit_suffixes():
    """spark.sql.autoBroadcastJoinThreshold accepts '10MB'-style values;
    int() on those crashed q_join_3way's plan pick (r2 ADVICE). The
    parser must handle plain ints, k/m/g/t suffixes (±'b',
    case-insensitive), and fall back to -1 (broadcast disabled → the
    scale-safe aggregation-pushdown branch) on garbage."""
    from pipetree_spark.queries.joins import _parse_byte_conf

    assert _parse_byte_conf("10485760") == 10485760
    assert _parse_byte_conf("-1") == -1
    assert _parse_byte_conf("10MB") == 10 * 1024**2
    assert _parse_byte_conf("10m") == 10 * 1024**2
    assert _parse_byte_conf("512K") == 512 * 1024
    assert _parse_byte_conf("1g") == 1024**3
    assert _parse_byte_conf("2tb") == 2 * 1024**4
    assert _parse_byte_conf("  64kb ") == 64 * 1024
    assert _parse_byte_conf("nonsense") == -1


@pytest.mark.slow
def test_load_table_events_us_and_ntz_encodings(spark, tmp_path):
    """catalog.load_table's events branch must yield identical
    ts/ts_ns/ts_sec for all three generator encodings: int64-ns (what
    nanosAsLong produces from TIMESTAMP(NANOS) — the only encoding in
    current testdata), plain µs TIMESTAMP, and TIMESTAMP_NTZ. The
    non-Long branch never executes against today's testdata, so a typo
    there would only surface on a future generator change — this pins
    it (r4 ADVICE)."""
    from pyspark.sql import types as T

    from pipetree_spark.catalog import load_table

    ns_vals = [1704067200123456000, 1706655600000000000]  # 2024-01-01, 2024-01-30
    base = [
        (i, ns, 7 * i, "click", 1.5 * i, "{}") for i, ns in enumerate(ns_vals)
    ]
    long_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    raw = spark.createDataFrame(base, long_schema)
    variants = {
        "ns": raw,  # int64 column → the LongType nanosAsLong branch
        "us": raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))),
        "ntz": raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        ),
    }
    got = {}
    for tag, df in variants.items():
        sf_dir = str(tmp_path / tag)
        df.coalesce(1).write.parquet(f"{sf_dir}/events.parquet")
        out = load_table(spark, sf_dir, "events")
        assert [f.name for f in out.schema.fields[:6]] == [
            "event_id", "ts", "user_id", "event_type", "value", "props",
        ]
        assert isinstance(out.schema["ts"].dataType, T.TimestampType)
        got[tag] = sorted(
            (r.event_id, r.ts, r.ts_ns, r.ts_sec) for r in out.collect()
        )
    assert got["ns"] == got["us"] == got["ntz"]
    # exact integer columns, not float-derived
    assert [r[2] for r in got["ns"]] == ns_vals
    assert [r[3] for r in got["ns"]] == [ns // 10**9 for ns in ns_vals]


def test_default_driver_memory_fits_the_host(monkeypatch):
    import os

    from pipetree_spark.session import default_driver_memory

    monkeypatch.setenv("PIPETREE_SPARK_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"
    monkeypatch.delenv("PIPETREE_SPARK_DRIVER_MEM")
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    mb = int(default_driver_memory().removesuffix("m"))
    assert 0 < mb <= min(16 << 10, phys_mb // 2)
