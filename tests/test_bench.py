"""bench.py's measurement primitive and section error records."""

from __future__ import annotations

RUN_KEYS = {
    "build_s", "eager_jobs", "run_s", "jobs", "stages", "tasks", "cpu_s",
    "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mem_mb",
    "spill_disk_mb", "input_rows",
}


def test_timed_record_shape(spark, monkeypatch):
    import bench

    assert bench.SCALE100_RERUN_CAP_S == 90.0

    def grouped():
        return spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()

    def build():
        spark.range(1000).count()  # an eager job while constructing
        return grouped()

    t = bench._timed(spark, build, 2, "test:grouped")
    plain = bench._timed(spark, grouped, 1, "test:plain")["runs"][0]
    assert len(t["runs"]) == 2
    for r in t["runs"]:
        assert set(r) == RUN_KEYS
        # the eager count's jobs are the build's, not the write's
        assert r["eager_jobs"] >= 1 and plain["eager_jobs"] == 0
        assert r["jobs"] == plain["jobs"] >= 1
        assert r["stages"] >= 2 and r["tasks"] >= 1
        assert r["input_rows"] == 1000
        assert r["build_s"] > 0 and r["run_s"] > 0
    assert t["best"] == min(r["run_s"] for r in t["runs"])
    assert t["build"] == min(r["build_s"] for r in t["runs"])

    # a first run at or over the cap is not repeated
    monkeypatch.setattr(bench, "SCALE100_RERUN_CAP_S", 0.0)
    assert len(bench._timed(spark, build, 3, "test:capped")["runs"]) == 1


def test_section_records_the_failure(capsys):
    from bench import _section

    def broken(x):
        raise ValueError(f"no table {x}")

    assert _section(broken, "lineitem") == {"error": "ValueError: no table lineitem"}
    assert "broken failed: ValueError: no table lineitem" in capsys.readouterr().err
    assert _section(lambda a, b: a + b, 1, 2) == 3
