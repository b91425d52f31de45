"""Stage timeout/retry policy (plans.stage_policy): retry-then-succeed,
retry-then-fail with full attempt history, REAL Spark-job cancellation on
timeout, and the drivers recording attempt rows into their logs.
"""

from __future__ import annotations

import time

import pytest

from retail_sales_etl_pipeline_spark.plans.stage_policy import (
    StageFailure,
    StagePolicy,
    run_stage,
)

SF = "/root/testdata/sf0.001"


def test_transient_failure_retries_then_succeeds(spark):
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError(f"transient #{calls['n']}")
        return "ok"

    attempts = []
    out = run_stage(spark, "flaky", flaky, StagePolicy(retries=2),
                    attempts_out=attempts)
    assert out == "ok"
    assert [a.status for a in attempts] == ["failed", "failed", "success"]
    assert [a.attempt for a in attempts] == [1, 2, 3]
    assert all(a.stage_name == "flaky" for a in attempts)


def test_exhausted_retries_raise_with_history(spark):
    attempts = []
    with pytest.raises(StageFailure) as ei:
        run_stage(spark, "doomed",
                  lambda: (_ for _ in ()).throw(RuntimeError("boom")),
                  StagePolicy(retries=2), attempts_out=attempts)
    assert len(attempts) == 3
    assert all(a.status == "failed" for a in attempts)
    assert ei.value.attempts == attempts
    assert "doomed" in str(ei.value)


def test_timeout_cancels_real_spark_job(spark):
    """A stage whose Spark job outlives the deadline must be CANCELLED
    through its job group (executors stop, the thunk raises) and
    recorded as a timeout attempt — then retried. The second attempt's
    thunk is fast and succeeds."""
    calls = {"n": 0}

    def stage():
        calls["n"] += 1
        if calls["n"] == 1:
            def slow(batches):
                import time as _t

                for pdf in batches:
                    _t.sleep(60)
                    yield pdf

            df = spark.range(0, 8, 1, 8)
            df.mapInPandas(slow, "id long").write.format("noop").mode(
                "overwrite"
            ).save()
        return "fast"

    attempts = []
    t0 = time.time()
    out = run_stage(spark, "hung", stage, StagePolicy(timeout_s=5, retries=1),
                    attempts_out=attempts)
    wall = time.time() - t0
    assert out == "fast"
    assert [a.status for a in attempts] == ["timeout", "success"]
    # the 60s sleep was genuinely cancelled, not waited out
    assert wall < 45


def test_timeout_cancels_pool_thread_spark_job(spark, tmp_path, monkeypatch):
    """The retail driver writes its three dims from pool threads. Their
    jobs must run in the dim_upserts stage's job group, so the deadline
    cancels them instead of waiting out a 60s task."""
    from retail_sales_etl_pipeline_spark.plans import retail_pipeline

    from .retail_fixture import fixture_path

    def slow_dim(staging, existing):
        def slow(batches):
            import time as _t

            for pdf in batches:
                _t.sleep(60)
                yield pdf

        return spark.range(0, 4, 1, 4).mapInPandas(slow, "id long")

    monkeypatch.setattr(retail_pipeline, "load_dim_date", slow_dim)
    csv_path, _ = fixture_path(str(tmp_path))
    with pytest.raises(StageFailure) as ei:
        retail_pipeline.run(spark, csv_path, str(tmp_path / "wh"), min_rows=10,
                            policy=StagePolicy(timeout_s=10, retries=0))
    dims = [a for a in ei.value.attempts if a.stage_name == "dim_upserts"]
    assert [a.status for a in dims] == ["timeout"]
    # the pool thread's 60s sleep was cancelled, not waited out
    assert dims[0].seconds < 45
    # the failed run is recorded with its timed-out attempt
    (run,) = spark.read.parquet(str(tmp_path / "wh" / "pipeline_runs")).collect()
    assert run.status == "failed" and "dim_upserts" in run.notes
    logged = spark.read.parquet(str(tmp_path / "wh" / "stage_attempts")).collect()
    assert (run.run_id, "dim_upserts", "timeout") in {
        (r.run_id, r.stage_name, r.status) for r in logged
    }


def test_curation_driver_logs_attempts(spark, tmp_path):
    from retail_sales_etl_pipeline_spark.plans import curation_pipeline

    out = str(tmp_path / "wh")
    res = curation_pipeline.run(spark, SF, out)
    assert {a.stage_name for a in res.stage_attempts} == {
        "curate_materialize", "neardup_components", "component_split_write",
    }
    assert all(a.status == "success" for a in res.stage_attempts)

    logged = spark.read.parquet(f"{out}/stage_attempts").collect()
    assert {(r.stage_name, r.attempt, r.status) for r in logged} == {
        (a.stage_name, a.attempt, a.status) for a in res.stage_attempts
    }
    assert all(r.run_id == res.run_id for r in logged)


def test_curation_failure_outside_a_stage_is_recorded(spark, tmp_path, monkeypatch):
    """A curation run that fails after its stages, in the stage-size
    read-back, still leaves one failed run row carrying the error, and the
    attempts of the stages it ran under that run_id."""
    from retail_sales_etl_pipeline_spark.plans import curation_pipeline

    def broken_read(*args, **kwargs):
        raise OSError("documents unreadable")

    monkeypatch.setattr(curation_pipeline, "load_table", broken_read)
    out = str(tmp_path / "wh")
    with pytest.raises(OSError, match="documents unreadable"):
        curation_pipeline.run(spark, SF, out)
    (run,) = spark.read.parquet(f"{out}/pipeline_runs").collect()
    assert run.status == "failed"
    assert run.notes == f"sf_dir={SF}; OSError: documents unreadable"
    logged = spark.read.parquet(f"{out}/stage_attempts").collect()
    assert {(r.run_id, r.stage_name, r.status) for r in logged} == {
        (run.run_id, stage, "success")
        for stage in ("curate_materialize", "neardup_components", "component_split_write")
    }
