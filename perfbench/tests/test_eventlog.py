"""The event-log parser on a real job over a t1-sized input (400 turns)."""
import math
import time

import eventlog
import run
import workloads


def test_every_job_metric_from_a_small_run(tmp_path):
    from pyspark import SparkContext

    from ocr_image_to_text_spark.jobs.extract_job import run_extract_job
    from ocr_image_to_text_spark.session import get_spark

    table = workloads.generate_table("mixed", 5).slice(0, 400)
    path = str(tmp_path / "in.parquet")
    workloads.write_parquet(table, path)
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    active = SparkContext._active_spark_context
    if active is not None:
        active.stop()
    spark = get_spark("perfbench-test", extra_conf={
        **run.host_conf(str(tmp_path / "work")), **eventlog.event_conf(str(log_dir))})
    try:
        t0 = time.time() * 1000
        summary = run_extract_job(spark, path, str(tmp_path / "out"),
                                  n_buckets=run.N_BUCKETS, wave_size=run.WAVE_SIZE)
        t1 = time.time() * 1000
    finally:
        spark.stop()
    assert summary["n_turns"] == table.num_rows

    m = eventlog.job_metrics(eventlog.read_events(str(log_dir)), t0, t1)
    expected = {k[len("extract_job."):] for k in run.PER_LAYER
                if k.startswith("extract_job.")} - {"resume_noop_s"}
    assert set(m) == expected
    assert all(math.isfinite(v) for v in m.values())
    assert abs(sum(m[k] for k in eventlog.LAYERS) - m["wall_s"]) <= 0.1 * m["wall_s"]
    for k in ("udf_stage_s", "rollup_write_s", "spans_write_s", "manifest_commit_s",
              "executor_cpu_s", "tasks", "shuffle_write_bytes",
              "arrow_bytes_to_python", "arrow_bytes_from_python"):
        assert m[k] > 0, k
    assert m["udf_task_skew"] >= 1 and m["write_task_skew"] >= 1
