"""bench.py's per-entry layers: each timed entry runs in its own span, and
its sidecar row splits the timed wall into build and materialize time and
carries the span's status-store counters."""

from __future__ import annotations

from conftest import SF_SMOKE

import bench
from airflow_etl_minio_to_postgres_spark import queries as registry
from perfbench.spans import Tracer

SIDECAR_KEYS = {
    "build_s", "materialize_s", "wall_s", "driver_s", "jobs", "tasks",
    "exec_cpu_s", "shuffle_write_bytes", "spill_bytes", "input_records",
    "output_bytes", "python_s", "python_bytes", "files_read",
}


def test_measure_records_each_entry_layers(spark):
    all_queries = registry.queries()
    tracer = Tracer(spark, enabled=True)
    tracker = spark.sparkContext.statusTracker()
    job_sets = []
    for name in ("all_account_balances", "clean_strings_customer"):
        wall, layers = bench.measure(
            spark, tracer, name, all_queries[name], SF_SMOKE
        )
        assert set(layers) == SIDECAR_KEYS, name
        assert layers["jobs"] >= 1, name
        assert abs(layers["build_s"] + layers["materialize_s"] - wall) <= 1e-3
        job_sets.append(set(tracker.getJobIdsForGroup(tracer.spans[-1].group)))
    assert all(job_sets) and not job_sets[0] & job_sets[1]
