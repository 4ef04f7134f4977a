"""What each per-layer metric should move. Names, units, directions and
bounds live only in ``BENCHMARK.json`` (read by ``metrics``); ``MOVES``
adds, for each per-layer metric, the end-to-end metrics it should move, on
which workload, and where it should stay unchanged.
"""

from __future__ import annotations

import json
import os

from perfbench.workloads import TAIL

BENCHMARK_JSON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def metrics() -> tuple[dict, dict]:
    """The end-to-end and the per-layer metrics of ``BENCHMARK.json``, each
    a dict from name to its entry (name, unit, better and, end-to-end only,
    bound)."""
    with open(BENCHMARK_JSON) as fh:
        bench = json.load(fh)
    return ({m["name"]: m for m in bench["end_to_end"]},
            {m["name"]: m for m in bench["per_layer"]})


ALL = "estimate, curate, snapshot"
_EST, _CUR, _SNAP = "estimate", "curate", "snapshot"
_REQ = f"request_ms_p50, request_ms_p{TAIL}"
_BULK = "none (one query_batch call per run; no end-to-end counterpart)"

# name: (moves these end-to-end metrics, on workload, unchanged on)
MOVES = {
    "session.start_s": ("setup_s", ALL, ""),
    "sources.load_s": ("setup_s", ALL, ""),
    "workload.generate_s": ("setup_s", _EST, "curate, snapshot"),
    "estimators.oracle_s": ("setup_s", _EST, "curate, snapshot"),
    "encoding.fit_s": ("batch_s", _EST, "curate, snapshot"),
    "encoding.jobs": ("batch_s", _EST, "curate, snapshot"),
    "model.fit_s": ("batch_s", _EST, "curate, snapshot"),
    "model.fit_jobs": ("batch_s", _EST, "curate, snapshot"),
    "model.fit_driver_cpu_s": ("batch_s", _EST, "curate, snapshot"),
    "model.forward_ms_per_query": (_REQ, _EST, "curate, snapshot"),
    "model.forward_calls_per_query": (_REQ, _EST, "curate, snapshot"),
    "estimators.psample_self_ms_per_query": (_REQ, _EST, "curate, snapshot"),
    "estimators.driver_cpu_ms_per_query": (_REQ, _EST, "curate, snapshot"),
    "estimators.batch_qps": (_BULK, _EST, "curate, snapshot"),
    "estimators.batch_speedup": (_BULK, _EST, "curate, snapshot"),
    "estimators.qerror_mean": ("none (estimate quality)", _EST, "curate, snapshot"),
    "estimators.qerror_p50": ("none (information)", _EST, "curate, snapshot"),
    "estimators.qerror_p95": ("none (information)", _EST, "curate, snapshot"),
    "estimators.qerror_p99": ("none (information)", _EST, "curate, snapshot"),
    "estimators.qerror_max": ("none (information)", _EST, "curate, snapshot"),
}
for _call in ("exact_dedup", "minhash_lsh_pairs", "connected_components"):
    MOVES.update({
        f"pipeline.dedup.{_call}_s": ("batch_s", _CUR, "estimate, snapshot"),
        f"pipeline.dedup.{_call}.jobs": ("batch_s", _CUR, "estimate, snapshot"),
        f"pipeline.dedup.{_call}.stages": ("batch_s", _CUR, "estimate, snapshot"),
        f"pipeline.dedup.{_call}.shuffle_write_bytes": ("batch_s", _CUR, "estimate, snapshot"),
    })
MOVES.update({
    "pipeline.dedup.pairs": ("none (output size)", _CUR, "estimate, snapshot"),
    "pipeline.dedup.components": ("none (output size)", _CUR, "estimate, snapshot"),
    "retrieval.build_s": ("batch_s", _CUR, "estimate, snapshot"),
    "retrieval.build_jobs": ("batch_s", _CUR, "estimate, snapshot"),
    "retrieval.search_jobs_per_query": (_REQ, _CUR, "estimate, snapshot"),
    "retrieval.search_driver_only_ms": (_REQ, _CUR, "estimate, snapshot"),
    "retrieval.search_input_bytes_per_query": ("request_ms_p50", _CUR, "estimate, snapshot"),
})
for _call, _moves in (("write_snapshot", "batch_s"), ("merge_into_snapshot", "batch_s"),
                      ("delete_from_snapshot", "batch_s"),
                      ("read_snapshot_where", _REQ),
                      ("maintain_snapshot", "none (one call per run)")):
    MOVES.update({
        f"sinks.{_call}_ms_p50": (_moves, _SNAP, "estimate, curate"),
        f"sinks.{_call}_jobs_per_call": (_moves, _SNAP, "estimate, curate"),
    })
MOVES.update({
    "sinks.files_per_commit": ("batch_s", _SNAP, "estimate, curate"),
    "sinks.bytes_on_disk_per_user_byte": ("none (storage size)", _SNAP, "estimate, curate"),
    "sinks.read_input_rows_per_result_row": (_REQ, _SNAP, "estimate, curate"),
    "sinks.merge_entries_pruned": ("batch_s", _SNAP, "estimate, curate"),
    "sinks.maintain_files_before": ("none (one call per run)", _SNAP, "estimate, curate"),
    "sinks.maintain_files_after": ("none (one call per run)", _SNAP, "estimate, curate"),
})
# Spark executor layer over each workload's timed phase; the estimate
# workload's only jobs there are the fits' encode-and-sample jobs.
_SPARK_MOVES = "batch_s, request_ms_p50"
for _name in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "driver_only_s"):
    MOVES[f"spark.{_name}"] = (_SPARK_MOVES, "curate, snapshot", "estimate")
MOVES.update({
    "host.probe_ms_pre": ("none (diagnostic)", ALL, ""),
    "host.probe_ms_post": ("none (diagnostic)", ALL, ""),
    "host.cpu_probe_ms_pre": ("none (diagnostic)", ALL, ""),
    "host.cpu_probe_ms_post": ("none (diagnostic)", ALL, ""),
    "host.cpus": ("none (diagnostic)", ALL, ""),
    "host.mem_gb": ("none (diagnostic)", ALL, ""),
})


def tags(name: str) -> dict:
    moves, on, unchanged = MOVES[name]
    return {"moves": moves, "on": on, "unchanged_on": unchanged}
