"""Per-layer metrics of the traced run, and what each should move.

A layer is a library function the benchmark calls (named
``<module>.<function>``); its metrics come from the spans around those
calls and from Spark's status store. Additive fields are means per
call; ``*_share`` and ``*_per_*`` fields are ratios of totals. A traced
run reports every metric listed here; layers its workload does not call
read 0. Run this file to print the ``per_layer`` list of BENCHMARK.json.
"""

from __future__ import annotations

import json

UNITS = {
    "wall_s": "s", "driver_s": "s", "executor_run_s": "s", "batch_s": "s",
    "jobs": "count", "tasks": "count", "batches": "count", "input_rows": "count",
    "dup_rows_dropped": "count", "rows_returned": "count", "docs_kept": "count",
    "docs_dropped": "count", "pairs_verified": "count", "buckets_rewritten": "count",
    "store.events_files_added": "count", "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes", "input_bytes": "bytes", "output_bytes": "bytes",
    "store.events_bytes_written": "bytes", "store.index_bytes_written": "bytes",
    "store.counter_bytes_written": "bytes", "driver_share": "ratio",
    "rows_examined_per_row_returned": "ratio", "store_bytes_read_per_input_byte": "ratio",
}
#: outcome counts; every other field is a cost (lower is better)
HIGHER_BETTER = {"rows_returned", "docs_kept", "docs_dropped", "pairs_verified",
                 "input_rows", "dup_rows_dropped", "buckets_rewritten"}

_READ = ["wall_s", "driver_s", "driver_share", "jobs", "executor_run_s",
         "rows_returned", "rows_examined_per_row_returned"]
_SCAN = ["wall_s", "driver_s", "jobs", "tasks", "executor_run_s",
         "shuffle_write_bytes", "spill_bytes", "input_bytes"]
_DEDUP = ["wall_s", "driver_s", "jobs", "tasks", "executor_run_s", "shuffle_write_bytes"]

#: (layer, fields, workload, end-to-end metrics the layer should move)
LAYERS = [
    ("eventstore.append_commits_df",
     ["wall_s", "driver_s", "jobs", "tasks", "executor_run_s", "shuffle_write_bytes",
      "store.events_bytes_written", "store.index_bytes_written",
      "store.counter_bytes_written", "store.events_files_added"],
     "ingest_read", "cycle_s, stored_bytes_per_user_byte (ingest_events_per_s); "
     "events_files_added also moves the point-read p50s"),
    ("ingest.stream_ingest",
     ["wall_s", "batches", "batch_s", "input_rows", "dup_rows_dropped",
      "store_bytes_read_per_input_byte", "executor_run_s"],
     "ingest_read", "cycle_s (redelivery_events_per_s)"),
    ("eventstore.delete_df", ["wall_s", "output_bytes"],
     "ingest_read", "cycle_s (maintenance_s)"),
    ("eventstore.optimize_buckets", ["wall_s", "output_bytes", "buckets_rewritten"],
     "ingest_read", "cycle_s (maintenance_s)"),
    ("eventstore.compact", ["wall_s", "output_bytes", "buckets_rewritten"],
     "ingest_read", "cycle_s (maintenance_s), stored_bytes_per_user_byte"),
    ("eventstore.load_aggregate", _READ, "ingest_read",
     "call_p50_ms, cycle_s (load_aggregate_p50_ms); replay_dedup should not move"),
    ("eventstore.load_with_paging", _READ, "ingest_read",
     "call_p50_ms, cycle_s (load_page_p50_ms); replay_dedup should not move"),
    ("eventstore.load_event_raw", _READ, "ingest_read",
     "call_p50_ms, cycle_s (load_event_p50_ms); replay_dedup should not move"),
    ("index.get_paged", _READ, "ingest_read",
     "call_p50_ms, cycle_s (index_page_p50_ms); replay_dedup should not move"),
    ("counters.get_count", _READ, "ingest_read",
     "call_p50_ms, cycle_s (counter_get_p50_ms); replay_dedup should not move"),
    ("eventstore.replay", _SCAN, "replay_dedup",
     "cycle_s (replay_window_events_per_s); ingest_read should not move"),
    ("eventstore.replay_grouped", _SCAN, "replay_dedup",
     "cycle_s (replay_grouped_commits_per_s); ingest_read should not move"),
    ("index.records", _SCAN, "replay_dedup",
     "cycle_s (index_records_rows_per_s); ingest_read should not move"),
    ("eventstore.replay_by_event_type", _SCAN, "replay_dedup",
     "cycle_s (replay_by_type_events_per_s); ingest_read should not move"),
    ("text_index.build", _DEDUP + ["docs_kept"], "replay_dedup",
     "setup_s; ingest_read should not move"),
    ("text_index.append_unique", _DEDUP + ["docs_kept", "docs_dropped"], "replay_dedup",
     "cycle_s (dedup_ingest_docs_per_s); ingest_read should not move"),
    ("dedup.minhash_lsh_pairs", _DEDUP + ["pairs_verified"], "replay_dedup",
     "cycle_s (near_dup_scan_docs_per_s); ingest_read should not move"),
]

#: whole-workload metrics: (name, unit, better)
WHOLE = [
    ("spark.executor_busy_share", "ratio", "higher"),
    ("spark.driver_share", "ratio", "lower"),
    ("spark.gc_share", "ratio", "lower"),
    ("maintenance.store.events_files_before", "count", "lower"),
    ("maintenance.store.events_files_after", "count", "lower"),
    ("maintenance.store.fragmented_buckets_before", "count", "lower"),
    ("maintenance.store.fragmented_buckets_after", "count", "lower"),
    ("setup.jvm_s", "s", "lower"),
    ("setup.generate_s", "s", "lower"),
    ("setup.build_s", "s", "lower"),
    ("setup.warmup_s", "s", "lower"),
    ("bench.cycle.self_s", "s", "lower"),
    ("trace.overhead_cycle_s", "s", "lower"),
    ("trace.overhead_call_p50_ms", "ms", "lower"),
]

RATIOS = {
    "driver_share": ("driver_s", "wall_s"),
    "rows_examined_per_row_returned": ("input_records", "rows_returned"),
    "store_bytes_read_per_input_byte": ("input_bytes", "source_bytes"),
}


def per_layer_spec() -> list[dict]:
    out = [
        {"name": f"{layer}.{f}", "unit": UNITS[f],
         "better": "higher" if f in HIGHER_BETTER else "lower"}
        for layer, fields, _, _ in LAYERS for f in fields
    ]
    out += [{"name": n, "unit": u, "better": b} for n, u, b in WHOLE]
    return out


def layer_values(totals: dict[str, dict[str, float]]) -> dict[str, float]:
    """Per-layer metric values from ``Recorder.layer_totals()``."""
    out = {}
    for layer, fields, _, _ in LAYERS:
        tot = totals.get(layer, {})
        calls = tot.get("calls", 0)
        for f in fields:
            if f in RATIOS:
                num, den = RATIOS[f]
                v = tot.get(num, 0) / tot[den] if tot.get(den) else 0.0
            else:
                v = tot.get(f, 0) / calls if calls else 0.0
            out[f"{layer}.{f}"] = v
    return out


if __name__ == "__main__":
    spec = per_layer_spec()
    if len(spec) > 128:
        raise SystemExit(f"{len(spec)} per-layer metrics; the manifest allows 128")
    print(json.dumps(spec, indent=2))
