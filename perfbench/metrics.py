"""Reduces the driver's per-call records (`ops.jsonl`) and run summary into
the end-to-end and per-layer metrics named in BENCHMARK.json."""

import statistics

APPEND_KINDS = ("ingest", "append", "slice")
MERGE_KINDS = ("merge", "scd2")
MB = 1024 * 1024


def median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def of(ops, cls=None, kinds=None):
    return [o for o in ops if (cls is None or o["cls"] == cls)
            and (kinds is None or o["kind"] in kinds)]


def end_to_end(workload, s, ops):
    units = of(ops, "unit")
    vals = {
        "setup_s": (s["setup_cpu_ms"] / 1000.0, "s"),
        "rows_per_cpu_s": (sum(o.get("queryable", 0) for o in units) / (s["timed_cpu_ms"] / 1000.0), "1/s"),
        "write_amp": (s["bytes_written"] / max(1, s["input_bytes"]), "ratio"),
        "space_amp": (s["bytes_on_disk"] / max(1, s["live_bytes"]), "ratio"),
        "heap_live_mb": (s["heap_live_bytes"] / MB, "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}


def per_layer(workload, s, ops):
    txn, reads = of(ops, "txn"), of(ops, "read")
    traced_calls = [o for o in txn + reads if "jobs" in o]

    def med(kinds, field="ms", src=None):
        return median([o[field] for o in (src or ops) if o["kind"] in kinds and field in o])

    def total(kinds, field, src=None):
        return sum(o.get(field, 0) for o in (src or ops) if o["kind"] in kinds)

    dml = of(txn, kinds=("merge", "update", "delete", "scd2"))
    changed = sum(o.get("h_numTargetRowsInserted", 0) + o.get("h_numTargetRowsUpdated", 0)
                  + o.get("h_numTargetRowsDeleted", 0) + o.get("h_numUpdatedRows", 0)
                  + o.get("h_numDeletedRows", 0) for o in dml)
    copied = sum(o.get("h_numTargetRowsCopied", 0) for o in dml)
    reads_with_files = [o for o in reads if "files_scanned" in o]
    live = sum(o["live_files"] for o in reads_with_files)
    triggers = of(ops, "step", ("trigger",))
    job_wall = sum(o.get("job_wall_ms", 0) for o in traced_calls)
    wall = sum(o["ms"] for o in traced_calls)
    vals = {
        "core.session_ms": (s["session_ms"], "ms"),
        "core.setup_wall_ms": (s["setup_ms"], "ms"),
        "core.timed_wall_ms": (s["timed_ms"], "ms"),
        "streaming.trigger_ms": (median([o["ms"] for o in triggers]), "ms"),
        "streaming.add_batch_ms": (median([o["add_batch_ms"] for o in triggers]), "ms"),
        "streaming.overhead_ms": (median([o["ms"] - o["add_batch_ms"] for o in triggers]), "ms"),
        "transform.silver_ms": (med(("silver",)), "ms"),
        "transform.scd2_ms": (med(("scd2",)), "ms"),
        "transform.scd2_rows_closed": (total(("scd2",), "rows_closed"), "count"),
        "analytics.gold_ms": (med(("gold",)), "ms"),
        "analytics.gold_rows": (total(("gold_read",), "scan_rows"), "count"),
        "migrate.slice_ms": (med(("slice",)), "ms"),
        "migrate.validate_ms": (med(("validate",)), "ms"),
        "table.append_ms": (med(APPEND_KINDS, src=txn), "ms"),
        "table.files_added": (sum(o.get("h_numAddedFiles", 0) for o in txn), "count"),
        "table.bytes_added": (sum(o.get("h_numAddedBytes", 0) for o in txn), "B"),
        "table.merge_ms": (med(MERGE_KINDS, src=txn), "ms"),
        "table.update_ms": (med(("update",), src=txn), "ms"),
        "table.delete_ms": (med(("delete",), src=txn), "ms"),
        "table.files_rewritten": (sum(o.get("h_numRemovedFiles", 0) for o in dml), "count"),
        "table.rows_copied_per_row_changed": (copied / changed if changed else 0.0, "ratio"),
        "table.read_ms": (med(("read", "gold_read"), src=reads), "ms"),
        "table.files_scanned_per_read": (
            median([o["files_scanned"] for o in reads_with_files]), "count"),
        "table.files_skipped_ratio": (
            1 - sum(o["files_scanned"] for o in reads_with_files) / live if live else 0.0, "ratio"),
        "table.time_travel_ms": (med(("time_travel",), src=reads), "ms"),
        "table.cdf_ms": (med(("cdf",), src=reads), "ms"),
        "table.optimize_ms": (med(("optimize",), src=txn), "ms"),
        "table.optimize_bytes_rewritten": (total(("optimize",), "h_numAddedBytes", txn), "B"),
        "table.vacuum_ms": (med(("vacuum",), src=txn), "ms"),
        "table.vacuum_files_deleted": (total(("vacuum",), "files_deleted", txn), "count"),
        "log.commits": (sum(o.get("commits", 0) for o in txn), "count"),
        "log.snapshot_ms": (median([o["snapshot_ms"] for o in txn if o.get("commits")]), "ms"),
        "log.checkpoints": (s["checkpoints"], "count"),
        "log.checkpoint_bytes": (s["checkpoint_bytes"], "B"),
        "log.log_bytes": (s["log_bytes"], "B"),
        "log.live_files": (s["live_files"], "count"),
        "log.dv_count": (s["dv_count"], "count"),
        "spark.jobs_per_call": (
            sum(o["jobs"] for o in traced_calls) / len(traced_calls) if traced_calls else 0.0, "count"),
        "spark.tasks": (sum(o.get("tasks", 0) for o in traced_calls), "count"),
        "spark.task_ms": (sum(o.get("task_ms", 0) for o in traced_calls), "ms"),
        "spark.job_wall_ms": (job_wall, "ms"),
        "spark.driver_only_ms": (max(0.0, wall - job_wall), "ms"),
        "spark.input_bytes": (sum(o.get("input_bytes", 0) for o in traced_calls), "B"),
        "spark.shuffle_bytes": (sum(o.get("shuffle_bytes", 0) for o in traced_calls), "B"),
        "spark.output_bytes": (sum(o.get("output_bytes", 0) for o in traced_calls), "B"),
        "jvm.gc_ms": (s["gc_ms"], "ms"),
        "jvm.gc_count": (s["gc_count"], "count"),
        "jvm.heap_peak_mb": (s["heap_peak_bytes"] / MB, "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}
