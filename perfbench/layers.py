"""Per-layer metrics of a traced run, from its spans and the observations
the workloads made outside the timed region.

Each value is a median per call (or per pass), so it does not depend on how
many operations fit in the run.  A layer the workload does not exercise
reports 0.  Warm-up operations are left out."""

from __future__ import annotations

from stats import median


def _stage(spans, key, scale=1.0) -> float:
    return median(s.attrs.get(key, 0) for s in spans) * scale


def _wall(spans) -> float:
    return median(s.end - s.start for s in spans)


def per_layer(tracer, obs, session_start, warmup, prereq) -> dict:
    spans = tracer.spans
    warm = {
        i for i, s in enumerate(spans)
        if s.name.startswith("op.") and s.attrs.get("phase") == "warmup"
    }
    live = [s for s in spans if s.parent not in warm and s.attrs.get("phase") != "warmup"]

    def calls(*names):
        return [s for s in live if s.name in names]

    out = {
        "session.start_s": session_start,
        "session.warmup_s": warmup,
        "setup.prereq_s": median(prereq),
    }
    for key, values in obs.items():
        out[key] = median(values)

    extract = calls("pipeline.extract")
    if extract:
        rows = median(s.attrs["rows_out"] for s in extract)
        run_ms_per_doc = median(s.attrs["executor_run_ms"] / s.attrs["rows_out"] for s in extract)
        kernel = out.get("extract.kernel_ms_per_doc.pruned", 0.0)
        out.update({
            "pipeline.wall_s": _wall(extract),
            "pipeline.executor_run_s": _stage(extract, "executor_run_ms", 1e-3),
            "pipeline.executor_cpu_s": _stage(extract, "executor_cpu_ns", 1e-9),
            "pipeline.input_bytes": _stage(extract, "input_bytes"),
            "pipeline.rows_out": rows,
            "pipeline.tasks": _stage(extract, "tasks"),
            "pipeline.boundary_ms_per_doc": run_ms_per_doc - kernel,
        })

    cell, cent = calls("bucketed.cell_index"), calls("bucketed.centroid_index")
    if cell:
        both = cell + cent
        out.update({
            "bucketed.cell_index_s": _wall(cell),
            "bucketed.centroid_index_s": _wall(cent),
            "bucketed.shuffle_write_bytes": _stage(cell, "shuffle_write_bytes")
            + _stage(cent, "shuffle_write_bytes"),
            "bucketed.spill_bytes": median(
                s.attrs["memory_spill_bytes"] + s.attrs["disk_spill_bytes"] for s in both),
        })

    for op in ("bbox_overlap", "point_in_bbox", "knn", "tile_join"):
        js = calls(f"join.{op}")
        if not js:
            continue
        out.update({
            f"join.{op}.ms": _wall(js) * 1000.0,
            f"join.{op}.executor_cpu_s": _stage(js, "executor_cpu_ns", 1e-9),
            f"join.{op}.shuffle_read_bytes": _stage(js, "shuffle_read_bytes"),
            f"join.{op}.spill_bytes": median(
                s.attrs["memory_spill_bytes"] + s.attrs["disk_spill_bytes"] for s in js),
            f"join.{op}.jobs": _stage(js, "jobs"),
            f"join.{op}.rows_out": _stage(js, "rows_out"),
            f"join.{op}.max_task_over_median": _stage(js, "max_task_over_median"),
        })

    selfs = tracer.self_times()
    ops = [i for i, s in enumerate(spans) if s.name.startswith("op.")]
    timed = [i for i in ops if spans[i].attrs["phase"] == "timed"]
    out["trace.overhead_ms_per_op"] = tracer.bookkeeping_s * 1000.0 / max(1, len(ops))
    out["harness.self_ms_per_op"] = median(selfs[i] for i in timed) * 1000.0
    return out
