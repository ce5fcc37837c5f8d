"""Per-layer metrics of a traced run, derived from its spans.

Span names are ``<layer prefix>.<call>``; window spans come from the
measured operations, probe spans from the layer-isolation calls made after
the window (the state-chunk codec on both workloads, the downsample steps
on ``pipeline``). A layer the workload does not call reports 0.
"""

from __future__ import annotations

# name -> (unit, better); the order is the order of BENCHMARK.json
PER_LAYER = {
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.core_busy_frac": ("fraction", "higher"),
    "spark.driver_wait_s": ("s", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.shuffle_write_s": ("s", "lower"),
    "jvm.gc_s": ("s", "lower"),
    "sources.scan_s": ("s", "lower"),
    "sources.files_read": ("count", "lower"),
    "sources.bytes_read": ("bytes", "lower"),
    "sources.rows_scanned": ("count", "lower"),
    "sources.rows_scanned_per_row_returned": ("ratio", "lower"),
    "rollup.s": ("s", "lower"),
    "rollup.rows_in": ("count", "lower"),
    "rollup.rows_out": ("count", "lower"),
    "rollup.shuffle_bytes": ("bytes", "lower"),
    **{f"downsample.s.{t}": ("s", "lower") for t in ("hour", "day", "week")},
    **{f"downsample.rows_out.{t}": ("count", "lower") for t in ("hour", "day", "week")},
    "gapfill.s": ("s", "lower"),
    "gapfill.rows_out": ("count", "lower"),
    "gapfill.fill_ratio": ("fraction", "lower"),
    "kernels.fit_s": ("s", "lower"),
    "kernels.groups": ("count", "higher"),
    "kernels.python_total_ms": ("ms", "lower"),
    "kernels.python_boot_ms": ("ms", "lower"),
    "kernels.python_init_ms": ("ms", "lower"),
    "kernels.arrow_bytes_sent": ("bytes", "lower"),
    "kernels.arrow_bytes_received": ("bytes", "lower"),
    "codec.encode_s": ("s", "lower"),
    "codec.decode_s": ("s", "lower"),
    "codec.points_encoded": ("count", "higher"),
    "codec.chunks": ("count", "lower"),
    "codec.bytes_out": ("bytes", "lower"),
    "codec.points_decoded": ("count", "higher"),
    "codec.decoded_per_returned": ("ratio", "lower"),
    **{f"retention.materialize_s.{t}": ("s", "lower") for t in ("minute", "hour", "day", "week")},
    "retention.parity_s": ("s", "lower"),
    "retention.expire_s": ("s", "lower"),
    "retention.partitions_written": ("count", "lower"),
    "retention.partitions_expired": ("count", "higher"),
    "retention.files_written": ("count", "lower"),
    "retention.bytes_written": ("bytes", "lower"),
    "retention.sql_executions": ("count", "lower"),
    "lineage.generations_written": ("count", "lower"),
    "streaming.upsert_s": ("s", "lower"),
    "streaming.rows_in": ("count", "higher"),
    "streaming.partitions_rewritten": ("count", "lower"),
    "streaming.write_amplification": ("ratio", "lower"),
    "trace.overhead_frac": ("fraction", "lower"),
}


def _subtree(spans: list[dict], root_pred) -> list[dict]:
    """Spans matching ``root_pred`` plus all their descendants."""
    by_parent: dict = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    out, todo = [], [s for s in spans if root_pred(s)]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(by_parent.get(s["id"], []))
    return out


def _sum(spans, section: str, key: str) -> float:
    return sum(s[section].get(key, 0) for s in spans)


def _count(spans, key: str) -> float:
    return sum(s["counts"].get(key, 0) for s in spans)


def _wall(spans, pred) -> float:
    return sum(s["wall_s"] for s in spans if pred(s))


def per_layer(spans: list[dict], cores: int, overhead_frac: float) -> dict:
    window = [s for s in spans if s["phase"] == "window"]
    top = [s for s in window if s["parent"] is None]
    top_wall = sum(s["wall_s"] for s in top) or float("nan")
    named = lambda prefix: [s for s in spans if s["name"].startswith(prefix)]  # noqa: E731
    layer = lambda name: [s for s in window if s["layer"] == name]  # noqa: E731
    m = {
        "spark.jobs": sum(s["jobs"] for s in window),
        "spark.stages": _sum(window, "stage", "stages"),
        "spark.tasks": _sum(window, "stage", "tasks"),
        "spark.executor_run_s": _sum(window, "stage", "executor_run_s"),
        "spark.executor_cpu_s": _sum(window, "stage", "executor_cpu_s"),
        "spark.core_busy_frac": _sum(window, "stage", "executor_run_s") / (top_wall * cores),
        "spark.driver_wait_s": sum(s["driver_wait_s"] for s in window),
        "spark.shuffle_write_bytes": _sum(window, "stage", "shuffle_write_bytes"),
        "spark.shuffle_write_s": _sum(window, "stage", "shuffle_write_s"),
        "jvm.gc_s": _sum(window, "stage", "gc_s"),
        "sources.scan_s": _sum(window, "sql", "scan_ms") / 1e3,
        "sources.files_read": _sum(window, "sql", "scan_files"),
        "sources.bytes_read": _sum(window, "stage", "input_bytes"),
        "sources.rows_scanned": _sum(window, "stage", "input_records"),
    }
    returning = [s for s in window if "rows_returned" in s["counts"]]
    returned = _count(returning, "rows_returned")
    m["sources.rows_scanned_per_row_returned"] = (
        _sum(returning, "stage", "input_records") / returned if returned else 0.0
    )
    m["codec.decoded_per_returned"] = (
        _sum(returning, "sql", "py_rows_out") / returned if returned else 0.0
    )

    rollup = layer("operators.rollup")
    m |= {
        "rollup.s": _wall(rollup, lambda s: True),
        "rollup.rows_in": _sum(rollup, "stage", "input_records"),
        "rollup.rows_out": _count(rollup, "rows_out"),
        "rollup.shuffle_bytes": _sum(rollup, "stage", "shuffle_write_bytes"),
    }
    for t in ("hour", "day", "week"):
        spans_t = named(f"downsample.{t}")
        m[f"downsample.s.{t}"] = _wall(spans_t, lambda s: True)
        m[f"downsample.rows_out.{t}"] = _count(spans_t, "rows_out")

    gap = layer("operators.gapfill")
    rows_out = _count(gap, "rows_out")
    m |= {
        "gapfill.s": _wall(gap, lambda s: True),
        "gapfill.rows_out": rows_out,
        "gapfill.fill_ratio": _count(gap, "filled") / rows_out if rows_out else 0.0,
    }

    kern = layer("kernels")
    m |= {
        "kernels.fit_s": _wall(kern, lambda s: s["name"].startswith("kernels.fit")),
        "kernels.groups": _count(kern, "groups"),
        "kernels.python_total_ms": _sum(kern, "sql", "py_total_ms"),
        "kernels.python_boot_ms": _sum(kern, "sql", "py_boot_ms"),
        "kernels.python_init_ms": _sum(kern, "sql", "py_init_ms"),
        "kernels.arrow_bytes_sent": _sum(kern, "sql", "py_bytes_sent"),
        "kernels.arrow_bytes_received": _sum(kern, "sql", "py_bytes_received"),
    }

    enc, dec = named("codec.encode"), named("codec.decode")
    m |= {
        "codec.encode_s": _wall(enc, lambda s: True),
        "codec.decode_s": _wall(dec, lambda s: True),
        "codec.points_encoded": _count(enc, "points_encoded"),
        "codec.chunks": _count(enc, "chunks"),
        "codec.bytes_out": _count(enc, "bytes_out"),
        "codec.points_decoded": _count(dec, "points_decoded"),
    }

    for t in ("minute", "hour", "day", "week"):
        m[f"retention.materialize_s.{t}"] = _wall(window, lambda s: s["name"] == f"retention.materialize.{t}")
    m |= {
        "retention.parity_s": _wall(window, lambda s: s["name"] == "retention.verify_tier_parity"),
        "retention.expire_s": _wall(window, lambda s: s["name"] == "retention.retention_pass"),
        "retention.partitions_written": _count(window, "partitions_written"),
        "retention.partitions_expired": _count(window, "partitions_expired"),
        "retention.files_written": _sum(window, "sql", "files_written"),
        "retention.bytes_written": _sum(window, "sql", "bytes_written"),
        "retention.sql_executions": sum(s["executions"] for s in layer("operators.retention")),
        "lineage.generations_written": _count(window, "generations_written"),
    }

    ups = [s for s in window if s["name"] == "streaming.ingest_to_store"]
    ups_tree = _subtree(window, lambda s: s["name"] == "streaming.ingest_to_store")
    new_bytes = _count(ups, "new_bytes")
    m |= {
        "streaming.upsert_s": _wall(ups, lambda s: True),
        "streaming.rows_in": _count(ups, "rows_in"),
        "streaming.partitions_rewritten": _count(ups_tree, "partitions_rewritten"),
        "streaming.write_amplification": (
            _sum(ups_tree, "sql", "bytes_written") / new_bytes if new_bytes else 0.0
        ),
        "trace.overhead_frac": overhead_frac,
    }
    if set(m) != set(PER_LAYER):
        raise KeyError(f"per-layer metrics out of step with PER_LAYER: {set(m) ^ set(PER_LAYER)}")
    return {k: {"value": float(m[k]), "unit": PER_LAYER[k][0]} for k in PER_LAYER}
