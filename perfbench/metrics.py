"""End-to-end and per-layer metrics from one harness result.

A harness result lists every timed op with its wall time, check outcome
and, for traced ops, the layer readings taken around it. Per-layer figures
are means per traced op unless the name says otherwise (a ratio, or a
per-family or per-query figure over that family's or query's ops).
"""
import re
import statistics

import workloads

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# (name, unit, better): the metrics of an untraced run, in BENCHMARK.json order
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("latency_p50_ms", "ms", "lower"),
    ("latency_tail_ms", "ms", "lower"),
    ("rss_peak_mb", "MB", "lower"),
    ("heap_live_mb", "MB", "lower"),
)

FAMILIES = tuple(sorted(set(workloads.CORPUS.values())))
FORMATS = workloads.EXPORT_FORMATS
SPATIAL_KINDS = ("box", "sphere", "cone")
REANCHOR_QUERIES = (("q33", "q33_ann_ivf"), ("q119", "q119_compressed_ann"))

PER_LAYER = (
    ("tables.opens", "count/op", "lower"),
    ("tables.open_ms", "ms/op", "lower"),
    ("tables.open_jobs", "count/op", "lower"),
    ("core.build_ms", "ms/op", "lower"),
    ("spatial.bound_ms", "ms/op", "lower"),
    ("units.convert_ms", "ms/op", "lower"),
    ("collections.link_ms", "ms/op", "lower"),
    ("spatial.rows_scanned", "rows/op", "lower"),
    ("spatial.rows_returned", "rows/op", "higher"),
    ("spatial.yield", "ratio", "higher"),
    ("queries.build_ms", "ms/op", "lower"),
    ("queries.build_jobs", "count/op", "lower"),
    *((f"operators.{f}_ms", "ms/op", "lower") for f in FAMILIES),
    ("catalyst.queries", "count/op", "lower"),
    ("catalyst.analysis_ms", "ms/op", "lower"),
    ("catalyst.optimization_ms", "ms/op", "lower"),
    ("catalyst.planning_ms", "ms/op", "lower"),
    ("plans.codegen_classes", "count/op", "lower"),
    ("plans.codegen_ms", "ms/op", "lower"),
    ("spark.jobs", "count/op", "lower"),
    ("spark.stages", "count/op", "lower"),
    ("spark.tasks", "count/op", "lower"),
    ("spark.job_ms", "ms/op", "lower"),
    ("spark.task_run_ms", "ms/op", "lower"),
    ("spark.task_cpu_ms", "ms/op", "lower"),
    ("spark.core_busy", "ratio", "higher"),
    ("spark.shuffle_read_bytes", "bytes/op", "lower"),
    ("spark.shuffle_write_bytes", "bytes/op", "lower"),
    ("spark.input_rows", "rows/op", "lower"),
    ("spark.spill_bytes", "bytes/op", "lower"),
    ("graftshim.snapshot_disk_bytes", "bytes/op", "lower"),
    ("driver.gap_ms", "ms/op", "lower"),
    ("io.write_ms", "ms/op", "lower"),
    ("io.read_ms", "ms/op", "lower"),
    ("io.bytes_written", "bytes/op", "lower"),
    ("io.files_written", "count/op", "lower"),
    *((f"io.{f}.{m}", u, "lower") for f in FORMATS
      for m, u in (("write_ms", "ms/op"), ("read_ms", "ms/op"), ("bytes_written", "bytes/op"))),
    ("io.write_mb_per_s", "MB/s", "higher"),
    ("io.read_mb_per_s", "MB/s", "higher"),
    ("io.bytes_written_per_user_byte", "ratio", "lower"),
    ("jvm.gc_ms", "ms/op", "lower"),
    ("trace.overhead_pct", "%", "lower"),
    ("reanchor.open_infer_ms", "ms", "lower"),
    ("reanchor.open_declared_ms", "ms", "lower"),
    ("reanchor.open_infer_jobs", "count", "lower"),
    ("reanchor.open_declared_jobs", "count", "lower"),
    *((f"reanchor.{q}_{m}", u, "lower") for q, _ in REANCHOR_QUERIES
      for m, u in (("ms", "ms"), ("jobs", "count"), ("build_jobs", "count"),
                   ("gap_share", "ratio"))),
)


def tail(values):
    """The highest percentile with at least ten samples beyond it.

    Of n sorted samples, x[n-11] is the highest with ten beyond; it sits at
    the 100*(n-10)/n percentile (nearest rank). Returns (value, percentile,
    samples beyond). Fewer than eleven samples have no such percentile.
    """
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        raise ValueError(f"{n} samples: no percentile has ten beyond it")
    return xs[n - 11], 100.0 * (n - 10) / n, 10


def _div(a, b):
    return a / b if b else 0.0


def end_to_end(result):
    """(metrics for the result line, extra figures for the report)."""
    ops = result["ops"]
    ms = [o["ms"] for o in ops]
    value, pct, beyond = tail(ms)
    m = {
        "setup_s": statistics.median(result["setup_ms"]) / 1000.0,
        "ops_per_s": len(ops) / (result["timed_ms"] / 1000.0),
        "latency_p50_ms": statistics.median(ms),
        "latency_tail_ms": value,
        "rss_peak_mb": result["rss_peak_kb"] / 1024.0,
        "heap_live_mb": result["heap_live_bytes"] / 2**20,
    }
    failed = sum(1 for o in ops if not o["ok"])
    report = {
        "fail_ratio": failed / len(ops),
        "latency_tail_pct": pct,
        "latency_tail_beyond": beyond,
        "latency_samples": len(ops),
        "setup_runs_s": [s / 1000.0 for s in result["setup_ms"]],
        "repeated_op_share": sum(1 for o in ops if o.get("repeat")) / len(ops),
        "cpu_steal_share": result.get("steal_share", 0.0),
        "check_s": sum(o.get("check_ms", 0.0) for o in ops) / 1000.0,
    }
    io = [o for o in ops if "write_ms" in o]
    if io:
        user = sum(o["user_bytes"] for o in io)
        report.update(
            write_mb_per_s=_div(user / 1e6, sum(o["write_ms"] for o in io) / 1000.0),
            read_mb_per_s=_div(user / 1e6, sum(o["read_ms"] for o in io) / 1000.0),
            bytes_written_per_user_byte=_div(sum(o["disk_bytes"] for o in io), user))
    return m, report


def per_layer(result):
    """Every PER_LAYER metric, from the traced ops of a traced run (every
    other op of each kind, starting with the first); a layer a workload
    never calls reads 0."""
    ops = result["ops"]
    on = [o for o in ops if o["traced"]]
    off = [o for o in ops if not o["traced"]]
    if not on:
        raise ValueError("no traced ops")
    n = len(on)

    def lay(o, k):
        return o["layers"].get(k, 0.0)

    def mean(k, sel=on):
        return _div(sum(lay(o, k) for o in sel), len(sel))

    m = {
        "tables.opens": mean("tables.open.spans"),
        "tables.open_ms": mean("tables.open.span_ms"),
        "tables.open_jobs": mean("tables.open_jobs"),
        "core.build_ms": mean("core.build.span_ms"),
        "spatial.bound_ms": mean("spatial.bound.span_ms"),
        "units.convert_ms": mean("units.convert.span_ms"),
        "collections.link_ms": mean("collections.link.span_ms"),
        "queries.build_ms": mean("queries.build.span_ms"),
        "queries.build_jobs": mean("queries.build_jobs"),
        "driver.gap_ms": mean("driver.gap_ms"),
        "jvm.gc_ms": mean("jvm.gc_ms"),
    }
    for k in ("catalyst.queries", "catalyst.analysis_ms", "catalyst.optimization_ms",
              "catalyst.planning_ms", "plans.codegen_classes", "plans.codegen_ms",
              "spark.jobs", "spark.stages", "spark.tasks", "spark.job_ms",
              "spark.task_run_ms", "spark.task_cpu_ms", "spark.shuffle_read_bytes",
              "spark.shuffle_write_bytes", "spark.input_rows", "spark.spill_bytes",
              "graftshim.snapshot_disk_bytes"):
        m[k] = mean(k)
    m["spark.core_busy"] = _div(sum(lay(o, "spark.task_run_ms") for o in on),
                                sum(lay(o, "spark.job_ms") for o in on) * result["cores"])

    spatial = [o for o in on if o["kind"] in SPATIAL_KINDS]
    scanned = sum(lay(o, "spatial.rows_scanned") for o in spatial)
    returned = sum(o["rows"] for o in spatial)
    m["spatial.rows_scanned"] = _div(scanned, len(spatial))
    m["spatial.rows_returned"] = _div(returned, len(spatial))
    m["spatial.yield"] = _div(returned, scanned)

    for f in FAMILIES:
        fam = [o for o in on if f"operators.{f}.spans" in o["layers"]]
        m[f"operators.{f}_ms"] = mean(f"operators.{f}.span_ms", fam)

    io = [o for o in on if "write_ms" in o]
    m["io.write_ms"] = _div(sum(o["write_ms"] for o in io), n)
    m["io.read_ms"] = _div(sum(o["read_ms"] for o in io), n)
    m["io.bytes_written"] = _div(sum(o["disk_bytes"] for o in io), n)
    m["io.files_written"] = _div(sum(o["files"] for o in io), n)
    for f in FORMATS:
        fo = [o for o in io if o["format"] == f]
        m[f"io.{f}.write_ms"] = _div(sum(o["write_ms"] for o in fo), len(fo))
        m[f"io.{f}.read_ms"] = _div(sum(o["read_ms"] for o in fo), len(fo))
        m[f"io.{f}.bytes_written"] = _div(sum(o["disk_bytes"] for o in fo), len(fo))
    user = sum(o["user_bytes"] for o in io)
    m["io.write_mb_per_s"] = _div(user / 1e6, sum(o["write_ms"] for o in io) / 1000.0)
    m["io.read_mb_per_s"] = _div(user / 1e6, sum(o["read_ms"] for o in io) / 1000.0)
    m["io.bytes_written_per_user_byte"] = _div(sum(o["disk_bytes"] for o in io), user)

    # Tracing alternates within each kind; comparing per-kind mean op times
    # over the kinds seen both ways keeps the op mix out of the overhead.
    # The traced op of a kind runs first, on a colder JVM, so this errs high.
    kinds = {o["kind"] for o in on} & {o["kind"] for o in off}

    def kind_means(sel):
        return sum(statistics.mean(o["ms"] for o in sel if o["kind"] == k) for k in kinds)
    m["trace.overhead_pct"] = 100.0 * (_div(kind_means(on), kind_means(off)) - 1.0) if kinds else 0.0

    probe = result.get("probe", {})
    m["reanchor.open_infer_ms"] = probe.get("open_infer_ms", 0.0)
    m["reanchor.open_declared_ms"] = probe.get("open_declared_ms", 0.0)
    m["reanchor.open_infer_jobs"] = probe.get("open_infer_jobs", 0.0)
    m["reanchor.open_declared_jobs"] = probe.get("open_declared_jobs", 0.0)
    for short, q in REANCHOR_QUERIES:
        qo = [o for o in on if o["kind"] == q]
        wall = sum(o["ms"] for o in qo)
        m[f"reanchor.{short}_ms"] = _div(wall, len(qo))
        m[f"reanchor.{short}_jobs"] = mean("spark.jobs", qo)
        m[f"reanchor.{short}_build_jobs"] = mean("queries.build_jobs", qo)
        m[f"reanchor.{short}_gap_share"] = _div(sum(lay(o, "driver.gap_ms") for o in qo), wall)
    return m


def self_times(spans):
    """Inclusive and self time per span name, in ms. Self time is a span's
    length minus the part of it its child spans cover."""
    by_id = {(s["op"], s["id"]): s for s in spans}
    kids = {}
    for s in spans:
        if s["parent"] >= 0:
            kids.setdefault((s["op"], s["parent"]), []).append(s)
    out = {}
    for key, s in by_id.items():
        covered, end = 0, s["start_ns"]
        for c in sorted(kids.get(key, []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], end), min(c["end_ns"], s["end_ns"])
            if hi > lo:
                covered += hi - lo
                end = hi
        incl = s["end_ns"] - s["start_ns"]
        agg = out.setdefault(s["name"], {"count": 0, "incl_ms": 0.0, "self_ms": 0.0})
        agg["count"] += 1
        agg["incl_ms"] += incl / 1e6
        agg["self_ms"] += (incl - covered) / 1e6
    return out
