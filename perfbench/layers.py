"""Metric names and units, and the per-layer metrics of a traced run.

``PER_LAYER`` maps each per-layer metric to its unit, whether higher or
lower is better, the end-to-end metric it should move and the workloads
where its layer does work. Every workload reports every metric; a layer
that does no work on a workload reports 0 there. So that such a 0 is never
a time, a layer's busy time is given as its share of the traced wall time
(``<layer>.share``; seconds = share x ``trace.wall_s``), and its driver,
CPU and GC time as shares of the layer's own time. Only times that every
workload measures are in seconds.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "peak_rss_mb": "MB",
}

# layer -> spans it covers; their job-group statistics are summed
LAYER_SPANS = {
    "reverse_geocode": ["reverse_geocode", "reverse_geocode.direct",
                        "reverse_geocode.fallback"],
    "lookup": ["lookup"],
    "sources": ["sources.read_pages"],
    "pipeline": ["pipeline.extract", "pipeline.finish"],
    "forward_geocode": ["forward_geocode"],
    "lineage": ["lineage.write", "lineage.resume"],
    "dedup": ["dedup.signatures", "dedup.pairs"],
    "dedup.clusters": ["dedup.clusters"],
}
# per layer: jobs and tasks (per request for ``lookup``), bytes
# shuffled and spilled, and the shares of its time spent driver-serial
# (outside every Spark stage), on executor CPU, and in JVM GC
SPAN_STATS = {"jobs": "count", "tasks": "count", "shuffle_write_bytes": "B",
              "spill_bytes": "B", "driver_share": "frac",
              "cpu_share": "frac", "gc_share": "frac"}

TPUT, LAT, SETUP = "throughput_per_s", "latency_p50_s", "setup_s"
# the dedup layers run only in pages' traced run, on a corpus of their
# own: no listed workload's end-to-end metric times them
DEDUP = ""
BOTH, POINTS, PAGES = "points pages", "points", "pages"

# name -> (unit, better, moves, workloads)
PER_LAYER = {
    "session.start_s": ("s", "lower", SETUP, BOTH),
    "regions.load_prepared_s": ("s", "lower", SETUP, BOTH),
    "regions.cover_rows": ("count", "lower", SETUP, BOTH),
    "reverse_geocode.direct_s": ("s", "lower", TPUT, BOTH),
    "reverse_geocode.python_s": ("s", "lower", TPUT, BOTH),
    "reverse_geocode.arrow_bytes_sent_per_pt": ("B", "lower", TPUT, BOTH),
    "reverse_geocode.arrow_bytes_recv_per_pt": ("B", "lower", TPUT, BOTH),
    "reverse_geocode.hit_frac": ("frac", "higher", TPUT, BOTH),
    "reverse_geocode.interior_frac": ("frac", "higher", TPUT, BOTH),
    "reverse_geocode.knn_share": ("frac", "lower", TPUT, POINTS),
    "reverse_geocode.knn_points": ("count", "lower", TPUT, POINTS),
    "cells.cell_of_ns_per_pt": ("ns", "lower", TPUT, BOTH),
    "geometry.pip_ns_per_pt": ("ns", "lower", TPUT, BOTH),
    "geometry.dist_m_ns_per_pt": ("ns", "lower", TPUT, BOTH),
    "lookup.share": ("frac", "lower", LAT, POINTS),
    "sources.read_pages_share": ("frac", "lower", TPUT, PAGES),
    "sources.bytes_read": ("B", "lower", TPUT, PAGES),
    "pipeline.extract_share": ("frac", "lower", TPUT, PAGES),
    "pipeline.finish_share": ("frac", "lower", TPUT, PAGES),
    "pipeline.mentions_per_doc": ("count", "higher", TPUT, PAGES),
    "forward_geocode.share": ("frac", "lower", TPUT, PAGES),
    "forward_geocode.exact_frac": ("frac", "higher", TPUT, PAGES),
    "forward_geocode.miss_frac": ("frac", "lower", TPUT, PAGES),
    "lineage.write_share": ("frac", "lower", TPUT, PAGES),
    "lineage.resume_share": ("frac", "lower", LAT, PAGES),
    "lineage.manifest_share": ("frac", "lower", LAT, PAGES),
    "lineage.bytes_written_per_input_byte": ("frac", "lower", TPUT, PAGES),
    "lineage.buckets_written": ("count", "lower", TPUT, PAGES),
    "lineage.buckets_skipped": ("count", "higher", LAT, PAGES),
    "dedup.signatures_share": ("frac", "lower", DEDUP, PAGES),
    "dedup.pairs_share": ("frac", "lower", DEDUP, PAGES),
    "dedup.pairs_per_doc": ("count", "lower", DEDUP, PAGES),
    "dedup.clusters_share": ("frac", "lower", DEDUP, PAGES),
    "trace.wall_s": ("s", "lower", "", BOTH),
    "trace.self_coverage": ("frac", "higher", "", BOTH),
    "trace.overhead_frac": ("frac", "lower", "", BOTH),
}
_LAYER_WORKLOADS = {"reverse_geocode": BOTH, "lookup": POINTS}
for _layer in LAYER_SPANS:
    for _stat, _unit in SPAN_STATS.items():
        PER_LAYER[f"{_layer}.{_stat}"] = (
            _unit, "higher" if _stat == "cpu_share" else "lower",
            LAT if _layer == "lookup" else TPUT,
            _LAYER_WORKLOADS.get(_layer, PAGES))

UNITS = {**END_TO_END, **{k: v[0] for k, v in PER_LAYER.items()}}

# figures a workload's ``trace`` returns directly
_EXTRA = ("regions.cover_rows", "reverse_geocode.hit_frac",
          "reverse_geocode.interior_frac", "reverse_geocode.knn_points",
          "cells.cell_of_ns_per_pt", "geometry.pip_ns_per_pt",
          "geometry.dist_m_ns_per_pt", "sources.bytes_read",
          "pipeline.mentions_per_doc", "forward_geocode.exact_frac",
          "forward_geocode.miss_frac",
          "lineage.bytes_written_per_input_byte", "lineage.buckets_written",
          "lineage.buckets_skipped", "dedup.pairs_per_doc")
# share metric -> spans whose self time it sums
_SHARES = {
    "lookup.share": ["lookup"],
    "sources.read_pages_share": ["sources.read_pages"],
    "pipeline.extract_share": ["pipeline.extract"],
    "pipeline.finish_share": ["pipeline.finish"],
    "forward_geocode.share": ["forward_geocode"],
    "lineage.write_share": ["lineage.write"],
    "lineage.resume_share": ["lineage.resume"],
    "dedup.signatures_share": ["dedup.signatures"],
    "dedup.pairs_share": ["dedup.pairs"],
    "dedup.clusters_share": ["dedup.clusters"],
}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer_metrics(tracer, extra: dict, session_s: float,
                      load_s: float) -> dict:
    """Every ``PER_LAYER`` metric from a traced run's spans (with their
    Spark statistics) and the workload's own figures (``extra``)."""
    selfs = tracer.self_seconds()
    by_name: dict[str, list[dict]] = {}
    for s in tracer.spans:
        by_name.setdefault(s["name"], []).append(s)

    def self_s(*names):
        return sum(selfs[s["id"]] for n in names for s in by_name.get(n, []))

    def stat(names, key):
        return sum(s["spark"][key] for n in names for s in by_name.get(n, []))

    roots = [s for s in tracer.spans if s["parent"] is None]
    wall = sum(s["end"] - s["start"] for s in roots)
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update({k: extra[k] for k in _EXTRA if k in extra})
    m["session.start_s"] = session_s
    m["regions.load_prepared_s"] = load_s
    m["trace.wall_s"] = wall
    m["trace.self_coverage"] = 1.0 - sum(selfs[s["id"]] for s in roots) / wall
    m["trace.overhead_frac"] = extra["overhead"]

    for layer, names in LAYER_SPANS.items():
        calls = sum(len(by_name.get(n, [])) for n in names)
        per = max(len(by_name.get("lookup", [])), 1) if layer == "lookup" else 1
        for key in ("jobs", "tasks", "shuffle_write_bytes", "spill_bytes"):
            m[f"{layer}.{key}"] = stat(names, key) / per
        run_s = stat(names, "executor_run_s")
        m[f"{layer}.driver_share"] = _ratio(stat(names, "driver_s"),
                                            self_s(*names)) if calls else 0.0
        m[f"{layer}.cpu_share"] = _ratio(stat(names, "executor_cpu_s"), run_s)
        m[f"{layer}.gc_share"] = _ratio(stat(names, "gc_s"), run_s)
    for name, spans in _SHARES.items():
        m[name] = self_s(*spans) / wall
    m["lineage.manifest_share"] = stat(["lineage.resume"], "driver_s") / wall

    # the fallback pass when there is one (points), else the page
    # pipeline's reverse layer, carries the Python-boundary figures
    rg = (["reverse_geocode.fallback"] if "reverse_geocode.fallback" in by_name
          else ["reverse_geocode"])
    pts = max(extra.get("points", 0), 1)
    m["reverse_geocode.direct_s"] = self_s("reverse_geocode.direct",
                                           "reverse_geocode")
    if "reverse_geocode.fallback" in by_name:
        m["reverse_geocode.knn_share"] = (self_s("reverse_geocode.fallback")
                                          - self_s("reverse_geocode.direct")) / wall
    m["reverse_geocode.python_s"] = stat(rg, "python_s")
    m["reverse_geocode.arrow_bytes_sent_per_pt"] = stat(rg, "arrow_bytes_sent") / pts
    m["reverse_geocode.arrow_bytes_recv_per_pt"] = stat(rg, "arrow_bytes_recv") / pts
    return m
