"""Turn one harness artifact into the benchmark's metrics.

Pure functions over the JSON the JVM side writes (see README.md for
its shape); no Spark, no I/O, so the tests can drive them directly.
"""
import os
import statistics

PHASES = ("full", "incremental", "noop")
ETL_LAYERS = ("dims", "facts", "marts", "checks")
LAYER_KINDS = ("build_s", "action_s", "build_jobs", "jobs", "task_cpu_s")


def declared_layers(ops_dir):
    """The query layers named in the benchmark's operation lists."""
    layers = set()
    for f in sorted(os.listdir(ops_dir)):
        with open(os.path.join(ops_dir, f)) as fh:
            layers |= {l.split("\t")[1] for l in fh.read().splitlines() if l}
    return sorted(layers - {"etl"})


def median(values):
    return statistics.median(values)


def unattributed(parent, parts):
    """The part of a span's wall that none of `parts` (layer -> seconds
    spent in it) accounts for."""
    return parent["t1"] - parent["t0"] - sum(parts.values())


def _passes(art, traced):
    return [s for s in art["spans"] if s["kind"] == "pass"
            and s["traced"] == traced]


def end_to_end(art):
    """Metrics of an untraced run."""
    return {
        "setup_s": (median(art["setup_s"]), "s"),
        "wall_s": (median([p["wall_s"] for p in _passes(art, False)]), "s"),
    }


def per_layer(art, layer_names, untraced_walls=()):
    """Per-layer metrics of the traced passes, averaged per pass.

    Every name in `layer_names` (the ops layers the benchmark declares)
    is reported, as 0 where this workload does not reach it.
    `untraced_walls` are pass walls of untraced runs of the same
    workload; `trace_overhead_frac` compares the traced passes with
    them (and with any untraced pass of this run), 0 when there are
    none."""
    spans = art["spans"]
    traced = [p for p in _passes(art, True)]
    n = max(1, len(traced))
    traced_ids = {p["id"] for p in traced}
    counters = art["counters"]
    out = {}

    def add(name, value, unit):
        v, _ = out.get(name, (0, unit))
        out[name] = (v + value, unit)

    for layer in layer_names:
        for kind in LAYER_KINDS:
            add("%s.%s" % (layer, kind), 0, "count" if "jobs" in kind else "s")
    for ph in PHASES:
        for lay in ETL_LAYERS:
            add("%s.%s_s" % (lay, ph), 0, "s")
        add("etl.%s_s" % ph, 0, "s")
        add("etl.%s_unattributed_s" % ph, 0, "s")
        add("meta.%s_bytes_written" % ph, 0, "bytes")
        add("spark.%s_jobs" % ph, 0, "count")
    add("op.unattributed_s", 0, "s")

    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    total = {"task_run_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0,
             "input_bytes": 0}
    for s in spans:
        if s["parent"] not in traced_ids:
            continue
        c = counters.get(s["counters_key"], {})
        for k in total:
            total[k] += c.get(k, 0)
        kids = children.get(s["id"], [])
        if s["kind"] == "op":
            parts = {k["kind"]: k["t1"] - k["t0"] for k in kids}
            rest = unattributed(s, parts)
            lay = s["layer"]
            add("%s.build_s" % lay, parts.get("build", 0) / n, "s")
            add("%s.action_s" % lay, parts.get("action", 0) / n, "s")
            add("%s.build_jobs" % lay, c.get("build_jobs", 0) / n, "count")
            add("%s.jobs" % lay, c.get("jobs", 0) / n, "count")
            add("%s.task_cpu_s" % lay, c.get("task_cpu_s", 0) / n, "s")
            add("op.unattributed_s", rest / n, "s")
        elif s["kind"] == "phase":
            ph = s["name"]
            parts = {}
            for k in kids:
                parts[k["kind"]] = parts.get(k["kind"], 0) + k["t1"] - k["t0"]
            rest = unattributed(s, parts)
            for lay in ETL_LAYERS:
                add("%s.%s_s" % (lay, ph), parts.get(lay, 0) / n, "s")
            add("etl.%s_s" % ph, (s["t1"] - s["t0"]) / n, "s")
            add("etl.%s_unattributed_s" % ph, rest / n, "s")
            add("meta.%s_bytes_written" % ph, c.get("bytes_written", 0) / n, "bytes")
            add("spark.%s_jobs" % ph, c.get("jobs", 0) / n, "count")

    wall = sum(p["t1"] - p["t0"] for p in traced)
    tr = art["trace"]
    add("spark.driver_gap_s", sum(p.get("driver_gap_s", 0) for p in traced) / n, "s")
    add("spark.core_util", total["task_run_s"] / max(wall * art["cores"], 1e-9), "ratio")
    add("spark.skew_ratio", tr.get("skew_ratio", 0), "ratio")
    add("spark.shuffle_write_bytes", total["shuffle_write_bytes"] / n, "bytes")
    add("spark.spill_bytes", total["spill_bytes"] / n, "bytes")
    add("sources.input_bytes", total["input_bytes"] / n, "bytes")
    add("sources.scans", tr.get("scans", 0) / n, "count")
    add("ext.Pin.materialisations", tr.get("pin_materialisations", 0) / n, "count")
    add("ext.Pin.bytes_peak", tr.get("pin_bytes_peak", 0), "bytes")
    add("heap_peak_mb", art["heap_peak_mb"], "MB")
    add("query_p50_s", median([r["wall_s"] for r in art["results"]]), "s")
    untraced = [p["wall_s"] for p in _passes(art, False)] + list(untraced_walls)
    traced_walls = [p["wall_s"] for p in traced]
    overhead = (median(traced_walls) / median(untraced) - 1
                if untraced and traced_walls else 0.0)
    add("trace_overhead_frac", overhead, "ratio")
    return out
