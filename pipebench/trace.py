"""Per-layer metrics of a traced batch, from the harness's raw trace.

The harness records wall-clock spans (layer, start_ms, end_ms), job
intervals (group, start_ms, end_ms) and per-job-group totals. Layers are
the pipeline's modules; every layer but `engine` is a set of calls into
that module, and `engine` is the whole batch.
"""

LAYERS = ["control", "classify", "readers", "operators", "sinks.side", "sinks.load", "engine"]
COUNTS = [("jobs", "jobs", 1, "count"), ("stages", "stages", 1, "count"),
          ("tasks", "tasks", 1, "count"), ("task_s", "task_ms", 1e-3, "s"),
          ("input_mb", "input_bytes", 1e-6, "MB"),
          ("shuffle_write_mb", "shuffle_write_bytes", 1e-6, "MB"),
          ("spill_mb", "spill_bytes", 1e-6, "MB"), ("plan_ms", "plan_ms", 1, "ms")]


def self_times(spans, window):
    """Wall seconds of each layer's own calls, and of no call at all.

    The window (the engine span) is cut at every span boundary. Each piece
    goes to the layers with a span open over it, split evenly when several
    distinct layers overlap, or to `None` (time outside every layer call).
    Overlapping spans of one layer (a pool's parallel calls) count once.
    So the values always sum to the window's length.
    """
    lo, hi = window
    clipped = [(l, max(s, lo), min(e, hi)) for l, s, e in spans if min(e, hi) > max(s, lo)]
    cuts = sorted({lo, hi} | {s for _, s, _ in clipped} | {e for _, _, e in clipped})
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        active = sorted({l for l, s, e in clipped if s <= a and e >= b})
        owners = active or [None]
        for l in owners:
            out[l] = out.get(l, 0.0) + (b - a) / 1e3 / len(owners)
    return out


def covered(intervals, window):
    """Seconds of `window` covered by the union of `intervals`."""
    lo, hi = window
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total / 1e3


def ratio(num, den):
    """num / den, or 0 when there is nothing to divide by."""
    return num / den if den else 0.0


def layer_of(group):
    """Layer named by a `bench:<workload>:<layer>` job group; other work is the engine's."""
    parts = group.split(":")
    return parts[2] if len(parts) == 3 and parts[0] == "bench" and parts[2] in LAYERS else "engine"


def per_layer(trace, input_bytes, untraced_batch_s, files_out):
    """Every per-layer metric, as {name: (value, unit)}."""
    window = trace["engine"]
    wall = (window[1] - window[0]) / 1e3
    own = self_times([tuple(s) for s in trace["spans"]], window)
    totals = {l: {k: 0 for _, k, _, _ in COUNTS} for l in LAYERS}
    for group, acc in trace["groups"].items():
        for layer in {layer_of(group), "engine"}:
            for _, k, _, _ in COUNTS:
                totals[layer][k] += acc[k]
    m = {}
    for layer in LAYERS:
        m[layer + ".s"] = (wall if layer == "engine" else own.get(layer, 0.0), "s")
        for name, key, scale, unit in COUNTS:
            m["%s.%s" % (layer, name)] = (totals[layer][key] * scale, unit)
    eng = totals["engine"]
    m.update({
        "classify.units": (trace["classify_units"], "count"),
        "readers.jobs_per_input": (ratio(totals["readers"]["jobs"], trace["read_inputs"]), "count"),
        "sinks.load.files_out": (files_out, "count"),
        "sinks.load.days": (trace["load_days"], "count"),
        "engine.read_amp": (ratio(eng["input_bytes"], input_bytes), "ratio"),
        "engine.no_job_s": (wall - covered([(s, e) for _, s, e in trace["jobs"]], window), "s"),
        "engine.gc_s": (trace["gc_ms"] / 1e3, "s"),
        "engine.cached_mb_peak": (trace["cached_bytes_peak"] / 1e6, "MB"),
        "engine.heap_peak_mb": (trace["heap_peak_mb"], "MB"),
        "trace.unattributed_s": (own.get(None, 0.0), "s"),
        "trace.overhead_s": (trace["batch_s"] - untraced_batch_s, "s"),
    })
    return m
