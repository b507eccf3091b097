"""Turn the JVM harness's raw result into the benchmark's metrics."""
import statistics

from . import stats

STAGES = ("combine", "background", "fwhm", "detect", "psf", "phot", "wcs")
LAYERS = ("sources", "pipeline", "queries", "streaming", "spark", "jvm")
STREAM_PHASES = (("latestOffset", "latest_offset_ms"),
                 ("queryPlanning", "query_planning_ms"),
                 ("addBatch", "add_batch_ms"),
                 ("walCommit", "wal_commit_ms"),
                 ("commitOffsets", "commit_offsets_ms"))
MB = 1048576.0
UNIT_SUFFIXES = (("mpix_per_s", "Mpix/s"), ("_ms", "ms"), ("_s", "s"),
                 (".s", "s"), ("_mb", "MB"), ("_bytes", "bytes"),
                 ("_share", "fraction"))


def unit_of(name):
    """A metric's unit, from its name; plain counts otherwise."""
    return next((u for suffix, u in UNIT_SUFFIXES if name.endswith(suffix)),
                "count")


def timed_passes(result, traced):
    return [p for p in result["passes"] if p["traced"] == traced]


def timed_units(result, passes):
    ids = {p["pass"] for p in passes}
    return [u for u in result["units"] if u["pass"] in ids]


def end_to_end(result, setup_s):
    """Metrics of the untraced timed passes."""
    passes = timed_passes(result, False)
    units = timed_units(result, passes)
    ms = [u["ms"] for u in units]
    out = {
        "setup_s": setup_s,
        "run_s": statistics.median(p["wall_s"] for p in passes),
        "query_p50_ms": statistics.median(ms),
        "jobs_per_pass": statistics.median(p["jobs"] for p in passes),
        "heap_peak_mb": max(p["heap_after_gc_mb"] for p in passes),
    }
    extra = {"query_samples": len(ms), "passes": len(passes)}
    p90 = stats.tail_percentile(ms, 90)
    if p90 is not None:
        extra["query_p90_ms"] = p90
    pixels = int(result["env"].get("pixels_per_unit", 0))
    if pixels:
        extra["epoch_mpix_per_s"] = pixels / 1e6 / (out["query_p50_ms"] / 1e3)
    return out, extra


def _sum(xs):
    return float(sum(xs))


def per_pass_layers(result, pass_rec, spans, selfs, cores, catalog_bytes,
                    queries):
    """Per-layer metrics of one traced pass."""
    p = pass_rec["pass"]
    mine = [s for s in spans.values() if s["pass"] == p]
    kind = lambda name, layer=None: [s for s in mine if s["name"] == name and (
        layer is None or s["layer"] == layer)]
    dur = lambda ss: _sum(s["end"] - s["start"] for s in ss)
    attr = lambda ss, k: _sum(s["attrs"].get(k, 0.0) for s in ss)
    stages, jobs = kind("stage", "spark"), kind("job", "spark")
    m = {
        "spark.jobs": float(pass_rec["jobs"]),
        "spark.stages": float(len(stages)),
        "spark.tasks": attr(stages, "tasks"),
        "spark.plan_ms": dur([s for s in mine if s["name"].startswith("plan.")]),
        "spark.task_run_s": attr(stages, "task_run_ms") / 1e3,
        "spark.task_deser_s": attr(stages, "task_deser_ms") / 1e3,
        "spark.shuffle_write_mb": attr(stages, "shuffle_write_bytes") / MB,
        "spark.shuffle_read_mb": attr(stages, "shuffle_read_bytes") / MB,
        "spark.spill_mb": attr(stages, "spill_bytes") / MB,
        "spark.core_busy_share": attr(stages, "task_run_ms") / 1e3 /
        (cores * pass_rec["wall_s"]),
        "jvm.gc_ms": float(pass_rec["gc_ms"]),
        "jvm.gc_count": float(pass_rec["gc_count"]),
    }
    for layer in LAYERS:
        m[f"{layer}.self_s"] = _sum(selfs[s["id"]] for s in mine
                                    if s["layer"] == layer) / 1e3

    # sources and pipeline: the staged epoch's own spans
    fits = kind("fits_read", "sources")
    pixels = int(result["env"].get("pixels_per_unit", 0)) * len(fits)
    m["sources.fits_read_s"] = dur(fits) / 1e3
    m["sources.fits_mpix_per_s"] = (pixels / 1e6 / m["sources.fits_read_s"]
                                    if fits else 0.0)
    m["sources.catalog_write_s"] = dur(kind("catalog_write", "sources")) / 1e3
    m["sources.catalog_bytes"] = float(catalog_bytes)

    def stage_of(s):
        while s is not None:
            if s["layer"] == "pipeline" and s["name"] in STAGES:
                return s["name"]
            s = spans.get(s["parent"])
        return None
    for st in STAGES:
        m[f"pipeline.{st}.s"] = dur(kind(st, "pipeline")) / 1e3
        m[f"pipeline.{st}.jobs"] = float(sum(1 for j in jobs
                                             if stage_of(j) == st))

    # queries: one unit span per registered query call
    units = [u for u in result["units"] if u["pass"] == p]
    m["queries.streaming.s"] = _sum(u["ms"] for u in units
                                    if u["family"] == "streaming") / 1e3
    m["queries.streaming.jobs"] = float(sum(u["jobs"] for u in units
                                            if u["family"] == "streaming"))
    for short, name in queries.items():
        mine_q = [u for u in units if u["name"] == name]
        m[f"queries.{short}.s"] = _sum(u["ms"] for u in mine_q) / 1e3
        m[f"queries.{short}.jobs"] = float(sum(u["jobs"] for u in mine_q))

    # streaming: the progress of every micro-batch
    batches = kind("microbatch", "streaming")
    m["streaming.batches"] = float(len(batches))
    for key, name in STREAM_PHASES:
        m[f"streaming.{name}"] = attr(batches, key)
    m["streaming.state_rows"] = attr(batches, "state_rows")
    m["streaming.state_commit_ms"] = attr(batches, "state_commit_ms")
    m["streaming.state_mem_mb"] = max(
        [b["attrs"].get("state_mem_bytes", 0.0) for b in batches] or [0.0]) / MB
    unit_spans = [s for s in mine if s["unit"] >= 0 and spans.get(
        s["parent"], {}).get("name") == "pass"]
    m["streaming.lifecycle_ms"] = _sum(
        (u["end"] - u["start"]) - dur([b for b in batches if b["unit"] == u["unit"]])
        for u in unit_spans) if batches else 0.0
    return m


def per_layer(result, cores, catalog_bytes, queries):
    """Median over the traced passes of each per-layer metric, plus the
    tracing overhead against the untraced passes of the same run."""
    spans = stats.nest(result["spans"])
    selfs = stats.self_times(spans)
    traced = timed_passes(result, True)
    rows = [per_pass_layers(result, p, spans, selfs, cores,
                            catalog_bytes.get(p["pass"], 0), queries)
            for p in traced]
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    t_run = statistics.median(p["wall_s"] for p in traced)
    u_run = statistics.median(p["wall_s"] for p in timed_passes(result, False))
    out["trace.run_s"] = t_run
    out["trace.overhead_s"] = t_run - u_run
    return out
