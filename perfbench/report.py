"""Turn a run's latencies, spans and counts into the reported metrics."""

from __future__ import annotations

from collections import defaultdict
from statistics import median

from harness import geomean, percentile, tail_percentile

#: per-layer metrics timed by a span: metric -> (span name, scale to unit)
SPAN_METRICS = {
    "session.start_s": ("session.start", 1.0),
    "ingest.read_s": ("ingest.read", 1.0),
    "sources.plan_s": ("sources.plan", 1.0),
    "sources.exec_s": ("sources.exec", 1.0),
    "catalog.write_table_s": ("catalog.write_table", 1.0),
    "catalog.store_action_s": ("catalog.store_action", 1.0),
    "catalog.upsert_s": ("catalog.upsert", 1.0),
    "catalog.latest_actions_s": ("catalog.latest_actions", 1.0),
    "pathways.lookup_s": ("pathways.lookup", 1.0),
    "pathways.search_s": ("pathways.search", 1.0),
    "pathways.query_symbols_s": ("pathways.query_symbols", 1.0),
    "graph.components_s": ("graph.components", 1.0),
    "graph.descendants_s": ("graph.descendants", 1.0),
    "graph.edge_list_s": ("graph.edge_list", 1.0),
    "graph.degree_s": ("graph.degree", 1.0),
    "sparql.plan_s": ("sparql.plan", 1.0),
    "sparql.exec_s": ("sparql.exec", 1.0),
    "namespace.hash_s": ("namespace.hash", 1.0),
    "io.triples_tsv_s": ("io.triples_tsv", 1.0),
    "io.graph_json_s": ("io.graph_json", 1.0),
    "io.cache_hit_ms": ("io.cache_hit", 1000.0),
}
#: per-layer counts: metric -> counter averaged per recorded call
MEAN_COUNTS = {
    "ingest.rows_read": "ingest.rows_read",
    "catalog.files_written": "catalog.files_written",
    "catalog.bytes_written": "catalog.bytes_written",
    "catalog.upsert_rows_added": "catalog.upsert_rows_added",
    "catalog.read_table_files": "catalog.read_table_files",
    "io.export_bytes": "io.export_bytes",
}
LAYERS = ["session", "ingest", "sources", "catalog", "pathways", "graph",
          "sparql", "namespace", "io"]

PER_LAYER_UNITS = {
    **{m: ("ms" if m.endswith("_ms") else "s") for m in SPAN_METRICS},
    "ingest.rows_read": "count",
    "sources.accept_ratio": "ratio",
    "catalog.files_written": "count",
    "catalog.bytes_written": "B",
    "catalog.upsert_rows_added": "count",
    "catalog.read_table_files": "count",
    "pathways.scan_rows_per_result": "ratio",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count",
    "io.export_bytes": "B",
    "trace.uncovered_s": "s",
    "trace.op_wall_s": "s",
    "trace.bookkeeping_s": "s",
    "trace.p50_geomean_ms": "ms",
}


def class_stats(results) -> dict:
    """Per op class: sample count, median and tail latency (ms)."""
    out = {}
    for cls, lat in sorted(results.latencies.items()):
        q = tail_percentile(len(lat))
        out[cls] = {"n": len(lat), "p50": median(lat) * 1000,
                    "tail_q": q, "tail": percentile(lat, q) * 1000}
    return out


def end_to_end(results, wl, ctx) -> tuple[dict, dict]:
    """End-to-end metrics and the number of samples behind each."""
    stats = class_stats(results)
    values = {
        "setup_s": (median(ctx["setup_times"]) + ctx["warmup_time"], "s"),
        "ops_per_s": (results.attempted / results.op_time_s, "1/s"),
        "p50_geomean_ms": (geomean(s["p50"] for s in stats.values()), "ms"),
        "stored_bytes_per_input_byte": (ctx["stored_bytes"] / wl.input_bytes, "ratio"),
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
    samples = {"setup_s": len(ctx["setup_times"]) + 1, "stored_bytes_per_input_byte": 1}
    return metrics, samples


def own_or_probe(*series) -> list:
    """Per series, the values the workload itself recorded (set-ups and
    timed ops) or, when it recorded none in any of them, those of the probe
    pass (op ids ``p...``). Related series are chosen together."""
    own = any(not op.startswith("p") for pairs in series for op, _ in pairs)
    return [[v for op, v in pairs if op.startswith("p") != own] for pairs in series]


def per_layer(tracer, results, wl) -> tuple[dict, dict]:
    """Per-layer metrics and the number of samples behind each."""
    by_name = defaultdict(list)
    for s in tracer.spans:
        by_name[s.name].append((s.op, s.end - s.start))
    values, samples = {}, {}
    for metric, (name, scale) in SPAN_METRICS.items():
        [d] = own_or_probe(by_name.get(name, []))
        values[metric], samples[metric] = (median(d) * scale if d else 0.0), len(d)
    counts = tracer.counts
    for metric, counter in MEAN_COUNTS.items():
        [c] = own_or_probe(counts.get(counter, []))
        values[metric], samples[metric] = (sum(c) / len(c) if c else 0.0), len(c)
    acc, rej = own_or_probe(counts.get("sources.accepted", []), counts.get("sources.rejected", []))
    total = sum(acc) + sum(rej)
    values["sources.accept_ratio"] = sum(acc) / total if total else 0.0
    samples["sources.accept_ratio"] = len(acc)
    scanned, returned = own_or_probe(counts.get("pathways.scan_rows", []),
                                     counts.get("pathways.result_rows", []))
    values["pathways.scan_rows_per_result"] = sum(scanned) / sum(returned) if sum(returned) else 0.0
    samples["pathways.scan_rows_per_result"] = len(scanned)
    n_ops = len(results.jobs)
    values["spark.jobs_per_op"] = sum(results.jobs) / n_ops
    values["spark.tasks_per_op"] = sum(results.tasks) / n_ops
    values["spark.failed_tasks"] = results.failed_tasks

    _, wall, uncovered = layer_self(tracer, timed=True)
    n = results.attempted
    values["trace.uncovered_s"] = uncovered / n
    values["trace.op_wall_s"] = wall / n
    values["trace.bookkeeping_s"] = tracer.overhead_s / n
    values["trace.p50_geomean_ms"] = geomean(s["p50"] for s in class_stats(results).values())
    metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in values.items()}
    return metrics, samples


def layer_self(tracer, timed: bool):
    """Self time per layer over the timed ops (or over the set-ups; the
    probe pass is in neither), the root spans' total duration, and the
    part of it no layer span covers."""
    layer = defaultdict(float)
    wall = uncovered = 0.0
    for s, t in zip(tracer.spans, tracer.self_times()):
        if s.op.startswith("r") != timed or s.op.startswith("p"):
            continue
        if s.parent is None:
            wall += s.end - s.start
            uncovered += t
        elif not s.name.startswith("op."):
            layer[s.name.split(".")[0]] += t
        else:
            uncovered += t  # warm-up ops inside a set-up
    return layer, wall, uncovered


def workload_metrics(wl, results) -> list:
    """The workload-specific figures, as (name, value, unit, samples)."""
    lat = results.latencies
    out = []

    def lat_metric(name, classes, q=50, scale=1000.0, unit="ms"):
        vals = [v for c in classes for v in lat.get(c, [])]
        if vals:
            out.append((name, percentile(vals, q) * scale, unit, len(vals)))

    if wl.name == "etl_populate":
        t = sum(lat["populate"])
        out.append(("etl_rows_per_s", results.rows["populate"] / t, "rows/s",
                    len(lat["populate"])))
        lat_metric("export_s", ["export_tsv", "export_json"], scale=1.0, unit="s")
    elif wl.name == "catalog_query":
        looks = ["lookup_id", "lookup_symbols", "search"]
        lat_metric("lookup_p50_ms", looks)
        q = tail_percentile(sum(len(lat[c]) for c in looks))
        if q > 50:
            lat_metric(f"lookup_p{q}_ms", looks, q=q)
        lat_metric("enrich_p50_ms", ["enrich"])
        lat_metric("write_p50_ms", ["write"])
        out.append(("enrich_repeat_share", wl.repeat_share(), "ratio", wl.enrich_requests))
    else:
        lat_metric("graph_op_p50_s", ["components", "descendants", "degree", "edge_list"],
                   scale=1.0, unit="s")
        lat_metric("sparql_p50_ms", ["sparql"])
    return out


def print_report(args, wl, results, ctx, metrics, samples) -> None:
    p = print
    p(f"# perfbench workload={wl.name} seed={args.seed} seconds={args.seconds} "
      f"trace={args.trace} scale={args.scale}")
    p(f"# inputs: {wl.input_bytes} bytes; rounds={results.rounds} "
      f"ops={results.attempted} wall={results.wall_s:.2f}s op_time={results.op_time_s:.2f}s")
    p(f"# set-up passes: {', '.join(f'{t:.2f}s' for t in ctx['setup_times'])}; "
      f"warm-up {ctx['warmup_time']:.2f}s")
    p(f"# peak_rss_mb = {ctx['rss_mb']:.1f} MB (Python + JVM VmHWM)")
    p(f"# state: warehouse {ctx['stored_bytes']} bytes vs Spark unified memory "
      f"{ctx['storage_memory_bytes']} bytes "
      f"({ctx['stored_bytes'] / ctx['storage_memory_bytes']:.3f})")
    for cls, s in class_stats(results).items():
        tail = f"  p{s['tail_q']}={s['tail']:9.1f} ms" if s["tail_q"] > 50 else ""
        p(f"# op {cls:<15} n={s['n']:<4} p50={s['p50']:9.1f} ms{tail}")
    for name, v, unit, n in workload_metrics(wl, results):
        p(f"# workload {name} = {v:.6g} {unit} (n={n})")
    p(f"# fail_frac = {results.failed}/{results.attempted} = "
      f"{results.failed / max(1, results.attempted):.4f}")
    for f in results.failures[:20]:
        p(f"# FAILED {f}")
    if args.trace:
        for timed, what in ((False, "set-ups"), (True, "timed ops")):
            layer, wall, uncovered = layer_self(wl.tracer, timed)
            parts = ", ".join(f"{k}={layer[k]:.3f}s" for k in LAYERS)
            p(f"# self time over {what}: {parts}; uncovered={uncovered:.3f}s; "
              f"sum={sum(layer.values()) + uncovered:.3f}s of wall {wall:.3f}s")
    for name, m in metrics.items():
        p(f"# metric {name} = {m['value']:.6g} {m['unit']} "
          f"(n={samples.get(name, results.attempted)})")
