"""Per-layer metrics of a traced run, computed from its spans and the
Spark jobs attributed to them.

A time is the p50 per call of a layer's span; ``_jobs`` is the p50 of
Spark jobs per call.  Spans opened during set-up count for the build and
open metrics; request metrics use only spans after set-up.  Metrics of a
layer a workload does not run are counts of zero.
"""

from __future__ import annotations

from spans import p50, quantile

BUILD_PHASES = ("build_docs", "build_postings", "finalize")
SHAPE_GROUPS = {
    "term_and": ("term", "and2", "and3"),
    "or": ("or_skewed", "or_wide"),
}


def layer_metrics(run, by_span: dict, cpu: tuple[float, float]):
    """Returns (per-layer metrics, extra per-layer detail)."""
    tr = run.tracer
    spans = tr.spans
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)

    def jobs_of(s, key=None) -> float:
        js = by_span.get(s.id, [])
        return len(js) if key is None else sum(j[key] for j in js)

    def tree_jobs(s, key=None) -> float:
        return jobs_of(s, key) + sum(tree_jobs(c, key) for c in kids.get(s.id, []))

    def named(name, measured=False):
        return [
            s for s in tr.named(name)
            if not measured or s.start >= run.t_measured
        ]

    out: dict[str, float] = {}
    extra: dict = {}

    # build
    build_spans = [s for s in spans if s.layer == "build"]
    for phase in BUILD_PHASES + ("compact",):
        ss = named(f"build.{phase}")
        if phase != "compact":
            out[f"build.{phase}_s"] = p50([s.dur for s in ss])
        else:
            extra["build.compact_s"] = p50([s.dur for s in ss])
        out[f"build.{phase}_jobs"] = p50([jobs_of(s) for s in ss])
    base = [s for s in build_spans if s.name.split(".")[1] in BUILD_PHASES]
    out["build.tasks"] = sum(jobs_of(s, "tasks") for s in base)
    out["build.shuffle_write_bytes"] = sum(
        jobs_of(s, "shuffle_write_bytes") for s in base
    )
    out["build.postings_bytes"] = run.facts["postings_bytes"]
    out["build.postings_per_s"] = run.facts["total_postings"] / out[
        "build.build_postings_s"
    ]

    # query: REPL-path requests after set-up, split into their phases
    reqs = named("query.request", measured=True)
    for phase in ("compile", "execute", "doc_info"):
        ss = [c for r in reqs for c in kids.get(r.id, [])
              if c.name == f"query.{phase}"]
        out[f"query.{phase}_s"] = p50([s.dur for s in ss])
        out[f"query.{phase}_jobs"] = p50([jobs_of(s) for s in ss])
    opens = named("query.open")
    out["query.open_s"] = p50([s.dur for s in opens])
    out["query.open_jobs"] = p50([jobs_of(s) for s in opens])
    out["query.request_tasks"] = p50([tree_jobs(r, "tasks") for r in reqs])
    out["query.request_shuffle_bytes"] = p50(
        [tree_jobs(r, "shuffle_write_bytes") for r in reqs]
    )
    out["query.request_input_bytes"] = p50(
        [tree_jobs(r, "input_bytes") for r in reqs]
    )
    wand = run.facts.get("wand") or []
    if isinstance(wand, dict):
        wand = [wand]
    total = sum(w["segments_total"] for w in wand)
    scored = sum(w["segments_scored"] for w in wand)
    out["query.wand_skip_rate"] = 1.0 - scored / total if total else 0.0
    # latency of the workload's timed requests by query shape: single
    # terms and ANDs, where WAND and decode changes should not show, and
    # ORs, where they should
    if run.workload == "serve_zipf":
        by_shape = [(r["query"].shape, r["latency"])
                    for r in run.facts["serve_requests"]]
    else:
        by_shape = [(r.attrs["shape"], r.dur) for r in reqs]
    for group, shapes in SHAPE_GROUPS.items():
        out[f"query.{group}_p50_s"] = p50(
            [t for sh, t in by_shape if sh in shapes]
        )
    extra["query.p50_s_by_shape"] = {
        sh: p50([t for s2, t in by_shape if s2 == sh])
        for sh in sorted({sh for sh, _ in by_shape})
    }

    # serve: the HTTP requests after set-up
    http = [s for s in named("serve.request", measured=True)
            if s.attrs.get("status") == 200]
    out["serve.took_p50_s"] = p50([s.attrs["took"] for s in http])
    out["serve.http_overhead_p50_s"] = p50(
        [s.dur - s.attrs["took"] for s in http]
    )
    if run.workload == "serve_zipf":
        ladder = named("serve.ladder")
        out["serve.jobs_per_miss"] = (
            sum(jobs_of(s) for s in ladder) / run.facts["serve_distinct"]
        )
        out["serve.repeat_share"] = run.info["repeat_share"]
        out["serve.max_outstanding"] = run.facts["max_outstanding"]
        out["serve.max_rps"] = run.facts["serve_max_rps"]
        extra["serve.steps"] = run.facts["serve_steps"]
        extra["serve.generator_lag_p90_s"] = quantile(
            [r["lag"] for r in run.facts["serve_requests"]], 0.9
        )
    else:
        probes = named("serve.fresh_probe")
        out["serve.jobs_per_miss"] = p50([tree_jobs(s) for s in probes])
        out["serve.repeat_share"] = 0.0
        out["serve.max_outstanding"] = 1 if probes else 0
        out["serve.max_rps"] = 0.0

    # streaming
    for phase in ("start", "advance"):
        ss = named(f"streaming.{phase}")
        out[f"streaming.{phase}_jobs"] = p50([jobs_of(s) for s in ss])
        extra[f"streaming.{phase}_s"] = p50([s.dur for s in ss])
    out["streaming.advance_shuffle_bytes"] = p50(
        [jobs_of(s, "shuffle_write_bytes") for s in named("streaming.advance")]
    )
    out["streaming.superseded_docs"] = run.facts.get("superseded", 0)
    out["streaming.index_files"] = run.facts["index_files"]

    out["proc.cpu_user_s"], out["proc.cpu_sys_s"] = cpu

    # self time per layer and jobs per span name, for the detail line
    selfs = tr.self_times()
    layer_self: dict[str, float] = {}
    jobs_per_name: dict[str, list] = {}
    for s in spans:
        layer_self[s.layer] = layer_self.get(s.layer, 0.0) + selfs[s.id]
        jobs_per_name.setdefault(s.name, []).append(jobs_of(s))
    extra["self_s_by_layer"] = layer_self
    extra["jobs_per_span_p50"] = {k: p50(v) for k, v in jobs_per_name.items()}
    return out, extra
