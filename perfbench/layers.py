"""Per-layer metrics of a traced run, named after the package's modules.

Time comes from two sources: span intervals (eager public calls such as
`commit_window` or `instrument_run`) and Spark's own plan metrics for the
work that lazy calls (`build_sketches`, `probe_sketches`, the family
aggregations) leave to whichever action runs them.  Plan nodes are
attributed by their Python function name (`build_partials`, `merge_all`,
`probe`, the families' `build`/`merge`) and by the path they scan, so the
attribution does not depend on which span happened to trigger the job.

Each entry: unit, better-direction, and the end-to-end metric and workload
it should move (from reading the code before measuring).
"""

from __future__ import annotations

import statistics

from .sparkmetrics import Execution, StageStats
from .tracing import self_times, union_length

PER_LAYER = {
    # sources (corpus guard, checkpoint)
    "sources.raw_scans": ("count", "lower", "wall_s, files_per_s on gather_family (4 by reading cmd_gather); 0 on search_hourly"),
    "sources.guard_s": ("s", "lower", "wall_s on gather_family"),
    "sources.fingerprint_s": ("s", "lower", "wall_s on gather_family"),
    "sources.commit_s": ("s", "lower", "wall_s on gather_family, search_hourly (rotate commits)"),
    "sources.commit_mb": ("MB", "lower", "store_mb on gather_family, search_hourly"),
    # functions.text
    "text.keys_per_file": ("ratio", "lower", "files_per_s, keys_per_s on gather_family"),
    "text.explode_s": ("s", "lower", "files_per_s on gather_family"),
    # operators.sketch_agg build (build_partials)
    "build.python_run_s": ("s", "lower", "files_per_s, worker_rss_mb on gather_family; flat on search_hourly"),
    "build.python_init_s": ("s", "lower", "files_per_s on gather_family"),
    "build.python_start_s": ("s", "lower", "files_per_s on gather_family"),
    "build.arrow_in_mb": ("MB", "lower", "files_per_s on gather_family"),
    "build.arrow_out_mb": ("MB", "lower", "files_per_s, worker_rss_mb on gather_family"),
    "build.partials": ("count", "lower", "files_per_s on gather_family (salted partials)"),
    "build.task_skew": ("ratio", "lower", "wall_s on gather_family (hot repo)"),
    "build.key_shuffle_mb": ("MB", "lower", "files_per_s on gather_family"),
    "build.key_shuffle_write_s": ("s", "lower", "files_per_s on gather_family"),
    # operators.sketch_agg merge (_merge_by_group, rollups)
    "merge.python_run_s": ("s", "lower", "wall_s on search_hourly (12:1 rotate), gather_family (salted partials)"),
    "merge.rows_in": ("count", "lower", "wall_s on search_hourly, gather_family"),
    "merge.arrow_in_mb": ("MB", "lower", "wall_s on search_hourly, gather_family"),
    # operators.probe + search
    "search.store_scans": ("count", "lower", "keys_per_s on search_hourly (4 by reading run_search and search_result_json)"),
    "probe.python_run_s": ("s", "lower", "keys_per_s on search_hourly only"),
    "probe.rows_out": ("count", "lower", "keys_per_s on search_hourly only"),
    "probe.useful_ratio": ("ratio", "higher", "keys_per_s on search_hourly only"),
    "search.shape_s": ("s", "lower", "keys_per_s, wall_s on search_hourly"),
    # operators.theta, operators.quantiles
    "family.build_python_s": ("s", "lower", "wall_s on gather_family only"),
    "family.merge_python_s": ("s", "lower", "wall_s on gather_family only"),
    "family.partials_per_group": ("ratio", "lower", "wall_s on gather_family only"),
    "family.merge_arrow_mb": ("MB", "lower", "wall_s on gather_family only"),
    # instrumentation
    "instrument.s": ("s", "lower", "wall_s on gather_family"),
    # Spark engine (session)
    "spark.cpu_util": ("ratio", "higher", "wall_s on both workloads"),
    "spark.gc_s": ("s", "lower", "wall_s on both workloads"),
    "spark.spill_mb": ("MB", "lower", "wall_s, worker_rss_mb on both workloads"),
    "spark.tasks": ("count", "lower", "wall_s on both workloads"),
    # the trace itself
    "trace.wall_s": ("s", "lower", "traced run wall time"),
    "trace.overhead_s": ("s", "lower", "traced wall time minus an untraced run made right after it"),
    "trace.span_coverage": ("ratio", "higher", "share of traced wall time inside library-call spans"),
}

MB = 1e6


def _sum(nodes, metric: str) -> float:
    return sum(n.metrics.get(metric, 0.0) for n in nodes)


def compute(
    spans: list[dict],
    execs: list[Execution],
    stages: list[StageStats],
    facts: dict,
    cores: int,
) -> dict[str, float]:
    """facts: input_path, store_path (or None), traced_wall, untraced_wall,
    hostnames (search result rows with hits >= u, else 0)."""
    span_of = {s["id"]: s for s in spans}

    def execs_in(name: str) -> list[Execution]:
        """Executions whose job group is a span named `name` or its descendant."""
        out = []
        for e in execs:
            sid = e.group
            while sid is not None:
                if span_of[sid]["name"] == name:
                    out.append(e)
                    break
                sid = span_of[sid]["parent"]
        return out

    def span_total(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def scans(es, path):
        return [
            n for e in es for n in e.find("Scan parquet")
            if path and path in n.desc and n.metrics.get("number of output rows", 0) > 0
        ]

    def udf_nodes(es, kind, udf):
        return [n for e in es for n in e.find(kind, udf)]

    m: dict[str, float] = {}
    raw = facts["input_path"]
    m["sources.raw_scans"] = len(scans(execs_in("cli.gather"), raw))
    m["sources.guard_s"] = span_total("verify_content_sha.counts")
    m["sources.fingerprint_s"] = sum(
        e.duration for e in execs
        if span_of[e.group]["name"] == "build_resumable"
        and scans([e], raw) and not any(n.udf for n in e.nodes.values())
    )
    m["sources.commit_s"] = span_total("commit_window")
    m["sources.commit_mb"] = _sum(
        [n for e in execs_in("commit_window") for n in e.find("Execute InsertIntoHadoopFsRelationCommand")],
        "written output",
    ) / MB

    gen_rows = scan_rows = explode = 0.0
    for e in execs:
        gens = e.find("Generate")
        if not gens:
            continue
        gen_rows += _sum(gens, "number of output rows")
        scan_rows += _sum(scans([e], raw), "number of output rows")
        # the generator only explodes; the key arrays are computed in the
        # codegen stage that feeds it (scan, sha guard, key_array project)
        feeding = {c for g in gens for c in e.children.get(g.id, [])}
        for cid, members in e.clusters.items():
            if feeding & set(members):
                explode += e.nodes[cid].metrics.get("duration", 0.0)
    m["text.keys_per_file"] = gen_rows / scan_rows if scan_rows else 0.0
    m["text.explode_s"] = explode

    build = udf_nodes(execs, "MapInPandas", "build_partials")
    m["build.python_run_s"] = _sum(build, "time to run Python workers")
    m["build.python_init_s"] = _sum(build, "time to initialize Python workers")
    m["build.python_start_s"] = _sum(build, "time to start Python workers")
    m["build.arrow_in_mb"] = _sum(build, "data sent to Python workers") / MB
    m["build.arrow_out_mb"] = _sum(build, "data returned from Python workers") / MB
    m["build.partials"] = _sum(build, "number of output rows")
    skews = []
    by_stage = {s.stage_id: s for s in stages}
    for n in build:
        if n.stage is None:  # one task: Spark prints no per-stage breakdown
            skews.append(1.0 if n.metrics.get("number of output rows") else 0.0)
            continue
        st = by_stage.get(n.stage)
        if st and st.task_durations_s and statistics.median(st.task_durations_s) > 0:
            skews.append(max(st.task_durations_s) / statistics.median(st.task_durations_s))
    m["build.task_skew"] = max(skews, default=0.0)
    shuffles = [
        x for e in execs for n in e.find("MapInPandas", "build_partials")
        if (x := e.first_below(n.id, "Exchange")) is not None
    ]
    m["build.key_shuffle_mb"] = _sum(shuffles, "shuffle bytes written") / MB
    m["build.key_shuffle_write_s"] = _sum(shuffles, "shuffle write time")

    merge = udf_nodes(execs, "MapInPandas", "merge_all")
    m["merge.python_run_s"] = _sum(merge, "time to run Python workers")
    m["merge.rows_in"] = sum(
        x.metrics.get("shuffle records written", 0.0)
        for e in execs for n in e.find("MapInPandas", "merge_all")
        if (x := e.first_below(n.id, "Exchange")) is not None
    )
    m["merge.arrow_in_mb"] = _sum(merge, "data sent to Python workers") / MB

    search = execs_in("cli.search")
    m["search.store_scans"] = len(scans(search, facts.get("store_path")))
    probe = udf_nodes(execs, "MapInPandas", "probe")
    m["probe.python_run_s"] = _sum(probe, "time to run Python workers")
    m["probe.rows_out"] = _sum(probe, "number of output rows")
    m["probe.useful_ratio"] = facts.get("hostnames", 0) / m["probe.rows_out"] if m["probe.rows_out"] else 0.0
    probe_execs = [e for e in execs_in("search_result_json") if e.find("MapInPandas", "probe")]
    m["search.shape_s"] = max(
        span_total("search_result_json") - union_length([(e.start, e.end) for e in probe_execs]), 0.0
    )

    fb = udf_nodes(execs, "MapInPandas", "build")
    fm = udf_nodes(execs, "FlatMapGroupsInPandas", "merge")
    m["family.build_python_s"] = _sum(fb, "time to run Python workers")
    m["family.merge_python_s"] = _sum(fm, "time to run Python workers")
    groups_out = _sum(fm, "number of output rows")
    m["family.partials_per_group"] = _sum(fb, "number of output rows") / groups_out if groups_out else 0.0
    m["family.merge_arrow_mb"] = _sum(fm, "data sent to Python workers") / MB

    m["instrument.s"] = span_total("instrument_run")

    wall = facts["traced_wall"]
    m["spark.cpu_util"] = sum(s.cpu_s for s in stages) / (wall * cores) if wall else 0.0
    m["spark.gc_s"] = sum(s.gc_s for s in stages)
    m["spark.spill_mb"] = sum(s.spill_bytes for s in stages) / MB
    m["spark.tasks"] = sum(s.tasks for s in stages)

    m["trace.wall_s"] = wall
    m["trace.overhead_s"] = wall - facts["untraced_wall"]
    library = [
        (s["start"], s["end"]) for s in spans
        if s["layer"] not in ("run", "cli")
    ]
    m["trace.span_coverage"] = union_length(library) / wall if wall else 0.0
    return {k: float(v) for k, v in m.items()}


def span_report(spans: list[dict]) -> list[dict]:
    """Spans with their self time, for the written trace file."""
    st = self_times(spans)
    return [dict(s, self_s=st[s["id"]], dur_s=s["end"] - s["start"]) for s in spans]
