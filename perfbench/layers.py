"""The per-layer table of a traced run, and the names and units of its metrics.

Work is attributed from the Spark event log: a stage belongs to the job group
its job was started under, and the worker's spans set those groups (paths
such as ``setup/run_pipeline_incremental/s5_duplicate_pairs/er.candidate_pairs``).
Jobs started from a thread with no group are placed in the innermost
main-thread span open when they were submitted. Incremental phases are time
windows the program reports itself, so they are attributed by time.

Where each row comes from:
  s<k>_* stages, er.*   the full build: ingest_delta's bootstrap, in set-up
  inc.*, cc.*, upsert.* the timed incremental call
  stream.*              the timed stream drain
Attribution coverage is measured over the timed call only.
"""

from __future__ import annotations

import os
import statistics

from eventlog import fold, merge, read_events, task_skew

# Ledger stages that run Spark jobs in in-memory mode. s1_text and s7_edges
# are lazy there and fold into their consumer (s2_episodes, s8_edges_final).
STAGES = [
    "s2_episodes",
    "s3_mentions",
    "s4_triples",
    "s5_entities",
    "s5_duplicate_pairs",
    "s6_uuid_map",
    "s7_nodes",
    "s8_edges_final",
    "s9_mentions_final",
    "s9_audit_edges",
]
STAGE_METRICS = [
    ("wall_s", "s"),
    ("exec_cpu_s", "s"),
    ("shuffle_mb", "MB"),
    ("jobs", "count"),
    ("task_skew", "ratio"),
    ("gc_s", "s"),
]
# phases run_pipeline_incremental reports in its ``timings``
PHASES = [
    "s1_s2_episodes",
    "s3_s4_extract",
    "catalog_refresh",
    "er_pairs",
    "connected_components",
    "rebuild_upserts",
    "episodes_map_state",
]
PHASE_METRICS = [("wall_s", "s"), ("exec_cpu_s", "s"), ("jobs", "count")]


def specs() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    out = []
    for st in STAGES:
        out += [(f"{st}.{m}", u, "lower") for m, u in STAGE_METRICS]
    out += [
        ("er.candidates", "count", "lower"),
        ("er.accepted", "count", "higher"),
        ("er.accept_ratio", "ratio", "higher"),
        ("inc.er_candidates", "count", "lower"),
        ("inc.er_accepted", "count", "higher"),
        ("cc.edges", "count", "lower"),
        ("cc.components", "count", "higher"),
        ("cc.largest", "count", "lower"),
    ]
    for ph in PHASES:
        out += [(f"inc.{ph}.{m}", u, "lower") for m, u in PHASE_METRICS]
    out += [
        ("inc.changed_entities", "count", "lower"),
        ("inc.affected_existing_clusters", "count", "lower"),
        ("inc.scope_ratio", "ratio", "lower"),
        ("upsert.calls", "count", "lower"),
        ("upsert.wall_s", "s", "lower"),
        ("upsert.write_mb", "MB", "lower"),
        ("stream.batches", "count", "lower"),
        ("stream.batch_p50_s", "s", "lower"),
        ("stream.first_batch_s", "s", "lower"),
        ("session.start_s", "s", "lower"),
        ("spark.jobs", "count", "lower"),
        ("jvm.gc_s", "s", "lower"),
        ("jvm.heap_after_gc_mb", "MB", "lower"),
        ("cpu.java_s", "s", "lower"),
        ("cpu.python_s", "s", "lower"),
        ("trace.coverage", "ratio", "higher"),
        ("trace.overhead_s", "s", "lower"),
    ]
    return out


def _in(path: str | None, root: str) -> bool:
    return path is not None and (path == root or path.startswith(root + "/"))


def _wall(spans: list[dict], path: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["path"] == path)


def event_log(log_dir: str) -> str:
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    return os.path.join(log_dir, name)


def per_layer(result: dict, log_dir: str, tracer) -> dict[str, float]:
    """Every per-layer metric except trace.overhead_s (which needs the
    untraced run) for one traced run."""
    events = list(read_events(event_log(log_dir)))
    spans = tracer.spans
    run_id = result.get("stream_run_id")

    def by_group(group, submit_ms):
        # streaming micro-batches run under the query's run id as job group
        if run_id and group == run_id:
            return "call/start_ingest"
        if group is None:
            return tracer.innermost_main(submit_ms / 1000.0, "")
        return group

    everything = fold(events, by_group)
    groups = {g: v for g, v in everything.items() if _in(g, "call")}
    total = merge(groups.values())
    m: dict[str, float] = {}

    def stage_of(g: str) -> str | None:
        """The ledger stage a group path runs under, in set-up or the call."""
        if not (_in(g, "setup") or _in(g, "call")):
            return None
        return next((p for p in g.split("/") if p in STAGES), None)

    covered = 0
    for st in STAGES:
        t = merge(v for g, v in everything.items() if stage_of(g) == st)
        covered += merge(v for g, v in groups.items() if stage_of(g) == st)["run_ms"]
        m[f"{st}.wall_s"] = sum(
            s["end"] - s["start"] for s in spans if s["name"] == st and stage_of(s["path"])
        )
        m[f"{st}.exec_cpu_s"] = t["cpu_ns"] / 1e9
        m[f"{st}.shuffle_mb"] = (t["shuffle_write_bytes"] + t["shuffle_read_bytes"]) / 2**20
        m[f"{st}.jobs"] = t["jobs"]
        m[f"{st}.task_skew"] = task_skew(t)
        m[f"{st}.gc_s"] = t["gc_ms"] / 1000.0

    counts = result.get("counts", {})
    m["er.candidates"] = counts.get("setup.er.candidates", 0)
    m["er.accepted"] = counts.get("setup.er.accepted", 0)
    m["er.accept_ratio"] = m["er.accepted"] / m["er.candidates"] if m["er.candidates"] else 0.0
    m["inc.er_candidates"] = counts.get("call.er.candidates", 0)
    m["inc.er_accepted"] = counts.get("call.er.accepted", 0)
    for k in ("cc.edges", "cc.components", "cc.largest"):
        m[k] = counts.get(k, 0)

    inc_root = "call/run_pipeline_incremental"
    phase_spans = [s for s in spans if s["parent"] == inc_root and s["thread"] == "reported"]

    def by_phase(group, submit_ms):
        if not _in(by_group(group, submit_ms), "call"):
            return None
        t = submit_ms / 1000.0
        for s in phase_spans:
            if s["start"] <= t < s["end"]:
                return s["name"]
        return None

    phases = fold(events, by_phase)
    for ph in PHASES:
        t = phases.get(f"inc.{ph}") or merge([])
        covered += t["run_ms"]
        m[f"inc.{ph}.wall_s"] = _wall(spans, f"{inc_root}/inc.{ph}")
        m[f"inc.{ph}.exec_cpu_s"] = t["cpu_ns"] / 1e9
        m[f"inc.{ph}.jobs"] = t["jobs"]
    m["inc.changed_entities"] = counts.get("inc.changed_entities", 0)
    m["inc.affected_existing_clusters"] = counts.get("inc.affected_existing_clusters", 0)
    before = counts.get("inc.nodes_before", 0)
    m["inc.scope_ratio"] = m["inc.affected_existing_clusters"] / before if before else 0.0

    upserts = [s for s in spans if _in(s["path"], "call") and s["name"] == "upsert_table"]
    m["upsert.calls"] = len(upserts)
    m["upsert.wall_s"] = sum(s["end"] - s["start"] for s in upserts)
    m["upsert.write_mb"] = (
        merge(v for g, v in groups.items() if "/upsert_table" in g)["output_bytes"] / 2**20
    )

    stream = groups.get("call/start_ingest") or merge([])
    covered += stream["run_ms"]
    batches = [p for p in result.get("stream_progress", []) if p["rows"] > 0]
    m["stream.batches"] = len(batches)
    m["stream.batch_p50_s"] = (
        statistics.median(p["trigger_ms"] for p in batches) / 1000.0 if batches else 0.0
    )
    m["stream.first_batch_s"] = batches[0]["trigger_ms"] / 1000.0 if batches else 0.0

    call = result["call"]
    m["session.start_s"] = result["setup"]["session_start_s"]
    m["spark.jobs"] = total["jobs"]
    m["jvm.gc_s"] = call["jvm_gc_s"]
    m["jvm.heap_after_gc_mb"] = call["jvm_heap_after_gc_mb"]
    m["cpu.java_s"] = call["cpu_java_s"]
    m["cpu.python_s"] = call["cpu_python_s"]
    # share of the call's executor run time that lands in a row of this table
    m["trace.coverage"] = covered / total["run_ms"] if total["run_ms"] else 0.0
    return m
