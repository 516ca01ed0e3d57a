"""One measured run in a fresh Spark process: set-up, one timed call, checks.

Started by ``run.py`` (never by hand) as

    python3 perfbench/worker.py --workload W --seed N --work DIR --trace 0|1 --setup-reps K

from the repository root. It writes ``DIR/result.json`` and exits. With
``--trace 1`` the layer entry points are wrapped (``spans.py``), the Spark
event log is on, and the result carries the per-layer table.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import corpus  # noqa: E402
import proctree  # noqa: E402
from fingerprint import dangling, fingerprint, rows_of  # noqa: E402

PAGE_FILES = 8  # parquet files per materialized page table
STREAM_FILES = 192  # landed files; start_ingest reads 64 per micro-batch
PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


def driver_memory() -> str:
    """15% of MemTotal, between 1 and 4 GiB: the program's 24g default does
    not fit a small host, and this workload size needs far less."""
    mb = proctree.host_info()["mem_total_mb"] * 15 // 100
    return f"{max(1024, min(4096, mb))}m"


def start_session(work: str, trace: bool):
    from graphiti_spark.session import get_spark

    conf = {"spark.driver.memory": driver_memory()}
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    cpus = proctree.host_info()["cpus"]
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def materialize(df, out: str, seed: int, n_files: int) -> str:
    """Write ``df`` as ``n_files`` parquet files whose row placement and
    order depend on the seed (content does not)."""
    from pyspark.sql import functions as F

    (
        df.repartition(n_files, F.xxhash64("url", F.lit(seed)))
        .sortWithinPartitions(F.xxhash64(F.lit(seed + 1), "url"))
        .write.mode("overwrite")
        .parquet(out)
    )
    return out


def pinned(seed: int) -> dict | None:
    """Reference fingerprints of the long-tail rebuild for this seed."""
    with open(PINS) as f:
        pins = json.load(f)
    return pins.get("longtail", {}).get(str(corpus.delta_tenth(seed)))


def longtail_pages(spark, work: str, seed: int, rep: int):
    """(base, delta) page DataFrames of the long-tail corpus for ``seed``:
    the base 90% from the shared pool, the seed's delta tenth from the
    'fresh' pool (own tail-entity vocabulary, shared hot head)."""
    from graphiti_spark.synth import webtext_pages

    base_ids, delta_ids = corpus.split_longtail(corpus.doc_ids(), seed)
    base_dir = corpus.write_documents(base_ids, os.path.join(work, f"lt{rep}", "base"))
    delta_dir = corpus.write_documents(delta_ids, os.path.join(work, f"lt{rep}", "delta"))
    return (
        webtext_pages(spark, base_dir, pool=""),
        webtext_pages(spark, delta_dir, pool="fresh"),
        len(base_ids),
        len(delta_ids),
    )


def checked(tables: dict, pins: dict | None) -> tuple[dict, list[str]]:
    """Fingerprints of ``tables`` against the pins, plus referential
    invariants: every edge endpoint and mention entity is a node; every raw
    mention and triple belongs to an episode. Returns (fingerprints, failures)."""
    fps = {n: fingerprint(df) for n, df in tables.items()}
    failures = []
    if pins is None:
        failures.append("no pinned fingerprints for this input")
    else:
        failures += [
            f"{n}: fingerprint {fp} != pinned {pins.get(n)}"
            for n, fp in fps.items()
            if fp != pins.get(n)
        ]
    refs = []
    if "nodes" in tables:
        refs += [
            ("edges", "source_node_uuid", "nodes"),
            ("edges", "target_node_uuid", "nodes"),
            ("mentions", "entity_uuid", "nodes"),
        ]
    if "episodes_raw" in tables:
        refs += [
            ("mentions_raw", "episode_uuid", "episodes_raw"),
            ("triples_raw", "episode_uuid", "episodes_raw"),
        ]
    for child, key, parent in refs:
        bad = dangling(tables[child], key, tables[parent])
        if bad:
            failures.append(f"{child}.{key}: {bad} rows point outside {parent}")
    return fps, failures


class IngestDelta:
    """Bootstrap run_pipeline_incremental on the base 90% (set-up), then one
    incremental run over the seed's fresh-pool tenth (timed)."""

    def __init__(self, spark, work, seed):
        self.spark, self.work, self.seed = spark, work, seed
        self.state = self.out_dir = os.path.join(work, "state")

    def setup_once(self, rep: int) -> None:
        base, delta, _, self.n_delta = longtail_pages(self.spark, self.work, self.seed, rep)
        self.base_dir = materialize(
            base, os.path.join(self.work, f"lt{rep}", "base_pages"), self.seed, PAGE_FILES
        )
        self.delta_dir = materialize(
            delta, os.path.join(self.work, f"lt{rep}", "delta_pages"), self.seed, PAGE_FILES
        )

    def finish_setup(self) -> None:
        from graphiti_spark.plans import incremental

        incremental.run_pipeline_incremental(
            self.spark, self.spark.read.parquet(self.base_dir), self.state
        )

    def pre_call(self) -> None:
        """Existing canonical clusters, the base of inc.scope_ratio."""
        self.nodes_before = self.spark.read.parquet(os.path.join(self.state, "nodes")).count()

    def call(self, span):
        from graphiti_spark.plans import incremental

        return incremental.run_pipeline_incremental(
            self.spark, self.spark.read.parquet(self.delta_dir), self.state
        )

    def check(self, stats) -> dict:
        from graphiti_spark.plans.incremental import read_graph

        graph = read_graph(self.spark, self.state)
        tables = {n: graph[n] for n in ("nodes", "edges", "mentions")}
        fps, failures = checked(tables, pinned(self.seed))
        batch = os.path.join(self.state, "triples_raw", f"batch_{stats.get('batch_id')}")
        triples = self.spark.read.parquet(batch).count() if os.path.isdir(batch) else 0
        if stats.get("new_episodes", 0) <= 0:
            failures.append(f"delta ingested no episodes: {stats}")
        return {
            "pages": self.n_delta,
            "triples": triples,
            "fingerprints": fps,
            "failures": failures,
        }


class ExtractStream:
    """start_ingest (availableNow) draining the whole long-tail corpus,
    landed as parquet files, in several micro-batches: S1-S4, no ER."""

    def __init__(self, spark, work, seed):
        self.spark, self.work, self.seed = spark, work, seed
        self.out = self.out_dir = os.path.join(work, "stream_out")
        self.query = None

    def setup_once(self, rep: int) -> None:
        base, delta, nb, nd = longtail_pages(self.spark, self.work, self.seed, rep)
        self.n_pages = nb + nd
        pages = materialize(
            base.unionByName(delta), os.path.join(self.work, f"lt{rep}", "pages"), self.seed, 1
        )
        landed = os.path.join(self.work, f"lt{rep}", "landed")
        self.landed = corpus.land_files(pages, landed, STREAM_FILES)

    def finish_setup(self) -> None:
        pass

    def call(self, span):
        from graphiti_spark.streaming import ingest

        # start_ingest returns before its micro-batches run: the layer's
        # span covers start and drain
        with span("start_ingest"):
            self.query = ingest.start_ingest(self.spark, self.landed, self.out)
            self.query.awaitTermination()
        if self.query.exception() is not None:
            raise RuntimeError(str(self.query.exception()))
        return self.query

    def check(self, _query) -> dict:
        read = self.spark.read.parquet
        tables = {
            "episodes_raw": read(os.path.join(self.out, "episodes")).drop("_epoch"),
            "mentions_raw": read(os.path.join(self.out, "mentions")).drop("_epoch"),
            "triples_raw": read(os.path.join(self.out, "triples")).drop("_epoch"),
        }
        fps, failures = checked(tables, pinned(self.seed))
        return {
            "pages": self.n_pages,
            "triples": rows_of(fps["triples_raw"]),
            "fingerprints": fps,
            "failures": failures,
        }


WORKLOADS = {"ingest_delta": IngestDelta, "extract_stream": ExtractStream}


def _files(root: str) -> dict[str, tuple[int, int, int]]:
    """path -> (size, mtime_ns, inode) of every file under ``root``."""
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def jvm_gc_s(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(0, g.getCollectionTime()) for g in mf.getGarbageCollectorMXBeans()) / 1000.0


def jvm_heap_after_gc_mb(spark) -> float:
    """Heap in use right after the last collection, summed over heap pools."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    used = 0
    for pool in mf.getMemoryPoolMXBeans():
        usage = pool.getCollectionUsage()
        if usage is not None and pool.getType().toString() == "Heap memory":
            used += usage.getUsed()
    return used / 2**20


def run(args) -> dict:
    trace = bool(args.trace)
    result: dict = {"workload": args.workload, "seed": args.seed, "trace": trace}
    result["host"] = proctree.host_info()
    result["host"]["before"] = proctree.host_snapshot()
    result["driver_memory"] = driver_memory()

    t0 = time.perf_counter()
    spark = start_session(args.work, trace)
    session_start = time.perf_counter() - t0
    tracer = uninstall = None
    if trace:
        from spans import Tracer, install

        tracer = Tracer(spark.sparkContext)
        uninstall = install(tracer)

    wl = WORKLOADS[args.workload](spark, args.work, args.seed)

    def phase(name):
        return tracer.span(name) if tracer else contextlib.nullcontext()

    reps = []
    with phase("setup"):
        for rep in range(args.setup_reps):
            t = time.perf_counter()
            wl.setup_once(rep)
            reps.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.finish_setup()
        finish = time.perf_counter() - t
    result["setup"] = {
        "session_start_s": session_start,
        "materialize_s": reps,
        "finish_s": finish,
        "setup_s": session_start + statistics.median(reps) + finish,
    }

    if trace and hasattr(wl, "pre_call"):
        wl.pre_call()
    gc0 = jvm_gc_s(spark)
    files0 = _files(wl.out_dir)
    mon = proctree.Monitor(os.getpid())
    mon.start()
    with phase("call"):
        out = wl.call(phase)
    result["call"] = mon.stop()
    # files the call created or rewrote under its output directory
    files1 = _files(wl.out_dir)
    result["call"]["written_bytes"] = sum(st[0] for p, st in files1.items() if files0.get(p) != st)
    result["call"]["jvm_gc_s"] = jvm_gc_s(spark) - gc0
    result["call"]["jvm_heap_after_gc_mb"] = jvm_heap_after_gc_mb(spark)

    t = time.perf_counter()
    with phase("check"):
        result["check"] = wl.check(out)
    result["check"]["check_s"] = time.perf_counter() - t

    if trace:
        with phase("post"):
            result["counts"] = layer_counts(tracer, wl)
        uninstall()
        result["stream_run_id"] = str(wl.query.runId) if getattr(wl, "query", None) else None
        result["stream_progress"] = stream_progress(wl)
    spark.stop()
    result["host"]["after"] = proctree.host_snapshot()
    if trace:
        from layers import per_layer

        result["spans"] = tracer.spans
        result["per_layer"] = per_layer(result, os.path.join(args.work, "eventlog"), tracer)
    return result


def stream_progress(wl) -> list[dict]:
    """Rows and trigger time of each micro-batch of the stream workload."""
    q = getattr(wl, "query", None)
    if q is None:
        return []
    return [
        {
            "batch_id": p.batchId,
            "rows": p.numInputRows,
            "trigger_ms": p.durationMs.get("triggerExecution", 0),
        }
        for p in q.recentProgress
    ]


def layer_counts(tracer, wl) -> dict:
    """Counts the layers' outputs imply, taken after the timed call (their
    jobs run under the 'post' span, outside the measured call)."""
    from pyspark.sql import functions as F

    got = lambda key, root="call": tracer.captured.get((root, key), [])  # noqa: E731
    counts = {}
    for root in ("setup", "call"):
        counts[f"{root}.er.candidates"] = sum(df.count() for df in got("er.candidates", root))
    # the build's accepted pairs are its materialized s5 stage; the delta's
    # are the (small) scorer output
    counts["setup.er.accepted"] = sum(df.count() for df in got("stage.s5_duplicate_pairs", "setup"))
    counts["call.er.accepted"] = sum(df.count() for df in got("er.accepted"))
    edges = comps = largest = 0
    for pairs, umap in got("cc"):
        edges += pairs.select("uuid_a", "uuid_b").distinct().count()
        sizes = umap.groupBy("canonical_uuid").agg(F.count(F.lit(1)).alias("n"))
        row = sizes.agg(F.count(F.lit(1)).alias("c"), F.max("n").alias("m")).collect()[0]
        comps += row["c"]
        largest = max(largest, (row["m"] or 0) + 1 if row["c"] else 0)
    counts.update({"cc.edges": edges, "cc.components": comps, "cc.largest": largest})
    stats = got("inc.stats")
    if stats:
        s = stats[-1]
        counts["inc.changed_entities"] = s.get("changed_entities", 0)
        counts["inc.affected_existing_clusters"] = s.get("affected_existing_clusters", 0)
        counts["inc.nodes_before"] = getattr(wl, "nodes_before", 0)
    return counts


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--setup-reps", type=int, required=True)
    args = ap.parse_args()
    path = os.path.join(args.work, "result.json")
    try:
        result = run(args)
    except Exception:  # the run boundary: record the failure for run.py
        result = {"error": traceback.format_exc()}
    with open(path, "w") as f:
        json.dump(result, f, default=str)
    return 1 if "error" in result else 0


if __name__ == "__main__":
    sys.exit(main())
