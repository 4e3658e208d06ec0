"""Traced run: per-layer metrics of the checkpointed extraction path.

The engine has no spans of its own, so each layer is measured from here,
around calls into its public functions:

* Spark probes, each a prefix of the user path into the noop sink: scan,
  + classify (``classify_payload_col``), + salted exchange
  (``salted_repartition``), the whole ``convert_transcripts``, then the
  fresh ``run_with_checkpoint``. A layer's self time is its probe minus the
  previous prefix, so the self times add up to the fresh pass.
* In-process kernels over a fixed generated sample (``extract.core``,
  ``extract.pdf_layout``, ``extract.readability``) and the Arrow boundary
  (``extract_map_in_arrow`` over 2048-row batches, with and without its
  kernel).
* Counts from ``statusTracker`` (jobs, stages, tasks) and from Spark's event
  log, enabled by session conf in this run only (bytes, task times, SQL
  metrics of the Python stages, job intervals).

Every Spark probe runs ``REPS`` times, interleaved, and every in-process
timing ``KERNEL_REPS`` times; a metric is the median. Spans
and the per-layer table go to ``<work>/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import statistics
import time
from contextlib import contextmanager

REPS = 2
KERNEL_REPS = 5
ARROW_BATCH = 2048
ARROW_ROWS = 4096
PY_NODE_RE = re.compile(r"ArrowEvalPython|MapInArrow")  # the engine's two Python stage kinds


class Tracer:
    """In-memory spans (name, start, end, parent); written out at the end."""

    def __init__(self, trace_id: str) -> None:
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, sc=None):
        """Time a block; with ``sc``, its jobs run under a job group named
        after the span, so event-log records map back to it."""
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "trace": self.trace_id, "group": f"{self.trace_id}/{sid}/{name}"}
        self.spans.append(rec)
        self._stack.append(sid)
        if sc is not None:
            sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if sc is not None:
                sc.setJobGroup("", "")
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def median(self, name: str) -> float:
        return statistics.median(self.durations(name))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# -- Spark probes -------------------------------------------------------------


def _spark_probes(bench, tracer: Tracer) -> dict:
    from pyspark.sql import functions as F

    from article_extraction_spark.extract.udfs import classify_payload_col
    from article_extraction_spark.pipeline.checkpoint import completed_buckets, input_snapshot_id
    from article_extraction_spark.pipeline.convert import convert_transcripts
    from article_extraction_spark.pipeline.partitioning import byte_balanced_partitions, salted_repartition

    import gate

    sc = bench.spark.sparkContext
    tracker = sc.statusTracker()
    out: dict = {"counts": [], "num_partitions": None, "written": None}

    def classified():
        df = bench.read_input()
        return df.select("conv_id", "turn_idx", "text", classify_payload_col(F.col("text")).alias("doc_kind"))

    with tracer.span("warmup"):
        bench.warm_up()
    for rep in range(REPS):
        with tracer.span("probe.scan", sc):
            _noop(bench.read_input().select("conv_id", "turn_idx", "text"))
        with tracer.span("probe.classify", sc):
            _noop(classified())
        with tracer.span("partitioning.plan", sc):
            n = byte_balanced_partitions(bench.read_input())
        out["num_partitions"] = n
        with tracer.span("probe.exchange", sc):
            needs_py = classified().where(F.col("doc_kind").isin("html", "pdf"))
            _noop(salted_repartition(needs_py, n, "conv_id", "turn_idx"))
        with tracer.span("probe.convert", sc):
            _noop(convert_transcripts(bench.read_input(), drop_empty=False))
        shutil.rmtree(bench.dest, ignore_errors=True)
        with tracer.span("probe.fresh", sc) as span:
            _dt, stats = bench.checkpoint_pass(f"trace-fresh-{rep}")
        result = gate.check_checkpoint(bench.dest, bench.wl, stats)
        bench._record(f"trace-fresh-{rep}", result)
        out["lineage"] = result[1].get("lineage", {})
        out["lineage_rows"] = result[1].get("lineage_rows", 0)
        out["written"] = _walk_bytes(os.path.join(bench.dest, gate.TURNS_SUBDIR))
        run_group = span["group"]
        snap = input_snapshot_id(bench.spark, bench.input_path)
        with tracer.span("checkpoint.completed_buckets", sc):
            completed_buckets(bench.spark, bench.dest, snap)
        before = gate.tree_digest(bench.dest)
        with tracer.span("probe.resume", sc):
            _dt, stats = bench.checkpoint_pass(f"trace-resume-{rep}")
        bench._record(f"trace-resume-{rep}", gate.check_resume(stats, before, gate.tree_digest(bench.dest)))
        with tracer.span("probe.diag", sc):
            bench.diag_pass()
        out["counts"].append(_tracker_counts(tracker, run_group))
    return out


def _tracker_counts(tracker, group: str) -> dict:
    jobs = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    ran = [s for s in (tracker.getStageInfo(sid) for sid in stages) if s is not None and s.numCompletedTasks > 0]
    return {"jobs": len(jobs), "stages": len(ran), "tasks": sum(s.numCompletedTasks for s in ran)}


def _walk_bytes(root: str) -> dict:
    files = nbytes = 0
    for d, _dirs, names in os.walk(root):
        for name in names:
            if name.startswith((".", "_")):
                continue
            files += 1
            nbytes += os.path.getsize(os.path.join(d, name))
    return {"files": files, "bytes": nbytes}


# -- in-process kernels and the Arrow boundary ----------------------------------


def _per_item_us(fn, items: list, reps: int = KERNEL_REPS) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for x in items:
            fn(x)
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / len(items) * 1e6


def _kernel_metrics(bench, tracer: Tracer) -> dict:
    from article_extraction_spark.extract.core import to_text
    from article_extraction_spark.extract.pdf_layout import pdf_layout_extract_fn
    from article_extraction_spark.extract.readability import readability_main_text, score_blocks

    sample = bench.gen.kernel_sample(bench.seed)

    def readability(doc):  # what readability_udf computes per html row
        score_blocks(doc)
        readability_main_text(doc)

    out = {}
    with tracer.span("kernel.html"):
        out["kernel.html_us"] = _per_item_us(lambda d: to_text("html", d), sample["html"])
    with tracer.span("kernel.pdf"):
        out["kernel.pdf_us"] = _per_item_us(lambda d: to_text("pdf", d), sample["pdf"])
    with tracer.span("kernel.pdf_layout"):
        out["kernel.pdf_layout_us"] = _per_item_us(pdf_layout_extract_fn, sample["layout_pdf"])
    with tracer.span("kernel.readability"):
        out["kernel.readability_us"] = _per_item_us(readability, sample["html"])
    return out


def _arrow_metrics(bench, tracer: Tracer) -> dict:
    import pyarrow as pa

    from article_extraction_spark.extract import udfs

    wl = bench.wl
    rows = [i for i, k in enumerate(wl.kind) if k in ("html", "pdf")][:ARROW_ROWS]
    kinds = [wl.kind[i] for i in rows]
    texts = [wl.text[i] for i in rows]
    table = pa.table(
        {
            "conv_id": [wl.conv_id[i] for i in rows],
            "turn_idx": pa.array([wl.turn_idx[i] for i in rows], pa.int32()),
            "doc_kind": kinds,
            "n_source_bytes": pa.array([len(t.encode()) for t in texts], pa.int64()),
            "text": texts,
        }
    )
    batches = table.to_batches(max_chunksize=ARROW_BATCH)
    kernel = udfs.to_text
    results = [kernel(k, t) for k, t in zip(kinds, texts)]

    def stage_us() -> float:
        t0 = time.perf_counter()
        n_out = sum(b.num_rows for b in udfs.extract_map_in_arrow(iter(batches)))
        dt = time.perf_counter() - t0
        if n_out != len(rows):
            raise RuntimeError(f"extract_map_in_arrow returned {n_out} rows for {len(rows)}")
        return dt / len(rows) * 1e6

    def boundary_us() -> float:
        # The stage with its kernel replaced by a lookup of the kernel's
        # results for the same rows: what the stage costs beyond the kernel,
        # measured directly. A difference of two kernel-sized timings would
        # be smaller than their noise.
        it = iter(results)
        udfs.to_text = lambda kind, data: next(it)
        try:
            us = stage_us()
        finally:
            udfs.to_text = kernel
        if next(it, None) is not None:
            raise RuntimeError("extract_map_in_arrow did not call udfs.to_text once per row")
        return us

    stage, boundary = [], []
    with tracer.span("arrow_stage"):
        for _ in range(KERNEL_REPS):
            stage.append(stage_us())
            boundary.append(boundary_us())
    return {
        "arrow_stage.us_per_turn": statistics.median(stage),
        "arrow_stage.overhead_us": statistics.median(boundary),
    }


# -- event log -------------------------------------------------------------------


def _read_event_log(eventlog_dir: str) -> list[dict]:
    files = [f for f in glob.glob(os.path.join(eventlog_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {eventlog_dir}, found {files}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f]


class EventLog:
    """Jobs, stages and tasks of one event log, keyed by job group."""

    def __init__(self, events: list[dict]) -> None:
        self.jobs: dict[int, dict] = {}
        self.stage_group: dict[int, str] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = {}
        self.py_row_accums: set[int] = set()
        self.scan_bytes_accums: set[int] = set()
        self.exec_group: dict[int, str] = {}
        self.driver_updates: list[tuple[int, int, int]] = []  # (execution, accumulator, value)
        for e in events:
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                self.jobs[e["Job ID"]] = {"group": group, "start": e["Submission Time"]}
            elif ev == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif ev == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                self.stage_group[info["Stage ID"]] = (e.get("Properties") or {}).get("spark.jobGroup.id")
            elif ev == "SparkListenerStageCompleted":
                self.stages[e["Stage Info"]["Stage ID"]] = e["Stage Info"]
            elif ev == "SparkListenerTaskEnd":
                self.tasks.setdefault(e["Stage ID"], []).append(e)
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                self.driver_updates += [(e["executionId"], a, v) for a, v in e["accumUpdates"]]
            elif "sparkPlanInfo" in e:  # SQL execution start / adaptive update
                if ev.endswith("SparkListenerSQLExecutionStart"):
                    self.exec_group[e["executionId"]] = e.get("jobGroupId")
                self._collect_accums(e["sparkPlanInfo"])

    def _collect_accums(self, node: dict) -> None:
        name = node.get("nodeName", "")
        for m in node.get("metrics", []):
            if PY_NODE_RE.search(name) and m["name"] == "number of output rows":
                self.py_row_accums.add(m["accumulatorId"])
            elif name.startswith("Scan parquet") and m["name"] == "size of files read":
                self.scan_bytes_accums.add(m["accumulatorId"])
        for child in node.get("children", []):
            self._collect_accums(child)

    def scan_bytes(self, group: str) -> int:
        """Bytes of the parquet files the group's scans read (a driver-side
        SQL metric; the task input metric does not count parquet reads)."""
        return sum(
            v for x, a, v in self.driver_updates if a in self.scan_bytes_accums and self.exec_group.get(x) == group
        )

    def group_stages(self, group: str) -> list[int]:
        return [s for s, g in self.stage_group.items() if g == group and s in self.stages]

    def group_tasks(self, group: str) -> list[dict]:
        return [t for s in self.group_stages(group) for t in self.tasks.get(s, [])]

    def shuffle_bytes(self, group: str) -> int:
        return sum(
            t["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            for t in self.group_tasks(group)
            if t.get("Task Metrics")
        )

    def python_rows(self, group: str) -> int:
        total = 0
        for t in self.group_tasks(group):
            for acc in t["Task Info"].get("Accumulables", []):
                if acc["ID"] in self.py_row_accums:
                    total += int(acc.get("Update", 0))
        return total

    def task_skew(self, group: str) -> float:
        """max/median task run time in the stage with the most executor time."""
        best: list[int] = []
        for s in self.group_stages(group):
            times = [t["Task Metrics"]["Executor Run Time"] for t in self.tasks.get(s, []) if t.get("Task Metrics")]
            if sum(times) > sum(best):
                best = times
        med = statistics.median(best) if best else 0
        return max(best) / med if med else 1.0

    def stage_wall_s(self, group: str, scope_re: re.Pattern) -> float:
        """Wall time of the group's stages whose RDD scopes match."""
        total = 0.0
        for s in self.group_stages(group):
            info = self.stages[s]
            scopes = " ".join(r.get("Scope", "") + r.get("Name", "") for r in info.get("RDD Info", []))
            if scope_re.search(scopes):
                total += (info["Completion Time"] - info["Submission Time"]) / 1000.0
        return total

    def idle_s(self, span: dict) -> float:
        """Span wall time not covered by any of its jobs."""
        ivs = sorted(
            (j["start"] / 1000.0, j["end"] / 1000.0) for j in self.jobs.values() if j["group"] == span["group"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered


# -- the traced run ------------------------------------------------------------------


def trace_run(bench, setup: dict, work: str) -> dict[str, float]:
    """Run every probe, stop the session, read the event log, and return the
    per-layer metrics by name."""
    tracer = Tracer(f"{bench.workload}-{bench.seed}")
    probes = _spark_probes(bench, tracer)
    values = _kernel_metrics(bench, tracer)
    values.update(_arrow_metrics(bench, tracer))
    bench.close()  # flushes the event log
    log = EventLog(_read_event_log(bench.dirs["eventlog"]))

    def spans(name: str) -> list[dict]:
        return [s for s in tracer.spans if s["name"] == name]

    def med(fn, name: str) -> float:
        return statistics.median(fn(s) for s in spans(name))

    p = {n: tracer.median(n) for n in ("probe.scan", "probe.classify", "probe.exchange", "probe.convert", "probe.fresh")}
    input_bytes = med(lambda s: log.scan_bytes(s["group"]), "probe.scan")
    shuffle_bytes = med(lambda s: log.shuffle_bytes(s["group"]), "probe.convert")
    kernel_rows = sum(1 for k in bench.wl.kind if k in ("html", "pdf"))
    lineage = probes["lineage"]
    counts = probes["counts"]
    values.update(
        {
            "session.start_s": setup["session_start_s"],
            "scan.s": p["probe.scan"],
            "scan.input_bytes": input_bytes,
            "classify.s": p["probe.classify"] - p["probe.scan"],
            "classify.turns_html": lineage.get("n_html", 0),
            "classify.turns_pdf": lineage.get("n_pdf", 0),
            "classify.turns_native": lineage.get("n_txt", 0) + lineage.get("n_json", 0),
            "partitioning.plan_s": tracer.median("partitioning.plan"),
            "partitioning.num_partitions": probes["num_partitions"],
            "partitioning.exchange_s": p["probe.exchange"] - p["probe.classify"],
            "partitioning.shuffle_bytes": shuffle_bytes,
            "partitioning.shuffle_bytes_per_input_byte": shuffle_bytes / input_bytes,
            "partitioning.task_skew": med(lambda s: log.task_skew(s["group"]), "probe.convert"),
            "arrow_stage.python_rows_per_kernel_row": med(lambda s: log.python_rows(s["group"]), "probe.fresh")
            / kernel_rows,
            "pandas_udf.stage_s": med(lambda s: log.stage_wall_s(s["group"], re.compile("ArrowEvalPython")),
                                      "probe.diag"),
            "convert.s": p["probe.convert"],
            "extract.self_s": p["probe.convert"] - p["probe.exchange"],
            "checkpoint.post_convert_s": p["probe.fresh"] - p["probe.convert"],
            "checkpoint.bytes_written": probes["written"]["bytes"],
            "checkpoint.files_written": probes["written"]["files"],
            "checkpoint.bytes_written_per_input_byte": probes["written"]["bytes"] / input_bytes,
            "checkpoint.lineage_rows": probes["lineage_rows"],
            "checkpoint.completed_buckets_s": tracer.median("checkpoint.completed_buckets"),
            "checkpoint.resume_s": tracer.median("probe.resume"),
            "spark.jobs_per_run": statistics.median(c["jobs"] for c in counts),
            "spark.stages_per_run": statistics.median(c["stages"] for c in counts),
            "spark.tasks_per_run": statistics.median(c["tasks"] for c in counts),
            "driver.idle_s": med(log.idle_s, "probe.fresh"),
            "trace.run_s": tracer.median("probe.fresh"),
        }
    )
    _write_trace(work, bench, tracer, p, values)
    return values


# The per-layer table of the fresh pass: (layer, its self-time metric, the
# probe that ends with it). Self times are probe differences, so they add up
# to the fresh pass.
SELF_TABLE = (
    ("scan", "scan.s", "probe.scan"),
    ("classify", "classify.s", "probe.classify"),
    ("partitioning.exchange", "partitioning.exchange_s", "probe.exchange"),
    ("extract: python boundary + kernel + native branch", "extract.self_s", "probe.convert"),
    ("checkpoint: persist, lineage, bucketed write, commit", "checkpoint.post_convert_s", "probe.fresh"),
)


def _write_trace(work: str, bench, tracer: Tracer, p: dict, values: dict) -> None:
    table = [
        {"layer": layer, "cumulative_s": p[probe], "self_s": values[metric],
         "share_of_fresh_pass": values[metric] / p["probe.fresh"]}
        for layer, metric, probe in SELF_TABLE
    ]
    path = os.path.join(work, f"trace-{bench.workload}-{bench.seed}.json")
    with open(path, "w") as f:
        json.dump({"spans": tracer.spans, "layers": table, "metrics": values}, f, indent=1)
    print(f"trace written to {os.path.relpath(path)}", flush=True)
    for row in table:
        print(f"  layer {row['layer']:<54} cumulative {row['cumulative_s']:7.3f} s  "
              f"self {row['self_s']:7.3f} s ({row['share_of_fresh_pass']:6.1%})", flush=True)
