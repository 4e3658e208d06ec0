"""End-to-end benchmark of the checkpointed extraction path.

    python3 perfbench/run.py --workload skew_pdf --seed 1 --seconds 9 --trace 0

Run from the root of a checkout. One driver process on ``local[<cores>]``
submits one job at a time (a closed loop with one client). A run:

1. sets up: starts the session, generates the seeded transcript table
   (perfbench/gen.py) and writes it as parquet;
2. discards a warm-up fresh pass and no-op re-run (reported as ``warmup_s``);
3. repeats the user path a fixed number of times, set by ``--seconds``: a
   fresh ``run_with_checkpoint`` into an empty destination, then no-op
   re-runs on the same snapshot;
4. gates every pass on its outputs (perfbench/gate.py).

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics (perfbench/layers.py), and the
spans and layer table are written under ``perfbench/.work``. Everything the
run writes stays under ``perfbench/.work`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# ``--seconds`` buys a fixed number of iterations at a nominal cost per
# iteration. Passes keep getting faster for several iterations after the
# warm-up (JIT), so a count that grew with the host's or the program's speed
# would move the medians along that curve; a fixed count takes them at the
# same pass indices in every run with the same ``--seconds``.
NOMINAL_ITER_S = 3.0
MIN_ITERS = 3
RESUME_REPS = 2  # no-op re-runs per measured iteration; the warm-up has one
GEN_REPS = 3  # input generation + parquet write is repeated; setup_s uses the median
# below host RAM (the engine's default is 24g); the heap is committed at its
# full size from the start, so peak RSS does not depend on when GC grows it
DRIVER_MEMORY = "1g"


def cores() -> int:
    return len(os.sched_getaffinity(0)) or 1


def _prepare_work() -> dict[str, str]:
    """Fresh work tree; temp files of Python, the JVM and Spark stay in it."""
    shutil.rmtree(WORK, ignore_errors=True)
    dirs = {k: os.path.join(WORK, k) for k in ("tmp", "spark-local", "warehouse", "eventlog", "data")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    # SPARK_LOCAL_DIRS overrides spark.local.dir: pin both to the same path
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    # every JVM the session launches (spark-submit's launcher too) keeps its
    # temp files here and writes no hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    return dirs


class Bench:
    """One run: owns the session, the generated workload and its paths."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.dirs = _prepare_work()
        sys.path.insert(0, ROOT)
        import gen

        self.gen = gen
        self.params = gen.WORKLOADS[workload]
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.gate_notes: list[str] = []
        self.tally = {"mismatched": 0, "compared": 0, "rows_failed": 0, "rows_in": 0}

    # -- setup ---------------------------------------------------------------

    def session_conf(self) -> dict[str, str]:
        conf = {
            "spark.local.dir": self.dirs["spark-local"],
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.dirs["warehouse"],
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.dirs["eventlog"],
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def setup(self) -> dict[str, float]:
        from article_extraction_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{cores()}]",
            extra_conf=self.session_conf(),
        )
        start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        gen_times = []
        for rep in range(GEN_REPS):
            t0 = time.perf_counter()
            wl = self.gen.generate(self.workload, self.seed)
            base = os.path.join(self.dirs["data"], f"setup-{rep}")
            self.gen.write_inputs(wl, os.path.join(base, "transcripts"), os.path.join(base, "expected"))
            gen_times.append(time.perf_counter() - t0)
        self.wl = wl
        self.input_path = os.path.join(base, "transcripts")
        self.dest = os.path.join(self.dirs["data"], "dest")
        return {"session_start_s": start_s, "gen_write_s": statistics.median(gen_times)}

    def env_line(self) -> str:
        import pyspark

        conf = self.spark.sparkContext.getConf()
        return (
            f"env: master={conf.get('spark.master')} spark={pyspark.__version__} "
            f"python={sys.version.split()[0]} driver.memory={conf.get('spark.driver.memory')} "
            f"local.dir={os.path.relpath(os.environ['SPARK_LOCAL_DIRS'], ROOT)} shuffle.partitions="
            f"{self.spark.conf.get('spark.sql.shuffle.partitions')} "
            f"eventLog={conf.get('spark.eventLog.enabled', 'false')} "
            f"turns={self.wl.n_turns} files={len(self.wl.file_bounds)} seed={self.seed}"
        )

    # -- the user path ---------------------------------------------------------

    def read_input(self):
        return self.spark.read.parquet(self.input_path)

    def checkpoint_pass(self, run_id: str) -> tuple[float, dict]:
        """One ``run_with_checkpoint`` over the input; returns (seconds, stats)."""
        from article_extraction_spark.pipeline.checkpoint import input_snapshot_id, run_with_checkpoint

        t0 = time.perf_counter()
        snap = input_snapshot_id(self.spark, self.input_path)
        stats = run_with_checkpoint(
            self.spark,
            self.read_input(),
            self.dest,
            n_buckets=self.params["n_buckets"],
            run_id=run_id,
            input_snapshot=snap,
        )
        return time.perf_counter() - t0, stats

    def diag_pass(self) -> float:
        """The two diagnostic ``convert_transcripts`` calls into the noop sink
        (the pandas-UDF twins); timed by the traced run only."""
        from article_extraction_spark.pipeline.convert import convert_transcripts

        t0 = time.perf_counter()
        df = self.read_input()
        convert_transcripts(df, pdf_mode="layout").write.format("noop").mode("overwrite").save()
        convert_transcripts(df, with_readability=True).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def fresh_pass(self, i: int) -> float:
        """``run_with_checkpoint`` into an empty destination, gated; returns
        the pass's seconds (``run_s``), not the gate's."""
        import gate

        shutil.rmtree(self.dest, ignore_errors=True)
        dt, stats = self.checkpoint_pass(f"fresh-{i}")
        self._record(f"fresh-{i}", gate.check_checkpoint(self.dest, self.wl, stats))
        return dt

    def resume_passes(self, i: int, reps: int = RESUME_REPS) -> list[float]:
        """``reps`` no-op re-runs on the same snapshot, each gated to change
        nothing; returns their seconds (``resume_noop_s``)."""
        import gate

        times = []
        before = gate.tree_digest(self.dest)
        for r in range(reps):
            dt, stats = self.checkpoint_pass(f"resume-{i}-{r}")
            after = gate.tree_digest(self.dest)
            self._record(f"resume-{i}-{r}", gate.check_resume(stats, before, after))
            times.append(dt)
            before = after
        return times

    def _record(self, what: str, result: tuple[list[str], dict]) -> None:
        """Count one gated pass and its failure, if any."""
        errors, counts = result
        self.attempted += 1
        for k in self.tally:
            self.tally[k] += counts.get(k, 0)
        if errors:
            self.failed += 1
            self.gate_notes.append(f"{what}: {'; '.join(errors)}")

    # -- measurement -----------------------------------------------------------

    def warm_up(self) -> float:
        """The discarded warm-up: a fresh pass and one no-op re-run; returns
        the time of the two passes."""
        return self.fresh_pass(-1) + sum(self.resume_passes(-1, 1))

    def iterations(self) -> int:
        return max(MIN_ITERS, round(self.seconds / NOMINAL_ITER_S))

    def measure(self) -> dict:
        """Warm-up, then a fixed number of iterations: a fresh pass and its
        no-op re-runs."""
        warmup_s = self.warm_up()
        run, resume = [], []
        for i in range(self.iterations()):
            run.append(self.fresh_pass(i))
            resume += self.resume_passes(i)
        return {"warmup_s": warmup_s, "run": run, "resume": resume}

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the driver JVM plus this Python driver."""
        jvm_kb = 0
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    def close(self) -> None:
        """Stop the session and the JVM it launched, and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None


def end_to_end(bench: Bench, setup: dict, m: dict) -> dict[str, float]:
    run_s = statistics.median(m["run"])
    return {
        "setup_s": setup["session_start_s"] + setup["gen_write_s"],
        "warmup_s": m["warmup_s"],
        "run_s": run_s,
        "turns_per_s": bench.wl.n_turns / run_s,
        "resume_noop_s": statistics.median(m["resume"]),
        "peak_rss_mb": bench.peak_rss_mb(),
    }


def with_units(values: dict[str, float], declared: list[dict]) -> dict:
    """Attach BENCHMARK.json's units; the metric set must match it exactly."""
    units = {d["name"]: d["unit"] for d in declared}
    if set(values) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(units))}")
    return {name: {"value": float(values[name]), "unit": unit} for name, unit in units.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sys.path.insert(0, HERE)
    import gen

    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        setup = bench.setup()
        print(bench.env_line(), flush=True)
        if bench.trace:
            import layers

            metrics = with_units(layers.trace_run(bench, setup, WORK), spec["per_layer"])
        else:
            m = bench.measure()
            metrics = with_units(end_to_end(bench, setup, m), spec["end_to_end"])
            print(
                f"samples: iterations 1-{len(m['run'])} after the warm-up; "
                f"run_s n={len(m['run'])} {[round(x, 3) for x in m['run']]} "
                f"resume_noop_s n={len(m['resume'])} {[round(x, 3) for x in m['resume']]}",
                flush=True,
            )
    finally:
        bench.close()
    for note in bench.gate_notes:
        print(f"GATE FAILED {note}", flush=True)
    t = bench.tally
    print(
        f"{args.workload} text_mismatch_frac = {t['mismatched'] / max(t['compared'], 1):.6g} frac "
        f"({t['mismatched']}/{t['compared']})\n"
        f"{args.workload} failed_turn_frac = {t['rows_failed'] / max(t['rows_in'], 1):.6g} frac "
        f"({t['rows_failed']}/{t['rows_in']})",
        flush=True,
    )
    for name, v in metrics.items():
        print(f"{args.workload} {name} = {v['value']:.6g} {v['unit']}", flush=True)
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 1 if bench.failed else 0


if __name__ == "__main__":
    sys.exit(main())
