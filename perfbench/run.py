#!/usr/bin/env python3
"""Benchmark of the resumable extraction job (``run_extract_job``).

Run from the repository root::

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 10 --trace 0

The benchmark is a closed loop: one client (this process) submits one
extraction job at a time to ``local[nproc]`` and waits for it. Inputs are
generated from ``--seed`` (see workloads.py) and cached under
``perfbench/.cache``; generating them and computing the oracle's answer
happen before any timing. Every job's output is compared with the
pure-Python oracle and its manifest is checked.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
traced variant and prints the per-layer metrics. The last line of stdout
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
All timing is taken here, around calls into the program's public
functions, and from Spark's own event log; the program is not changed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

import pandas as pd  # module level: pandas_udf resolves the string type hints here

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# One wave of 8 buckets (about 1,000-2,500 turns per bucket). The job's
# default of 32 buckets in waves of 8 is sized for inputs 10-100x larger;
# at these sizes its per-wave and per-file fixed costs would be most of
# the wall time.
N_BUCKETS = 8
WAVE_SIZE = 8
SETUPS = 3
# Idle time between the warm-up job and the first timed job, so the JIT's
# background compilation of the warm-up's hot methods does not compete
# with it (without the pause the first timed job ran 15-35% slower than
# the second; with it, about 7% on mixed and still 15-30% on plain_short).
SETTLE_S = 3.0
# Stop starting jobs after this much time in one process, whatever
# --seconds asks, so that a slow host still ends well inside 180 s.
RUN_BUDGET_S = 120.0

END_TO_END = {
    "turns_per_s": "turns/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "out_bytes_per_turn": "B/turn",
    "correct_frac": "ratio",
    "ok_frac": "ratio",
}

KERNELS = ("layout.extract_boxes_json", "htmlx.extract_html_one", "htmlx.clean_block")
KINDS = ("boxes", "html", "plain")
PREFIXES = ("scan_s", "classify_s", "salt_shuffle_s", "arrow_boundary_s",
            "extract_turns_s", "spans_table_s")
QUERIES = ("extract_rollup", "extract_spans", "conversation_stitch", "chunks_modern")
JOB_UNITS = {"udf_stage_s": "s", "rollup_write_s": "s", "spans_write_s": "s",
             "stats_s": "s", "manifest_commit_s": "s", "driver_gap_s": "s",
             "shuffle_write_bytes": "B", "spill_bytes": "B", "gc_s": "s",
             "executor_cpu_s": "s", "arrow_bytes_to_python": "B",
             "arrow_bytes_from_python": "B", "tasks": "count",
             "udf_task_skew": "ratio", "write_task_skew": "ratio",
             "resume_noop_s": "s", "wall_s": "s"}
PER_LAYER = {
    **{f"{k}.us_per_turn": "us" for k in KERNELS},
    **{f"kind.{k}.turns": "count" for k in KINDS},
    **{f"extract.{p}": "s" for p in PREFIXES},
    **{f"extract_job.{k}": u for k, u in JOB_UNITS.items()},
    **{f"queries.{q}_s": "s" for q in QUERIES},
    "trace.overhead_frac": "ratio",
}


def host_conf(work: str) -> dict:
    """Fit Spark to this host from outside the program: cores, heap and
    scratch space go through the environment ``get_spark`` reads, the rest
    through its ``extra_conf``. Everything Spark writes stays in ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    # A fixed, pre-touched heap (-Xms = -Xmx, AlwaysPreTouch): otherwise the
    # JVM's resident size depends on which heap regions G1 happened to
    # touch, and peak RSS varied by a gigabyte between identical runs. The
    # heap's share is then constant; peak RSS moves with the Python workers
    # and the JVM's off-heap memory.
    heap_mb = min(4096, max(1024, mem_kb // 1024 // 8))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(SPARK_GRAFT_CPUS=str(cpus), SPARK_DRIVER_MEMORY=f"{heap_mb}m",
                      SPARK_LOCAL_DIRS=local, TMPDIR=tmp, PYSPARK_PYTHON=sys.executable,
                      # the JVM spark-submit runs first to build the driver's command
                      SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    return {"spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": (f"-Xms{heap_mb}m -XX:+AlwaysPreTouch "
                                              f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")}


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of every descendant of ``root_pid`` (the JVM and the
    Python workers it forks), read from /proc.

    A process the JVM spawns (Hadoop's shell calls, the Python daemon) is
    vfork()ed and shares the JVM's memory until it execs, so it reports
    the JVM's whole RSS under the JVM's name; such ``java`` children of a
    ``java`` process are skipped, or a sample that caught one counted the
    JVM twice."""
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        pid = int(name)
        comm[pid] = stat[stat.index("(") + 1:stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [(pid, None) for pid in children.get(root_pid, ())]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid, parent = todo.pop()
        if parent is not None and comm[pid] == comm[parent] == "java":
            continue
        todo.extend((c, pid) for c in children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class PeakRss(threading.Thread):
    """Samples the process tree's RSS every 0.2 s while ``active`` is set."""

    interval = 0.2

    def __init__(self):
        super().__init__(daemon=True)
        self.active = threading.Event()
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            if self.active.is_set():
                self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    def stop(self) -> None:
        self._halt.set()
        self.join()


class Bench:
    """One workload at one seed: inputs, oracle answer, sessions and jobs."""

    def __init__(self, workload: str, seed: int, work: str):
        import pyarrow.parquet as pq

        import oracle
        import workloads

        self.work = work
        cache = os.path.join(HERE, ".cache", f"{workload}-s{seed}")
        # The query functions find their input through the warehouse
        # layout: <warehouse>/transcripts/<tier>.parquet, tier "bench".
        self.warehouse = os.path.join(cache, "warehouse")
        self.sf_dir = os.path.join(cache, "sf0.1")
        self.input = os.path.join(self.warehouse, "transcripts", "bench.parquet")
        self.warm = os.path.join(cache, "warm.parquet")
        exp_rollup = os.path.join(cache, "expected_rollup.parquet")
        exp_spans = os.path.join(cache, "expected_spans.parquet")
        if not os.path.exists(exp_spans):
            os.makedirs(os.path.dirname(self.input), exist_ok=True)
            table = workloads.generate_table(workload, seed)
            workloads.write_parquet(table, self.input)
            workloads.write_parquet(workloads.warm_slice(table), self.warm)
            rollup, spans = oracle.expected_tables(table)
            workloads.write_parquet(rollup, exp_rollup)
            workloads.write_parquet(spans, exp_spans)
        self.table = pq.read_table(self.input)
        self.n_turns = self.table.num_rows
        self.expected = oracle.turn_records(pq.read_table(exp_rollup), pq.read_table(exp_spans))
        self.conf = host_conf(work)
        os.environ["SPARK_GRAFT_WAREHOUSE"] = self.warehouse
        self.spark = None
        self.rss = PeakRss()
        self.jobs: list[dict] = []
        self._outs = 0

    # -- sessions -----------------------------------------------------------

    def set_up(self, extra: dict | None = None, whole_job: bool = False) -> float:
        """Start a session (stopping any previous one; the first session of
        the process launches the JVM) and warm it over the warm slice: with
        ``whole_job`` by one whole job, which loads and compiles the paths
        the timed jobs take (UDF, parquet writers, manifest); else by the
        first Arrow UDF pass (new Python worker daemon) to the noop sink.
        Returns the seconds it took."""
        from ocr_image_to_text_spark.jobs.extract_job import run_extract_job
        from ocr_image_to_text_spark.operators.extract import extract_turns
        from ocr_image_to_text_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf={**self.conf, **(extra or {})})
        if whole_job:
            run_extract_job(self.spark, self.warm, self._fresh_out(),
                            n_buckets=N_BUCKETS, wave_size=WAVE_SIZE)
        else:
            parts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            (extract_turns(self.spark.read.parquet(self.warm), partitions=parts)
             .write.format("noop").mode("overwrite").save())
        return time.perf_counter() - t0

    def shut_down(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    # -- jobs ---------------------------------------------------------------

    def _fresh_out(self) -> str:
        """A new output dir under the run's work dir (removed at exit)."""
        self._outs += 1
        return os.path.join(self.work, f"out-{self._outs}")

    def run_job(self) -> dict:
        """One timed job into a fresh output dir, then its checks (untimed)."""
        import oracle
        from ocr_image_to_text_spark.jobs.extract_job import run_extract_job

        out = self._fresh_out()
        rec = dict(out=out, ok=False, correct_turns=0, out_bytes=0)
        self.rss.active.set()
        t0 = time.perf_counter()
        rec["t0_ms"] = time.time() * 1000
        try:
            run_extract_job(self.spark, self.input, out,
                            n_buckets=N_BUCKETS, wave_size=WAVE_SIZE)
            rec["ok"] = True
        except Exception:
            traceback.print_exc(file=sys.stderr)
        finally:
            rec["t1_ms"] = time.time() * 1000
            rec["wall_s"] = time.perf_counter() - t0
            self.rss.active.clear()
        if rec["ok"]:
            rec["ok"] = oracle.manifest_ok(out, N_BUCKETS, self.n_turns)
            actual = oracle.turn_records(*oracle.read_output(out))
            rec["correct_turns"] = oracle.count_correct(self.expected, actual)
            rec["out_bytes"] = sum(os.path.getsize(os.path.join(d, f))
                                   for sub in ("rollup", "spans", "_manifest")
                                   for d, _, fs in os.walk(os.path.join(out, sub))
                                   for f in fs)
        self.jobs.append(rec)
        log(f"job {rec['wall_s']:.2f} s ok={rec['ok']} correct={rec['correct_turns']}/{self.n_turns}")
        return rec

    def job_loop(self, seconds: float, deadline: float, keep_last: bool = False) -> list[dict]:
        """Jobs back to back until ``seconds`` of job wall time are measured."""
        done: list[dict] = []
        while not done or (sum(r["wall_s"] for r in done) < seconds
                           and time.monotonic() < deadline):
            if done:
                shutil.rmtree(done[-1]["out"], ignore_errors=True)
            done.append(self.run_job())
        if not keep_last:
            shutil.rmtree(done[-1]["out"], ignore_errors=True)
        return done

    def result(self, metrics: dict, units: dict) -> dict:
        failed = sum(1 for r in self.jobs if not r["ok"])
        correct = failed == 0 and all(r["correct_turns"] == self.n_turns for r in self.jobs)
        return {"correct": correct, "attempted": len(self.jobs), "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}

    def job_summary(self, jobs: list[dict]) -> dict:
        ok = [r for r in jobs if r["ok"]]
        return {
            "turns_per_s": statistics.median(self.n_turns / r["wall_s"] for r in ok) if ok else 0.0,
            "out_bytes_per_turn": (statistics.median(r["out_bytes"] for r in ok) / self.n_turns
                                   if ok else 0.0),
            "correct_frac": sum(r["correct_turns"] for r in jobs) / (self.n_turns * len(jobs)),
            "ok_frac": len(ok) / len(jobs),
        }

    # -- the two kinds of run -----------------------------------------------

    def end_to_end(self, seconds: float, deadline: float) -> dict:
        # The timed jobs follow the first set-up's warm job in the same
        # context; a restarted context makes the next job cold again, so the
        # other set-ups come after them.
        setups = [self.set_up(whole_job=True)]
        time.sleep(SETTLE_S)
        self.rss.start()
        jobs = self.job_loop(seconds, deadline)
        self.rss.stop()
        setups += [self.set_up() for _ in range(SETUPS - 1)]
        log(f"set-ups {', '.join(f'{s:.1f}' for s in setups)} s")
        metrics = self.job_summary(jobs)
        metrics["setup_s"] = statistics.median(setups)
        metrics["peak_rss_mb"] = self.rss.peak / 2**20
        return self.result(metrics, END_TO_END)

    def traced(self, seconds: float, deadline: float) -> dict:
        import eventlog

        metrics = kernel_metrics(self.table)
        # The untraced and the traced job each follow a context restart
        # and a warm-up job in an already warm JVM, so that the overhead
        # compares like with like.
        self.set_up(whole_job=True)
        self.set_up(whole_job=True)
        time.sleep(SETTLE_S)
        plain = self.job_summary(self.job_loop(seconds / 2, deadline))
        log_dir = os.path.join(self.work, "eventlog")
        os.makedirs(log_dir)
        self.set_up(eventlog.event_conf(log_dir), whole_job=True)
        time.sleep(SETTLE_S)
        jobs = self.job_loop(seconds / 2, deadline, keep_last=True)
        traced = self.job_summary(jobs)
        metrics["trace.overhead_frac"] = (1 - traced["turns_per_s"] / plain["turns_per_s"]
                                          if plain["turns_per_s"] else 0.0)
        metrics["extract_job.resume_noop_s"] = self.resume_noop(jobs[-1]["out"])
        metrics.update(prefix_times(self.spark, self.input))
        metrics.update(query_chain(self.spark, self.sf_dir))
        self.shut_down()
        # The job with the median wall time stands for the run.
        ok = sorted((r for r in jobs if r["ok"]), key=lambda r: r["wall_s"]) or jobs
        mid = ok[len(ok) // 2]
        layer = eventlog.job_metrics(eventlog.read_events(log_dir), mid["t0_ms"], mid["t1_ms"])
        metrics.update({f"extract_job.{k}": v for k, v in layer.items()})
        return self.result(metrics, PER_LAYER)

    def resume_noop(self, out: str) -> float:
        """Re-run the job on its own finished output: every bucket is skipped."""
        from ocr_image_to_text_spark.jobs.extract_job import run_extract_job

        ok = False
        t0 = time.perf_counter()
        try:
            summary = run_extract_job(self.spark, self.input, out,
                                      n_buckets=N_BUCKETS, wave_size=WAVE_SIZE)
            ok = summary["processed_parts"] == 0 and summary["n_turns"] == self.n_turns
        except Exception:
            traceback.print_exc(file=sys.stderr)
        elapsed = time.perf_counter() - t0
        self.jobs.append(dict(ok=ok, correct_turns=self.n_turns if ok else 0))
        return elapsed


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def kernel_metrics(table) -> dict:
    """Single-thread time per turn of each Python kernel on the workload's
    own payloads, and the turn count per payload kind."""
    from ocr_image_to_text_spark import pyref
    from ocr_image_to_text_spark.operators.htmlx import clean_block, extract_html_one
    from ocr_image_to_text_spark.operators.layout import extract_boxes_json

    by_kind: dict[str, list] = {k: [] for k in KINDS}
    for text, tool in zip(table.column("text").to_pylist(), table.column("tool").to_pylist()):
        kind = pyref.classify_kind(text or "", tool or "")
        by_kind[kind].append(tool if kind == "boxes" else text or "")
    calls = {"layout.extract_boxes_json": ("boxes", lambda p: extract_boxes_json(p, "v2", "easy", 0.3)),
             "htmlx.extract_html_one": ("html", extract_html_one),
             "htmlx.clean_block": ("plain", clean_block)}
    out = {f"kind.{k}.turns": len(v) for k, v in by_kind.items()}
    for name, (kind, fn) in calls.items():
        payloads = by_kind[kind]
        t0 = time.perf_counter()
        for p in payloads:
            fn(p)
        elapsed = time.perf_counter() - t0
        out[f"{name}.us_per_turn"] = elapsed / len(payloads) * 1e6 if payloads else 0.0
    return out


def prefix_times(spark, path: str) -> dict:
    """Self time of each extraction layer: cumulative plan prefixes run to
    the noop sink, each layer's time being the difference between
    consecutive prefixes."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from ocr_image_to_text_spark.operators.extract import extract_turns, kind_col, spans_table

    @pandas_udf("string")
    def identity(kind: pd.Series, text: pd.Series, tool: pd.Series) -> pd.Series:
        return text

    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    df = spark.read.parquet(path)
    scan = df.select("conv_id", "turn_idx", "text", "tool")
    classify = scan.withColumn("kind", kind_col())
    salted = classify.repartition(parts, F.xxhash64("conv_id", "turn_idx"))
    arrow = salted.withColumn("r", identity("kind", "text", "tool"))
    ext = extract_turns(df, partitions=parts)
    plans = (scan, classify, salted, arrow, ext, spans_table(ext))
    cumulative = []
    for plan in plans:
        t0 = time.perf_counter()
        plan.write.format("noop").mode("overwrite").save()
        cumulative.append(time.perf_counter() - t0)
    return {f"extract.{name}": t - prev for name, t, prev
            in zip(PREFIXES, cumulative, [0.0, *cumulative[:-1]])}


def query_chain(spark, sf_dir: str) -> dict:
    """The query form over the same input: one persisted UDF pass read by
    the next three queries, each written to the noop sink in chain order."""
    from ocr_image_to_text_spark import cachectl, queries

    cachectl.release_all()
    out = {}
    for name in QUERIES:
        t0 = time.perf_counter()
        getattr(queries, name)(spark, sf_dir).write.format("noop").mode("overwrite").save()
        out[f"queries.{name}_s"] = time.perf_counter() - t0
    cachectl.release_all()
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    start = time.monotonic()

    sys.path[:0] = [ROOT, HERE]
    try:
        import ocr_image_to_text_spark.jobs.extract_job  # noqa: F401
        import workloads
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    bench = None
    try:
        bench = Bench(args.workload, args.seed, work)
        log(f"inputs ready after {time.monotonic() - start:.1f} s")
        deadline = start + RUN_BUDGET_S
        run = bench.traced if args.trace else bench.end_to_end
        result = run(args.seconds, deadline)
    finally:
        if bench is not None:
            bench.shut_down()
        shutil.rmtree(work, ignore_errors=True)
    log(f"done after {time.monotonic() - start:.1f} s")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
