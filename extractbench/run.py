#!/usr/bin/env python3
"""Benchmark of the flagship job, ``pdf_ocr_spark.pipeline.run_extraction``.

    python3 extractbench/run.py --workload pdf_heavy --seed 0 \
        --seconds 20 --trace 0

One run generates the workload's inputs from the seed, launches one JVM,
takes its cold start with unmeasured calls (``Bench.warm_up``), then
times a fixed number of calls (``--seconds`` / 6, at least 3), each in a fresh
local[4] SparkSession. After the last measured call it checks every
output row and every lineage row of every call. The last line of stdout
is one JSON object; the full record goes to ``extractbench/results/``.

Two JVM settings (``JVM_OPTS``) keep the measured calls steady; the CPU
the JIT and the collector still spend is billed to the calls like any
other:

* C1 only. With the default C1+C2 tiers the compiler threads still
  burned 3-7 s of CPU per call after seven calls. With C1 alone they
  spend about 1 s per call once the warm-up call is done.
* A fixed-size heap (``-Xms`` equal to the pinned ``-Xmx``). With an
  adaptive heap G1 kept about 650 MB committed, and the Arrow buffers'
  humongous allocations started about 150 concurrent mark cycles per
  run: 3-6 s of GC CPU per call in some runs, 0.3 s in others.

``--trace 0`` reports the end-to-end metrics, medians over the trials:
turns_per_s, cpu_ms_per_turn, setup_s (each trial's own set-up) and
peak_rss_mb. ``--trace 1`` reports the per-layer metrics instead: two
traced calls (Spark event log on, timing shims on the pipeline and
catalog functions) around an untraced one, one local[1] call for the
scaling efficiency, and a pass of the UDF entry points in this process
over the workload's own payloads with shims on every decode layer.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
RESULTS = os.path.join(BENCH_DIR, "results")

CORES = 4
DRIVER_MEM = "1g"          # pinned heap, so RSS does not follow a 24g default
DEFAULT_SEED = 0           # the seed the goldens are frozen at
TRIAL_S = 6                # one trial per this many --seconds, at least 3
MIN_TRIALS = 3
SNAPSHOT = "bench-input"
# C1 only, and a fixed-size heap (see the module docstring); compiler
# threads stay alive, so the CPU of each one can be read from /proc
JVM_OPTS = ("-XX:TieredStopAtLevel=1 -XX:-UseDynamicNumberOfCompilerThreads "
            f"-Xms{DRIVER_MEM}")
# shimmed pipeline and catalog functions whose spans count as covered time
PHASE_SPANS = ("pipeline.resume_probe", "catalog.load_table",
               "pipeline.write", "catalog.append")


def log(msg: str) -> None:
    print(f"[bench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr,
          flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# -- sessions ---------------------------------------------------------------

def new_session(cores: int = CORES, event_dir: str | None = None):
    from pdf_ocr_spark.session import build_session
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # takes effect at JVM launch (the first session): keep temporary
        # files in the work directory, no hsperfdata file in /tmp, and
        # the JIT and heap settings
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData "
            + JVM_OPTS,
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false"})
    spark = build_session("extractbench", cores=cores,
                          shuffle_partitions=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark, cores: int) -> None:
    """The first UDF job of a session: one Python worker per core is
    spawned and imports what the extraction UDFs import."""
    def import_udf_modules(batches):  # nested: pickled by value
        import pdf_ocr_spark.extract  # noqa: F401
        yield from batches
    spark.range(cores, numPartitions=cores).mapInPandas(
        import_udf_modules, "id long").collect()


# -- one call ---------------------------------------------------------------

class Call:
    """Directories and arguments of one ``run_extraction`` call."""

    def __init__(self, name: str, input_path: str, resume: bool,
                 state: str | None):
        self.dir = os.path.join(WORK, "calls", name)
        shutil.rmtree(self.dir, ignore_errors=True)
        if state:
            shutil.copytree(state, self.dir)
        else:
            os.makedirs(self.dir)
        self.name, self.input, self.resume = name, input_path, resume
        self.out = os.path.join(self.dir, "out")
        self.lineage = os.path.join(self.dir, "lineage")

    def run(self, spark) -> dict:
        from pdf_ocr_spark.pipeline import run_extraction
        return run_extraction(spark, self.input, self.out, self.lineage,
                              run_id=self.name, input_snapshot_id=SNAPSHOT,
                              resume=self.resume)

    def remove(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


class Bench:
    def __init__(self, workload, seed: int, traced: bool, seconds: int):
        import workloads
        self.w = workloads.WORKLOADS[workload]
        self.seed, self.traced = seed, traced
        # a fixed count, never "until time is up": the statistic must not
        # shift with host load
        self.n_trials = max(MIN_TRIALS, seconds // TRIAL_S)
        self.input = os.path.join(WORK, "input")
        self.state = None        # committed half for resume, else None
        self.done: list = []     # (trial record, call) awaiting the check
        self.record: dict = {"workload": workload, "seed": seed,
                             "trace": int(traced), "cores": CORES,
                             "driver_mem": DRIVER_MEM, "trials": []}

    # inputs and expected digests
    def make_inputs(self) -> None:
        import workloads
        t = time.perf_counter()
        self.cols = workloads.generate(self.w, self.seed)
        workloads.write_table(self.cols, self.input)
        self.record["input"] = {
            "fingerprint": workloads.fingerprint(self.cols),
            "turns": len(self.cols["text"]),
            "gen_s": time.perf_counter() - t}
        log(f"inputs: {self.record['input']}")

    def expected_digests(self, oracle: bool = False) -> dict | None:
        """Expected digests: the goldens at the default seed, else the
        oracle, computed in a process pool. Called after the last
        measured call, so the pool never competes with one."""
        import checks
        if self.seed == DEFAULT_SEED and not oracle:
            g = checks.load_goldens(checks.golden_path(self.w.name))
            if g is None or g[0] != self.record["input"]["fingerprint"]:
                self.record["expected"] = "goldens missing or stale"
                return None
            self.record["expected"] = "goldens"
            return g[1]
        import concurrent.futures as cf
        import multiprocessing
        self.record["expected"] = "oracle"
        with cf.ProcessPoolExecutor(
                CORES, mp_context=multiprocessing.get_context("spawn")) as pool:
            return checks.expected_from_oracle(self.cols, pool)

    # warm-up
    def warm_up(self, spark) -> None:
        """Unmeasured calls in the JVM-launch session, which take the
        JVM's cold start. Without resume: one call on the whole input.
        For a resume workload, two calls commit the even buckets, and
        their output and lineage are the state every measured call starts
        from: a fresh call commits the buckets divisible by 4, then a
        resumed call over the even half commits the rest of it, which
        takes the resume path through its cold start too."""
        t = time.perf_counter()
        if self.w.resume_half:
            from pyspark.sql import functions as F
            from pdf_ocr_spark.config import DEFAULT
            from pdf_ocr_spark.pipeline import with_bucket
            bucketed = with_bucket(spark.read.parquet(self.input),
                                   DEFAULT.num_buckets,
                                   DEFAULT.salt_turns_per_group)
            parts = {}
            for k in (4, 2):
                parts[k] = os.path.join(WORK, f"input_mod{k}")
                (bucketed.filter(F.col("bucket") % k == 0).drop("bucket")
                 .write.parquet(parts[k]))
            prep = Call("prep", parts[4], resume=False, state=None)
            prep.run(spark)
            prep.input, prep.resume, prep.name = parts[2], True, "prep2"
            prep.run(spark)
            self.state = prep.dir
        else:
            warm = Call("warm", self.input, False, None)
            warm.run(spark)
            warm.remove()
        log(f"warm-up call {time.perf_counter() - t:.2f}s")
        self.processed = self.processed_cols()

    # measured trials
    @staticmethod
    def setup(cores: int = CORES, events: str | None = None) -> dict:
        """A fresh session and its first UDF job, timed. Starts from a
        collected JVM heap, so no trial inherits another's garbage."""
        from pyspark import SparkContext
        SparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        spark = new_session(cores, events)
        t1 = time.perf_counter()
        warm_workers(spark, cores)
        t2 = time.perf_counter()
        return {"spark": spark, "build_s": t1 - t0, "worker_warm_s": t2 - t1,
                "setup_s": t2 - t0}

    def trial(self, label: str, jvm_pid: int, traced: bool = False,
              cores: int = CORES) -> dict:
        import host
        from spans import Tracer, shims
        call = Call(label, self.input, self.w.resume_half, self.state)
        events = os.path.join(WORK, "events", label) if traced else None
        setup = self.setup(cores, events)
        spark = setup.pop("spark")
        sc = spark.sparkContext
        tracer = None
        offset = time.time() - time.perf_counter()
        try:
            cpu0 = host.tree_cpu_s(jvm_pid)
            jit0 = host.jit_cpu_s(jvm_pid)
            with host.RssSampler(jvm_pid) as rss:
                if traced:
                    def group(phase):
                        return lambda: sc.setJobGroup(f"{label}:{phase}",
                                                      phase)
                    tracer = Tracer(
                        on_enter={"pipeline.resume_probe": group("resume"),
                                  "pipeline.write": group("write")},
                        on_exit={"pipeline.resume_probe": group("pre"),
                                 "pipeline.write": group("lineage")})
                    group("pre")()
                    s = time.perf_counter()
                    with shims(tracer), tracer.span("pipeline.call"):
                        m = call.run(spark)
                else:
                    s = time.perf_counter()
                    m = call.run(spark)
                e = time.perf_counter()
            cpu = host.tree_cpu_s(jvm_pid) - cpu0
            jit = host.jit_cpu_s(jvm_pid) - jit0
        finally:
            spark.stop()
        t = {"label": label, "traced": traced, "cores": cores, **setup,
             "call_s": e - s,
             "turns": m["rows_out"], "turns_per_s": m["rows_out"] / (e - s),
             "turns_in": len(self.cols["text"]),
             "cpu_s": cpu,
             "cpu_ms_per_turn": 1e3 * cpu / m["rows_out"],
             "jit_cpu_s": jit,
             "peak_rss_mb": rss.peak_total / 2 ** 20,
             "jvm_peak_rss_mb": rss.peak_root / 2 ** 20,
             "py_worker_peak_rss_mb": rss.peak_child / 2 ** 20,
             "cache_hits": m["payload_cache_hits"],
             "cache_misses": m["payload_cache_misses"]}
        if tracer is not None:
            import eventlog
            t["events"] = eventlog.summarize(
                eventlog.read_events(eventlog.event_files(events)), label)
            t.update(self.phases(tracer, t["events"].pop("jobs"), offset))
        log(f"{label}: setup {t['setup_s']:.2f}s call {t['call_s']:.2f}s "
            f"{t['turns_per_s']:.1f} turns/s {t['cpu_ms_per_turn']:.3f} "
            f"ms/turn rss {t['peak_rss_mb']:.0f}MB "
            f"cpu {t['cpu_s']:.1f}s jit {t['jit_cpu_s']:.1f}s")
        self.record["trials"].append(t)
        self.done.append((t, call))
        return t

    @staticmethod
    def phases(tracer, jobs: list, offset: float) -> dict:
        """Phases of one traced call. Each is measured on its own: the
        spans of the shimmed pipeline and catalog functions, and the
        event log's job intervals (``offset`` turns their epoch seconds
        into this process's ``perf_counter``). ``phase_cover`` is the
        share of the call's wall time these spans and jobs cover; it
        falls when the call spends time outside them."""
        from spans import covered
        _, s, e, _ = tracer.first("pipeline.call")
        write = tracer.first("pipeline.write")
        probe = tracer.first("pipeline.resume_probe")
        jobs = [(a - offset, b - offset, g.split(":")[-1])
                for g, a, b in jobs]
        # load_table at the top of the call, not inside the probe
        pre = [(a, b) for a, b, phase in jobs if phase == "pre"] + [
            (x[1], x[2]) for x in tracer.spans
            if x[0] == "catalog.load_table" and x[3] == 0]
        p = {"resume_probe_s": probe[2] - probe[1] if probe else 0.0,
             "pre_write_s": covered(s, write[1], pre),
             "write_s": write[2] - write[1],
             "lineage_s": e - write[2],
             "phase_cover": covered(
                 s, e, [(x[1], x[2]) for x in tracer.spans
                        if x[0] in PHASE_SPANS]
                 + [(a, b) for a, b, _ in jobs]) / (e - s)}
        totals = tracer.totals()
        p["catalog_s"] = {k: v["total"] for k, v in totals.items()
                          if k.startswith("catalog.")}
        return p

    def check_all(self, expected: dict | None) -> None:
        """Check every call's output and lineage, then remove it. Without
        expected digests every turn counts as failed."""
        import checks
        for t, call in self.done:
            t["failed"] = (t["turns_in"] if expected is None else
                           checks.check_run(expected, call.out,
                                            call.lineage))
            call.remove()
            if t["failed"]:
                log(f"{t['label']}: {t['failed']} failed turns")
        self.done = []

    def processed_cols(self) -> dict:
        """Columns of the turns the measured call processes."""
        if not self.state:
            return self.cols
        import checks
        done = checks.read_output(os.path.join(self.state, "out"))
        keep = [(c, t) not in done for c, t in
                zip(self.cols["conv_id"], self.cols["turn_idx"])]
        return {k: [x for x, k_ in zip(v, keep) if k_]
                for k, v in self.cols.items()}


# -- metrics ----------------------------------------------------------------

def end_to_end(trials: list[dict], names) -> dict:
    return {k: median([t[k] for t in trials]) for k in names}


def per_layer(bench: Bench, untraced: list, traced: list, one_core: dict,
              jvm_launch_s: float, inproc: dict, host_rec: dict) -> dict:
    def med(key, ts=traced):
        return median([t[key] for t in ts])

    def ev(path):
        vals = []
        for t in traced:
            v = t["events"]
            for k in path.split("."):
                v = v[k]
            vals.append(v)
        return median(vals)

    pcols = bench.processed
    pdfs = [x for x in pcols["text"] if x.startswith("JVBERi")]
    hits, misses = med("cache_hits"), med("cache_misses")
    u_tps = med("turns_per_s", untraced)
    four = untraced + traced
    m = {
        "session.jvm_launch_s": jvm_launch_s,
        "session.build_s": med("build_s", four),
        "session.worker_warm_s": med("worker_warm_s", four),
        "pipeline.spark_jobs": ev("spark_jobs"),
        "pipeline.resume_probe_s": med("resume_probe_s"),
        "pipeline.pre_write_s": med("pre_write_s"),
        "pipeline.write_s": med("write_s"),
        "pipeline.lineage_s": med("lineage_s"),
        "pipeline.phase_cover": med("phase_cover"),
        "pipeline.scaling_eff_1to4": u_tps / one_core["turns_per_s"] / CORES,
    }
    for stage, keys in (("decode_stage", ("wall_s", "task_s", "cpu_s",
                                          "task_max_s", "task_p50_s",
                                          "tasks")),
                        ("light_stage", ("wall_s", "task_s", "cpu_s")),
                        ("write_stage", ("wall_s", "task_s"))):
        for k in keys:
            m[f"pipeline.{stage}.{k}"] = ev(f"{stage}.{k}")
    for k in ("shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
        m[f"pipeline.{k}"] = ev(k)
    m["pipeline.decode_gap"] = (m["pipeline.decode_stage.task_s"]
                                / inproc["extract.decode_compute_s"])
    m.update(inproc)
    m["extract.payload_cache_hit_ratio"] = (
        hits / (hits + misses) if hits + misses else 0.0)
    m["extract.payload_cache_lookups"] = hits + misses
    m["extract.distinct_ratio"] = len(set(pdfs)) / max(1, len(pdfs))
    m["mem.jvm_peak_rss_mb"] = med("jvm_peak_rss_mb", four)
    m["mem.py_worker_peak_rss_mb"] = med("py_worker_peak_rss_mb", four)
    m["trace.overhead_frac"] = (u_tps - med("turns_per_s")) / u_tps
    m["host.load_1m"] = host_rec["load_1m_start"]
    m["host.steal_frac"] = host_rec["steal_frac"]
    m["host.probe_s"] = (host_rec["probe_before_s"]
                         + host_rec["probe_after_s"]) / 2
    return m


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- main -------------------------------------------------------------------

def run(args) -> dict:
    import host
    bench = Bench(args.workload, args.seed, bool(args.trace), args.seconds)
    clock = host.HostClock()
    host_rec = {"probe_before_s": host.probe_s()}
    bench.make_inputs()

    t = time.perf_counter()
    spark = new_session()
    jvm_launch_s = time.perf_counter() - t
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    log(f"JVM launch + first session {jvm_launch_s:.2f}s")
    bench.warm_up(spark)
    spark.stop()

    untraced, traced = [], []
    if bench.traced:
        # traced calls around an untraced one, for the tracing overhead
        traced.append(bench.trial("t0", jvm_pid, traced=True))
        untraced.append(bench.trial("u0", jvm_pid))
        traced.append(bench.trial("t1", jvm_pid, traced=True))
    else:
        for i in range(bench.n_trials):
            untraced.append(bench.trial(f"u{i}", jvm_pid))
    one_core = bench.trial("c1", jvm_pid, cores=1) if bench.traced else None

    inproc = None
    if bench.traced:
        from spans import in_process_pass
        from pdf_ocr_spark.config import DEFAULT
        pcols = bench.processed
        is_pdf = [x.startswith("JVBERi") for x in pcols["text"]]
        inproc = in_process_pass(
            list(dict.fromkeys(x for x, p in zip(pcols["text"], is_pdf)
                               if p)),
            [x for x, p in zip(pcols["text"], is_pdf) if not p],
            DEFAULT.arrow_max_records_per_batch)

    host_rec["probe_after_s"] = host.probe_s()
    host_rec.update(clock.record())
    bench.record["host"] = host_rec
    bench.record["jvm_launch_s"] = jvm_launch_s
    bench.check_all(bench.expected_digests())

    trials = bench.record["trials"]
    turns = bench.record["input"]["turns"]
    attempted = turns * len(trials)
    failed = sum(t["failed"] for t in trials)
    expected_turns = len(bench.processed["text"])
    correct = failed == 0 and all(t["turns"] == expected_turns
                                  for t in trials)
    bench.record["failed_turn_frac"] = failed / attempted
    spec = load_spec()
    if bench.traced:
        metrics = per_layer(bench, untraced, traced, one_core, jvm_launch_s,
                            inproc, host_rec)
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = end_to_end(untraced, units)
    bench.record["metrics"] = metrics
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u}
                        for k, u in units.items()}}, bench.record


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path[:0] = [BENCH_DIR, ROOT]
    try:
        import pdf_ocr_spark.pipeline  # noqa: F401
        import workloads
    except ImportError as e:
        log(f"cannot import the program under test from {ROOT}: {e}")
        return 2
    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads.WORKLOADS)}")
        return 2

    # stdout carries only the result line: anything else (the JVM's
    # console, stray prints) goes to stderr
    result_fd = os.dup(1)
    os.dup2(2, 1)

    import host
    host.become_subreaper()
    prepare_work_dir()
    try:
        result, record = run(args)
    finally:
        stop_everything()
    os.makedirs(RESULTS, exist_ok=True)
    path = os.path.join(
        RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump({**record, "result": result}, f, indent=1)
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


def prepare_work_dir() -> None:
    """A fresh work directory that holds every temporary file of the run:
    Python's, the JVM's and Spark's local directories."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(WORK, d))
    os.environ.update({
        "TMPDIR": os.path.join(WORK, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        # the short-lived JVM spark-submit runs to build the command line
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
    })


def stop_everything() -> None:
    """Stop the JVM, reap every process left, remove the work directory."""
    import host
    shutdown_jvm()
    left = host.reap_descendants()
    if left:
        log(f"reaped {left} leftover processes")
    shutil.rmtree(WORK, ignore_errors=True)


def shutdown_jvm() -> None:
    """Stop the SparkContext, then the JVM (it exits when its stdin
    closes), and wait for it."""
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
