#!/usr/bin/env python3
"""Seeded benchmark of the extraction engine.

    python3 perfbench/run.py --workload fused_completo --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --trace 1   # every workload
    python3 perfbench/run.py --selftest                         # checker + parser tests

One run is one closed-loop client: one batch job in flight at a time, on at
most ``local[4]``. Untimed warm-up jobs (four in the fresh JVM, one after a
context restart) run before any timed job. An untraced run times its jobs in
one fresh JVM at local[4] (context A), then restarts the context twice more,
so ``setup_s`` (session start plus a worker warm-up task per core) is the
median of three set-ups. It reports ``wall_s`` (median job time),
``docs_per_s``, ``setup_s`` and ``peak_rss_mb``. A traced run times untraced
jobs in A (the tracing overhead baseline), then jobs with Spark's event log
on in a restarted local[1] context (B, the scaling leg) and local[4] one
(C), and reports the per-layer ledger (see README.md). Every output is
checked against an expectation computed without engine code (``expect.py``).

The last line of stdout is one JSON object with the keys correct, attempted,
failed and metrics. All files the run writes stay under ``.bench_work/``.
"""

from __future__ import annotations

import os
import sys

# One BLAS thread everywhere: the engine's executors run that way, and the
# per-span kernel timings are taken in this process.
for _var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_var] = "1"

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
sys.path[:0] = [HERE, ROOT]

import expect  # noqa: E402
import inputs  # noqa: E402
import ledger  # noqa: E402

WORKLOADS = ("fused_completo", "text_ops")
TEXT_QUERIES = ("tfidf_top_terms", "phrase_match", "winnow_fingerprints")
CKPT_BUCKETS = 2
CKPT_KILL_AFTER = 1
CORES = 4
DRIVER_MEMORY = "2g"
MIN_JOBS = 4  # timed jobs per untraced run, however short --seconds is

END_TO_END = {"wall_s": "s", "docs_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB"}


def _prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and let Python
    workers import the engine however the benchmark was started."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # a bounded heap keeps the JVM's resident set (and the shared box) small
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY


def _warm_workers(batches):
    """Worker warm-up: import the engine's span stack and run one tiny
    render -> JPEG -> decode round trip (loads the compiled scan path)."""
    from api_ocr_spark.imaging import png
    from api_ocr_spark.imaging.render import render_text_image
    from api_ocr_spark.operators import modes  # noqa: F401
    from api_ocr_spark.sources.interleave import encode_media

    png.decode_gray_auto(encode_media(render_text_image("warm", "plain", seed=1), "jpeg"))
    yield from batches


class Sessions:
    """Starts, restarts and finally shuts down Spark for one run."""

    def __init__(self):
        self.spark = None
        self.setups: list[dict] = []

    def start(self, cores: int, eventlog: str | None = None):
        from api_ocr_spark.plans.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if eventlog:
            os.makedirs(eventlog, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + eventlog,
                         "spark.eventLog.compress": "false"})
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("OFF")
        spark.range(0, cores, 1, cores).mapInPandas(_warm_workers, "id long").collect()
        t2 = time.perf_counter()
        if spark.sparkContext.defaultParallelism != cores:
            raise RuntimeError(f"asked for local[{cores}], got "
                               f"{spark.sparkContext.defaultParallelism} slots")
        self.spark = spark
        self.setups.append({"cores": cores, "start_s": t1 - t0, "warm_s": t2 - t1})
        return spark

    def close(self) -> None:
        """Stop Spark, shut the JVM down and wait for every child to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        while ledger.descendants() and time.time() < deadline:
            time.sleep(0.2)


# ---------------------------------------------------------------- workloads


class Workload:
    """One workload: its job, the check of the job's output, and the
    readings of its plan-building layer."""

    mode = "documento_completo"
    # untimed jobs in the fresh JVM before timing starts: the first jobs run
    # well above steady state while the JIT and Spark's code caches fill
    # (with three, the first timed jobs still ran 5-15 % slow)
    warm_jobs = 4

    def __init__(self, name: str, seed: int):
        import pandas as pd

        self.seed = seed
        self.dir = inputs.documents_dir(WORK, name, seed)
        self.docs_path = os.path.join(self.dir, "documents.parquet")
        self.docs = pd.read_parquet(self.docs_path)
        self.expected = expect.expected_spans(self.docs)
        self.n_docs = len(self.docs)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.plan_s: list[float] = []
        self.plan_jobs: list[int] = []
        self.detail: dict = {}
        self.group_prefix = ""  # Spark job-group prefix of the jobs job() starts

    def prepare(self, spark) -> None:
        """Set-up outside any timing (oracle answers and the like)."""

    def job(self, spark):
        """Run the job once; return a callable that checks its output."""
        raise NotImplementedError

    def _fail(self, n: int, why: str) -> None:
        self.failed += n
        if n:
            self.problems.append(why)


class FusedCompleto(Workload):
    """extract_documents(docs, mode="documento_completo"), collected."""

    def job(self, spark):
        from api_ocr_spark.operators import pipeline

        sc = spark.sparkContext
        sc.setJobGroup(self.group_prefix + "run", "run")
        docs = spark.read.parquet(self.docs_path)
        t0 = time.perf_counter()
        with ledger.JobCounter(sc, self.group_prefix + "plan") as jc:
            out = pipeline.extract_documents(docs, mode=self.mode)
        self.plan_s.append(time.perf_counter() - t0)
        self.plan_jobs.append(jc.jobs)
        sc.setJobGroup(self.group_prefix + "run", "run")
        rows = out.select("doc_id", "spans").collect()

        def check():
            self.attempted += self.n_docs
            bad = expect.failed_docs(self.expected, expect.output_spans(rows))
            self._fail(bad, f"{bad} documents with wrong span sequences")
        return check

    def checkpoint_probe(self, spark) -> dict:
        """The media-store path with checkpoints, run once: a killed first
        leg over half the buckets, a resume call, then read_output, over a
        corpus with a heavy length tail rendered into a media store."""
        import pandas as pd

        from api_ocr_spark.plans import checkpoint as ck
        from api_ocr_spark.sources.interleave import build_media

        sc = spark.sparkContext
        store_dir = inputs.documents_dir(WORK, "store_probe", self.seed)
        docs_path = os.path.join(store_dir, "documents.parquet")
        store_path = os.path.join(store_dir, "media.parquet")
        sc.setJobGroup("probe", "probe")
        if not os.path.exists(store_path):
            tmp = store_path + f".tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            build_media(spark.read.parquet(docs_path)).select(
                "media_ref", "bytes").write.parquet(tmp)
            os.replace(tmp, store_path)
        expected = expect.expected_spans(pd.read_parquet(docs_path))
        base = os.path.join(WORK, "ckpt", str(os.getpid()))
        shutil.rmtree(base, ignore_errors=True)
        docs = spark.read.parquet(docs_path)
        store = spark.read.parquet(store_path)
        t0 = time.perf_counter()
        with ledger.JobCounter(sc, "ckpt") as jc:
            ck.run_with_checkpoint(spark, docs, base, run_group="bench", run_id="killed",
                                   mode="basico", n_buckets=CKPT_BUCKETS,
                                   max_buckets=CKPT_KILL_AFTER, media=store)
            t1 = time.perf_counter()
            ck.completed_buckets(spark, base, "bench")
            t2 = time.perf_counter()
            ck.run_with_checkpoint(spark, docs, base, run_group="bench", run_id="resume",
                                   mode="basico", n_buckets=CKPT_BUCKETS, media=store)
            t3 = time.perf_counter()
            rows = ck.read_output(spark, base, "bench").select(
                "doc_id", "spans", "bucket").collect()
            t4 = time.perf_counter()
        sc.setJobGroup("probe", "probe")
        lineage = ck.read_lineage(spark, base).collect()
        metrics = ck.read_metrics(spark, base).select("n_spans").collect()
        self.attempted += len(expected)
        bad = expect.failed_docs(expected, expect.output_spans(rows))
        self._fail(bad, f"checkpoint: {bad} documents with wrong span sequences")
        problems = expect.store_failures(expected, rows, lineage, metrics, CKPT_BUCKETS)
        self._fail(len(problems), "; ".join(problems))
        written = 0
        for sub in ("output", "metrics", "lineage"):
            for dirpath, _dirs, files in os.walk(os.path.join(base, sub)):
                written += sum(os.path.getsize(os.path.join(dirpath, f))
                               for f in files if not f.startswith("."))
        store_bytes = sum(os.path.getsize(os.path.join(store_path, f))
                          for f in os.listdir(store_path) if f.endswith(".parquet"))
        return {
            "checkpoint.wall_s": (t1 - t0) + (t4 - t2),
            "checkpoint.bucket_s": statistics.median(float(r["wall_ms"]) / 1e3 for r in lineage),
            "checkpoint.jobs_per_bucket": jc.jobs / CKPT_BUCKETS,
            "checkpoint.resume_scan_s": t2 - t1,
            "checkpoint.read_output_s": t4 - t3,
            "checkpoint.written_kb_per_doc": written / 1e3 / len(expected),
            # every bucket's job joins against the whole store
            "checkpoint.store_read_mb": store_bytes / 1e6,
        }


class TextOps(Workload):
    """Text operators through queries(), each checked against oracle_sql()."""

    def prepare(self, spark):
        import duckdb

        import __spark_entry__ as entry

        self.queries = {q: entry.queries()[q] for q in TEXT_QUERIES}
        oracle = entry.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.docs_path}'")
            self.oracle = {q: expect.canon(con.execute(oracle[q]).df()) for q in TEXT_QUERIES}
        finally:
            con.close()
        self.query_s: dict[str, list[float]] = {q: [] for q in TEXT_QUERIES}
        self.query_plan_jobs: dict[str, int] = {}

    def job(self, spark):
        sc = spark.sparkContext
        results = {}
        plan_total, jobs_total = 0.0, 0
        for q, fn in self.queries.items():
            t0 = time.perf_counter()
            with ledger.JobCounter(sc, f"{self.group_prefix}plan:{q}") as jc:
                df = fn(spark, self.dir)
            t1 = time.perf_counter()
            sc.setJobGroup(f"{self.group_prefix}run:{q}", q)
            results[q] = df.toPandas()
            self.query_s[q].append(time.perf_counter() - t0)
            self.query_plan_jobs[q] = jc.jobs
            plan_total += t1 - t0
            jobs_total += jc.jobs
        self.plan_s.append(plan_total)
        self.plan_jobs.append(jobs_total)

        def check():
            for q, pdf in results.items():
                self.attempted += 1
                if expect.canon(pdf) != self.oracle[q]:
                    self._fail(1, f"{q} differs from its oracle")
        return check


CLASSES = {"fused_completo": FusedCompleto, "text_ops": TextOps}


# ---------------------------------------------------------------- the run


def _timed_loop(wl: Workload, spark, budget_s: float,
                min_jobs: int) -> tuple[list[float], list[float]]:
    """Run the job back to back until at least ``min_jobs`` ran and the next
    one would overrun the budget. Each check runs after its job, untimed.
    Returns each job's wall time and the share of the machine's CPU time
    the hypervisor stole while it ran."""
    start = time.perf_counter()
    walls: list[float] = []
    steals: list[float] = []
    while (len(walls) < min_jobs
           or (time.perf_counter() - start) + statistics.median(walls) <= budget_s):
        s0, n0 = ledger.cpu_ticks()
        t0 = time.perf_counter()
        check = wl.job(spark)
        walls.append(time.perf_counter() - t0)
        s1, n1 = ledger.cpu_ticks()
        steals.append((s1 - s0) / max(1, n1 - n0))
        check()
    return walls, steals


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def run(workload: str, seed: int, seconds: float, trace: bool) -> int:
    _prepare_env()
    wl = CLASSES[workload](workload, seed)
    missed = expect.selftest(wl.docs)
    if missed:
        print(f"checker self-test missed: {missed}", file=sys.stderr)
        return 2
    ev_root = os.path.join(WORK, "eventlog", str(os.getpid()))
    shutil.rmtree(ev_root, ignore_errors=True)
    # (context, cores, event-log dir, untimed warm-up jobs, fewest timed
    #  jobs, share of --seconds spent timing). A restarted context also runs
    # its first job slower than later ones, so every timed context warms.
    if trace:
        plan = [("A", CORES, None, wl.warm_jobs, 1, 0.3),
                ("B", 1, os.path.join(ev_root, "leg1"), 1, 1, 0.35),
                ("C", CORES, os.path.join(ev_root, "leg4"), 1, 1, 0.35)]
    else:  # timed jobs in A; two more set-ups (restarts) for setup_s
        plan = [("A", CORES, None, wl.warm_jobs, MIN_JOBS, 1.0),
                ("S2", CORES, None, 0, 0, 0.0), ("S3", CORES, None, 0, 0, 0.0)]
    sessions = Sessions()
    walls: dict[str, list[float]] = {}
    steals: dict[str, list[float]] = {}
    probe: dict = {}
    try:
        for ctx, cores, eventlog, warm_jobs, min_jobs, share in plan:
            spark = sessions.start(cores, eventlog)
            if ctx == "A":
                wl.prepare(spark)
            wl.group_prefix = "warm:"  # keeps these jobs out of the stage ledger
            for _ in range(warm_jobs):
                wl.job(spark)()  # untimed, still checked
            wl.group_prefix = ""
            if ctx == "A":  # memory after a fixed amount of work: the warm-up jobs
                rss = ledger.peak_rss_mb()
            if ctx == "C":  # the plan-layer readings come from the traced leg
                wl.plan_s.clear()
                wl.plan_jobs.clear()
            if min_jobs:
                walls[ctx], steals[ctx] = _timed_loop(wl, spark, seconds * share, min_jobs)
        if trace and isinstance(wl, FusedCompleto):
            probe = wl.checkpoint_probe(spark)
    finally:
        sessions.close()
        shutil.rmtree(os.path.join(WORK, "ckpt"), ignore_errors=True)

    setups = sessions.setups
    if trace:
        metrics = _trace_metrics(wl, ev_root, walls, setups)
        extra = {**wl.detail, **probe}
    else:
        wall4 = _median(walls["A"])
        metrics = {
            "wall_s": wall4,
            "docs_per_s": wl.n_docs / wall4,
            "setup_s": _median(x["start_s"] + x["warm_s"] for x in setups),
            "peak_rss_mb": rss["total"],
        }
        extra = {}
    # host noise: the share of CPU time the hypervisor gave to other guests
    extra["host.steal_frac"] = _median(x for v in steals.values() for x in v)
    extra.update({f"rss.{k}_mb": v for k, v in rss.items() if k != "total"})
    extra.update({"failed_frac": wl.failed / max(1, wl.attempted), "docs": wl.n_docs,
                  "jobs_timed": sum(len(w) for w in walls.values())})
    shown = {**metrics, **extra}
    for k, v in shown.items():
        print(f"{workload:15s} {k:40s} {v:16.6f} {_unit(k)}")
    for p in wl.problems[:10]:
        print(f"{workload:15s} PROBLEM {p}")
    _save(workload, seed, trace, shown, walls, steals, setups)
    shutil.rmtree(ev_root, ignore_errors=True)
    correct = wl.failed == 0
    print(json.dumps({
        "correct": correct, "attempted": wl.attempted, "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


_UNITS = (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_kb_per_doc", "kB"),
          ("_frac", "ratio"), ("skew", "ratio"), ("inflation", "ratio"),
          ("_eff", "ratio"), ("kernel_vs_stage", "ratio"))


def _unit(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    return next((unit for suffix, unit in _UNITS if name.endswith(suffix)), "count")


def _trace_metrics(wl: Workload, ev_root: str, walls: dict, setups: list[dict]) -> dict:
    """The per-layer ledger of a traced run. Stage figures are per job of
    the 4-core leg (C); the 1-core leg (B) gives the scaling readings."""
    from kernels import kernel_split, sample_media_spans

    def job_groups(log):
        return {j["group"] for j in log["jobs"].values()
                if j["group"] and j["group"].startswith(("run", "plan"))}

    log1 = ledger.parse_eventlog(os.path.join(ev_root, "leg1"))
    log4 = ledger.parse_eventlog(os.path.join(ev_root, "leg4"))
    led1 = ledger.stage_ledger(log1, job_groups(log1))
    led4 = ledger.stage_ledger(log4, job_groups(log4))
    n1, n4 = len(walls["B"]), len(walls["C"])
    wall1, wall4 = _median(walls["B"]), _median(walls["C"])
    run4 = led4["run_s"] / n4

    m = kernel_split(sample_media_spans(wl.expected), wl.mode)
    chain_ms = m.pop("kernels.chain_ms")
    detail = {"kernels.sample_spans": m.pop("kernels.sample_spans")}
    m["pipeline.plan_build_s"] = _median(wl.plan_s)
    m["pipeline.plan_jobs"] = max(wl.plan_jobs)
    m["spark.jobs"] = led4["jobs"] / n4
    m["spark.stages"] = led4["stages"] / n4
    m["spark.run_s"] = run4
    m["spark.cpu_s"] = led4["cpu_s"] / n4
    m["spark.gc_frac"] = led4["gc_s"] / led4["run_s"]
    m["spark.idle_core_frac"] = 1 - led4["run_s"] / (CORES * sum(walls["C"]))
    for role, vals in led4["roles"].items():
        m[f"spark.{role}.run_frac"] = vals["run_s"] / led4["run_s"]
        m[f"spark.{role}.gc_frac"] = vals["gc_s"] / vals["run_s"] if vals["run_s"] else 0.0
        for key in ("shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
            m[f"spark.{role}.{key}"] = vals[key] / n4
        m[f"spark.{role}.task_skew"] = vals["task_skew"]
    py = led4["python"]
    m["python.sent_mb"] = py["sent_mb"] / n4
    m["python.returned_mb"] = py["returned_mb"] / n4
    m["python.run_frac"] = py["run_s"] / led4["run_s"]
    m["python.start_frac"] = py["start_s"] / led4["run_s"]
    m["scale.leg1_s"] = wall1
    m["scale.leg4_s"] = wall4
    m["scale.scaling_eff"] = wall1 / (CORES * wall4)
    m["scale.core_s_inflation"] = run4 / (led1["run_s"] / n1)
    m["scale.idle_core4_frac"] = m["spark.idle_core_frac"]
    m["session.start_s"] = _median(x["start_s"] for x in setups)
    m["session.warm_s"] = _median(x["warm_s"] for x in setups)
    m["session.first_start_s"] = setups[0]["start_s"]
    m["trace.overhead_frac"] = wall4 / _median(walls["A"]) - 1
    # sampled per-span chain, scaled to every media span the job OCRs,
    # over the Python stage time Spark measured (0 when there is none)
    py_run = py["run_s"] / n4
    n_media = expect.media_span_count(wl.expected)
    m["trace.kernel_vs_stage"] = chain_ms * n_media / 1e3 / py_run if py_run else 0.0
    # absolute per-role and per-query readings: printed and saved, not in
    # the result line (a role or query absent from a workload reads 0 there)
    for role, vals in led4["roles"].items():
        for key in ("run_s", "cpu_s", "gc_s"):
            detail[f"spark.{role}.{key}"] = vals[key] / n4
    detail["python.run_s"] = py_run
    detail["python.start_s"] = py["start_s"] / n4
    if isinstance(wl, TextOps):
        for q in TEXT_QUERIES:
            one = ledger.stage_ledger(log4, {f"run:{q}", f"plan:{q}"})
            detail[f"text.{q}_s"] = _median(wl.query_s[q][-n4:])
            detail[f"text.{q}.plan_jobs"] = wl.query_plan_jobs[q]
            detail[f"text.{q}.shuffle_mb"] = one["shuffle_write_mb"] / n4
    wl.detail = detail
    return m


def _save(workload: str, seed: int, trace: bool, shown: dict, walls: dict,
          steals: dict, setups: list[dict]) -> None:
    d = os.path.join(WORK, "ledger")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{workload}-s{seed}-t{int(trace)}.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "trace": trace,
                   "property": inputs.PROPERTY[workload], "metrics": shown,
                   "walls": walls, "steals": steals, "setups": setups}, f, indent=1)


def run_all(seed: int, seconds: float, trace: bool) -> int:
    """Every workload in its own process, one after another."""
    rc = 0
    for w in WORKLOADS:
        p = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w,
                            "--seed", str(seed), "--seconds", str(seconds),
                            "--trace", str(int(trace))], stdout=subprocess.PIPE, text=True)
        print("\n".join(p.stdout.strip().splitlines()[:-1]), flush=True)
        rc = rc or p.returncode
    return rc


def selftest() -> int:
    """Checker fault injection plus the event-log parser on its fixture."""
    import pytest

    return pytest.main(["-q", "-p", "no:cacheprovider", os.path.join(HERE, "test_perfbench.py")])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args(argv)
    if a.selftest:
        return selftest()
    if a.workload is None:
        ap.error("--workload is required")
    if a.workload == "all":
        return run_all(a.seed, a.seconds, bool(a.trace))
    return run(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())
