"""Benchmark of record: seeded streams of Engine jobs.

    python3 perfbench/run.py --workload etl_jobs --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``etl_jobs``      nproc-1 closed-loop clients, one job fewer admitted;
                    relational queries, similarity top-k, partitioned
                    writes and PartitionedModel fan-outs of hundreds of
                    small subtasks (~5% failing once).
- ``llm_pipeline``  one client; TrainingDataPipeline over a seeded corpus
                    with planted exact and near duplicates.

Every job is submitted with ``Engine.submit`` and awaited with
``Engine.wait``; every job's output is checked.  The last stdout line is
one JSON object {correct, attempted, failed, metrics}: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.  The
line before it is a report with sample counts, the tail percentile, the
failure ratio, per-workload throughput, phase times and the host.

Inputs, Spark scratch space and job outputs live under ``.bench_work/``
in the working directory and are removed at exit; the traced run leaves
its spans in ``.bench_traces/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # before the heavy imports, for the report

import argparse
import hashlib
import itertools
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

import pyarrow.dataset as pads  # noqa: E402
import pyspark  # noqa: E402

from fossa_spark.engine import Engine, Job, JobStatus  # noqa: E402
from fossa_spark.pipelines import TrainingDataPipeline  # noqa: E402
from fossa_spark.queries import all_queries, ensure_executors_can_import  # noqa: E402
from fossa_spark.session import get_spark  # noqa: E402
from perfbench import gen, models  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

WORKLOADS = ("etl_jobs", "llm_pipeline")
SETUPS = 3  # set-up repeated per run; setup_s is their median

END_TO_END = {
    "setup_s": "s", "job_latency_p50_s": "s", "jobs_per_s": "1/s",
    "cpu_s_per_job": "s",
}
PER_LAYER = {
    "session.get_spark_s": "s", "session.ship_pkg_s": "s", "session.first_job_s": "s",
    "engine.submit_s": "s", "engine.capacity_waits": "count",
    "engine.run_s": "s", "engine.overhead_s": "s",
    "queries.build_s": "s", "queries.exec_s": "s",
    "llm.similarity.topk_s": "s",
    "connect.write_s": "s", "connect.files_written": "count",
    "connect.bytes_written_per_input_byte": "ratio",
    "pipelines.transform_s": "s",
    "llm.text.quality_features_s": "s", "llm.text.language_scores_s": "s",
    "llm.dedup.exact_s": "s", "llm.dedup.minhash_lsh_s": "s",
    "llm.dedup.connected_components_s": "s",
    "llm.dedup.candidate_pairs": "count", "llm.dedup.verified_pairs": "count",
    "llm.dedup.pair_precision": "ratio",
    "model.partition_slice_s": "s", "model.strategy_run_s": "s",
    "model.subtask_work_s": "s", "model.complete_hook_s": "s",
    "model.fanout_efficiency": "ratio", "model.subtask_attempts": "count",
    "model.subtask_retries": "count", "model.useful_ratio": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "trace.job_latency_p50_s": "s",
}


def host() -> dict:
    nproc = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    # an eighth of the host's memory, 1-4 GB: the working sets are small and
    # the machine is shared
    return {"nproc": nproc, "mem_gb": round(mem_gb, 1),
            "driver_mem_gb": int(min(4, max(1, round(mem_gb / 8))))}


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest nearest-rank percentile that has
    at least ten samples above it; the maximum when that percentile would
    fall below the median (fewer than 20 samples)."""
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _ticks(stat_path: str, fields: int = 4) -> tuple[str, int, int] | None:
    """(comm, ppid, CPU ticks) from a proc(5) stat file, or None when the
    process or thread has exited.  The ticks sum utime and stime, and with
    ``fields=4`` also cutime and cstime (reaped children; process-wide
    even in a thread's file, so a thread takes ``fields=2``)."""
    try:
        with open(stat_path) as fh:
            stat = fh.read()
    except OSError:
        return None
    rest = stat[stat.rindex(")") + 2:].split()  # fields 3.. of proc(5)
    comm = stat[stat.index("(") + 1:stat.rindex(")")]
    return comm, int(rest[1]), sum(int(x) for x in rest[11:11 + fields])


def tree_cpu_s(root: int, jvm: int) -> float:
    """User plus system CPU seconds of process ``root`` and every live
    descendant (the JVM and its Python workers), including the children
    each has reaped, less the JVM's JIT compiler threads.  Time the
    hypervisor steals from the vCPUs is not in it, so it holds steadier
    than wall time on a shared host; JIT compilation is warm-up that
    shrinks as a run goes on, so leaving it out makes runs of different
    length comparable."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (t := _ticks(f"/proc/{d}/stat")) is not None:
            kids.setdefault(t[1], []).append(int(d))
            ticks[int(d)] = t[2]
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += kids.get(pid, [])
    for tid in os.listdir(f"/proc/{jvm}/task"):
        t = _ticks(f"/proc/{jvm}/task/{tid}/stat", fields=2)
        if t is not None and "CompilerThre" in t[0]:
            total -= t[2]
    return total / os.sysconf("SC_CLK_TCK")


def source_id() -> dict:
    """The commit when the tree is a git checkout, and in any case a hash
    of the package source, so a result names the code it measured."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "fossa_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode() + b"\0" + p.read_bytes())
    commit = "unknown"
    head = ROOT / ".git" / "HEAD"
    if head.is_file():
        ref = head.read_text().strip()
        ref_file = ROOT / ".git" / ref[5:] if ref.startswith("ref: ") else None
        commit = ref_file.read_text().strip() if ref_file and ref_file.is_file() else ref
    return {"commit": commit, "fossa_spark_sha256": h.hexdigest()[:16]}


def sweep_persisted(spark) -> None:
    """Drop cached tables and persisted/checkpointed RDD blocks, so a job is
    not charged for its predecessor's state."""
    spark.catalog.clearCache()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        it.next()._2().unpersist(False)


def normalize(text: str) -> str:
    """Python mirror of llm.dedup.normalize for ASCII text."""
    return " ".join(text.lower().split())


class Bench:
    """One run: inputs, Spark session, Engine, job stream and checks."""

    def __init__(self, workload: str, seed: int, trace: bool, scale: float,
                 work: Path, expected: dict):
        self.workload, self.seed, self.scale = workload, seed, scale
        self.tracer = Tracer(trace, current_job=self._job_group)
        self.work, self.expected = work, expected
        self.inputs, self.out = work / "inputs", work / "out"
        self.queries = all_queries() if workload == "etl_jobs" else {}
        self.table_hash = gen.load_tool("drive_contract").table_hash
        nproc = host()["nproc"]
        self.clients = max(1, nproc - 1) if workload == "etl_jobs" else 1
        # etl_jobs admits one job fewer than it has clients, so one client
        # is always held at admission (block_if_full) and that path is
        # measured; the other workloads keep the node's whole capacity,
        # which is also PartitionedModel's fan-out width
        self.capacity = max(1, self.clients - 1) if workload == "etl_jobs" else nproc
        self.spark = self.engine = None
        # stopped sessions stay referenced: the package-shipping registry is
        # keyed by id(session), and a recycled id would skip the shipping
        self.sessions: list = []
        self.records: list[dict] = []

    def _job_group(self) -> str | None:
        sc = self.spark.sparkContext if self.spark is not None else None
        return sc.getLocalProperty("spark.jobGroup.id") if sc is not None else None

    # -- session ------------------------------------------------------------
    def setup(self) -> dict:
        h = host()
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench_{self.workload}", master=f"local[{h['nproc']}]",
            shuffle_partitions=h["nproc"],
            extra_conf={
                "spark.driver.memory": f"{h['driver_mem_gb']}g",
                # a fixed set of JIT compiler threads, so the CPU they use
                # can be told apart from the program's (tree_cpu_s)
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData "
                    "-XX:-UseDynamicNumberOfCompilerThreads",
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            })
        t1 = time.perf_counter()
        self.sessions.append(self.spark)
        ensure_executors_can_import(self.spark)
        t2 = time.perf_counter()
        self.engine = Engine(self.spark, max_concurrent_tasks=self.capacity)
        for cls in (models.Probe, models.RelationalQuery, models.SimilarityTopK,
                    models.PartitionedWrite, TrainingDataPipeline, models.TracedPipeline,
                    models.FanoutModel, models.TracedFanout):
            self.engine.register_model(cls)
        tid = f"setup-{len(self.sessions)}"
        self.engine.submit(Job(model_class="Probe", task_id=tid))
        res = self.engine.wait(tid)
        t3 = time.perf_counter()
        if res.status is not JobStatus.COMPLETE or res.value != models.Probe.EXPECTED:
            raise RuntimeError(f"set-up job failed: {res.error or res.value}")
        return {"get_spark_s": t1 - t0, "ship_pkg_s": t2 - t1, "first_job_s": t3 - t2,
                "setup_s": t3 - t0}

    def teardown(self) -> None:
        if self.engine is not None:
            self.engine.shutdown(wait=True)
        if self.spark is not None:
            self.spark.stop()
        self.engine = self.spark = None

    # -- jobs -----------------------------------------------------------------
    def make_job(self, i: int, tid: str, traced: bool) -> tuple[Job, dict]:
        """Job ``i`` of the stream; ``traced`` picks the stage-timing model
        variants, which set-up jobs never use."""
        ctx = {"data": str(self.inputs), "out": str(self.out), "job": tid}
        tr = self.tracer
        if self.workload == "llm_pipeline":
            spec = {"kind": "pipeline", "items": self.expected["docs"]}
            cls = "TracedPipeline" if traced else "TrainingDataPipeline"
            kw = {"source_url": "parquet://{data}/documents.parquet",
                  "output_url": "parquet://{out}/{job}/clean_docs"}
            if traced:
                kw["tracer"] = tr
            return Job(model_class=cls, model_construction_kwargs=kw,
                       resolver_context=ctx, task_id=tid), spec
        spec = gen.etl_job(self.seed, i)
        spec["items"] = 1
        if spec["kind"] == "query":
            cls, kw = "RelationalQuery", {"query_fn": self.queries[spec["query"]]}
        elif spec["kind"] == "similarity":
            cls = "SimilarityTopK"
            kw = {"q_ids": self.expected["sim_qsets"][spec["qset"]], "k": gen.SIM_K}
        elif spec["kind"] == "write":
            cls, kw = "PartitionedWrite", {"table": spec["table"], "key": spec["key"]}
        else:
            spec["plan"] = gen.fanout_plan(self.seed, i, self.scale)
            spec["items"] = len(spec["plan"])
            cls = "TracedFanout" if traced else "FanoutModel"
            kw = {"plan": spec["plan"]}
        kw["tracer"] = tr
        return Job(model_class=cls, model_construction_kwargs=kw,
                   resolver_context=ctx, task_id=tid), spec

    def check(self, spec: dict, value, tid: str) -> bool:
        exp = self.expected
        kind = spec["kind"]
        if kind == "query":
            cols, rows = value
            return list(self.table_hash(cols, rows)) == exp["queries"][spec["query"]]
        if kind == "similarity":
            return sorted(value) == sorted(exp["sim_topk"][spec["qset"]])
        if kind == "write":
            n = pads.dataset(value, format="parquet", partitioning="hive").count_rows()
            if self.tracer.enabled:
                self._count_files(Path(value), exp["input_bytes"][spec["table"]], tid)
            return n == exp["rows"][spec["table"]]
        if kind == "pipeline":
            path = self.out / tid / "clean_docs"
            t = pads.dataset(path, format="parquet", partitioning="hive").to_table(
                columns=["doc_id", "text"])
            ids = t["doc_id"].to_pylist()
            norm = {normalize(x) for x in t["text"].to_pylist()}
            if self.tracer.enabled:
                self._count_files(path, exp["input_bytes"], tid)
            return (sorted(ids) == list(range(exp["unique"]))
                    and len(norm) == len(ids))
        # fanout: the closed-form sum, and exactly one file per subtask
        plan = spec["plan"]
        files = sorted(os.listdir(self.out / tid / "results"))
        if self.tracer.enabled:
            # the job's input is its subtask plan
            self.tracer.count("connect.input_bytes", len(json.dumps(plan)), tid)
            self.tracer.count("model.subtasks", len(plan), tid)
        return (sum(v["sum"] for v in value) == gen.fanout_sum(plan) + exp.get("bias", 0)
                and sorted(v["sid"] for v in value) == list(range(len(plan)))
                and files == sorted(f"{sid}_results.csv" for sid, _, _ in plan))

    def _count_files(self, path: Path, input_bytes: int, tid: str) -> None:
        files = [p for p in path.rglob("*.parquet")]
        self.tracer.count("connect.files_written", len(files), tid)
        self.tracer.count("connect.bytes_written", sum(p.stat().st_size for p in files), tid)
        self.tracer.count("connect.input_bytes", input_bytes, tid)

    def run_job(self, i: int, measured: bool = True) -> dict:
        tid = f"{self.workload}-{i:05d}" if measured else f"warmup-{i:05d}"
        job, spec = self.make_job(i, tid, self.tracer.enabled and measured)
        tr, eng = self.tracer, self.engine
        rec = {"tid": tid, "kind": spec.get("query", spec["kind"]), "items": spec["items"],
               "ok": False}
        try:
            with tr.span("job", job=tid, root=True):
                t0 = time.perf_counter()
                if not eng.has_processing_capacity():
                    tr.count("engine.capacity_waits", 1, tid)
                with tr.span("engine.submit"):
                    eng.submit(job, block_if_full=True, timeout=600.0)
                with tr.span("engine.wait"):
                    res = eng.wait(tid)
                rec["latency"] = time.perf_counter() - t0
            if res.status is not JobStatus.COMPLETE:
                rec["error"] = res.error
            else:
                rec["ok"] = bool(self.check(spec, res.value, tid))
                if not rec["ok"]:
                    rec["error"] = "output check failed"
            if tr.enabled and measured:
                summ = eng.task_summary(tid)
                run_s = summ["finished"] - summ["started"]
                tr.count("engine.run_s", run_s, tid)
                tr.count("engine.overhead_s", rec["latency"] - run_s, tid)
                self._spark_counts(tid)
        except Exception:  # noqa: BLE001 - a failed job is a data point
            rec["error"] = traceback.format_exc()
        finally:
            shutil.rmtree(self.out / tid, ignore_errors=True)
            if self.clients == 1:
                sweep_persisted(self.spark)
        if rec.get("error"):
            print(f"job {tid} failed: {rec['error']}", file=sys.stderr)
        return rec

    def _spark_counts(self, tid: str) -> None:
        st = self.spark.sparkContext.statusTracker()
        stages = tasks = 0
        jobs = st.getJobIdsForGroup(tid)
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                si = st.getStageInfo(sid)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
        self.tracer.count("spark.jobs", len(jobs), tid)
        self.tracer.count("spark.stages", stages, tid)
        self.tracer.count("spark.tasks", tasks, tid)

    # -- closed loop --------------------------------------------------------------
    def loop(self, indices, seconds: float, measured: bool = True,
             whole: int = 1) -> tuple[list, float]:
        """Each client takes the next job index when its previous job
        returns, until the indices run out or ``seconds`` have passed and
        the jobs taken are a multiple of ``whole``; returns the job records
        and the wall time until the last job finished."""
        it = iter(indices)
        recs: list[dict] = []
        taken = 0
        lock = threading.Lock()
        deadline = time.perf_counter() + seconds

        def client() -> None:
            nonlocal taken
            while True:
                with lock:
                    if time.perf_counter() >= deadline and taken % whole == 0:
                        return
                    i = next(it, None)
                    taken += 1
                if i is None:
                    return
                rec = self.run_job(i, measured)
                with lock:
                    recs.append(rec)

        threads = [threading.Thread(target=client, name=f"client-{c}")
                   for c in range(self.clients)]
        start = time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return recs, time.perf_counter() - start


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def per_layer(b: Bench, setups: list[dict], p50: float) -> dict:
    tr = b.tracer
    jobs = [r["tid"] for r in b.records]

    def span_med(name: str) -> float:
        per = tr.per_job(name)
        return _median(per[j] for j in jobs if j in per)

    def cnt(name: str) -> dict:
        per = tr.counts_per_job(name)
        return {j: per[j] for j in jobs if j in per}

    def cnt_med(name: str) -> float:
        return _median(cnt(name).values())

    def cnt_mean(name: str) -> float:
        v = cnt(name)
        return sum(v.values()) / len(v) if v else 0.0

    def ratio(num: str, den: str) -> float:
        d = sum(cnt(den).values())
        return sum(cnt(num).values()) / d if d else 0.0

    work, strat = cnt("model.subtask_work_s"), tr.per_job("model.strategy_run")
    workers = b.engine.max_concurrent_tasks
    attempts, ok = cnt("model.subtask_attempts"), cnt("model.subtask_ok")
    write_s = tr.per_job("connect.write")
    for j, v in cnt("connect.subtask_write_s").items():
        write_s[j] = write_s.get(j, 0.0) + v
    m = {
        "session.get_spark_s": _median(s["get_spark_s"] for s in setups),
        "session.ship_pkg_s": _median(s["ship_pkg_s"] for s in setups),
        "session.first_job_s": _median(s["first_job_s"] for s in setups),
        "engine.submit_s": span_med("engine.submit"),
        "engine.capacity_waits": sum(cnt("engine.capacity_waits").values()),
        "engine.run_s": cnt_med("engine.run_s"),
        "engine.overhead_s": cnt_med("engine.overhead_s"),
        "queries.build_s": span_med("queries.build"),
        "queries.exec_s": span_med("queries.exec"),
        "llm.similarity.topk_s": span_med("llm.similarity.topk"),
        "connect.write_s": _median(write_s[j] for j in jobs if j in write_s),
        "connect.files_written": cnt_mean("connect.files_written"),
        "connect.bytes_written_per_input_byte": ratio("connect.bytes_written",
                                                      "connect.input_bytes"),
        "pipelines.transform_s": span_med("pipelines.transform"),
        "llm.text.quality_features_s": span_med("llm.text.quality_features"),
        "llm.text.language_scores_s": span_med("llm.text.language_scores"),
        "llm.dedup.exact_s": span_med("llm.dedup.exact"),
        "llm.dedup.minhash_lsh_s": span_med("llm.dedup.minhash_lsh"),
        "llm.dedup.connected_components_s": span_med("llm.dedup.connected_components"),
        "llm.dedup.candidate_pairs": cnt_mean("llm.dedup.candidate_pairs"),
        "llm.dedup.verified_pairs": cnt_mean("llm.dedup.verified_pairs"),
        "llm.dedup.pair_precision": ratio("llm.dedup.verified_pairs",
                                          "llm.dedup.candidate_pairs"),
        "model.partition_slice_s": span_med("model.partition_slice"),
        "model.strategy_run_s": span_med("model.strategy_run"),
        "model.subtask_work_s": cnt_med("model.subtask_work_s"),
        "model.complete_hook_s": span_med("model.complete_hook"),
        "model.fanout_efficiency": _median(
            work[j] / (strat[j] * workers) for j in work if strat.get(j)),
        "model.subtask_attempts": cnt_mean("model.subtask_attempts"),
        "model.subtask_retries": cnt_mean("model.subtask_attempts")
        - cnt_mean("model.subtasks"),
        "model.useful_ratio": (sum(ok.values()) / sum(attempts.values())
                               if attempts else 0.0),
        "spark.jobs": cnt_mean("spark.jobs"),
        "spark.stages": cnt_mean("spark.stages"),
        "spark.tasks": cnt_mean("spark.tasks"),
        "trace.job_latency_p50_s": p50,
    }
    return m


def self_times(tr: Tracer, jobs: list[str]) -> dict:
    """Median per-job self time of every span name (trace report only)."""
    st, per = tr.self_times(), {}
    wanted = set(jobs)
    for sp in tr.spans:
        if sp.job in wanted:
            d = per.setdefault(sp.name, {})
            d[sp.job] = d.get(sp.job, 0.0) + st[sp.id]
    return {name: _median(v.values()) for name, v in sorted(per.items())}


def run_workload(workload: str, seed: int, seconds: float, trace: bool,
                 scale: float = 1.0, corrupt: bool = False) -> tuple[dict, dict]:
    """One benchmark run; returns (result line, report).  ``scale`` shrinks
    the inputs and ``corrupt`` falsifies the expected outputs, both for
    the self-test only."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
    work = Path.cwd() / ".bench_work" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("inputs", "out", "spark-local", "tmp"):
        (work / d).mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    b = None
    try:
        t0 = t_gen = time.perf_counter()
        subprocess.run([sys.executable, "-m", "perfbench.gen", "--workload", workload,
                        "--seed", str(seed), "--out", str(work / "inputs"),
                        "--scale", str(scale)], cwd=ROOT, check=True)
        gen_s = time.perf_counter() - t0
        expected = json.loads((work / "inputs" / "expected.json").read_text())
        if workload == "etl_jobs":
            expected["input_bytes"] = {t: os.path.getsize(work / "inputs" / f"{t}.parquet")
                                       for t, _ in gen.WRITES}
        if corrupt:
            expected = corrupted(workload, expected)

        b = Bench(workload, seed, trace, scale, work, expected)
        t_setups = time.perf_counter()
        setups = []
        for k in range(SETUPS):
            if k:
                t_down = time.perf_counter()
                b.teardown()
                setups[-1]["teardown_s"] = time.perf_counter() - t_down
            setups.append(b.setup())
        # unmeasured jobs first, so plan compilation, the JVM's warm-up and
        # the executors' first imports of the workload's code are not
        # charged to a sample: on etl_jobs one whole deck, so every distinct
        # job has run once.  The measured jobs are whole decks too, so
        # every run measures the same mix.
        setups_s = time.perf_counter() - t_setups
        deck = gen.ETL_DECK if workload == "etl_jobs" else 1
        warm, warmup_s = b.loop(range(deck), float("inf"), measured=False)
        jvm_pid = b.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        cpu0 = tree_cpu_s(os.getpid(), jvm_pid)
        b.records, elapsed = b.loop(itertools.count(deck), seconds, whole=deck)
        cpu_s = tree_cpu_s(os.getpid(), jvm_pid) - cpu0

        recs = b.records
        good = [r for r in recs if r["ok"]]
        # a job whose output check failed still has a latency
        lat = [r["latency"] for r in recs if "latency" in r]
        if not lat:
            raise RuntimeError("no job completed")
        p50 = statistics.median(lat)
        tail_v, tail_p = tail(lat)
        rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        e2e = {
            "setup_s": statistics.median(s["setup_s"] for s in setups),
            "job_latency_p50_s": p50,
            "jobs_per_s": len(good) / elapsed,
            "cpu_s_per_job": cpu_s / max(1, len(good)),
        }
        failed = len(recs) - len(good) + sum(not r["ok"] for r in warm)
        report = {
            "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "samples": {"jobs": len(recs), "latency": len(lat), "setups": len(setups),
                        "warmup_jobs": len(warm)},
            "job_latency_tail_s": {"value": tail_v, "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
            "job_latency_tail_percentile": tail_p,
            "latencies_s": [[r["kind"], round(r["latency"], 4)]
                            for r in recs if "latency" in r],
            "warmup_s": warmup_s,
            "job_fail_ratio": failed / (len(recs) + len(warm)),
            "clients": b.clients,
            "engine_capacity": b.capacity,
            "gen_s": gen_s,
            "setups": setups,
            "phases_s": {"start": t_gen - T_START, "gen": gen_s, "setups": setups_s,
                         "warmup": warmup_s, "measure": elapsed},
            "e2e": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
            "kinds": {k: sum(1 for r in recs if r["kind"] == k)
                      for k in sorted({r["kind"] for r in recs})},
            "host": {**host(), "spark": pyspark.__version__,
                     "python": platform.python_version(), **source_id()},
        }
        items = sum(r["items"] for r in good) / elapsed
        if workload == "llm_pipeline":
            report["docs_per_s"] = {"value": items, "unit": "1/s"}
        else:
            subtasks = sum(r["items"] for r in good if r["kind"] == "fanout")
            report["subtasks_per_s"] = {"value": subtasks / elapsed, "unit": "1/s"}
        if trace:
            metrics = per_layer(b, setups, p50)
            units = PER_LAYER
            jobs = [r["tid"] for r in recs]
            report["self_s"] = self_times(b.tracer, jobs)
            tdir = Path.cwd() / ".bench_traces"
            tdir.mkdir(exist_ok=True)
            b.tracer.dump(str(tdir / f"{workload}-seed{seed}.jsonl"))
        else:
            metrics, units = e2e, END_TO_END
        result = {
            "correct": failed == 0 and len(recs) > 0,
            "attempted": len(recs) + len(warm),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        return result, report
    finally:
        if b is not None:
            b.teardown()
        shutil.rmtree(work, ignore_errors=True)


def corrupted(workload: str, expected: dict) -> dict:
    """Expected outputs made deliberately wrong, for the self-test."""
    exp = json.loads(json.dumps(expected))
    if workload == "etl_jobs":
        for q in exp["queries"]:
            exp["queries"][q][1] = "0" * 64
        exp["sim_topk"] = [rows[:-1] for rows in exp["sim_topk"]]
        exp["rows"] = {t: n + 1 for t, n in exp["rows"].items()}
        exp["bias"] = 1  # fan-out sums off by one
    else:
        exp["unique"] -= 1  # one planted unique treated as a duplicate
    return exp


def stop_jvm() -> None:
    """Stop the JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        result, report = run_workload(args.workload, args.seed, args.seconds,
                                      bool(args.trace))
    finally:
        stop_jvm()
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
