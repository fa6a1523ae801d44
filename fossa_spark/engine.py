"""Engine: job registry, admission control, submit/status API.

Control-plane parity with the reference governor (SURVEY.md §2a), with
Spark's scheduler doing the actual work the governor hand-rolled:

| Reference (file:line)                                   | Here |
|---------------------------------------------------------|------|
| Governor.set_accepted_class, allowlist checks           | Engine.register_model / submit validation |
|   (lib/fossa/control/governor.py:323-347,371-373)       |      |
| capacity = max_concurrent - running (governor.py:229)   | running counter + completion ring |
| process-per-task isolation (governor.py:242-285)        | per-job thread + Spark job group (cancelable) |
| TaskMessage/ResultsMessage (control/message.py)         | Job dataclass + JobResult in the registry |
| status running/complete/failed/unknown                  | JobStatus enum, same strings |
|   (lib/fossa/views/controller.py:32-37)                 |      |
| failure propagation w/ origin link (process.py:113-141) | JobResult.failure_origin + traceback list |
| node_summary/task_summary API (views/api.py:75-103)     | Engine.node_summary()/task_summary() |
| graceful shutdown, SIGTERM ETLs (governor.py:421-451)   | Engine.shutdown() → cancelJobGroup + pool drain |
"""

from __future__ import annotations

import json
import threading
import time
import traceback
import uuid
from collections import deque
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from enum import Enum
from typing import Any

from pyspark.sql import SparkSession

from fossa_spark.connect import connector_resolver
from fossa_spark.model import Model, SubTaskFailed

# Finished records the registry keeps, oldest evicted first (the reference
# moves a finished task from its process_table to previous_tasks,
# governor.py:311-315). An evicted id reads as unknown and may run again,
# so JobFeed absorbs a redelivery only within this many completions.
KEEP_FINISHED = 1024


class JobStatus(str, Enum):
    RUNNING = "running"
    COMPLETE = "complete"
    FAILED = "failed"
    UNKNOWN = "unknown"


@dataclass
class Job:
    """Job spec (the reference's TaskMessage, lib/fossa/control/message.py:10-19)."""

    model_class: str
    method: str = "go"
    method_kwargs: dict[str, Any] = field(default_factory=dict)
    model_construction_kwargs: dict[str, Any] = field(default_factory=dict)
    resolver_context: dict[str, str] = field(default_factory=dict)
    partition_initialise_kwargs: dict[str, Any] = field(default_factory=dict)
    task_id: str | None = None


@dataclass
class JobResult:
    task_id: str
    status: JobStatus
    started: float | None
    finished: float | None = None
    value: Any = None
    error: str | None = None
    traceback: list[str] | None = None
    failure_origin: str | None = None  # subtask identity, if a subtask failed


class InvalidTaskSpec(ValueError):
    pass


class CapacityExceeded(RuntimeError):
    pass


def parse_job(spec: str | bytes) -> Job:
    """A JSON job-spec document → ``Job``: the one parser behind the HTTP
    intake and the job feed. Raises ``ValueError`` for undecodable JSON or
    a document without ``model_class``."""
    try:
        doc = json.loads(spec or b"{}")
    except json.JSONDecodeError:
        raise ValueError("invalid JSON") from None
    if not isinstance(doc, dict) or "model_class" not in doc:
        raise ValueError("model_class is required")
    return Job(
        model_class=doc["model_class"],
        method=doc.get("method", "go"),
        method_kwargs=doc.get("method_kwargs", {}),
        model_construction_kwargs=doc.get("model_construction_kwargs", {}),
        resolver_context=doc.get("resolver_context", {}),
        partition_initialise_kwargs=doc.get("partition_initialise_kwargs", {}),
        task_id=doc.get("task_id"),
    )


class Engine:
    """Submit/track/cancel Model runs on a SparkSession.

    One ``Condition`` guards the registry (``_jobs``: the running records
    plus the last ``KEEP_FINISHED`` finished ones), the completion ring
    (``_finished``, ids in completion order) and the running counter, so
    a job's status and the capacity count always change together."""

    def __init__(self, spark: SparkSession, max_concurrent_tasks: int | None = None):
        """``max_concurrent_tasks`` defaults to the CPU count — the
        reference's CPU-derived capacity (RuntimeKnowledge, reference
        lib/fossa/app.py:81-83)."""
        import os

        self.spark = spark
        if max_concurrent_tasks is None:
            max_concurrent_tasks = os.cpu_count() or 4
        self.max_concurrent_tasks = max_concurrent_tasks
        self._accepted: dict[str, type[Model]] = {}
        self._jobs: dict[str, JobResult] = {}
        self._finished: deque[str] = deque()
        self._running = 0
        self._closed = False
        self._cv = threading.Condition()
        self._pool = ThreadPoolExecutor(max_workers=max_concurrent_tasks)

    # -- registry (allowlist semantics: governor.py:323-347)
    def register_model(self, model_cls: type[Model]) -> None:
        name = model_cls.__name__
        if name in self._accepted:
            raise InvalidTaskSpec(f"duplicate accepted class: {name}")
        self._accepted[name] = model_cls

    # -- capacity (governor.py:123-130,229)
    @property
    def capacity(self) -> int:
        with self._cv:
            return self.max_concurrent_tasks - self._running

    def has_processing_capacity(self) -> bool:
        return self.capacity > 0

    # -- submit (api.py:28-72 + governor.py:349-403)
    def submit(self, job: Job, block_if_full: bool = False,
               timeout: float = 1.0) -> str:
        if job.model_class not in self._accepted:
            raise InvalidTaskSpec(f"class not in accepted list: {job.model_class}")
        deadline = time.monotonic() + timeout
        while True:
            # id check, capacity check, RUNNING insert and hand-off to the
            # pool are one atomic step — concurrent submits
            # (ThreadingHTTPServer, JobFeed) would otherwise both pass the
            # checks, and a shutdown could close the pool under an admitted
            # job. A known id is rejected at once, never waiting for capacity.
            with self._cv:
                if self._closed:
                    raise CapacityExceeded("engine is shut down")
                if job.task_id in self._jobs:
                    raise InvalidTaskSpec(f"duplicate task_id: {job.task_id}")
                if self._running < self.max_concurrent_tasks:
                    task_id = job.task_id
                    while not task_id or task_id in self._jobs:
                        task_id = uuid.uuid4().hex[:8]  # a drawn id draws again on collision
                    rec = self._jobs[task_id] = JobResult(task_id, JobStatus.RUNNING, time.time())
                    self._running += 1
                    self._pool.submit(self._run, rec, job)
                    return task_id
            if not block_if_full or time.monotonic() > deadline:
                raise CapacityExceeded(
                    f"no processing capacity ({self.max_concurrent_tasks} running)"
                )
            # A timed retry, not a Condition wake-up: with 3 clients on 2
            # slots, waking the blocked submitter hands it every freed slot,
            # so every job queues once; polling lets the client whose job
            # just finished usually take its slot back first. Measured on
            # perfbench etl_jobs: the wake-up moved job_latency_p50_s
            # 0.60 -> 0.83 s (4 of 4 pairs) at the same CPU per job.
            time.sleep(0.02)

    def _run(self, rec: JobResult, job: Job) -> None:
        # per-job Spark job group → cancellable, visible in the UI
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", rec.task_id)
        status = JobStatus.FAILED
        try:
            with connector_resolver.context(**job.resolver_context):
                cls = self._accepted[job.model_class]
                model = cls(spark=self.spark, **job.model_construction_kwargs)
                # node capacity reaches the fan-out clamp (reference
                # process.py:185-195); on_start() runs after so a model
                # may still override for its environment
                model.runtime_max_workers = self.max_concurrent_tasks
                model.on_start()  # lifecycle hook (reference process.py:45-55)
                # per-task partition init (reference process.py:91-92); also
                # recorded on the model so fan-out strategies ship the same
                # kwargs to executor-side subtask runs
                model.partition_initialise_kwargs = dict(job.partition_initialise_kwargs)
                if job.partition_initialise_kwargs and hasattr(model, "partition_initialise"):
                    model.partition_initialise(**job.partition_initialise_kwargs)
                rec.value = getattr(model, job.method)(**job.method_kwargs)
            status = JobStatus.COMPLETE
        except Exception as e:  # noqa: BLE001 - job errors are data
            rec.error = f"{type(e).__name__}: {e}"
            rec.traceback = traceback.format_exc().splitlines()
            if isinstance(e, SubTaskFailed):
                rec.failure_origin = f"{e.method}({e.kwargs})"
        finally:
            with self._cv:
                rec.finished, rec.status = time.time(), status
                self._running -= 1
                self._finished.append(rec.task_id)
                if len(self._finished) > KEEP_FINISHED:
                    del self._jobs[self._finished.popleft()]
                self._cv.notify_all()
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    # -- observe (views/controller.py:5-80, views/api.py:75-103)
    def task_summary(self, task_id: str) -> dict[str, Any]:
        rec = self._jobs.get(task_id)
        if rec is None:
            return {"task_id": task_id, "status": JobStatus.UNKNOWN.value}
        return {
            "task_id": rec.task_id,
            "status": rec.status.value,
            "started": rec.started,
            "finished": rec.finished,
            "results": rec.value if rec.status is JobStatus.COMPLETE else None,
            "error": rec.error,
            "failure_origin_task_id": rec.failure_origin,
        }

    def _running_ids(self) -> list[str]:  # caller holds self._cv
        return [t for t, r in self._jobs.items() if r.status is JobStatus.RUNNING]

    def node_summary(self) -> dict[str, Any]:
        with self._cv:
            return {
                "max_concurrent_tasks": self.max_concurrent_tasks,
                "available_processing_capacity": self.max_concurrent_tasks - self._running,
                "running_tasks": self._running_ids(),
                # the ring is in completion order (reference previous_tasks)
                "previous_tasks": list(self._finished)[-20:],
                "accepted_classes": sorted(self._accepted),
            }

    def wait(self, task_id: str, timeout: float | None = None) -> JobResult:
        """The finished record; an id the registry does not hold (never
        submitted, or evicted) gets an UNKNOWN result, as in task_summary.
        Raises ``TimeoutError`` if the job is still running at ``timeout``."""
        with self._cv:
            rec = self._jobs.get(task_id)
            if rec is None:
                return JobResult(task_id, JobStatus.UNKNOWN, started=None)
            if not self._cv.wait_for(lambda: rec.status is not JobStatus.RUNNING, timeout):
                raise TimeoutError(f"task {task_id} still running after {timeout} s")
        return rec

    # -- shutdown / kill (governor.py:421-451)
    def cancel(self, task_id: str) -> None:
        self.spark.sparkContext.cancelJobGroup(task_id)

    def shutdown(self, wait: bool = True) -> None:
        """Refuse further submits, cancel the running jobs' Spark work and
        let every admitted job finish its record."""
        with self._cv:
            self._closed = True
            running = self._running_ids()
        for task_id in running:
            self.cancel(task_id)
        self._pool.shutdown(wait=wait)
