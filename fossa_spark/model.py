"""Model / PartitionedModel — the engine's unit of ETL.

Reference semantics re-expressed (SURVEY.md §2b):
- ``ayeaye.Model``: ``build()`` does the work, ``go()`` runs the model
  end-to-end, ``log()`` reports (reference examples/example_etl.py:8-31).
- ``ayeaye.PartitionedModel``: ``partition_slice(n)`` enumerates subtasks as
  (method_name, kwargs) pairs; ``partition_plea()`` negotiates worker count;
  ``partition_initialise``/``partition_subtask_complete`` hooks
  (reference examples/example_etl.py:34-162, lib/fossa/control/process.py:57-168).

Spark-native execution: a Model's work is DataFrame transformations; `go()`
triggers the actions. PartitionedModel fan-out runs through one of three
strategies (mirroring the reference's pluggable AbstractProcessPool,
reference lib/fossa/control/rabbit_mq/process_pool.py:8-17). They differ
only in WHERE subtasks run; all build results with ``_call`` and, off the
driver, ship the class with ``_ship`` and run it with ``_run_shipped``:

- ``TaskParallelStrategy``  — arbitrary-Python subtasks distributed as one
  Spark job: ``sc.parallelize(subtasks, n).mapPartitions(run)`` (results
  gathered by collect). The direct analogue of the reference's RabbitMQ
  fan-out, minus the broker.
- ``LocalProcessStrategy``  — driver-side OS-process pool, one future per
  subtask, so a crashing subtask fails alone.
- ``LocalThreadStrategy``   — driver-side thread pool for subtasks that
  are themselves Spark actions (concurrent jobs share the scheduler,
  optionally under FAIR pools).
"""

from __future__ import annotations

import functools
import logging
import pickle
import sys
import traceback
from collections.abc import Callable, Iterable
from concurrent.futures import ProcessPoolExecutor, ThreadPoolExecutor
from concurrent.futures.process import BrokenProcessPool
from dataclasses import dataclass
from typing import Any

from pyspark import cloudpickle
from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

logger = logging.getLogger("fossa_spark")


@dataclass
class PartitionOption:
    """Worker-count negotiation (reference examples/example_etl.py:148-155)."""

    minimum: int = 1
    maximum: int = 128
    optimal: int = 32


@dataclass
class SubTask:
    method: str
    kwargs: dict[str, Any]


class SubTaskFailed(RuntimeError):
    """Carries the failing subtask's identity to the parent
    (reference lib/fossa/control/process.py:113-141)."""

    def __init__(self, method: str, kwargs: dict[str, Any], cause: str):
        super().__init__(f"subtask {method}({kwargs}) failed: {cause}")
        self.method = method
        self.kwargs = kwargs
        self.cause = cause


class Model:
    """Base unit of ETL. Subclass and implement ``build()``; ``go()`` runs
    it. Connect descriptors declared as class attributes are the model's
    datasets."""

    def __init__(self, spark: SparkSession | None = None, **construction_kwargs: Any):
        self.spark = spark
        self.construction_kwargs = construction_kwargs
        self.external_loggers: list[Callable[[str, str], None]] = []
        # set by the Engine from Job.partition_initialise_kwargs; fan-out
        # strategies ship these to executor-side subtask construction
        self.partition_initialise_kwargs: dict[str, Any] = {}
        # set by the Engine before dispatch: the node's task capacity. The
        # fan-out clamp in PartitionedModel.go() honours it — the reference's
        # processors clamp runtime.max_concurrent_tasks per environment
        # (reference lib/fossa/control/process.py:185-195 forces 1 locally;
        # lib/fossa/control/rabbit_mq/process.py:44 sets 128).
        self.runtime_max_workers: int | None = None

    def on_start(self) -> None:
        """Pre-run lifecycle hook (the reference's processor-side
        ``on_model_start``, reference lib/fossa/control/process.py:45-55):
        override to swap fan-out strategy, clamp concurrency, attach
        loggers — the Engine calls it before dispatching the job method."""
        return None

    def attach_logger(self, sink: Callable[[str, str], None]) -> None:
        """Fan log lines out to an external sink (msg, level) — the
        reference's pluggable AbstractExternalLogger
        (lib/fossa/tools/logging.py:19-74)."""
        self.external_loggers.append(sink)

    def log(self, msg: str, level: str = "INFO") -> None:
        logger.log(getattr(logging, level.upper(), logging.INFO), "%s: %s",
                   type(self).__name__, msg)
        for sink in self.external_loggers:
            sink(msg, level)

    def build(self) -> Any:  # pragma: no cover - abstract
        raise NotImplementedError

    def go(self) -> Any:
        """Run the model end-to-end (the reference's default task method,
        reference lib/fossa/views/api.py:45)."""
        return self.build()


def _call(model: "PartitionedModel", st: SubTask) -> dict[str, Any]:
    """Run one subtask on ``model``: the one result shape every strategy
    yields — ``value`` on success, ``error``/``traceback`` on failure."""
    try:
        return {"method": st.method, "kwargs": st.kwargs, "ok": True,
                "value": getattr(model, st.method)(**st.kwargs)}
    except Exception as e:  # noqa: BLE001 - subtask errors are data
        return {"method": st.method, "kwargs": st.kwargs, "ok": False,
                "error": f"{type(e).__name__}: {e}",
                "traceback": traceback.format_exc()}


def _ship(model: "PartitionedModel") -> tuple[bytes, dict[str, Any]]:
    """The model CLASS pickled by value, with its partition init kwargs —
    user model modules are not importable on executors or in child
    processes (the reference shipped a class *name* and required
    pre-registration on every node; we ship the code itself)."""
    mod = sys.modules.get(type(model).__module__)
    if mod is not None and mod.__name__ not in ("builtins", "__main__"):
        try:
            cloudpickle.register_pickle_by_value(mod)
        except Exception:  # noqa: BLE001 - best effort; ref-pickle fallback
            pass
    init_kwargs = getattr(model, "partition_initialise_kwargs", {}) or {}
    return cloudpickle.dumps(type(model)), init_kwargs


def _run_shipped(cls_bytes: bytes, init_kwargs: dict[str, Any],
                 subtasks: Iterable[SubTask]) -> list[dict[str, Any]]:
    """Executor- or child-side runner: unpickle the class once, then run
    each subtask on a fresh model (without a SparkSession — subtasks must
    be plain Python). A raising ``partition_initialise`` fails the whole
    call, not one subtask."""
    cls = pickle.loads(cls_bytes)
    results = []
    for st in subtasks:
        model = cls(spark=None)
        if hasattr(model, "partition_initialise"):
            model.partition_initialise(**init_kwargs)
        results.append(_call(model, st))
    return results


class TaskParallelStrategy:
    """Fan subtasks out as one Spark job over a parallelized collection —
    the reference's broker fan-out (C6/C7) without a broker: Spark's
    scheduler does admission and locality, and the class ships once per
    partition rather than once per subtask. Failed subtasks come back as
    results; ``PartitionedModel.go()`` retries them."""

    def run(self, model: "PartitionedModel", subtasks: list[SubTask],
            processes: int | None) -> Iterable[dict[str, Any]]:
        spark = model.spark
        assert spark is not None, "TaskParallelStrategy needs a live SparkSession"
        n = min(processes or len(subtasks), max(len(subtasks), 1))
        cls_bytes, init_kwargs = _ship(model)
        rdd = spark.sparkContext.parallelize(subtasks, max(n, 1))
        yield from rdd.mapPartitions(
            functools.partial(_run_shipped, cls_bytes, init_kwargs)).collect()


class LocalThreadStrategy:
    """Driver-side thread pool: right when each subtask itself launches
    Spark actions (concurrent jobs multiplex onto the same scheduler).
    Each pool thread inherits the caller's Spark local properties, so the
    subtasks' Spark jobs stay in the task's job group."""

    def run(self, model: "PartitionedModel", subtasks: list[SubTask],
            processes: int | None) -> Iterable[dict[str, Any]]:
        call = functools.partial(_call, model)
        if model.spark is not None:
            call = inheritable_thread_target(model.spark)(call)
        workers = max(1, processes or min(len(subtasks), 32))
        with ThreadPoolExecutor(max_workers=workers) as ex:
            yield from ex.map(call, subtasks)


class LocalProcessStrategy:
    """Driver-side OS-process pool: true process-per-subtask isolation —
    the reference's execution model (it forks one OS process per task,
    reference lib/fossa/control/governor.py:275-280), for when a subtask
    calls into native code that could segfault or hold the GIL: a crashed
    worker fails ITS subtask (BrokenProcessPool → error result) instead of
    taking the whole driver down, which is the hazard the thread strategy
    accepts (documented trade-off, VERDICT r02).

    Subtasks must be plain Python (no SparkSession in the child — same
    contract as TaskParallelStrategy's executor side); the class ships by
    value as there, one future per subtask."""

    def run(self, model: "PartitionedModel", subtasks: list[SubTask],
            processes: int | None) -> Iterable[dict[str, Any]]:
        cls_bytes, init_kwargs = _ship(model)
        workers = max(1, min(processes or len(subtasks) or 1, 32))
        results: list[dict[str, Any]] = []
        # A worker crash (BrokenProcessPool) kills every in-flight future;
        # completed futures keep their results, the rest become failed
        # results so the caller's per-subtask retry budget decides — one
        # bad actor must not discard finished work or the whole batch.
        with ProcessPoolExecutor(max_workers=workers) as ex:
            futs = [ex.submit(_run_shipped, cls_bytes, init_kwargs, [st])
                    for st in subtasks]
            for st, fut in zip(subtasks, futs):
                try:
                    results.extend(fut.result())
                except BrokenProcessPool:
                    results.append({
                        "method": st.method,
                        "kwargs": st.kwargs,
                        "ok": False,
                        "error": "BrokenProcessPool: worker died "
                                 "(crash/OOM/signal)",
                    })
        yield from results


class PartitionedModel(Model):
    """Model whose work splits into independent subtasks.

    Subclasses implement ``partition_slice(n) -> [(method, kwargs)]`` and
    the named methods. ``go()``: negotiate a worker count, enumerate
    subtasks, run them through the strategy, fire
    ``partition_subtask_complete`` per result, raise ``SubTaskFailed`` on
    the first failed subtask after retries."""

    strategy_cls: type = TaskParallelStrategy
    task_retries: int = 1  # parity: reference process_pool.py:27-28

    def partition_plea(self) -> PartitionOption:
        return PartitionOption()

    def partition_slice(self, partition_count: int) -> list[tuple[str, dict[str, Any]]]:
        raise NotImplementedError

    def partition_initialise(self, **kwargs: Any) -> None:
        return None

    def partition_subtask_complete(self, method_name: str, kwargs: dict[str, Any],
                                   return_value: Any) -> None:
        return None

    def go(self) -> list[Any]:
        opt = self.partition_plea()
        workers = max(opt.minimum, min(opt.optimal, opt.maximum))
        if self.runtime_max_workers is not None:
            # Engine capacity wins over the model's own plea — the node
            # hosts other concurrent tasks (reference process.py:185-195).
            workers = max(1, min(workers, self.runtime_max_workers))
        subtasks = [SubTask(m, kw) for m, kw in self.partition_slice(workers)]
        strategy = self.strategy_cls()
        results: list[Any] = []
        # Retry budget is PER SUBTASK INSTANCE (keyed by slice index), not
        # per (method, kwargs) content — two identical subtasks each get
        # their own budget. Strategies yield one result per input subtask
        # in input order (rdd.map().collect() and ThreadPoolExecutor.map
        # both preserve it), which is what lets the index ride along.
        pending: list[tuple[int, SubTask]] = list(enumerate(subtasks))
        attempts: dict[int, int] = {}
        while pending:
            retry: list[tuple[int, SubTask]] = []
            batch = [st for _, st in pending]
            batch_results = list(strategy.run(self, batch, workers))
            if len(batch_results) != len(pending):
                # A strategy that under- (or over-) yields would silently
                # drop trailing subtasks under zip — no result, no retry, no
                # SubTaskFailed. Fail loudly instead: losing work is worse
                # than failing the job.
                raise SubTaskFailed(
                    "<strategy>", {},
                    f"{type(strategy).__name__} yielded {len(batch_results)} "
                    f"results for {len(pending)} subtasks",
                )
            for (idx, st), res in zip(pending, batch_results):
                if res["ok"]:
                    self.partition_subtask_complete(res["method"], res["kwargs"],
                                                    res.get("value"))
                    results.append(res.get("value"))
                else:
                    attempts[idx] = attempts.get(idx, 0) + 1
                    if attempts[idx] <= self.task_retries:
                        self.log(f"retrying subtask {res['method']} "
                                 f"(attempt {attempts[idx] + 1})", "WARNING")
                        retry.append((idx, st))
                    else:
                        raise SubTaskFailed(res["method"], res["kwargs"],
                                            res.get("error", "unknown"))
            pending = retry
        return results
