"""HTTP status-API tests — response-shape parity with the reference's
API contract (reference tests/test_api.py:10-49: task submit response has
task_id + _metadata.links.task; node_info carries capacity fields; unknown
task → 404; unregistered class → 412; over capacity → 503)."""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request

import pytest

from fossa_spark.api import API_PREFIX, StatusApi
from fossa_spark.engine import Engine
from fossa_spark.model import Model


class HelloApiModel(Model):
    def build(self):
        return "hello_world"


class SlowApiModel(Model):
    def build(self):
        time.sleep(1.0)
        return "done"


def _get(port, path):
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _post(port, path, doc):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=json.dumps(doc).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@pytest.fixture
def api(spark):
    eng = Engine(spark, max_concurrent_tasks=1)
    eng.register_model(HelloApiModel)
    eng.register_model(SlowApiModel)
    with StatusApi(eng) as a:
        yield a, eng
    eng.shutdown(wait=False)


def test_submit_and_status_roundtrip(api):
    a, eng = api
    code, doc = _post(a.port, f"{API_PREFIX}/task", {"model_class": "HelloApiModel"})
    assert code == 200
    assert "task_id" in doc and doc["_metadata"]["links"]["task"].endswith(doc["task_id"])
    eng.wait(doc["task_id"])
    code, status = _get(a.port, f"{API_PREFIX}/task/{doc['task_id']}")
    assert code == 200
    assert status["status"] == "complete" and status["results"] == "hello_world"


def test_node_info_fields(api):
    a, _ = api
    code, doc = _get(a.port, f"{API_PREFIX}/node_info")
    assert code == 200
    assert doc["max_concurrent_tasks"] == 1
    assert "available_processing_capacity" in doc
    assert "HelloApiModel" in doc["accepted_classes"]


def test_http_error_contract(api):
    a, eng = api
    assert _post(a.port, f"{API_PREFIX}/task", {})[0] == 400           # no model_class
    assert _post(a.port, f"{API_PREFIX}/task", {"model_class": "Nope"})[0] == 412
    assert _get(a.port, f"{API_PREFIX}/task/zzzz")[0] == 404
    code, doc = _post(a.port, f"{API_PREFIX}/task", {"model_class": "SlowApiModel"})
    assert code == 200
    code2, _ = _post(a.port, f"{API_PREFIX}/task", {"model_class": "SlowApiModel"})
    assert code2 == 503                                                # at capacity
    eng.wait(doc["task_id"])


def test_html_views(api):
    a, eng = api
    code, _ = _post(a.port, f"{API_PREFIX}/task", {"model_class": "HelloApiModel"})
    assert code == 200
    import urllib.request
    with urllib.request.urlopen(f"http://127.0.0.1:{a.port}/") as r:
        html = r.read().decode()
    assert "fossa_spark node" in html and "capacity" in html
    tid = html.split("/task/")[1].split("'")[0]
    with urllib.request.urlopen(f"http://127.0.0.1:{a.port}/task/{tid}") as r:
        page = r.read().decode()
    assert f"task {tid}" in page


@pytest.mark.parametrize(
    "strategy", ["LocalThreadStrategy", "TaskParallelStrategy", "LocalProcessStrategy"])
def test_partition_initialise_kwargs_passed(spark, strategy):
    """partition_initialise_kwargs reach the model that runs each subtask:
    the driver's own model (threads), or the fresh one each executor or
    child process builds."""
    from fossa_spark import model as M
    from fossa_spark.engine import Engine, Job

    class InitAware(M.PartitionedModel):
        strategy_cls = getattr(M, strategy)

        def partition_initialise(self, tag: str = "none") -> None:
            self.tag = tag

        def partition_slice(self, n):
            return [("echo", {})]

        def echo(self) -> str:
            return self.tag

    eng = Engine(spark, max_concurrent_tasks=2)
    eng.register_model(InitAware)
    tid = eng.submit(Job(model_class="InitAware",
                         partition_initialise_kwargs={"tag": "hello-init"}))
    res = eng.wait(tid)
    assert res.value == ["hello-init"]
    eng.shutdown(wait=False)
