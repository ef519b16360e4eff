"""Spark status-REST reads: the one module that knows the
``/api/v1/applications/<app id>/...`` format.

The audits and profilers read what a run did through here. Reads go over
loopback to this session's UI, so the session must start with its UI on
(``SPARK_UI=1``, see ``session.get_spark``).
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request
from collections.abc import Iterable, Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def rest(spark: SparkSession, path: str):
    """GET ``<path>`` under this application's status API, parsed.

    Drains the listener bus first, so every job and stage that finished
    before the call is in the answer."""
    sc = spark.sparkContext
    if not sc.uiWebUrl:
        raise RuntimeError("Spark UI is disabled: start the session with SPARK_UI=1")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


@contextmanager
def new_stages(spark: SparkSession) -> Iterator[list[dict]]:
    """Yield a list that, when the block exits, holds the REST row of
    every ``(stageId, attemptId)`` that completed inside the block."""
    done = {(s["stageId"], s["attemptId"]) for s in rest(spark, "stages?status=complete")}
    fresh: list[dict] = []
    yield fresh
    fresh.extend(
        s
        for s in rest(spark, "stages?status=complete")
        if (s["stageId"], s["attemptId"]) not in done
    )


def max_task_ms(spark: SparkSession, stages: Iterable[dict]) -> float:
    """Longest completed task's ``executorRunTime`` (ms) over ``stages``,
    the straggler measurement. Stages without a task summary count 0."""
    mx = 0.0
    for s in stages:
        try:
            summ = rest(spark, f"stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=1.0")
        except urllib.error.HTTPError:
            continue  # tiny stages may have no task summary
        mx = max(mx, *summ["executorRunTime"])
    return round(mx, 1)
