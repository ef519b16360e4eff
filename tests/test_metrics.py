"""``metrics`` is the one reader of Spark's status REST API.

The shared test session runs with its UI off, so the live reads run in a
subprocess that starts its own session with ``SPARK_UI=1``. The guard at
the bottom keeps every other file from growing its own scraper again.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from harvester_database_and_automation_spark.metrics import rest

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "harvester_database_and_automation_spark"

_PROBE = """
import json
from harvester_database_and_automation_spark.metrics import max_task_ms, new_stages
from harvester_database_and_automation_spark.session import get_spark

spark = get_spark("metrics-probe", shuffle_partitions=4)
df = spark.range(0, 200_000, numPartitions=4)
with new_stages(spark) as stages:
    df.groupBy((df.id % 7).alias("k")).count().collect()
with new_stages(spark) as empty:
    pass
print(json.dumps({
    "n_stages": len(stages),
    "shuffle_write": sum(s["shuffleWriteBytes"] for s in stages),
    "empty": empty,
    "max_task_ms": max_task_ms(spark, stages),
}))
"""


def test_new_stages_and_max_task_ms_read_a_live_ui():
    env = dict(os.environ, SPARK_UI="1", SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE], cwd=REPO, env=env, capture_output=True, text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["n_stages"] >= 2  # the groupBy's map stage and its result stage
    assert got["shuffle_write"] > 0
    assert got["empty"] == []
    assert got["max_task_ms"] > 0


def test_rest_without_ui_names_the_switch(spark):
    assert not spark.sparkContext.uiWebUrl
    with pytest.raises(RuntimeError, match="SPARK_UI=1"):
        rest(spark, "jobs")


# Built from pieces so this file does not match its own scan.
REST_PATH = "/api/" + "v1/"
URLLIB = "urllib." + "request"
UI_URL = "ui" + "WebUrl"


def _rest_scrapers(root: Path) -> list[str]:
    """Files under ``root``'s scripts/, package and tests/ that read the
    status REST API themselves instead of through ``metrics.py``."""
    found = []
    for sub in ("scripts", PACKAGE, "tests"):
        for path in sorted((root / sub).rglob("*.py")):
            rel = path.relative_to(root).as_posix()
            text = path.read_text()
            scrapes = REST_PATH in text or (URLLIB in text and UI_URL in text)
            if scrapes and rel != f"{PACKAGE}/metrics.py":
                found.append(rel)
    return found


def test_only_metrics_reads_the_status_api():
    assert _rest_scrapers(REPO) == []


def test_guard_flags_a_planted_scraper(tmp_path):
    for sub in ("scripts", PACKAGE, "tests"):
        (tmp_path / sub).mkdir()
    (tmp_path / PACKAGE / "metrics.py").write_text(f'URL = "{REST_PATH}"\n')
    (tmp_path / "scripts" / "audit.py").write_text(
        f"import {URLLIB}\nui = spark.sparkContext.{UI_URL}\n"
    )
    (tmp_path / "scripts" / "jobs.py").write_text(f'url = f"{{ui}}{REST_PATH}applications"\n')
    assert _rest_scrapers(tmp_path) == ["scripts/audit.py", "scripts/jobs.py"]
