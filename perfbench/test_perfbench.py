"""Tiny-scale smoke of the two workloads, and proof that each output
check trips on a planted wrong expectation.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import shutil

import pytest

from perfbench import common, run

WORK = common.BENCH_DIR / ".work" / "smoke"


@pytest.fixture(scope="module")
def spark():
    common.reset_dir(WORK)
    common.prepare_environment(WORK, traced=False)
    session = common.start_session(WORK)
    yield session
    common.shutdown()
    shutil.rmtree(WORK, ignore_errors=True)


def _one_round(w) -> dict:
    return run._loop(w, run.op_count(w, 0.0))


def test_missing_package_exits_2(monkeypatch, tmp_path, capsys):
    monkeypatch.setattr(common, "ROOT", tmp_path)
    assert run.main(["--workload", "query_mix", "--seed", "1", "--seconds", "1"]) == 2
    assert capsys.readouterr().out == ""


def test_ingest_refresh(spark):
    from perfbench.ingest import IngestRefresh

    w = IngestRefresh(spark, str(WORK), seed=3, n_keys=80, payload_chars=300)
    res = run._loop(w, 2)
    assert (res["attempted"], res["failed"]) == (2, 0), res["failures"]
    w.next = w.prepare()
    w.next[0].table_digest = "0" * 64  # planted wrong expectation
    res = _one_round(w)
    assert res["failed"] / res["attempted"] > 0
    assert "published table digest" in res["failures"][0]["problems"]


def test_query_mix(spark, monkeypatch, tmp_path):
    from harvester_database_and_automation_spark import oracle_cache
    from harvester_database_and_automation_spark.plans import QUERIES

    from perfbench import query_mix

    queries = ["priority_boolean_topk", "k5_frameshift_detector"]
    monkeypatch.setattr(query_mix, "panel", lambda: list(queries))
    w = query_mix.QueryMix(spark, str(WORK), seed=3)
    w.prepare_checks()
    res = _one_round(w)
    assert (res["attempted"], res["failed"]) == (2, 0), res["failures"]
    planted = oracle_cache.OracleCache(tmp_path)
    for q in queries:
        planted.put(QUERIES[q].oracle, w._fingerprint, ["x"], [(1,)], 0.0)
    w.cache = planted
    w.next = w.prepare()
    res = _one_round(w)
    assert res["failed"] / res["attempted"] > 0
