"""The fake transport pages, filters and fails like the API it stands for."""

import json
import time

import pytest
from data_ingestion_pipelines_spark.pipelines.api_ingestion import build_fetch_url
from data_ingestion_pipelines_spark.sources.rest import paginate
from data_ingestion_pipelines_spark.specs import PaginationType

import gen
import workloads
from fakeapi import NEXT_HEADER, FakeApi


def fetch(api: FakeApi, url: str) -> list[dict]:
    pages = paginate(url, transport=api, pagination=PaginationType.HEADER, keyword=NEXT_HEADER)
    return [rec for body in pages for rec in json.loads(body)]


def job(index: int) -> gen.ApiJob:
    """Fan-out job ``index`` of six, with no planted failures."""
    return gen.fanout_jobs(2, n_jobs=6, failures=0, dependencies=0)[index]


def test_header_pagination_returns_every_row_once():
    src = job(5)
    api = FakeApi([src], page_rows=200)
    rows = fetch(api, workloads.api_spec(src).source_url)
    assert len(rows) == 700
    assert [r["item"]["id"] for r in rows] == sorted(src.states[0])
    assert api.served == 4


def test_watermark_parameter_selects_rows_after_it():
    src = job(2)
    api = FakeApi([src], page_rows=25)
    api.publish(1)
    since = gen.max_change_key(src.states[0])
    url = build_fetch_url(workloads.api_spec(src), since)
    assert "modifiedSince='" in url
    rows = fetch(api, url)
    assert rows == gen.changed_since(src.states[1], since)
    assert len(rows) == int(400 * gen.UPDATE_SHARE) + int(400 * gen.INSERT_SHARE)


def test_planted_failure_is_an_immediate_404_on_the_first_request_only():
    src = job(0)
    src.fail_passes = {0}
    api = FakeApi([src], page_rows=300)
    api.publish(0)
    url = workloads.api_spec(src).source_url
    t0 = time.perf_counter()
    with pytest.raises(RuntimeError, match="HTTP 404"):
        fetch(api, url)
    assert time.perf_counter() - t0 < 1.0  # not retried with paginate's sleeps
    assert len(fetch(api, url)) == 200


def test_expired_time_guard_fails_the_fetch():
    src = job(0)
    api = FakeApi([src], page_rows=300, expired=lambda: True)
    with pytest.raises(RuntimeError, match="HTTP 408"):
        fetch(api, workloads.api_spec(src).source_url)
