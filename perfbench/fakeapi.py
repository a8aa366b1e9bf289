"""In-process fake REST API for the API workloads.

It plugs into ``paginate`` as its ``Transport``: ``GET fake://api/<source>``
returns the source's current rows as JSON pages.

- HEADER pagination: a page that has a successor names it in the
  ``X-Next-Page`` response header.
- ``modifiedSince='<stamp>'`` (as ``build_fetch_url`` appends it) returns
  only rows whose ``item.modifiedAt`` is later than the stamp.
- Planted failures are HTTP 404s on a source's first request of a pass.
  ``paginate`` retries 5xx answers and raised exceptions through
  ``with_retries`` with a 60 s sleep, so the transport never raises and never
  answers 5xx; a 404 fails the job at once and the runner re-runs it.
- ``expired()`` is the caller's per-job time guard: once it returns true the
  transport answers 408, which also fails the job at once.

Page bodies are cached per (source, pass, since), so a set-up step can
serialize every expected page before the timed region starts.
"""

from __future__ import annotations

import json
import threading
from collections.abc import Callable
from urllib.parse import parse_qsl, urlencode, urlsplit

from data_ingestion_pipelines_spark.sources.rest import Response

from gen import ApiJob, changed_since

NEXT_HEADER = "X-Next-Page"


def source_url(job_num: int) -> str:
    return f"fake://api/src{job_num}?page=1"


class FakeApi:
    def __init__(self, jobs: list[ApiJob], page_rows: int, expired: Callable[[], bool] = lambda: False):
        self.jobs = {f"src{j.num}": j for j in jobs}
        self.page_rows = page_rows
        self.expired = expired
        self.current = 0  # index into each job's states
        self.served = 0  # pages answered with 200
        self._pages: dict[tuple[str, int, str | None], list[str]] = {}
        self._fail_pending: set[str] = set()
        self._lock = threading.Lock()

    def publish(self, index: int) -> None:
        """Switch every source to its ``index``-th state and arm that
        pass's planted first-request failures."""
        with self._lock:
            self.current = index
            self._fail_pending = {name for name, j in self.jobs.items() if index in j.fail_passes}

    def pages(self, name: str, since: str | None) -> list[str]:
        key = (name, self.current, since)
        if key not in self._pages:
            rows = changed_since(self.jobs[name].states[self.current], since)
            n = self.page_rows
            self._pages[key] = [json.dumps(rows[i:i + n]) for i in range(0, max(len(rows), 1), n)]
        return self._pages[key]

    def __call__(self, url: str, method: str = "GET", headers: dict | None = None, body: str | None = None) -> Response:
        parts = urlsplit(url)
        name = parts.path.strip("/")
        query = dict(parse_qsl(parts.query))
        with self._lock:
            if name in self._fail_pending:
                self._fail_pending.discard(name)
                return Response(404, "planted first-attempt failure")
        if self.expired():
            return Response(408, "job time guard expired")
        if parts.scheme != "fake" or name not in self.jobs:
            return Response(404, f"no such source: {url}")
        since = query.get("modifiedSince", "").strip("'") or None
        pages = self.pages(name, since)
        page = int(query.get("page", "1"))
        headers = {}
        with self._lock:
            self.served += 1
        if page < len(pages):
            query["page"] = str(page + 1)
            headers[NEXT_HEADER] = parts._replace(query=urlencode(query)).geturl()
        return Response(200, pages[page - 1], headers)
