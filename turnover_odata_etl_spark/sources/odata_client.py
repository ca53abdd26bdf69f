"""OData protocol client — pure Python, no Spark imports.

Re-expresses the reference's wire behavior (studied at
/root/reference/src/etl.py — behavior only):

- V2/V4 envelope extraction (``d.results``/``d.__next`` vs
  ``value``/``@odata.nextLink``) — etl.py:89-93 [SURVEY S2]
- server-driven pagination loop with inter-request pause —
  etl.py:140-178 [S1, S6]
- schema/field-existence probe by candidate ``$select`` + 404-parsing —
  etl.py:95-121 [S3]
- ``$filter`` equality rendering with ``'`` → ``''`` escaping —
  etl.py:147,155-159 [F1/X2]
- URL normalization — etl.py:72-76 [X4]
- error-checked fetch with structured context — etl.py:81-87 [S5]

Everything here runs inside data-source read tasks (one executor task
per partition), so it must stay dependency-light: stdlib urllib only.
"""

from __future__ import annotations

import http.client
import json
import logging
import re
import time
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Iterator
from typing import Any

log = logging.getLogger(__name__)

MISSING_SEGMENT_RE = re.compile(r"segment\s+'([^']+)'")


def entity_url(base_url: str, service_path: str, entity: str) -> str:
    """Join base/service/entity with single slashes [X4]."""
    return "/".join(
        p.strip("/") for p in (base_url, service_path, entity) if p and p.strip("/")
    )


def quote_escape(value: str) -> str:
    """OData string-literal escaping: ``'`` doubles to ``''`` [X2]."""
    return value.replace("'", "''")


def build_filter_eq(field: str, value: str) -> str:
    """``$filter`` equality predicate [F1]."""
    return f"{field} eq '{quote_escape(value)}'"


def build_filter_cmp(
    field: str, op: str, value: str, numeric: bool = False
) -> str:
    """``$filter`` comparison term (``eq``/``gt``/``le``). Strings are
    quoted+escaped; numeric cursors render as bare literals so the
    server compares numerically (used by the incremental stream
    reader's cursor bounds)."""
    if op not in ("eq", "gt", "le"):
        raise ValueError(f"unsupported OData comparison {op!r}")
    if numeric:
        float(value)  # fail fast on a non-numeric cursor
        return f"{field} {op} {value}"
    return f"{field} {op} '{quote_escape(value)}'"


def extract_results_and_next(payload: dict) -> tuple[list[dict], str | None]:
    """Rows + next-page link from a V2 or V4 response envelope [S2]."""
    if "d" in payload:  # OData V2
        d = payload["d"]
        if isinstance(d, dict):
            rows = d.get("results", [])
            return (rows if isinstance(rows, list) else []), d.get("__next")
        return (d if isinstance(d, list) else []), None
    if "value" in payload:  # OData V4
        nxt = payload.get("@odata.nextLink") or payload.get("odata.nextLink")
        rows = payload["value"]
        return (rows if isinstance(rows, list) else []), nxt
    return [], None


def extract_missing_segment(error_text: str) -> str | None:
    """Field name out of a 404 body like "...segment 'COCHAR_X'..." [S3]."""
    m = MISSING_SEGMENT_RE.search(error_text or "")
    return m.group(1) if m else None


class ODataError(RuntimeError):
    def __init__(self, status: int, url: str, body: str):
        super().__init__(f"OData request failed: HTTP {status} for {url}: {body[:2000]}")
        self.status = status
        self.url = url
        self.body = body


# Transient statuses worth a client-side retry: throttling (429) and
# gateway/availability blips (502/503/504). Plain 500 is deliberately
# NOT here — in SAP gateways it is almost always a deterministic
# application error (and the reference's behavior on it is
# fail-and-log, etl.py:81-87); retrying it would just triple the
# latency of a real failure. Opt in via the ``retryable`` parameter if
# a particular backend is known to emit transient 500s.
RETRYABLE_STATUSES = frozenset({429, 502, 503, 504})


class ODataClient:
    """Minimal authenticated JSON-over-HTTP client [S4, S5].

    Transient-failure posture (beyond the reference, which
    fails the whole run on any HTTP error): requests that fail with a
    retryable status or a connection-level ``URLError`` are retried up
    to ``retries`` times with exponential backoff (``backoff``,
    2·backoff, 4·backoff, …), honoring a numeric ``Retry-After``
    response header when the server sends one (capped at 30 s). This
    matters at fan-out scale: a 1000-partition Spark read WILL see
    429/503 blips, and a per-request retry is orders of magnitude
    cheaper than Spark's task-level retry, which would re-fetch every
    page of the partition. Non-retryable statuses (404 from the schema
    probe, 400, auth failures) raise immediately — retrying a
    deterministic error only hides it.
    """

    def __init__(
        self,
        base_url: str,
        service_path: str = "",
        user: str | None = None,
        password: str | None = None,
        timeout: float = 90.0,
        pause: float = 0.0,
        retries: int = 3,
        backoff: float = 0.5,
        retryable: frozenset[int] = RETRYABLE_STATUSES,
    ):
        self.base_url = base_url
        self.service_path = service_path
        self.timeout = timeout
        self.pause = pause
        self.retries = retries
        self.backoff = backoff
        self.retryable = retryable
        self._opener = urllib.request.build_opener()
        self._headers = {"Accept": "application/json"}
        if user is not None:
            import base64

            token = base64.b64encode(f"{user}:{password or ''}".encode()).decode()
            self._headers["Authorization"] = f"Basic {token}"

    def url_for(self, entity: str) -> str:
        return entity_url(self.base_url, self.service_path, entity)

    def _open_with_retry(
        self, req: urllib.request.Request, url: str
    ) -> tuple[int, bytes]:
        """GET with bounded retry on transient failures [S5]; returns
        ``(status, body_bytes)`` so callers can report the REAL 2xx
        code (204/206 exist in the wild) instead of assuming 200.

        Backoff schedule: ``backoff · 2^attempt`` seconds, overridden
        by a numeric ``Retry-After`` header (seconds form; capped at
        30 s) when present — the throttling contract SAP gateways and
        most OData services use with 429/503.
        """
        attempt = 0
        while True:
            try:
                with self._opener.open(req, timeout=self.timeout) as resp:
                    return resp.status, resp.read()
            except urllib.error.HTTPError as e:
                # Draining the ERROR body can itself hit a reset /
                # short read; an exception raised here would bypass
                # the sibling read-error branch below (except clauses
                # are not chained), so guard it — the status code is
                # what the retry decision needs, not the body.
                try:
                    body = e.read().decode("utf-8", errors="replace")
                except (http.client.IncompleteRead, TimeoutError, OSError):
                    body = "<error body unreadable>"
                if e.code not in self.retryable or attempt >= self.retries:
                    raise ODataError(e.code, url, body) from e
                delay = self.backoff * (2**attempt)
                retry_after = e.headers.get("Retry-After")
                if retry_after:
                    try:
                        # Clamp to [0, 30]: a negative value (buggy
                        # throttler clock skew) would crash time.sleep.
                        delay = min(max(float(retry_after), 0.0), 30.0)
                    except ValueError:
                        pass  # HTTP-date form: keep the computed backoff
                log.warning(
                    "transient HTTP %d for %s (attempt %d/%d), retrying in %.2fs",
                    e.code, url, attempt + 1, self.retries, delay,
                )
            except urllib.error.URLError as e:
                # Connection-level failure (reset, refused, DNS blip) —
                # no response to classify, so the bounded retry applies.
                if attempt >= self.retries:
                    raise ODataError(0, url, f"connection error: {e.reason}") from e
                delay = self.backoff * (2**attempt)
                log.warning(
                    "connection error for %s (attempt %d/%d): %s, retrying in %.2fs",
                    url, attempt + 1, self.retries, e.reason, delay,
                )
            except (http.client.IncompleteRead, TimeoutError, OSError) as e:
                # READ-phase failure: ``resp.read()`` inside the try can
                # raise socket timeouts, connection resets, or a short
                # body (IncompleteRead) — none are URLError subclasses,
                # yet they are exactly the mid-body blips the retry
                # contract promises to absorb. Same bounded policy;
                # final failure wraps in ODataError for attribution.
                # (URLError IS an OSError, but its dedicated branch
                # above runs first, so ordering keeps them distinct.)
                if attempt >= self.retries:
                    raise ODataError(0, url, f"read error: {e!r}") from e
                delay = self.backoff * (2**attempt)
                log.warning(
                    "read error for %s (attempt %d/%d): %r, retrying in %.2fs",
                    url, attempt + 1, self.retries, e, delay,
                )
            time.sleep(delay)
            attempt += 1

    def get_json(
        self,
        url: str,
        params: dict[str, str] | None = None,
        headers: dict[str, str] | None = None,
    ) -> dict:
        """GET with query params; non-2xx raises ODataError with the
        status/url/body context the reference logs [S5]. A 2xx body
        that is not JSON (proxy error pages are the classic case) also
        raises ODataError with the URL and a body snippet — a bare
        JSONDecodeError from one of a thousand read tasks is
        unattributable. ``headers`` adds per-request headers on top of
        the session's (the ``Prefer: odata.track-changes`` hook)."""
        if params:
            sep = "&" if "?" in url else "?"
            url = url + sep + urllib.parse.urlencode(params)
        merged = dict(self._headers)
        if headers:
            merged.update(headers)
        req = urllib.request.Request(url, headers=merged)
        status, raw = self._open_with_retry(req, url)
        # Strict decode — a mis-encoded body must raise loudly, never
        # silently become U+FFFD inside persisted row data — but
        # ATTRIBUTED: both decode and JSON-parse failures wrap into
        # ODataError with the real status, URL, and a body snippet (a
        # bare UnicodeDecodeError/JSONDecodeError from one of a
        # thousand read tasks is undebuggable).
        try:
            body = raw.decode("utf-8")
        except UnicodeDecodeError as e:
            raise ODataError(
                status, url, f"non-UTF8 response body: {raw[:500]!r}"
            ) from e
        try:
            return json.loads(body)
        except json.JSONDecodeError as e:
            raise ODataError(
                status, url, f"non-JSON response body: {body[:500]}"
            ) from e

    def get_text(self, url: str) -> str:
        """GET returning the raw body (the ``$metadata`` document is
        XML, not JSON). Same attribution contract as ``get_json``: a
        mis-encoded body raises ODataError naming the URL. Carries the
        client's standing headers (Basic auth included — an
        authenticated service 401s the ``$metadata`` request without
        them), overriding only Accept for the XML document."""
        req = urllib.request.Request(
            url, headers={**self._headers, "Accept": "application/xml"}
        )
        status, raw = self._open_with_retry(req, url)
        try:
            return raw.decode("utf-8")
        except UnicodeDecodeError as e:
            raise ODataError(
                status, url, f"non-UTF8 response body: {raw[:500]!r}"
            ) from e

    def get_metadata(self) -> str:
        """The service's ``$metadata`` EDMX document (one request,
        no data rows) — the protocol-complete alternative to the
        candidate-field probe [S3]; parse with
        ``odata_metadata.parse_edmx``."""
        base = "/".join(
            p.strip("/") for p in (self.base_url, self.service_path) if p.strip("/")
        )
        return self.get_text(f"{base}/$metadata")

    def fetch_pages(
        self,
        entity: str,
        select: str | None = None,
        filter_: str | None = None,
        top: int | None = None,
    ) -> Iterator[list[dict[str, Any]]]:
        """Yield row pages, following ``__next``/``@odata.nextLink``
        until exhausted; optional politeness pause between pages
        [S1, S6]. Pages stream — nothing is accumulated here (the
        reference buffers all rows in a list; a Spark read task
        iterates instead)."""
        params: dict[str, str] = {"$format": "json"}
        if select:
            params["$select"] = select
        if filter_:
            params["$filter"] = filter_
        if top is not None:
            params["$top"] = str(top)
        payload = self.get_json(self.url_for(entity), params)
        while True:
            rows, nxt = extract_results_and_next(payload)
            if rows:
                yield rows
            if not nxt:
                return
            if self.pause:
                time.sleep(self.pause)
            payload = self.get_json(self._resolve_next(nxt))

    def fetch_pages_prefetched(
        self,
        entity: str,
        select: str | None = None,
        filter_: str | None = None,
        top: int | None = None,
    ) -> Iterator[list[dict[str, Any]]]:
        """:meth:`fetch_pages` with intra-partition page PREFETCH:
        page N+1's HTTP round-trip overlaps the consumer's processing
        of page N (one producer thread, a queue of one page, so memory
        stays O(page)). Same pages, same order, same errors as the
        serial pager; the politeness ``pause`` still runs in the
        producer, so the wire cadence is unchanged [S1, S6].

        Why: the page chain inside one Spark partition is otherwise a
        serial fetch→yield loop, so per-partition throughput is
        RTT-bound — with prefetch the task pipeline hides whichever of
        {network, row coercion} is cheaper (A/B on the mock server
        recorded in SCALE.md). Errors raised by the producer (after
        its own bounded retries) re-raise in the consumer at the page
        boundary where the serial pager would have raised them.
        Abandoning the iterator (``close()``/GC, e.g. a LIMIT
        satisfied mid-scan) stops the producer promptly via the stop
        event — it never blocks on a full queue forever."""
        import queue as queue_mod
        import threading

        q: queue_mod.Queue = queue_mod.Queue(maxsize=1)
        stop = threading.Event()
        done = object()

        def offer(item) -> bool:
            while not stop.is_set():
                try:
                    q.put(item, timeout=0.1)
                    return True
                except queue_mod.Full:
                    continue
            return False

        def producer() -> None:
            try:
                for page in self.fetch_pages(
                    entity, select=select, filter_=filter_, top=top
                ):
                    if not offer(page):
                        return
                offer(done)
            except BaseException as e:  # re-raised consumer-side
                offer(e)

        t = threading.Thread(
            target=producer, daemon=True, name="odata-prefetch"
        )
        t.start()
        try:
            while True:
                item = q.get()
                if item is done:
                    return
                if isinstance(item, BaseException):
                    raise item
                yield item
        finally:
            stop.set()

    def _resolve_next(self, nxt: str) -> str:
        """Absolutize a next-page link. SAP V2 gateways routinely emit
        ``__next`` RELATIVE to the service root ("Emp?$skiptoken=3");
        V4 permits request-relative ``@odata.nextLink`` too. Absolute
        links pass through untouched."""
        if "://" in nxt:
            return nxt
        base = "/".join(
            p.strip("/") for p in (self.base_url, self.service_path) if p.strip("/")
        )
        return urllib.parse.urljoin(base + "/", nxt)

    def fetch_tracked(
        self,
        entity: str,
        select: str | None = None,
        filter_: str | None = None,
    ) -> tuple[list[dict[str, Any]], str]:
        """One FULL read with server-side change tracking (OData V4
        ``Prefer: odata.track-changes``): returns ``(rows,
        delta_link)`` where the delta link is the server's change
        cursor — a later :meth:`fetch_delta` on it returns only what
        changed since THIS read. A server that ignores the preference
        (V2 gateways, non-tracking entity sets) ends the read without
        a ``@odata.deltaLink``; that raises loudly — silently falling
        back to full re-reads would hide an O(table)-per-sync cost.

        The tracked read is intentionally a SINGLE sequential pager
        (not the partitioned fan-out scan): the delta link is a
        cursor over one coherent server snapshot; per-partition reads
        would each mint their own. Initial sync cost is one sequential
        pass — paid once; every subsequent sync is O(changes) via the
        link."""
        params: dict[str, str] = {"$format": "json"}
        if select:
            params["$select"] = select
        if filter_:
            params["$filter"] = filter_
        url = self.url_for(entity)
        # the preference rides EVERY page request: services track it
        # via the skiptoken, but re-sending is spec-compatible and
        # robust against gateways that evaluate it per-request
        prefer = {"Prefer": "odata.track-changes"}
        payload = self.get_json(url, params, headers=prefer)
        rows_all: list[dict[str, Any]] = []
        while True:
            rows, nxt = extract_results_and_next(payload)
            rows_all.extend(rows)
            delta = payload.get("@odata.deltaLink") or payload.get(
                "odata.deltaLink"
            )
            if delta:
                return rows_all, self._resolve_next(delta)
            if not nxt:
                raise ODataError(
                    200, url,
                    "tracked read ended without @odata.deltaLink — the "
                    "service ignored Prefer: odata.track-changes (V2 "
                    "gateway or non-tracking entity set); use the "
                    "order-column incremental stream instead",
                )
            if self.pause:
                time.sleep(self.pause)
            payload = self.get_json(
                self._resolve_next(nxt), headers=prefer
            )

    def fetch_delta(
        self, delta_link: str
    ) -> tuple[list[dict[str, Any]], str]:
        """Follow a delta link: ``(changes, new_delta_link)``.
        ``changes`` is the ORDERED list of wire entries — changed/added
        entities as plain dicts, deletions still carrying their
        ``@removed`` annotation (callers test ``"@removed" in entry``).
        Order is preserved deliberately: an upsert-then-delete of one
        key must apply as a delete, a delete-then-re-add as an upsert —
        splitting into two lists would lose that. The new link is the
        advanced cursor to persist for the next sync. Paginated deltas
        (``@odata.nextLink`` inside the delta stream) are followed to
        the final page, which per spec carries the new delta link."""
        changes: list[dict[str, Any]] = []
        payload = self.get_json(delta_link)
        while True:
            rows, nxt = extract_results_and_next(payload)
            changes.extend(rows)
            delta = payload.get("@odata.deltaLink") or payload.get(
                "odata.deltaLink"
            )
            if delta:
                return changes, self._resolve_next(delta)
            if not nxt:
                raise ODataError(
                    200, delta_link,
                    "delta read ended without a new @odata.deltaLink",
                )
            if self.pause:
                time.sleep(self.pause)
            payload = self.get_json(self._resolve_next(nxt))

    def probe_field(self, entity: str, candidates: list[str]) -> str:
        """First candidate field the entity actually has, discovered by
        ``$select=<candidate>&$top=1`` probes; a 404 naming that
        segment means "try the next one" [S3]."""
        last_error: Exception | None = None
        for cand in candidates:
            try:
                self.get_json(
                    self.url_for(entity),
                    {"$select": cand, "$top": "1", "$format": "json"},
                )
                return cand
            except ODataError as e:
                missing = extract_missing_segment(e.body)
                if e.status == 404 and missing == cand:
                    log.info("field probe: %r not present, trying next", cand)
                    last_error = e
                    continue
                raise
        raise LookupError(
            f"none of the candidate fields {candidates} exist on {entity!r}"
        ) from last_error

    def distinct_values(
        self, entity: str, field: str, top: int = 1_000_000
    ) -> list[str]:
        """Sorted distinct non-empty values of one field — the
        partition-key discovery step (etl.py:124-138) [A1+O1+F2]."""
        values: set[str] = set()
        for page in self.fetch_pages(entity, select=field, top=top):
            for row in page:
                v = row.get(field)
                if v:
                    values.add(v)
        return sorted(values)
