"""OData fixture server, run in its own process by the benchmark.

    python3 perfbench/fixture_server.py --spec SPEC.json --port-file PORT

``SPEC.json`` holds the seed, the fixed per-request delay and the
generator parameters of up to two entity sets: ``etl``, the
reference-shaped turnover entity served as OData V2, and ``sync``, a
change-tracked entity served as OData V4 with delta links. The server
regenerates the rows with ``gen.py`` and renders every V2 page once,
up front; tracked reads and delta pages are rendered once per read. A
request then costs a dict lookup, the delay and the write.

Injected faults: a seeded share of the V2 page URLs answers 503 with
``Retry-After: 0`` on its first attempt in each epoch (an epoch starts
at every ``POST /__control/reset``).

Counters, read with ``GET /__control/stats``: requests by kind
(metadata, probe, distinct, page, full, delta, retried), bytes served,
the in-flight maximum, the server's own CPU busy time, and the first
request to last response span of each partition (one ``$filter``
value). ``POST /__control/apply`` applies a change batch to the
change-tracked entity; ``GET /__control/state`` returns its rows.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import signal
import sys
import threading
import time
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

KINDS = ("metadata", "probe", "distinct", "page", "full", "delta", "retried")


def _v2(rows: list[dict], nxt: str | None) -> bytes:
    d: dict = {"results": rows}
    if nxt:
        d["__next"] = nxt
    return json.dumps({"d": d}).encode()


class Fixture:
    def __init__(self, spec: dict):
        self.spec = spec
        self.delay = spec["delay_s"]
        self.lock = threading.Lock()
        # (entity, sorted params) -> (kind, partition, body or None for 404)
        self.routes: dict[tuple, tuple[str, str | None, bytes | None]] = {}
        self.flaky: set[tuple] = set()
        self.state: dict[str, dict] = {}
        self.changelog: list[dict] = []
        self.reads = 0
        self.reset()
        if spec.get("etl"):
            self._render_etl(spec["etl"])
        if spec.get("sync"):
            src = gen.SyncSource(spec["seed"], spec["sync"]["n_rows"], 0, 0, 0)
            self.state = {r["Id"]: r for r in src.initial}

    # -- rendering ----------------------------------------------------------

    def _paged(self, entity, kind, part, first: dict, rows, size, token, wrap):
        n = max(1, -(-len(rows) // size))
        for i in range(n):
            nxt = f"{entity}?$skiptoken={token}-{i + 1}" if i + 1 < n else None
            params = first if i == 0 else {"$skiptoken": f"{token}-{i}"}
            self.routes[(entity, *sorted(params.items()))] = (
                kind, part, wrap(rows[i * size:(i + 1) * size], nxt)
            )

    def _render_etl(self, s: dict):
        e = gen.ETL_ENTITY
        rows, _ = gen.etl_entity(self.spec["seed"], s["n_values"], s["n_rows"], s["page_size"])

        def route(params, kind, body):
            self.routes[(e, *sorted(params.items()))] = (kind, None, body)

        route({"$format": "json", "$top": "1"}, "probe", _v2(rows[:1], None))
        route({"$format": "json", "$select": gen.STRUCT, "$top": "1"}, "probe",
              _v2([{gen.STRUCT: rows[0][gen.STRUCT]}], None))
        route({"$format": "json", "$select": "C0CHAR_STRUCTURE", "$top": "1"}, "probe", None)
        self._paged(
            e, "distinct", "distinct",
            {"$format": "json", "$select": gen.STRUCT, "$top": "1000000"},
            [{gen.STRUCT: r[gen.STRUCT]} for r in rows], s["distinct_page_size"],
            "distinct", _v2,
        )
        by_value: dict[str, list[dict]] = {}
        for r in rows:
            if r[gen.STRUCT]:
                by_value.setdefault(r[gen.STRUCT], []).append(r)
        for i, (v, vrows) in enumerate(sorted(by_value.items())):
            filt = f"{gen.STRUCT} eq '{v.replace(chr(39), chr(39) * 2)}'"
            self._paged(e, "page", v, {"$format": "json", "$filter": filt},
                        vrows, s["page_size"], f"p{i}", _v2)
        pages = sorted(k for k, (kind, _p, _b) in self.routes.items()
                       if kind in ("page", "distinct"))
        rng = random.Random(self.spec["seed"] * 31 + 7)
        self.flaky = set(rng.sample(pages, max(1, int(len(pages) * s["fail_share"]))))

    def _render_full(self) -> tuple:
        """A tracked full read: pages of the current state, the last
        one carrying the delta link for the current change sequence."""
        e = gen.SYNC_ENTITY
        self.reads += 1
        seq = len(self.changelog)

        def wrap(rows, nxt):
            body: dict = {"value": rows}
            if nxt:
                body["@odata.nextLink"] = nxt
            else:
                body["@odata.deltaLink"] = f"{e}?$deltatoken={seq}"
            return json.dumps(body).encode()

        first = {"$format": "json", "$select": ",".join(gen.SYNC_FIELDS)}
        self._paged(e, "full", None, first, list(self.state.values()),
                    self.spec["sync"]["page_size"], f"full{self.reads}", wrap)
        return (e, *sorted(first.items()))

    def _render_delta(self, token: int) -> None:
        """Changes after ``token`` in wire order, in small pages; the
        last page carries the next delta link."""
        e = gen.SYNC_ENTITY
        seq = len(self.changelog)
        entries = self.changelog[token:]
        size = self.spec["sync"]["delta_page_size"]
        n = max(1, -(-len(entries) // size))
        for i in range(n):
            body: dict = {"value": entries[i * size:(i + 1) * size]}
            if i + 1 < n:
                body["@odata.nextLink"] = f"{e}?$deltatoken={token}&$skiptoken=d{seq}-{i + 1}"
            else:
                body["@odata.deltaLink"] = f"{e}?$deltatoken={seq}"
            params = {"$deltatoken": str(token)}
            if i:
                params["$skiptoken"] = f"d{seq}-{i}"
            self.routes[(e, *sorted(params.items()))] = ("delta", None, json.dumps(body).encode())

    # -- control ------------------------------------------------------------

    def reset(self):
        with self.lock:
            self.counts = dict.fromkeys(KINDS, 0)
            self.bytes = 0
            self.inflight = 0
            self.inflight_max = 0
            self.busy = 0.0
            self.failed_once: set[tuple] = set()
            self.spans: dict[str, list[float]] = {}

    def stats(self) -> dict:
        with self.lock:
            spans = {k: v[1] - v[0] for k, v in self.spans.items()}
            return {
                "requests": dict(self.counts),
                "bytes_served": self.bytes,
                "inflight_max": self.inflight_max,
                "busy_s": self.busy,
                "distinct_span_s": spans.pop("distinct", 0.0),
                "partition_spans": spans,
            }

    def apply(self, ops: list[dict]) -> None:
        with self.lock:
            for o in ops:
                if o["op"] == "upsert":
                    row = o["row"]
                    self.state[row["Id"]] = row
                    self.changelog.append(row)
                else:
                    self.state.pop(o["key"], None)
                    self.changelog.append({"@removed": {"reason": "deleted"}, "Id": o["key"]})

    # -- data requests ------------------------------------------------------

    def lookup(self, path: str, params: dict) -> tuple[int, str, str | None, bytes, dict]:
        """(status, kind, partition, body, headers) for one request."""
        if path.endswith("/$metadata"):
            return 200, "metadata", None, self._metadata(), {}
        entity = path.rstrip("/").rsplit("/", 1)[-1]
        key = (entity, *sorted(params.items()))
        with self.lock:
            if entity == gen.SYNC_ENTITY and "$skiptoken" not in params:
                if "$deltatoken" in params:
                    self._render_delta(int(params["$deltatoken"]))
                elif "$select" in params:
                    key = self._render_full()
            kind, part, body = self.routes.get(key, ("probe", None, None))
            if body is None:
                seg = params.get("$select", entity)
                return 404, kind, None, (
                    f"Resource not found for the segment '{seg}' of the request URL."
                ).encode(), {}
            if key in self.flaky and key not in self.failed_once:
                self.failed_once.add(key)
                return 503, "retried", part, b"service unavailable", {"Retry-After": "0"}
        return 200, kind, part, body, {}

    def _metadata(self) -> bytes:
        types = [(gen.ETL_ENTITY, gen.ETL_FIELDS), (gen.SYNC_ENTITY, gen.SYNC_FIELDS)]
        schema = "".join(
            f'<EntityType Name="{e}Type">'
            + "".join(f'<Property Name="{f}" Type="Edm.String"/>' for f in fields)
            + "</EntityType>"
            for e, fields in types
        )
        sets = "".join(f'<EntitySet Name="{e}" EntityType="Fixture.{e}Type"/>' for e, _ in types)
        return (
            '<?xml version="1.0" encoding="utf-8"?><edmx:Edmx '
            'xmlns:edmx="http://docs.oasis-open.org/odata/ns/edmx" Version="4.0">'
            '<edmx:DataServices><Schema xmlns="http://docs.oasis-open.org/odata/ns/edm" '
            f'Namespace="Fixture">{schema}<EntityContainer Name="Container">{sets}'
            "</EntityContainer></Schema></edmx:DataServices></edmx:Edmx>"
        ).encode()


def make_handler(fx: Fixture):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):
            pass

        def _send(self, status: int, body: bytes, headers: dict | None = None,
                  ctype: str = "application/json"):
            self.send_response(status)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            for k, v in (headers or {}).items():
                self.send_header(k, v)
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self):
            n = int(self.headers.get("Content-Length") or 0)
            payload = json.loads(self.rfile.read(n) or b"null")
            if self.path == "/__control/reset":
                fx.reset()
            elif self.path == "/__control/apply":
                fx.apply(payload)
            else:
                return self._send(404, b"{}")
            self._send(200, b"{}")

        def do_GET(self):
            url = urllib.parse.urlsplit(self.path)
            if url.path == "/__control/stats":
                return self._send(200, json.dumps(fx.stats()).encode())
            if url.path == "/__control/state":
                with fx.lock:
                    rows = list(fx.state.values())
                return self._send(200, json.dumps(rows).encode())
            t_wall, t_cpu = time.time(), time.thread_time()
            kind, part, body, cpu = "probe", None, b"", 0.0
            with fx.lock:
                fx.inflight += 1
                fx.inflight_max = max(fx.inflight_max, fx.inflight)
            try:
                params = dict(urllib.parse.parse_qsl(url.query, keep_blank_values=True))
                status, kind, part, body, headers = fx.lookup(url.path, params)
                cpu = time.thread_time() - t_cpu
                time.sleep(fx.delay)
                t_cpu = time.thread_time()
                ctype = "application/xml" if kind == "metadata" else "application/json"
                self._send(status, body, headers, ctype)
            finally:
                with fx.lock:
                    fx.inflight -= 1
                    fx.counts[kind] += 1
                    fx.bytes += len(body)
                    fx.busy += cpu + time.thread_time() - t_cpu
                    if part is not None:
                        span = fx.spans.setdefault(part, [t_wall, t_wall])
                        span[1] = max(span[1], time.time())

    return Handler


class Server(ThreadingHTTPServer):
    daemon_threads = True
    request_queue_size = 128


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spec", required=True)
    ap.add_argument("--port-file", required=True)
    args = ap.parse_args()
    with open(args.spec) as f:
        fx = Fixture(json.load(f))
    httpd = Server(("127.0.0.1", 0), make_handler(fx))
    signal.signal(signal.SIGTERM, lambda *_: threading.Thread(target=httpd.shutdown).start())
    parent = os.getppid()

    def orphan_watch():
        # Stop with the benchmark even when it dies without stopping us.
        while os.getppid() == parent:
            time.sleep(0.5)
        httpd.shutdown()

    threading.Thread(target=orphan_watch, daemon=True).start()
    tmp = args.port_file + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(httpd.server_port))
    os.replace(tmp, args.port_file)
    httpd.serve_forever()
    httpd.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
