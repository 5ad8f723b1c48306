"""HTTP server for the live crawl workload.

Serves a fixture graph (``goribot_spark.sources.fixtures.generate_all``
output) over real sockets. Fixture host ``site<s>.test`` becomes the loopback
address ``127.0.<1 + s // 250>.<1 + s % 250>``; one server bound to
``0.0.0.0`` answers every 127/8 address, so each crawl host is distinct to the
engine while a single process serves them all.

Per host it serves:

* ``/p/<k>``: an HTML page rendered from the fixture's ``links`` and
  ``image_refs`` columns (absolute links rewritten to the loopback hosts,
  relative links kept, gzip-compressed bodies where the fixture flags
  ``gzipped``). Pages never fail: the benchmark's graphs have no flaky
  pages.
* ``/img/<image_id>.png``: the fixture's PNG bytes; pages carry the image
  caption as ``alt`` text.
* ``/robots.txt``: the fixture's ``robots_rules`` rows for that host.

Requests are handled by a fixed pool of ``--threads`` worker threads.

Run: ``python3 perfbench/fixture_server.py <fixtures_dir> <port_file>
[--threads N]``. The port is written to ``port_file`` once the socket listens;
the server stops on SIGTERM or SIGINT.
"""

from __future__ import annotations

import argparse
import gzip
import html
import os
import re
import signal
import threading
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer

import pyarrow.parquet as pq

_SITE = re.compile(r"^http://site(\d+)\.test(?=/|$)")


def host_addr(s: int) -> str:
    """Loopback address standing in for fixture host ``site<s>.test``."""
    return f"127.0.{1 + s // 250}.{1 + s % 250}"


def live_url(url: str, port: int) -> str:
    """Fixture URL → the URL the server answers it at."""
    return _SITE.sub(lambda m: f"http://{host_addr(int(m.group(1)))}:{port}", url)


def fixture_url(url: str, port: int) -> str:
    """Inverse of ``live_url`` for page URLs."""
    m = re.match(r"^http://127\.0\.(\d+)\.(\d+):%d(?=/|$)" % port, url)
    if not m:
        return url
    s = (int(m.group(1)) - 1) * 250 + int(m.group(2)) - 1
    return f"http://site{s}.test" + url[m.end():]


def image_path(image_id: str) -> str:
    return f"/img/{image_id}.png"


def robots_txt(rows: list[dict]) -> bytes:
    groups: dict[str, list[str]] = {}
    for r in rows:
        verb = "Allow" if r["allow"] else "Disallow"
        groups.setdefault(r["ua"], []).append(f"{verb}: {r['path_prefix']}")
    out = []
    for ua, lines in groups.items():
        out.append(f"User-agent: {ua}")
        out.extend(lines)
        out.append("")
    return "\n".join(out).encode()


class Site:
    """The fixture tables, indexed for serving."""

    def __init__(self, fixtures_dir: str, port: int):
        images = pq.read_table(f"{fixtures_dir}/images.parquet").to_pylist()
        self.images = {r["image_id"]: r for r in images}
        self.pages: dict[tuple[str, str], bytes] = {}
        for r in pq.read_table(f"{fixtures_dir}/pages.parquet").to_pylist():
            m = _SITE.match(r["url"])
            addr = host_addr(int(m.group(1)))
            self.pages[(addr, r["url"][m.end():])] = self._render(r, port)
        by_host: dict[str, list[dict]] = {}
        for r in pq.read_table(f"{fixtures_dir}/robots_rules.parquet").to_pylist():
            m = re.match(r"^site(\d+)\.test$", r["host"])
            by_host.setdefault(host_addr(int(m.group(1))), []).append(r)
        self.robots: dict[str, bytes] = {h: robots_txt(rows) for h, rows in by_host.items()}

    def _render(self, r: dict, port: int) -> bytes:
        links = "".join(
            f'<a href="{html.escape(live_url(h, port))}">{html.escape(h)}</a>\n'
            for h in r["links"]
        )
        imgs = "".join(
            f'<img src="{image_path(i)}" alt="{html.escape(self.images[i]["caption"])}">\n'
            for i in r["image_refs"]
        )
        body = (
            f"<html><head><title>{html.escape(r['title'])}</title></head>"
            f"<body>\n{links}{imgs}</body></html>"
        ).encode("utf-8")
        return gzip.compress(body, 6, mtime=0) if r["gzipped"] else body


class Handler(BaseHTTPRequestHandler):
    server_version = "perfbench-fixture/1"
    protocol_version = "HTTP/1.0"

    def log_message(self, *args):
        pass

    def do_GET(self):
        site: Site = self.server.site
        host = (self.headers.get("Host") or "").rsplit(":", 1)[0]
        path = self.path.split("?", 1)[0]
        if path == "/robots.txt":
            body = site.robots.get(host)
            if body is None:
                return self._send(404, b"", "text/plain")
            return self._send(200, body, "text/plain")
        if path.startswith("/img/") and path.endswith(".png"):
            img = site.images.get(path[len("/img/"):-len(".png")])
            if img is None:
                return self._send(404, b"", "text/plain")
            return self._send(200, img["bytes"], "image/png")
        page = site.pages.get((host, path))
        if page is None:
            return self._send(404, b"", "text/plain")
        self._send(200, page, "text/html; charset=utf-8")

    def _send(self, status: int, body: bytes, ctype: str) -> None:
        self.send_response(status)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


class PooledHTTPServer(HTTPServer):
    """HTTPServer handing each connection to a fixed thread pool."""

    def __init__(self, addr, handler, threads: int):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads)

    def process_request(self, request, client_address):
        self.pool.submit(self._handle, request, client_address)

    def _handle(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    def server_close(self):
        super().server_close()
        self.pool.shutdown(wait=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("fixtures_dir")
    ap.add_argument("port_file")
    ap.add_argument("--threads", type=int, default=os.cpu_count() or 1)
    a = ap.parse_args()
    server = PooledHTTPServer(("0.0.0.0", 0), Handler, a.threads)
    server.site = Site(a.fixtures_dir, server.server_address[1])
    stop = threading.Event()
    signal.signal(signal.SIGTERM, lambda *_: stop.set())
    signal.signal(signal.SIGINT, lambda *_: stop.set())
    loop = threading.Thread(target=server.serve_forever, kwargs={"poll_interval": 0.1})
    loop.start()
    tmp = a.port_file + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(server.server_address[1]))
    os.replace(tmp, a.port_file)
    while not stop.wait(0.5):
        pass
    server.shutdown()
    loop.join()
    server.server_close()


if __name__ == "__main__":
    main()
