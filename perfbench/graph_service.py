"""A loopback service shaped like the Microsoft Graph drive API, serving a
seeded SharePoint-like tree to the copy subsystem over real HTTP.

Endpoints:
- ``POST /token``: OAuth2 client-credentials grant (form-encoded).
- ``GET /drives/d/items/<id>/children[?page=N]``: cursor-paged listings
  ``{"value": [...], "@odata.nextLink": ...}``, ``PAGE_SIZE`` items a page.
- ``GET /dl/<id>?v=<version>``: the file body (the item's ``downloadUrl``).

Every GET checks the bearer token. Page and file bodies are rendered once
per tree state, so a request costs a dictionary lookup and one socket write.
Responses go out as a single ``sendall`` with ``TCP_NODELAY``: the stock
``http.server`` pattern of headers and body as two sends stalls each
response on Nagle plus delayed ACK. At most ``max_handlers`` requests are
served at once, and the handler time inside that cap is summed, so a run
can show the service was not what the copy waited on.
"""

from __future__ import annotations

import hashlib
import json
import socket
import threading
import time
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlsplit

import numpy as np

PAGE_SIZE = 100  # a client's $top=100
CLIENT_ID = "perfbench-app"
CLIENT_SECRET = "perfbench-secret"


@dataclass
class _File:
    folder: int
    name: str
    version: int
    body: bytes
    md5: str


@dataclass
class GraphTree:
    """A seeded drive: folders (index 0 is the root) and files by id."""

    rng: np.random.Generator
    parent: list[int] = field(default_factory=list)
    names: list[str] = field(default_factory=list)
    files: dict[str, _File] = field(default_factory=dict)
    _next_id: int = 0

    @classmethod
    def generate(cls, seed: int, n_files: int, n_folders: int, max_depth: int = 4,
                 min_size: int = 4096, max_size: int = 1 << 20, alpha: float = 1.3) -> "GraphTree":
        """The folder tree is a fixed shape (three children per folder,
        breadth first, at most ``max_depth`` deep) and folder sizes follow
        a fixed Zipf law, so the largest folders span several pages; the
        seed picks which folder gets which size. File sizes are
        Pareto(alpha) from ``min_size``, capped at ``max_size``, taken at
        evenly spaced quantiles and shuffled by the seed. Every seed thus
        gives the same tree shape, folder sizes and total bytes."""
        t = cls(rng=np.random.default_rng(seed))
        depth = [0]
        t.parent, t.names = [-1], [""]
        for i in range(1, n_folders):
            p = (i - 1) // 3
            while depth[p] >= max_depth:
                p -= 1
            t.parent.append(p)
            t.names.append(f"folder_{i:03d}")
            depth.append(depth[p] + 1)
        u = (np.arange(n_files) + 0.5) / n_files
        sizes = np.minimum(min_size * (1.0 - u) ** (-1.0 / alpha), max_size).astype(int)
        t.rng.shuffle(sizes)
        weights = 1.0 / np.arange(1, n_folders + 1) ** 1.3
        counts = np.floor(weights / weights.sum() * n_files).astype(int)
        counts[: n_files - counts.sum()] += 1  # hand the remainder to the largest
        folders = np.repeat(t.rng.permutation(n_folders), counts)
        for size, folder in zip(sizes, folders):
            t._add(int(folder), int(size))
        return t

    def _add(self, folder: int, size: int) -> None:
        fid = f"F{self._next_id:06d}"
        self._next_id += 1
        ext = ("docx", "xlsx", "pdf", "csv", "bin")[self._next_id % 5]
        self._put(fid, folder, f"file_{fid}.{ext}", 1, size)

    def _put(self, fid: str, folder: int, name: str, version: int, size: int) -> None:
        body = self.rng.bytes(size)
        self.files[fid] = _File(folder, name, version, body, hashlib.md5(body).hexdigest())

    def rel_path(self, fid: str) -> str:
        f = self.files[fid]
        parts, d = [f.name], f.folder
        while d > 0:
            parts.append(self.names[d])
            d = self.parent[d]
        return "/".join(reversed(parts))

    def mutate(self, changed: float = 0.05, new: float = 0.05, deleted: float = 0.02) -> dict[str, set[str]]:
        """Change the size and content of a share of files, add and delete
        others; returns the rel_paths of each kind."""
        ids = sorted(self.files)
        n = len(ids)
        pick = self.rng.permutation(n)
        n_chg, n_del = int(n * changed), int(n * deleted)
        chg_ids = [ids[i] for i in pick[:n_chg]]
        del_ids = [ids[i] for i in pick[n_chg:n_chg + n_del]]
        out = {"changed": set(), "new": set(), "orphan": set()}
        for fid in chg_ids:
            f = self.files[fid]
            size = len(f.body) + int(self.rng.integers(1, 4096))
            self._put(fid, f.folder, f.name, f.version + 1, size)
            out["changed"].add(self.rel_path(fid))
        for fid in del_ids:
            out["orphan"].add(self.rel_path(fid))
            del self.files[fid]
        sizes = sorted(len(f.body) for f in self.files.values())
        for _ in range(int(n * new)):
            self._add(int(self.rng.integers(0, len(self.names))), sizes[int(self.rng.integers(0, len(sizes)))])
            out["new"].add(self.rel_path(f"F{self._next_id - 1:06d}"))
        return out


class GraphService:
    """Serves a ``GraphTree``; ``counters()`` reports requests per endpoint."""

    def __init__(self, tree: GraphTree, max_handlers: int):
        self.tree = tree
        self._cap = threading.BoundedSemaphore(max_handlers)
        self._lock = threading.Lock()
        self._token = "tok-" + hashlib.md5(str(id(self)).encode()).hexdigest()[:16]
        self._srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
        self._srv.daemon_threads = True
        self._srv.svc = self
        self.base = f"http://127.0.0.1:{self._srv.server_address[1]}"
        self._pages: dict[str, bytes] = {}
        self._bodies: dict[str, bytes] = {}
        self.reset_counters()
        self.render()
        self._thread = threading.Thread(target=self._srv.serve_forever, name="graph-service", daemon=True)
        self._thread.start()

    # ------------------------------------------------------------ content
    def root_url(self) -> str:
        return f"{self.base}/drives/d/items/root/children"

    def _children_url(self, folder: int) -> str:
        return self.root_url() if folder == 0 else f"{self.base}/drives/d/items/D{folder:04d}/children"

    def render(self) -> None:
        """Pre-render every listing page and body for the current tree."""
        t = self.tree
        kids: dict[int, list[dict]] = {i: [] for i in range(len(t.names))}
        for i in range(1, len(t.names)):
            kids[t.parent[i]].append({
                "id": f"D{i:04d}", "name": t.names[i], "folder": {"childCount": 0},
                "childrenUrl": self._children_url(i),
            })
        for fid, f in t.files.items():
            kids[f.folder].append({
                "id": fid, "name": f.name, "size": len(f.body),
                "file": {"mimeType": "application/octet-stream"},
                "@microsoft.graph.downloadUrl": f"{self.base}/dl/{fid}?v={f.version}",
            })
        pages: dict[str, bytes] = {}
        for folder, items in kids.items():
            items.sort(key=lambda it: ("folder" not in it, it["name"]))
            url = self._children_url(folder)
            n_pages = max(1, -(-len(items) // PAGE_SIZE))
            for p in range(n_pages):
                doc = {"value": items[p * PAGE_SIZE:(p + 1) * PAGE_SIZE]}
                if p + 1 < n_pages:
                    doc["@odata.nextLink"] = f"{url}?page={p + 1}"
                key = urlsplit(url).path + ("" if p == 0 else f"?page={p}")
                pages[key] = json.dumps(doc).encode()
        self._pages = pages
        self._bodies = {f"/dl/{fid}?v={f.version}": f.body for fid, f in t.files.items()}

    # ------------------------------------------------------------ counters
    def reset_counters(self) -> None:
        with self._lock:
            self._c = {"token": 0, "list": 0, "download": 0, "unauthorized": 0,
                       "not_found": 0, "busy_s": 0.0}
            self._pages_seen: set[str] = set()

    def counters(self) -> dict:
        with self._lock:
            return dict(self._c, distinct_pages=len(self._pages_seen))

    def _count(self, key: str, busy: float, page: str | None = None) -> None:
        with self._lock:
            self._c[key] += 1
            self._c["busy_s"] += busy
            if page is not None:
                self._pages_seen.add(page)

    # ------------------------------------------------------------ serving
    def handle(self, h: "_Handler", method: str) -> None:
        with self._cap:
            t0 = time.perf_counter()
            status, body, ctype, key, page = self._route(h, method)
            _send(h, status, body, ctype)
            self._count(key, time.perf_counter() - t0, page)

    def _route(self, h: "_Handler", method: str):
        if method == "POST":
            n = int(h.headers.get("Content-Length") or 0)
            form = parse_qs(h.rfile.read(n).decode())
            ok = (form.get("grant_type") == ["client_credentials"]
                  and form.get("client_id") == [CLIENT_ID]
                  and form.get("client_secret") == [CLIENT_SECRET])
            if h.path != "/token" or not ok:
                return 401, b'{"error": "invalid_client"}', "application/json", "unauthorized", None
            body = json.dumps({"access_token": self._token, "token_type": "Bearer", "expires_in": 3600})
            return 200, body.encode(), "application/json", "token", None
        if h.headers.get("Authorization") != f"Bearer {self._token}":
            return 401, b'{"error": "InvalidAuthenticationToken"}', "application/json", "unauthorized", None
        if h.path.startswith("/dl/"):
            body = self._bodies.get(h.path)
            if body is None:
                return 404, b"", "text/plain", "not_found", None
            return 200, body, "application/octet-stream", "download", None
        page = self._pages.get(h.path)
        if page is None:
            return 404, b'{"error": "itemNotFound"}', "application/json", "not_found", None
        return 200, page, "application/json", "list", h.path

    def close(self) -> None:
        self._srv.shutdown()
        self._srv.server_close()
        self._thread.join(timeout=10)


_REASONS = {200: "OK", 401: "Unauthorized", 404: "Not Found"}


def _send(h: BaseHTTPRequestHandler, status: int, body: bytes, ctype: str) -> None:
    head = (f"HTTP/1.1 {status} {_REASONS[status]}\r\nContent-Type: {ctype}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n").encode()
    h.wfile.write(head + body)


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    timeout = 30  # idle keep-alive connections end their thread

    def setup(self) -> None:
        super().setup()
        self.connection.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)

    def do_GET(self) -> None:  # noqa: N802 — http.server API
        self.server.svc.handle(self, "GET")

    def do_POST(self) -> None:  # noqa: N802
        self.server.svc.handle(self, "POST")

    def log_message(self, *args) -> None:
        pass
