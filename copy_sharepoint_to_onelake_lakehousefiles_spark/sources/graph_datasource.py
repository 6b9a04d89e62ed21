"""A real pluggable source for the Graph-shaped tree listing: the PySpark
Python Data Source API (Spark 4) upgrade of `manifest.walk_tree`.

The reference lists a drive tree once on the driver with recursion + cursor
pages (collect_files_recursive NB:213-236, list_children_paged NB:204-211),
keeps the file list, and pushes `$filter`/`$select` to the service
(NB:86/95/161 — O6 in SURVEY §2). This source does the same through
Spark's own source contract:

- `partitions()` walks the tree breadth-first on the DRIVER and fetches
  each listing page exactly once: folders extend the frontier, files become
  manifest rows. It packs the rows into a few byte-balanced partitions, so
  the tasks downstream (the copy's fetch+write) get even work; `read()`
  only emits its partition's rows.
- `pushFilters` accepts size comparisons and name prefix/equality filters —
  the engine-side equivalent of the reference's server-evaluated OData
  `$filter`. Spark calls it before `partitions()` in the same planner
  worker, so non-matching rows are dropped during the walk. Unsupported
  filters are returned to Spark, which re-applies them.

Two backends behind the same walk: a local directory tree (same
substitution as tests/test_copy.py), and a LIVE paged-REST listing when
`path` is an http(s) URL — `{"value": [items...], "@odata.nextLink": ...}`
pages (NB:204-211) over real HTTP, loopback-served in tests.
"""

from __future__ import annotations

import heapq
import json
import os
import time
from urllib.error import HTTPError
from urllib.request import Request, urlopen

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
)

from .manifest import MAX_TREE_DEPTH, iter_pages

MANIFEST_DDL = "file_id string, name string, rel_path string, download_url string, size long"


def _fetch_page(url: str, auth=None, timeout: float = 30.0) -> dict:
    """GET one listing page: the fetch callable for `manifest.iter_pages`.
    `auth` (sources/auth.py) supplies the bearer header the reference sends
    on every Graph call (NB:53-59); a 401 refreshes the token once. A
    throttled page (429/503) gets 3 attempts in all, execute_copy's
    default, each after the server's Retry-After seconds."""
    refreshed, attempt = False, 1
    while True:
        headers = auth.auth_headers() if auth is not None else {}
        try:
            with urlopen(Request(url, headers=headers), timeout=timeout) as r:
                return json.load(r)
        except HTTPError as e:
            if e.code == 401 and auth is not None and not refreshed:
                auth.invalidate()  # revoked before its stated expiry
                refreshed = True
            elif e.code in (429, 503) and attempt < 3:
                wait = e.headers.get("Retry-After", "")  # seconds or an HTTP-date
                time.sleep(int(wait) if wait.isdigit() else 0.05 * 2**attempt)
                attempt += 1
            else:
                raise


def _pack(rows: list[tuple], k: int) -> list[InputPartition]:
    """Greedy largest-first packing of manifest rows into max(1, min(rows, k))
    partitions: each row joins the one with the fewest bytes, then fewest
    rows (so zero-byte files spread too). The heaviest partition ends at
    most one largest file above the mean."""
    bins = [(0, 0, i) for i in range(max(1, min(len(rows), k)))]
    parts: list[list[tuple]] = [[] for _ in bins]
    for row in sorted(rows, key=lambda r: r[4], reverse=True):
        nbytes, nrows, i = bins[0]
        parts[i].append(row)
        heapq.heapreplace(bins, (nbytes + row[4], nrows + 1, i))
    return [InputPartition(p) for p in parts]


def _row_filter(filters: list[Filter]):
    """Compile the pushed filters into one row predicate (AND semantics)."""

    def keep(name: str, size: int) -> bool:
        for f in filters:
            col = f.attribute[0]
            if col == "name":
                if isinstance(f, EqualTo) and name != f.value:
                    return False
                if isinstance(f, StringStartsWith) and not name.startswith(f.value):
                    return False
            elif col == "size":
                if isinstance(f, GreaterThan) and not size > f.value:
                    return False
                if isinstance(f, GreaterThanOrEqual) and not size >= f.value:
                    return False
                if isinstance(f, LessThan) and not size < f.value:
                    return False
                if isinstance(f, LessThanOrEqual) and not size <= f.value:
                    return False
                if isinstance(f, EqualTo) and size != f.value:
                    return False
        return True

    return keep


class GraphManifestReader(DataSourceReader):
    """Base reader: driver-side walk, row-carrying partitions, NO
    pushFilters — merely defining pushFilters makes Spark demand the
    `spark.sql.python.filterPushdown.enabled` conf, which a stock session
    lacks; the pushdown flavor is the opt-in subclass below."""

    def __init__(self, options):
        raw = options.get("path")
        self.http = str(raw).startswith(("http://", "https://"))
        if self.http:
            self.root = raw
        else:
            self.root = os.path.abspath(raw)
            if not os.path.isdir(self.root):
                raise FileNotFoundError(self.root)
        self.pushed: list[Filter] = []
        # O3: optional client-credentials auth for the http backend —
        # .option("auth_token_url", ...).option("auth_client_id", ...)
        # .option("auth_client_secret", ...)[.option("auth_scope", ...)]
        self.auth = None
        if self.http and options.get("auth_token_url"):
            from .auth import ClientCredentialsTokenProvider

            self.auth = ClientCredentialsTokenProvider(
                options.get("auth_token_url"),
                options.get("auth_client_id", ""),
                options.get("auth_client_secret", ""),
                scope=options.get("auth_scope"),
            )

    def partitions(self):
        keep = _row_filter(self.pushed)
        rows = [r for r in self._walk() if keep(r[1], r[4])]
        # the driver's CPUs stand in for the default parallelism, unseen here
        return _pack(rows, len(os.sched_getaffinity(0)))

    def _walk(self):
        """Breadth-first over folders, each page fetched once, yielding
        manifest rows. Visited folders are skipped and depth is bounded: a
        `childrenUrl` pointing at an ancestor would otherwise loop forever."""
        frontier, seen, depth = [(self.root, "")], {self.root}, 0
        while frontier:
            if depth > MAX_TREE_DEPTH:
                raise RuntimeError(f"tree deeper than max_depth={MAX_TREE_DEPTH}")
            nxt = []
            for d, base in frontier:
                for name, child, file_id, url, size in self._list(d):
                    rel = f"{base}/{name}" if base else name
                    if child is None:
                        yield (file_id or rel, name, rel, url, size)
                    elif child not in seen:
                        seen.add(child)
                        nxt.append((child, rel))
            frontier, depth = nxt, depth + 1

    def _list(self, d: str):
        """One folder's items as (name, child folder or None, file_id,
        download_url, size)."""
        if self.http:
            for items in iter_pages(lambda u: _fetch_page(u, self.auth), d):
                for item in items:
                    if "folder" not in item:
                        url = item.get("@microsoft.graph.downloadUrl") or item.get("downloadUrl")
                        yield item["name"], None, item.get("id"), url, int(item.get("size", 0))
                    elif item.get("childrenUrl"):
                        yield item["name"], item["childrenUrl"], None, None, 0
            return
        for e in sorted(os.scandir(d), key=lambda e: e.name):
            if e.is_dir():
                yield e.name, e.path, None, None, 0
            elif e.is_file():
                yield e.name, None, e.path, e.path, e.stat().st_size

    def read(self, partition: InputPartition):
        yield from partition.value


class GraphManifestPushdownReader(GraphManifestReader):
    """Pushdown flavor (option pushdown=true): requires the session conf
    `spark.sql.python.filterPushdown.enabled=true`."""

    _SUPPORTED_COLS = {
        "name": (EqualTo, StringStartsWith),
        "size": (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual),
    }

    def pushFilters(self, filters):
        for f in filters:
            col = f.attribute[0] if f.attribute else None
            supported = self._SUPPORTED_COLS.get(col, ())
            if isinstance(f, supported) and len(f.attribute) == 1:
                self.pushed.append(f)
            elif isinstance(f, IsNotNull):
                pass  # listing never emits null name/size — trivially satisfied
            else:
                yield f  # give it back: Spark re-applies it above the scan


class GraphManifestDataSource(DataSource):
    """`spark.read.format("graph_manifest").load(root)` after
    `spark.dataSource.register(GraphManifestDataSource)`. Pass
    .option("pushdown", "true") (plus the filterPushdown session conf) for
    source-side filtering."""

    @classmethod
    def name(cls) -> str:
        return "graph_manifest"

    def schema(self) -> str:
        return MANIFEST_DDL

    def reader(self, schema) -> GraphManifestReader:
        if str(self.options.get("pushdown", "")).lower() == "true":
            return GraphManifestPushdownReader(self.options)
        return GraphManifestReader(self.options)
