"""Python Data Source for the tree listing: one driver walk that fetches
each listing page once (cycle guard, throttled-page retry), byte-balanced
row-carrying partitions, row parity with the driver-walk manifest, and
filter pushdown semantics."""

import os

from pyspark.sql import functions as F

from copy_sharepoint_to_onelake_lakehousefiles_spark.sources import graph_datasource
from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.graph_datasource import (
    GraphManifestDataSource,
    GraphManifestPushdownReader,
    GraphManifestReader,
)
from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.manifest import (
    MANIFEST_SCHEMA,
    manifest_from_local_dir,
)


def _build_tree(root):
    os.makedirs(os.path.join(root, "sub1", "sub2"))
    os.makedirs(os.path.join(root, "empty_dir"))
    with open(os.path.join(root, "a.csv"), "w") as f:
        f.write("x,y\n1,2\n")
    with open(os.path.join(root, "sub1", "b.bin"), "wb") as f:
        f.write(b"\x01\x02" * 100)
    with open(os.path.join(root, "sub1", "sub2", "c.txt"), "w") as f:
        f.write("hello\n")


def _register(spark):
    try:
        spark.dataSource.register(GraphManifestDataSource)
    except Exception:
        pass  # already registered in this session


def test_source_matches_driver_walk_manifest(spark, tmp_path):
    root = str(tmp_path / "tree")
    os.makedirs(root)
    _build_tree(root)
    _register(spark)
    via_source = {
        (r["rel_path"], r["size"])
        for r in spark.read.format("graph_manifest").load(root).collect()
    }
    via_walk = {
        (r["rel_path"], r["size"]) for r in manifest_from_local_dir(spark, root).collect()
    }
    assert via_source == via_walk
    assert ("sub1/sub2/c.txt", 6) in via_source


def _cpus(monkeypatch, n):
    monkeypatch.setattr(graph_datasource.os, "sched_getaffinity", lambda pid: set(range(n)))


def test_partitions_hold_every_row_once(tmp_path):
    root = str(tmp_path / "tree")
    os.makedirs(root)
    _build_tree(root)
    reader = GraphManifestReader({"path": root})
    parts = reader.partitions()
    rows = [r for p in parts for r in reader.read(p)]
    assert sorted((r[2], r[4]) for r in rows) == [("a.csv", 8), ("sub1/b.bin", 200), ("sub1/sub2/c.txt", 6)]
    assert rows[0][0] == rows[0][3] and rows[0][0].startswith(root)  # local row shape
    assert 1 <= len(parts) <= min(len(rows), len(os.sched_getaffinity(0)))


def test_empty_root_one_empty_partition(spark, tmp_path):
    root = str(tmp_path / "empty")
    os.makedirs(root)
    reader = GraphManifestReader({"path": root})
    parts = reader.partitions()
    assert len(parts) == 1 and list(reader.read(parts[0])) == []
    _register(spark)
    df = spark.read.format("graph_manifest").load(root)
    assert df.schema == MANIFEST_SCHEMA and df.collect() == []


def test_zero_byte_files_spread(tmp_path, monkeypatch):
    root = tmp_path / "zeros"
    root.mkdir()
    for i in range(50):
        (root / f"z{i:02d}").touch()
    _cpus(monkeypatch, 4)
    parts = GraphManifestReader({"path": str(root)}).partitions()
    assert sorted(len(p.value) for p in parts) == [12, 12, 13, 13]


def test_skewed_tree_is_byte_balanced(tmp_path, monkeypatch):
    sizes = [1 + 40_000 // (i + 1) for i in range(60)]  # Zipf-like
    for i, n in enumerate(sizes):
        d = tmp_path / "skew" / f"d{i % 7}"
        d.mkdir(parents=True, exist_ok=True)
        (d / f"f{i:02d}").write_bytes(b"x" * n)
    _cpus(monkeypatch, 4)
    parts = GraphManifestReader({"path": str(tmp_path / "skew")}).partitions()
    loads = [sum(r[4] for r in p.value) for p in parts]
    assert len(parts) == 4 and sum(loads) == sum(sizes)
    assert max(loads) <= sum(sizes) / 4 + max(sizes)


def test_filter_pushdown_applies_in_reader(spark, tmp_path):
    root = str(tmp_path / "tree")
    os.makedirs(root)
    _build_tree(root)
    _register(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    df = (
        spark.read.format("graph_manifest")
        .option("pushdown", "true")
        .load(root)
        .where((F.col("size") > 10) & F.col("name").startswith("b"))
    )
    rows = df.collect()
    assert [(r["rel_path"], r["size"]) for r in rows] == [("sub1/b.bin", 200)]
    # the same predicates compiled through the reader drop rows at the source
    reader = GraphManifestPushdownReader({"path": root})
    from pyspark.sql.datasource import GreaterThan, StringStartsWith

    leftover = list(reader.pushFilters([GreaterThan(("size",), 10), StringStartsWith(("name",), "b")]))
    assert leftover == []  # both supported → nothing re-applied by Spark
    got = [
        row
        for p in reader.partitions()
        for row in reader.read(p)
    ]
    assert [(r[2], r[4]) for r in got] == [("sub1/b.bin", 200)]


def test_unsupported_filters_are_returned(tmp_path):
    root = str(tmp_path / "tree")
    os.makedirs(root)
    _build_tree(root)
    from pyspark.sql.datasource import EqualTo, StringEndsWith

    reader = GraphManifestPushdownReader({"path": root})
    unsupported = StringEndsWith(("name",), ".csv")
    leftover = list(reader.pushFilters([EqualTo(("size",), 8), unsupported]))
    assert leftover == [unsupported]
    rows = [row for p in reader.partitions() for row in reader.read(p)]
    assert [(r[2], r[4]) for r in rows] == [("a.csv", 8)]  # size=8 applied


# --- live paged-REST mode (reference NB:204-236 cursor walk) -----------------

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pytest

PAGE_SIZE = 2

# drive tree: root has 3 files + 1 folder; the folder has 3 files → both
# listings need two cursor pages at PAGE_SIZE=2. /list/loop holds a folder
# that points at itself and one whose child points back at /list/loop.
_TREE = {
    "/list/root": [
        {"id": "f1", "name": "a.bin", "size": 11, "downloadUrl": "http://x/a"},
        {"id": "f2", "name": "b.bin", "size": 22, "downloadUrl": "http://x/b"},
        {"id": "d1", "name": "docs", "folder": {}, "childrenUrl": "/list/docs"},
        {"id": "f3", "name": "c.bin", "size": 33, "downloadUrl": "http://x/c"},
    ],
    "/list/docs": [
        {"id": "f4", "name": "d.txt", "size": 44, "downloadUrl": "http://x/d"},
        {"id": "f5", "name": "e.txt", "size": 55, "downloadUrl": "http://x/e"},
        {"id": "f6", "name": "f.txt", "size": 66, "downloadUrl": "http://x/f"},
    ],
    "/list/loop": [
        {"id": "g1", "name": "g.bin", "size": 7, "downloadUrl": "http://x/g"},
        {"id": "d2", "name": "self", "folder": {}, "childrenUrl": "/list/loop"},
        {"id": "d3", "name": "sub", "folder": {}, "childrenUrl": "/list/loop/sub"},
    ],
    "/list/loop/sub": [
        {"id": "h1", "name": "h.bin", "size": 8, "downloadUrl": "http://x/h"},
        {"id": "d4", "name": "up", "folder": {}, "childrenUrl": "/list/loop"},
    ],
}


class _ListingHandler(BaseHTTPRequestHandler):
    base = ""  # filled by fixture
    hits = []  # every (path, skip) request served — asserts real pagination
    throttle = set()  # (path, skip) pages that answer 429 once

    def do_GET(self):  # noqa: N802
        u = urlparse(self.path)
        if u.path.startswith("/list/deep/"):  # an endless chain of folders
            n = int(u.path.rsplit("/", 1)[1])
            items = [{"id": f"n{n}", "name": f"n{n}", "folder": {}, "childrenUrl": f"/list/deep/{n + 1}"}]
        else:
            items = _TREE.get(u.path)
        if items is None:
            self.send_error(404)
            return
        skip = int(parse_qs(u.query).get("skip", ["0"])[0])
        if (u.path, skip) in type(self).throttle:
            type(self).throttle.discard((u.path, skip))
            self.send_response(429)
            self.send_header("Retry-After", "0")
            self.send_header("Content-Length", "0")
            self.end_headers()
            return
        type(self).hits.append((u.path, skip))
        window = items[skip : skip + PAGE_SIZE]
        page = {"value": []}
        for it in window:
            it = dict(it)
            if "childrenUrl" in it:
                it["childrenUrl"] = self.base + it["childrenUrl"]
            page["value"].append(it)
        if skip + PAGE_SIZE < len(items):
            page["@odata.nextLink"] = f"{self.base}{u.path}?skip={skip + PAGE_SIZE}"
        body = json.dumps(page).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):
        pass


@pytest.fixture()
def listing_base():
    _ListingHandler.hits = []
    _ListingHandler.throttle = set()
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _ListingHandler)
    _ListingHandler.base = f"http://127.0.0.1:{srv.server_address[1]}"
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield _ListingHandler.base
    srv.shutdown()


def test_http_paged_listing_full_manifest(spark, listing_base):
    _register(spark)
    rows = {
        (r["rel_path"], r["size"], r["download_url"])
        for r in spark.read.format("graph_manifest")
        .load(f"{listing_base}/list/root")
        .collect()
    }
    assert rows == {
        ("a.bin", 11, "http://x/a"),
        ("b.bin", 22, "http://x/b"),
        ("c.bin", 33, "http://x/c"),
        ("docs/d.txt", 44, "http://x/d"),
        ("docs/e.txt", 55, "http://x/e"),
        ("docs/f.txt", 66, "http://x/f"),
    }
    # pagination was REAL: both directories were fetched page by page
    assert ("/list/root", 2) in _ListingHandler.hits
    assert ("/list/docs", 2) in _ListingHandler.hits


def test_http_mode_fetches_each_page_once(spark, listing_base):
    _register(spark)
    rows = spark.read.format("graph_manifest").load(f"{listing_base}/list/root").collect()
    assert len(rows) == 6
    assert sorted(_ListingHandler.hits) == [
        ("/list/docs", 0), ("/list/docs", 2), ("/list/root", 0), ("/list/root", 2)
    ]


def _walk_http(base, root):
    reader = GraphManifestReader({"path": f"{base}{root}"})
    return sorted((r[2], r[4]) for p in reader.partitions() for r in reader.read(p))


def test_http_walk_skips_visited_folders(listing_base):
    assert _walk_http(listing_base, "/list/loop") == [("g.bin", 7), ("sub/h.bin", 8)]
    assert sorted(_ListingHandler.hits) == [("/list/loop", 0), ("/list/loop", 2), ("/list/loop/sub", 0)]


def test_http_walk_raises_past_max_depth(listing_base):
    with pytest.raises(RuntimeError, match="max_depth=64"):
        _walk_http(listing_base, "/list/deep/0")
    assert len(_ListingHandler.hits) == 65


def test_http_throttled_page_is_retried(listing_base):
    _ListingHandler.throttle = {("/list/docs", 2)}
    assert len(_walk_http(listing_base, "/list/root")) == 6
    assert not _ListingHandler.throttle  # the 429 was really served
    assert _ListingHandler.hits.count(("/list/docs", 2)) == 1


def test_http_mode_pushdown_filters_at_source(spark, listing_base):
    _register(spark)
    df = (
        spark.read.format("graph_manifest")
        .option("pushdown", "true")
        .load(f"{listing_base}/list/root")
        .where((F.col("size") > 20) & F.col("name").startswith("d"))
    )
    got = [(r["rel_path"], r["size"]) for r in df.collect()]
    assert got == [("docs/d.txt", 44)]
