"""Manifest builders: recursive tree enumeration → a copy-manifest DataFrame.

The reference walks a SharePoint drive tree depth-first on the driver
(collect_files_recursive, NB:213-236) and pages children through
`@odata.nextLink` cursors (list_children_paged, NB:204-211), accumulating a
Python list of {id, name, rel_path, downloadUrl}.

Spark has no recursion operator (SURVEY.md §7 hard-list #2), so the engine
keeps ONE bounded driver-side loop — but per *frontier level*, not per item:
each iteration lists every directory in the current frontier and yields both
file rows and the next frontier. Level count = tree depth (small); item count
per level is unbounded and lives in lists only as directory names (files
stream straight into the manifest). For plain filesystems we instead defer to
Spark's own recursive file index (`binaryFile` + recursiveFileLookup), which
distributes the listing.

The manifest schema mirrors NB:230-235:
  (file_id, name, rel_path, download_url, size)
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("file_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("rel_path", T.StringType()),
        T.StructField("download_url", T.StringType()),
        T.StructField("size", T.LongType()),
    ]
)

# A "page" is the Graph-shaped listing document (FIXTURES.md B2):
# {"value": [driveItem...], "@odata.nextLink": url|None}
PageFetcher = Callable[[str], dict]

MAX_TREE_DEPTH = 64  # tree walks raise past this many levels: the cycle guard


def iter_pages(fetch: PageFetcher, first_url: str) -> Iterator[list[dict]]:
    """Cursor-paged scan (generalizes list_children_paged, NB:204-211)."""
    url: str | None = first_url
    while url:
        page = fetch(url)
        yield page.get("value", [])
        url = page.get("@odata.nextLink")


def walk_tree(
    fetch: PageFetcher,
    root_url: str,
    child_url: Callable[[str], str],
    max_depth: int = MAX_TREE_DEPTH,
) -> Iterator[dict]:
    """Breadth-first frontier walk over a driveItem tree.

    Yields manifest row dicts for file facets; recurses into folder facets
    (facet test = key presence, NB:224/229 — items that are neither are
    dropped, matching the reference). Depth-bounded to guard against cycles.
    """
    frontier: list[tuple[str, str]] = [(root_url, "")]
    depth = 0
    while frontier:
        if depth > max_depth:
            raise RuntimeError(f"tree deeper than max_depth={max_depth}")
        next_frontier: list[tuple[str, str]] = []
        for url, base in frontier:
            for items in iter_pages(fetch, url):
                for it in items:
                    name = it.get("name", "")
                    rel = f"{base}/{name}" if base else name
                    if "folder" in it:
                        next_frontier.append((child_url(it["id"]), rel))
                    elif "file" in it:
                        yield {
                            "file_id": it.get("id"),
                            "name": name,
                            "rel_path": rel,
                            "download_url": it.get("@microsoft.graph.downloadUrl"),
                            "size": int(it.get("size", 0) or 0),
                        }
        frontier = next_frontier
        depth += 1


def manifest_from_tree(
    spark: SparkSession,
    fetch: PageFetcher,
    root_url: str,
    child_url: Callable[[str], str],
) -> DataFrame:
    """Materialize the walk into the copy-manifest DataFrame."""
    rows = list(walk_tree(fetch, root_url, child_url))
    return spark.createDataFrame(rows, MANIFEST_SCHEMA) if rows else spark.createDataFrame(
        [], MANIFEST_SCHEMA
    )


def manifest_from_local_dir(spark: SparkSession, root: str) -> DataFrame:
    """Filesystem flavor: Spark's own distributed recursive listing
    (binaryFile + recursiveFileLookup) — no driver walk at all. Only file
    STATUS is read here (content deferred; pathGlobFilter/pushdown apply)."""
    root = os.path.abspath(root)
    listing = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(root)
        .select("path", "length")
    )
    prefix = "file:" + root.rstrip("/") + "/"
    rel = F.replace(F.col("path"), F.lit(prefix), F.lit(""))
    return listing.select(
        F.md5("path").alias("file_id"),
        F.element_at(F.split(F.col("path"), "/"), -1).alias("name"),
        rel.alias("rel_path"),
        F.col("path").alias("download_url"),
        F.col("length").alias("size"),
    )


def local_fetcher(root: str) -> tuple[PageFetcher, str, Callable[[str], str]]:
    """Adapter exposing a local directory through the Graph page protocol —
    used by tests to exercise the cursor/facet path without a network."""
    root = os.path.abspath(root)

    def fetch(url: str) -> dict:
        d = url
        items = []
        for entry in sorted(os.scandir(d), key=lambda e: e.name):
            if entry.is_dir():
                items.append({"id": entry.path, "name": entry.name, "folder": {"childCount": 1}})
            else:
                st = entry.stat()
                items.append(
                    {
                        "id": entry.path,
                        "name": entry.name,
                        "file": {"mimeType": "application/octet-stream"},
                        "size": st.st_size,
                        "@microsoft.graph.downloadUrl": entry.path,
                    }
                )
        return {"value": items, "@odata.nextLink": None}

    return fetch, root, lambda item_id: item_id
