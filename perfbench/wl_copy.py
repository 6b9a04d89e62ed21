"""sharepoint_copy: the paper's job. A full copy of a seeded drive from
the loopback Graph service into an empty destination, verified; then the
drive changes (new, changed and deleted files) and a resync copies what
``plan_sync`` says is new or changed, and verifies it.

phase_a_s is the full copy: graph_manifest load -> plan_copy ->
execute_copy -> verify_copy. phase_b_s is the resync: graph_manifest load
and the destination listing -> plan_sync -> execute_copy of new+changed ->
verify_copy.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

from graph_service import CLIENT_ID, CLIENT_SECRET, GraphService, GraphTree
from harness import Context, Result, median
from sqlmetrics import StatusStoreReader

N_FILES, N_FOLDERS = 300, 20


def _source(spark, svc: GraphService):
    return (spark.read.format("graph_manifest")
            .option("auth_token_url", f"{svc.base}/token")
            .option("auth_client_id", CLIENT_ID)
            .option("auth_client_secret", CLIENT_SECRET)
            .load(svc.root_url()))


def _dest_md5s(dest: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(dest):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, dest)] = hashlib.md5(fh.read()).hexdigest()
    return out


class CopyRun:
    def __init__(self, ctx: Context, res: Result):
        from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.auth import ClientCredentialsTokenProvider
        from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.graph_datasource import GraphManifestDataSource

        self.ctx, self.res, self.t = ctx, res, ctx.tracer
        self._ds = GraphManifestDataSource
        self._auth = ClientCredentialsTokenProvider
        self.layer_samples: dict[str, list[float]] = {}

    def auth(self, svc: GraphService):
        return self._auth(f"{svc.base}/token", CLIENT_ID, CLIENT_SECRET)

    def register(self, spark) -> None:
        spark.dataSource.register(self._ds)

    def sample(self, name: str, value: float) -> None:
        self.layer_samples.setdefault(name, []).append(value)

    # ------------------------------------------------------------ one copy
    def full_copy(self, spark, svc: GraphService, dest: str):
        """Returns (result rows, verify rows); traced runs split the plan."""
        from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.copy_plan import (
            execute_copy, plan_copy, verify_copy)

        manifest = _source(spark, svc)
        if self.ctx.trace:
            manifest = manifest.persist()
            with self.t.span("graph_datasource.enumerate") as s:
                manifest.count()
            self.sample("graph_datasource.enumerate_s", s["end"] - s["start"])
            self.sample("graph_datasource.list_requests", svc.counters()["list"])
        todo = plan_copy(manifest, None)
        result = execute_copy(todo, dest, auth=self.auth(svc)).persist()
        with self.t.span("copy_plan.fetch_write") as s:
            rows = result.collect()
        with self.t.span("copy_plan.verify") as v:
            ver = verify_copy(spark, result, dest).groupBy("verify_status").count().collect()
        result.unpersist()
        if self.ctx.trace:
            manifest.unpersist()
            self.sample("copy_plan.fetch_write_s", s["end"] - s["start"])
            self.sample("copy_plan.verify_s", v["end"] - v["start"])
        return rows, {r["verify_status"]: r["count"] for r in ver}

    def resync(self, spark, svc: GraphService, dest: str):
        from pyspark.sql import functions as F

        from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.copy_plan import (
            execute_copy, plan_sync, verify_copy)
        from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.manifest import manifest_from_local_dir

        manifest = _source(spark, svc)
        if self.ctx.trace:
            manifest = manifest.persist()
            with self.t.span("graph_datasource.enumerate") as s:
                manifest.count()
            self.sample("graph_datasource.resync_enumerate_s", s["end"] - s["start"])
        plan = plan_sync(manifest, manifest_from_local_dir(spark, dest)).persist()
        with self.t.span("copy_plan.plan") as p:
            counts = {r["action"]: r["count"] for r in plan.groupBy("action").count().collect()}
        todo = plan.where(F.col("action").isin("new", "changed"))
        result = execute_copy(todo, dest, auth=self.auth(svc)).persist()
        with self.t.span("copy_plan.fetch_write"):
            rows = result.collect()
        with self.t.span("copy_plan.verify"):
            ver = verify_copy(spark, result, dest).groupBy("verify_status").count().collect()
        result.unpersist()
        plan.unpersist()
        if self.ctx.trace:
            manifest.unpersist()
            self.sample("copy_plan.plan_s", p["end"] - p["start"])
        return counts, rows, {r["verify_status"]: r["count"] for r in ver}

    # ------------------------------------------------------------ checks
    def check_full(self, tree: GraphTree, rows, ver, dest: str) -> None:
        res = self.res
        n = len(tree.files)
        res.check(len(rows) == n and all(r["status"] == "ok" for r in rows), "full copy: every file ok", n)
        res.check(ver == {"verified": n}, f"full copy: verify_copy all verified ({ver})")
        want = {tree.rel_path(fid): f.md5 for fid, f in tree.files.items()}
        res.check(_dest_md5s(dest) == want, "full copy: dest md5 equals source md5", n)

    def check_resync(self, tree: GraphTree, mutation, counts, rows, ver, dest: str) -> None:
        res = self.res
        want_counts = {k: len(v) for k, v in mutation.items()}
        got = {k: counts.get(k, 0) for k in want_counts}
        res.check(got == want_counts, f"plan_sync counts {got} equal the mutation {want_counts}")
        n = want_counts["new"] + want_counts["changed"]
        res.check(len(rows) == n and all(r["status"] == "ok" for r in rows), "resync: every file ok", max(n, 1))
        res.check(ver == {"verified": n}, f"resync: verify_copy all verified ({ver})")
        have = _dest_md5s(dest)
        want = {tree.rel_path(fid): f.md5 for fid, f in tree.files.items()}
        res.check(all(have.get(k) == v for k, v in want.items()), "resync: dest md5 equals source md5", len(want))


def run(ctx: Context, res: Result) -> None:
    import datagen

    cr = CopyRun(ctx, res)
    tiny = datagen.generate_tables(ctx.path("tiny"), 0.001, ctx.seed + 1)
    tree = GraphTree.generate(ctx.seed, N_FILES, N_FOLDERS)
    svc = GraphService(tree, ctx.cores)
    try:
        ctx.set_up(tiny)
        spark = ctx.spark
        cr.register(spark)
        reader = StatusStoreReader(spark)
        t_end = time.perf_counter() + ctx.seconds
        i = 0
        while i == 0 or time.perf_counter() < t_end:
            dest = ctx.path(f"dest_{i}")
            svc.reset_counters()
            since = reader.last_execution_id() if ctx.trace else 0
            t0 = time.perf_counter()
            rows, ver = cr.full_copy(spark, svc, dest)
            res.phase_a.append(time.perf_counter() - t0)
            if ctx.trace:
                cr.sample("copy_plan.python_worker_ms", reader.collect(since).get("python_udf.ms:MapInPandas", 0.0))
            c = svc.counters()
            nbytes = sum(r["bytes"] for r in rows)
            cr.sample("graph_datasource.list_requests_total", c["list"])
            cr.sample("graph_datasource.list_requests_per_page", c["list"] / max(c["distinct_pages"], 1))
            cr.sample("auth.token_requests", c["token"])
            cr.sample("copy_plan.download_requests_per_file", c["download"] / max(len(rows), 1))
            cr.sample("fixture.server_busy_frac", c["busy_s"] / (res.phase_a[-1] * ctx.cores))
            if "copy_plan.fetch_write_s" in cr.layer_samples:
                cr.sample("copy_plan.bytes_per_s", nbytes / cr.layer_samples["copy_plan.fetch_write_s"][-1])
            cr.check_full(tree, rows, ver, dest)

            mutation = tree.mutate()
            svc.render()
            user_bytes = sum(len(tree.files[fid].body) for fid in tree.files
                             if tree.rel_path(fid) in mutation["new"] | mutation["changed"])
            svc.reset_counters()
            t0 = time.perf_counter()
            counts, rows2, ver2 = cr.resync(spark, svc, dest)
            res.phase_b.append(time.perf_counter() - t0)
            cr.sample("copy_plan.todo_rows", len(rows2))
            cr.sample("copy_plan.bytes_written_per_user_byte", sum(r["bytes"] for r in rows2) / max(user_bytes, 1))
            cr.sample("graph_datasource.resync_list_requests", svc.counters()["list"])
            cr.check_resync(tree, mutation, counts, rows2, ver2, dest)
            shutil.rmtree(dest, ignore_errors=True)
            i += 1
        res.layers.update({k: median(v) for k, v in cr.layer_samples.items()})
    finally:
        svc.close()

