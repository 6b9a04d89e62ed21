"""Delta and Iceberg tables over lineitem rows, written and read through
the package's own table layers (``plans.deltalog``, ``plans.iceberg``) and
the ``delta_cdc`` stream source.

Writes: create from 8 key-ranged files (Delta also clusters by the key),
2 small appends, a MERGE of 5% of the keys (plus new keys), a
deletion-vector DELETE of ~14% of the rows (Delta only) and a compaction
into 4 files. Reads: a key-bounded read (1/10 of the key
range), a full read, the change feed over every version (Delta) and an
``availableNow`` drain of the ``delta_cdc`` stream (Delta). Reads go to the
noop sink. The final state of each table is compared, by row count and
``check_oracle``'s canonical hash, with the same operations done in pyarrow.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

from harness import Result, noop

N_APPENDS = 2
DELETE_QUANTITY = 43
DELETE_PREDICATE = f"l_quantity > {DELETE_QUANTITY}"  # 7 of 50 quantities: ~14% of the rows


def make_inputs(out_dir: str, n_rows: int, seed: int) -> dict[str, str]:
    """Base rows, the appends and the MERGE updates as parquet files."""
    import pyarrow as pa

    from datagen import lineitem_table

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_orders = max(n_rows // 4, 1)

    def keyed(t: pa.Table, first_key: int) -> pa.Table:
        return t.append_column("l_key", pa.array(np.arange(first_key, first_key + t.num_rows), pa.int64()))

    paths = {}
    base = keyed(lineitem_table(rng, n_rows, n_orders, 2000, 100), 0)
    pq.write_table(base, paths.setdefault("base", os.path.join(out_dir, "base.parquet")))
    n_app = max(n_rows // 1000, 5)
    for i in range(N_APPENDS):
        t = keyed(lineitem_table(rng, n_app, n_orders, 2000, 100), n_rows + i * n_app)
        pq.write_table(t, paths.setdefault(f"append{i}", os.path.join(out_dir, f"append{i}.parquet")))
    n_live = n_rows + N_APPENDS * n_app
    upd_keys = np.sort(rng.choice(n_live, n_live // 20, replace=False))
    new_keys = np.arange(n_live, n_live + n_live // 200)
    upd = lineitem_table(rng, len(upd_keys) + len(new_keys), n_orders, 2000, 100)
    upd = upd.append_column("l_key", pa.array(np.concatenate([upd_keys, new_keys]), pa.int64()))
    pq.write_table(upd, paths.setdefault("updates", os.path.join(out_dir, "updates.parquet")))
    return paths


def table_digest(cols: list[str], rows) -> tuple[int, str]:
    """(row count, ``check_oracle``'s canonical order-insensitive hash)."""
    from check_oracle import table_hash

    return len(rows), table_hash(cols, [tuple(r) for r in rows])


def expected_state(inputs: dict[str, str], delete: bool) -> tuple[list[str], list[tuple]]:
    """The table's final rows by plain pyarrow ops: base and appends, the
    updates upserted by key, then (for Delta) the delete."""
    import pyarrow as pa
    import pyarrow.compute as pc

    live = pa.concat_tables([pq.read_table(inputs["base"])] +
                            [pq.read_table(inputs[f"append{i}"]) for i in range(N_APPENDS)])
    upd = pq.read_table(inputs["updates"])
    kept = live.filter(pc.invert(pc.is_in(live["l_key"], value_set=upd["l_key"])))
    out = pa.concat_tables([kept, upd])
    if delete:
        out = out.filter(pc.invert(pc.greater(out["l_quantity"], DELETE_QUANTITY)))
    return out.column_names, [tuple(r.values()) for r in out.to_pylist()]


def _dir_bytes(root: str, sub: str | None = None) -> int:
    top = os.path.join(root, sub) if sub else root
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(top) for f in fs)


class TableOps:
    def __init__(self, ctx):
        from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.deltalog import DeltaTable
        from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import IcebergTable
        from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.delta_stream_source import DeltaCdcDataSource

        self.ctx, self.t = ctx, ctx.tracer
        self.Delta, self.Iceberg, self.cdc = DeltaTable, IcebergTable, DeltaCdcDataSource

    def register(self, spark) -> None:
        spark.dataSource.register(self.cdc)

    def _timed(self, layers: dict, name: str, fn):
        with self.t.span(name) as s:
            out = fn()
        layers.setdefault(name, []).append(s["end"] - s["start"])
        return out

    def run(self, spark, inputs: dict[str, str], root: str):
        """All ops on both formats under ``root``; returns (write seconds,
        read seconds, {span name: [seconds]}, (delta table, iceberg table))."""
        from pyspark.sql import functions as F

        read = lambda k: spark.read.parquet(inputs[k])  # noqa: E731
        base = read("base").repartitionByRange(8, "l_key")
        lo, hi = 0, max(pq.ParquetFile(inputs["base"]).metadata.num_rows // 10, 1)
        layers: dict[str, list[float]] = {}
        w0 = time.perf_counter()
        d = self._timed(layers, "deltalog.create", lambda: self._create_delta(spark, os.path.join(root, "delta"), base))
        for i in range(N_APPENDS):
            self._timed(layers, "deltalog.append", lambda: d.append(read(f"append{i}")))
        self._timed(layers, "deltalog.merge", lambda: d.merge(read("updates"), "l_key"))
        self._timed(layers, "deltalog.delete_dv", lambda: d.delete_vectors(DELETE_PREDICATE))
        self._timed(layers, "deltalog.compact", lambda: d.compact(target_files=4))
        ice = self._timed(layers, "iceberg.create",
                          lambda: self.Iceberg.create(spark, os.path.join(root, "iceberg"), base))
        for i in range(N_APPENDS):
            self._timed(layers, "iceberg.append", lambda: ice.append(read(f"append{i}")))
        self._timed(layers, "iceberg.merge", lambda: ice.merge_cow(read("updates"), "l_key"))
        self._timed(layers, "iceberg.compact", lambda: ice.rewrite_data_files(target_files=4))
        write_s = time.perf_counter() - w0

        bounds = {"l_key": (lo, hi)}
        in_range = F.col("l_key").between(lo, hi)
        r0 = time.perf_counter()
        self._timed(layers, "deltalog.read_bounded", lambda: noop(d.read(bounds=bounds).where(in_range)))
        self._timed(layers, "deltalog.read_full", lambda: noop(d.read()))
        self._timed(layers, "deltalog.changes", lambda: noop(d.table_changes(0, d.latest_version())))
        batches = self._timed(layers, "delta_stream_source.drain", lambda: self._drain(spark, d.root, root))
        self._timed(layers, "iceberg.read_bounded", lambda: noop(ice.read(bounds=bounds).where(in_range)))
        self._timed(layers, "iceberg.read_full", lambda: noop(ice.read()))
        read_s = time.perf_counter() - r0
        layers["delta_stream_source.batches"] = [batches]
        return write_s, read_s, layers, (d, ice), bounds

    def _create_delta(self, spark, root: str, df):
        """CREATE, then cluster by the key, so compaction range-clusters the
        files and a key-bounded read can skip most of them."""
        t = self.Delta.create(spark, root, df)
        t.set_clustering_columns(["l_key"])
        return t

    def _drain(self, spark, table_root: str, root: str) -> int:
        q = (spark.readStream.format("delta_cdc").load(table_root)
             .writeStream.format("noop").option("checkpointLocation", os.path.join(root, "cdc_ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return sum(1 for p in q.recentProgress if p["numInputRows"] > 0)

    def check(self, res: Result, inputs: dict[str, str], tables) -> None:
        """Final Delta and Iceberg states against the same ops in pyarrow."""
        d, ice = tables
        for fmt, table, delete in (("delta", d, True), ("iceberg", ice, False)):
            cols, rows = expected_state(inputs, delete)
            want = table_digest(cols, rows)
            got = table_digest(cols, table.read().select(*cols).collect())
            res.check(got == want, f"{fmt} final state {got} equals plain ops {want}")

    def traced_extras(self, inputs: dict[str, str], tables, bounds) -> dict[str, float]:
        """Pruning and write amplification of the finished tables."""
        d, ice = tables
        user = sum(os.path.getsize(p) for p in inputs.values())
        return {
            "deltalog.files_read_frac": len(d.files(bounds=bounds)) / max(len(d.files()), 1),
            "deltalog.log_bytes": _dir_bytes(d.root, "_delta_log"),
            "deltalog.bytes_written_per_user_byte": _dir_bytes(d.root) / user,
            "iceberg.bytes_written_per_user_byte": _dir_bytes(ice.root) / user,
        }
