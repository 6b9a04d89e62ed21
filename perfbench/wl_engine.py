"""engine: the query and table layers on seeded star-schema inputs.

phase_b_s is the Delta and Iceberg write and read sequence (wl_tables),
run once, as the session's first use of the table layers, the way a
scheduled maintenance job meets them. phase_a_s is a memo-cold pass of the
17 headline queries (wl_queries), repeated until the run's seconds are up;
its median is reported.
"""

from __future__ import annotations

import shutil
import time

import datagen
from harness import Context, Result, median
from wl_queries import QueryPass, link_copy
from wl_tables import TableOps, make_inputs

QUERY_SF = 0.003
TABLE_ROWS = 2_000


def run(ctx: Context, res: Result) -> None:
    tiny = datagen.generate_tables(ctx.path("tiny"), 0.001, ctx.seed + 1)
    data = datagen.generate_tables(ctx.path("data"), QUERY_SF, ctx.seed)
    inputs = make_inputs(ctx.path("table_inputs"), TABLE_ROWS, ctx.seed)
    qp, ops = QueryPass(ctx), TableOps(ctx)
    qp.start_oracles(data)
    ctx.set_up(tiny)
    spark = ctx.spark
    ops.register(spark)
    qp.wait_oracles()
    layer_samples: dict[str, list[float]] = {}

    def sample(values: dict) -> None:
        for k, v in values.items():
            layer_samples.setdefault(k, []).append(v)

    # the table sequence runs once, as the session's first use of those layers
    root = ctx.path("tables")
    t0 = time.perf_counter()
    write_s, read_s, spans, tables, bounds = ops.run(spark, inputs, root)
    res.phase_b.append(time.perf_counter() - t0)
    ops.check(res, inputs, tables)
    sample({"tables.write_s": write_s, "tables.read_s": read_s})
    if ctx.trace:
        sample({_layer_name(k, len(v)): median(v) for k, v in spans.items()})
        sample(ops.traced_extras(inputs, tables, bounds))
    shutil.rmtree(root, ignore_errors=True)

    t_end = time.perf_counter() + ctx.seconds
    i = 0
    while i == 0 or time.perf_counter() < t_end:
        layers: dict[str, float] | None = {} if ctx.trace else None
        pass_dir = link_copy(data, ctx.path(f"pass_{i}"))
        t0 = time.perf_counter()
        results, rel_s, llm_s = qp.run(spark, pass_dir, layers)
        res.phase_a.append(time.perf_counter() - t0)
        qp.check(res, results)
        sample({"queries.relational_pass_s": rel_s, "queries.llm_pass_s": llm_s, **(layers or {})})
        if ctx.trace:
            sample({"cache.persisted_bytes": _persisted_bytes(spark)})
        i += 1
    res.layers.update({k: median(v) for k, v in layer_samples.items()})


def _layer_name(span: str, n: int) -> str:
    """Span name -> metric name; repeated ops report their median."""
    if span.endswith("batches"):
        return span
    return f"{span}_p50_s" if n > 1 else f"{span}_s"


def _persisted_bytes(spark) -> float:
    """Bytes the session's block manager holds for cached data now."""
    status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
    it = status.iterator()
    used = 0
    while it.hasNext():
        kv = it.next()
        used += kv._2()._1() - kv._2()._2()
    return float(used)
