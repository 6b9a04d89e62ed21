"""13 of the headline queries (bench.py's set without the copy probe):
six relational ones that run without Python workers, and seven dedup /
similarity / text ones whose kernels run in Python workers and share
memos within a pass (q27/q28 reuse q26's shingles).

Four headline queries are left out because their results differ from the
DuckDB oracle on a share of seeded inputs, so a run on such a seed could
not report correct outputs: q02, q03 and q13 round a revenue sum that the
Spark plan adds in another order than the oracle (a sum that lies halfway
between two cents rounds to opposite sides; q02 on 8 of 60 seeds, q03 on
3 of 60, q13 on seed 1), and q31's ``lsh_recall_ok`` flag is 0 when the
LSH recall on the seeded embeddings falls under its 20% bound (7 of 41
seeds). perfbench/README.md lists them as open defects.

Every pass is memo-cold: the session's memos key on the data directory, so
each pass reads its own hard-linked copy of the inputs and finds them
empty. Cached DataFrames are released between passes. Each query's result is
collected inside the timed pass, then compared outside it with the DuckDB
oracle over the same parquet, by ``scripts/check_oracle.py``'s hash.
The oracle answers are computed in a background thread from the start.
"""

from __future__ import annotations

import os
import threading

from harness import Result

RELATIONAL = [
    "q01_pricing_summary", "q06_top3_orders_per_customer", "q14_purchase_prior_event",
    "q36_purchases_near_errors", "q39_price_percentiles", "q48_rolling_7day_revenue",
]
LLM = [
    "q22_exact_dedup", "q26_minhash_lsh_pairs", "q27_ngram_jaccard_pairs", "q28_simhash_buckets",
    "q30_cosine_topk", "q45_doc_zscores", "q153_exact_substring_dup",
]
# operators module of each builder, for the per-module build time
MODULE = {
    **{q: "relational" for q in RELATIONAL}, "q14_purchase_prior_event": "asof",
    "q36_purchases_near_errors": "rangejoin", "q26_minhash_lsh_pairs": "dedup",
    "q27_ngram_jaccard_pairs": "dedup", "q28_simhash_buckets": "dedup", "q22_exact_dedup": "text",
    "q45_doc_zscores": "text", "q153_exact_substring_dup": "contamination",
    "q30_cosine_topk": "similarity",
}


def link_copy(src: str, dst: str) -> str:
    """A new directory path holding the same parquet files (hard links)."""
    os.makedirs(dst)
    for name in os.listdir(src):
        os.link(os.path.join(src, name), os.path.join(dst, name))
    return dst


class QueryPass:
    def __init__(self, ctx):
        from copy_sharepoint_to_onelake_lakehousefiles_spark import all_oracles, all_queries

        self.ctx, self.t = ctx, ctx.tracer
        self.queries = all_queries()
        self.oracles = all_oracles()

    def run(self, spark, data_dir: str, layers: dict[str, float] | None):
        """One memo-cold pass; returns ({query: (columns, rows)}, relational
        seconds, LLM seconds). With ``layers``, each query is traced: builder
        time, wall time and Spark's operator metrics are added to it."""
        from copy_sharepoint_to_onelake_lakehousefiles_spark import registry

        reader = None
        if layers is not None:
            from sqlmetrics import StatusStoreReader

            reader = StatusStoreReader(spark)
        registry.release_caches(0)
        out, walls = {}, {}
        for q in RELATIONAL + LLM:
            since = reader.last_execution_id() if reader else 0
            with self.t.span(f"query.{q}") as s:
                with self.t.span(f"{MODULE[q]}.build") as b:
                    df = self.queries[q](spark, data_dir)
                rows = [tuple(r) for r in df.collect()]
            out[q] = (list(df.columns), rows)
            walls[q] = s["end"] - s["start"]
            if reader is not None:
                short = q.split("_", 1)[0]
                layers[f"query.{short}_s"] = walls[q]
                key = f"{MODULE[q]}.build_s"
                layers[key] = layers.get(key, 0.0) + (b["end"] - b["start"])
                m = reader.collect(since)
                prefix = "tpch." if q in RELATIONAL else "llm."
                for k, v in m.items():
                    if not k.startswith("max_") and ":" not in k:
                        layers[prefix + k] = layers.get(prefix + k, 0.0) + v
                if q == "q30_cosine_topk":
                    layers["similarity.candidate_rows"] = m["max_join_rows"]
                    layers["similarity.result_rows"] = len(rows)
                if q in ("q26_minhash_lsh_pairs", "q27_ngram_jaccard_pairs"):
                    layers["dedup.candidate_pairs"] = layers.get("dedup.candidate_pairs", 0.0) + m["max_hashagg_rows_in"]
                    layers["dedup.result_pairs"] = layers.get("dedup.result_pairs", 0.0) + len(rows)
        rel = sum(walls[q] for q in RELATIONAL)
        return out, rel, sum(walls.values()) - rel

    def start_oracles(self, data_dir: str) -> None:
        """Compute every oracle answer with DuckDB (one thread) in the
        background; inputs are fixed from the start and some oracles take
        seconds, so they run while the session starts."""
        self._oracle_out: dict = {}
        self._oracle_thread = threading.Thread(target=self._oracles, args=(data_dir,), name="oracles")
        self._oracle_thread.start()

    def _oracles(self, data_dir: str) -> None:
        import duckdb

        from copy_sharepoint_to_onelake_lakehousefiles_spark.tables import TABLE_NAMES

        con = duckdb.connect()
        try:
            con.execute("SET threads=1")
            for t in TABLE_NAMES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
            for q in RELATIONAL + LLM:
                rel = con.sql(self.oracles[q])
                self._oracle_out[q] = (list(rel.columns), rel.fetchall())
        finally:
            con.close()

    def wait_oracles(self) -> None:
        """Called before the timed phases, so DuckDB never competes with them."""
        self._oracle_thread.join()

    def check(self, res: Result, results: dict) -> None:
        """Each result against its DuckDB oracle, by ``check_oracle``'s
        column set, row count and canonical hash."""
        from check_oracle import table_hash

        for q, (cols, rows) in results.items():
            ocols, orows = self._oracle_out.get(q, ([], []))
            ok = (q in self._oracle_out and sorted(cols) == sorted(ocols) and len(rows) == len(orows)
                  and table_hash(cols, rows) == table_hash(ocols, orows))
            res.check(ok, f"{q}: result equals the DuckDB oracle ({len(rows)} vs {len(orows)} rows)")
