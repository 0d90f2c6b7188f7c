"""`analytics` workload: the headline registry queries over seeded tables.

The 30 query names are pinned here (they are `bench.py`'s headline set).
Set-up generates the tables (`sf_gen`) and registers them as views.  The
timed window runs every query once, in a fresh process, so each time
includes the query's code generation and first-run JIT work, as a CLI
`query` invocation pays it.  (On a 4-core box a warm pass costs another
12-16 s per run and its sum moved by 25% between two runs, where the
first pass moved by 5%; the run budget has no room for the several warm
passes a steady warm figure needs.)  Each query is `Query.build`
(driver-side plan construction) followed by `count()`, timed apart.

Check: each oracle-backed query's row count equals its DuckDB oracle's on
the same files; the others must return rows.
"""

from __future__ import annotations

import os

from tagmarshal_data_lakehouse_spark.queries import load_views, registry

from . import sf_gen

HEADLINE = [
    "agg_pricing_summary", "agg_global", "agg_percentile", "join_multiway",
    "join_broadcast", "join_range_broadcast", "window_dedup", "window_topn",
    "events_sessionize", "events_tumbling_window", "doc_dedup_exact",
    "doc_incremental_dedup", "doc_curation_pipeline", "doc_chunk_windows",
    "doc_token_stats", "doc_minhash_near_dups", "emb_cosine_topk_lsh",
    "events_asof_join", "doc_train_split", "tpch_q3", "tpch_q5", "tpch_q6",
    "tpch_q18", "events_hll_rollup", "doc_tf_cosine_pairs", "doc_corpus_keywords",
    "doc_weighted_sample", "emb_hard_negatives_lsh", "events_interval_join",
    "emb_cosine_topk_gemm",
]
SF = {"full": 0.01, "smoke": 0.001}


def family(name: str) -> str:
    for prefix in ("tpch", "events", "doc", "emb"):
        if name.startswith(prefix + "_"):
            return prefix
    return "relational"


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.sf = SF["smoke" if ctx.smoke else "full"]
        self.failures: list[str] = []

    def setup(self) -> None:
        ctx = self.ctx
        self.input_dir = ctx.path("sf")
        with ctx.tracer.span("setup.generate"):
            self.rows = sf_gen.generate(self.input_dir, ctx.seed, self.sf)
        with ctx.tracer.span("setup.load_views"):
            load_views(ctx.spark, self.input_dir)
        self.registry = registry()

    def run(self) -> None:
        spark, tr = self.ctx.spark, self.ctx.tracer
        self.results: dict[str, tuple[int, float]] = {}
        for name in HEADLINE:
            q = self.registry[name]
            with tr.span("query", cpu=True):
                with tr.span("queries.build") as b:
                    df = q.build(spark, self.input_dir)
                with tr.span("queries.exec") as e:
                    n = df.count()
            self.results[name] = (n, b.duration + e.duration)

    def check(self) -> tuple[int, int]:
        """(attempted, failed): one per query."""
        import duckdb

        con = duckdb.connect()
        for t in self.rows:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.input_dir, t)}.parquet'"
            )
        for name in HEADLINE:
            oracle = self.registry[name].oracle
            got = self.results[name][0]
            if oracle is None:
                if got == 0:
                    self.failures.append(f"{name}: no rows")
                continue
            want = con.execute(f"SELECT count(*) FROM ({oracle})").fetchone()[0]
            if got != want:
                self.failures.append(f"{name}: {got} rows != oracle {want}")
        return len(HEADLINE), len(self.failures)

    def wall_metrics(self) -> dict:
        return {"headline_cold_s": (sum(self.results[n][1] for n in HEADLINE), "s")}

    def op_detail(self) -> list:
        return self.ctx.tracer.ops("query")

    def per_layer(self) -> dict:
        tr = self.ctx.tracer
        layer = {
            "queries.build_s": tr.total("queries.build"),
            "queries.exec_s": tr.total("queries.exec"),
        }
        for name in HEADLINE:
            t = self.results[name][1]
            layer[f"q.{name}_s"] = t
            key = f"family.{family(name)}_s"
            layer[key] = layer.get(key, 0.0) + t
        return layer

    def input_size(self) -> dict:
        return {"sf": self.sf, "rows": self.rows}
