"""The workloads: their seeded inputs, their items, and each item's
reference output.

An item is one unit of the closed loop. `construct` builds its output
through the engine's public entry point (a registry query callable or
`runner.run_job`), `execute` runs it to completion and returns what it
produced, and `check` compares that output with an independent
reference, outside the timed region.
"""

from __future__ import annotations

import glob
import math
import os

import gen

# ------------------------------------------------------------- compare


def _canon(v):
    """One value under the oracle checks' canonical compare: floats rounded
    to 6 places (engines differ in the last bits of double sums)."""
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6) + 0.0
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if hasattr(v, "asDict"):
        return tuple(_canon(x) for x in v)
    return v


def canonical(cols: list[str], rows) -> list[tuple]:
    """Rows with columns in name order and values canonical, sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_canon(r[i]) for i in order) for r in rows),
                  key=repr)


def same_rows(name: str, got_cols, got, want_cols, want) -> int:
    """Raise unless both sides hold the same rows; returns the count."""
    if sorted(got_cols) != sorted(want_cols):
        raise AssertionError(f"{name}: columns {sorted(got_cols)} vs "
                             f"{sorted(want_cols)}")
    g, w = canonical(got_cols, got), canonical(want_cols, want)
    if g != w:
        raise AssertionError(f"{name}: {len(g)} rows differ from the "
                             f"reference's {len(w)}")
    return len(g)


def oracle_sql(name: str) -> str:
    """The item's DuckDB oracle from its registry module."""
    from mapreduce_go_spark import registry

    for mod in registry._load_modules():
        if name in getattr(mod, "ORACLES", {}):
            return mod.ORACLES[name]
    raise KeyError(f"{name} has no oracle")


def duck(data_dir: str):
    """A DuckDB connection with a view per parquet file of data_dir."""
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(data_dir, f)}'")
    return con


# ------------------------------------------------------------------ items


class QueryItem:
    """A registry query, executed by collecting its rows into the
    driver, as an interactive user gets them; checked against its
    DuckDB oracle."""

    #: the construction returns a plan whose Catalyst phases can be read
    plans = True

    def __init__(self, name: str):
        self.name = name

    def construct(self, ctx, out_dir: str):
        return ctx.queries[self.name](ctx.spark, ctx.data_dir)

    def execute(self, df):
        return df, df.collect()

    def check(self, ctx, out_dir: str, out) -> int:
        df, rows = out
        rel = ctx.duck().sql(oracle_sql(self.name))
        return same_rows(self.name, df.columns, rows,
                         [d[0] for d in rel.description], rel.fetchall())

    def reference_rows(self, con, data_dir: str) -> int:
        """Rows of the item's reference output over the inputs (con: a
        DuckDB connection over data_dir)."""
        return len(con.sql(oracle_sql(self.name)).fetchall())


class MRItem(QueryItem):
    """`runner.run_job` with the reference's word-count app, writing
    mr-out shards; the job runs inside run_job, so its construction is
    its execution. Checked against `runner.run_sequential`, the
    reference's mrsequential."""

    plans = False

    def construct(self, ctx, out_dir: str):
        from mapreduce_go_spark import runner

        return runner.run_job(
            ctx.spark, runner.corpus_from_documents(ctx.spark, ctx.data_dir),
            runner.wc_map, runner.wc_reduce,
            out_dir=os.path.join(out_dir, self.name))

    def execute(self, df) -> None:
        return None

    @staticmethod
    def reference_lines(data_dir: str) -> list[str]:
        """mr-out lines of run_sequential over the documents."""
        import pyarrow.parquet as pq

        from mapreduce_go_spark import runner

        docs = pq.read_table(os.path.join(data_dir, "documents.parquet"),
                             columns=["source", "text"]).to_pylist()
        return [f"{k} {v}" for k, v in runner.run_sequential(
            [(d["source"], d["text"]) for d in docs],
            runner.wc_map, runner.wc_reduce)]

    def check(self, ctx, out_dir: str, out) -> int:
        got = []
        for part in glob.glob(os.path.join(out_dir, self.name, "part-*")):
            with open(part, encoding="utf-8") as fh:
                got.extend(fh.read().splitlines())
        return same_rows(self.name, ["line"], [(x,) for x in got], ["line"],
                         [(x,) for x in self.reference_lines(ctx.data_dir)])

    def reference_rows(self, con, data_dir: str) -> int:
        return len(self.reference_lines(data_dir))


# -------------------------------------------------------------- workloads


class Workload:
    def __init__(self, name: str, inputs: dict, items: list):
        self.name, self.inputs, self.items = name, inputs, items

    def make_inputs(self, data_dir: str, seed: int) -> dict:
        """Write this workload's inputs; returns their sizes."""
        if "sf" in self.inputs:
            return gen.write_tables(data_dir, seed, self.inputs["sf"])
        return gen.write_corpus(data_dir, seed, self.inputs["docs"])


TPCH_ITEMS = ("pricing_summary", "q6_forecast_revenue",
              "local_supplier_volume", "q13_order_count_distribution",
              "q18_large_orders", "q21_waiting_orders", "window_rank",
              "global_sort")
CORPUS_ITEMS = ("dedup_minhash_pairs_capped", "repetition_stats",
                "symspell_typo_pairs")

WORKLOADS = {w.name: w for w in [
    Workload("tpch", {"sf": 0.01}, [QueryItem(n) for n in TPCH_ITEMS]),
    Workload("corpus", {"docs": 200},
             [MRItem("wc"), *(QueryItem(n) for n in CORPUS_ITEMS)]),
]}
