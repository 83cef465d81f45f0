"""The ``query_mix`` workload: a fixed, read-only list of registry
queries over the generated tables, run pass after pass.

Each operation is one query: the registry call (its fixture phase, where
a query may run jobs of its own) followed by ``count()`` of the returned
DataFrame (its verb phase). The expected row counts come from DuckDB
running the query's ``ORACLE_SQL`` over the same parquet files, computed
once in set-up; a query without an oracle must return the row count its
cold pass returned.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics

import datagen

SF = 0.01
#: One or two queries from most operator families. The heaviest (MinHash
#: dedup, graph label propagation, k-means, the AQE skew join) are left
#: out: every run pays the cold pass in set-up, and runs must stay short.
QUERIES = (
    "q07_multiway_join", "q13_groupby_agg", "q12_asof_join",
    "q24_per_group_topk", "q37_json_extract", "q44_pandas_udf",
    "q45_grouped_map", "ann_ivf_topk", "text_bm25_topk",
    "sketch_hll_mergeable", "events_sessionize",
)
_PY_NODE = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow"
    r"|FlatMap(?:Co)?GroupsIn(?:Pandas|Arrow)\w*|AggregateInPandas"
    r"|WindowInPandas|ArrowAggregatePython|ArrowWindowPython)\b")


def module_of(name: str) -> str:
    from dp_dimension_importer_spark import registry

    return registry.QUERIES[name].__module__.rsplit(".", 1)[-1]


def python_nodes(df) -> int:
    """Arrow / pandas boundary nodes in the DataFrame's physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(_PY_NODE.findall(plan))


class QueryMix:
    unit = "query"

    def __init__(self, ctx):
        self.ctx = ctx

    def fixture(self) -> None:
        import duckdb

        from dp_dimension_importer_spark import registry

        self.sf_dir = self.ctx.path("sf")
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        tables = datagen.make_tables(self.ctx.seed, SF)
        datagen.write_tables(tables, self.sf_dir)
        self.table_rows = {n: t.num_rows for n, t in tables.items()}
        con = duckdb.connect()
        try:
            for name in datagen.TABLES:
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                            f"'{os.path.join(self.sf_dir, name)}.parquet'")
            self.expected = {
                q: con.execute(f"SELECT count(*) FROM ({registry.ORACLE_SQL[q]})")
                .fetchone()[0]
                for q in QUERIES if q in registry.ORACLE_SQL
            }
        finally:
            con.close()

    def once(self) -> None:
        """The cold pass: first run of every query, timed into set-up."""
        from dp_dimension_importer_spark import registry

        self.cold_rows = {q: registry.QUERIES[q](self.ctx.spark, self.sf_dir).count()
                          for q in QUERIES}

    def sizes(self) -> dict:
        return {"table_rows": self.table_rows, "queries": len(QUERIES)}

    def begin(self, tag: str):
        return {"pass": 0}

    def prepare(self, st, i: int) -> dict:
        q = QUERIES[i % len(QUERIES)]
        return {"query": q, "items": 1, "cycle_end": i % len(QUERIES) == len(QUERIES) - 1}

    def run(self, st, op: dict):
        from dp_dimension_importer_spark import registry

        q, tracer = op["query"], self.ctx.tracer
        name = f"operators.{module_of(q)}.{q}"
        if tracer is None:
            df = registry.QUERIES[q](self.ctx.spark, self.sf_dir)
            return df, df.count()
        df = tracer.span(name + ".fixture", registry.QUERIES[q],
                         self.ctx.spark, self.sf_dir)
        n = tracer.span(name + ".verb", df.count)
        tracer.spans[-1].attrs["python_nodes"] = python_nodes(df)
        return df, n

    def check(self, st, op: dict, result) -> list[str]:
        q, n = op["query"], result[1]
        want = self.expected.get(q, self.cold_rows[q])
        return [] if n == want else [f"{q}: {n} rows != {want}"]

    def finish(self, st) -> list[str]:
        return []

    def named(self, ops: list[dict], _state) -> dict:
        """Raw figures of this workload: name -> (value, unit, samples)."""
        passes, acc = [], 0.0
        for op in ops:
            acc += op["seconds"]
            if op["cycle_end"]:
                passes.append(acc)
                acc = 0.0
        return {"query_mix_pass_s": (statistics.median(passes), "s", len(passes))}
