"""The benchmark's workloads.

Each workload makes its inputs from the seed, sets the program up, and
offers a list of operations.  One pass runs every operation once, in
order, as a single closed-loop client.  The program is driven only
through its public entry points: ``plans.pipeline.curate``, the
``plans.queries.QUERIES`` builders, and ``sources.writers.
register_curated_table`` followed by ``spark.sql``.  See README.md for
why each workload exists and what each metric should respond to.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable
from dataclasses import dataclass

import pyarrow.parquet as pq

import checks
import gen


@dataclass
class Op:
    name: str
    #: Input records the operation reads; their sum over a pass feeds events_per_s.
    records: int
    #: Runs the operation once; takes the tracer for inner spans.
    run: Callable
    #: Runs the operation once more, untimed, and returns its output.
    result: Callable | None = None
    #: Compares that output with the truth: None, or the reason it is wrong.
    expect: Callable | None = None


def materialize(df) -> None:
    """Execute a plan fully without collecting its rows into Python."""
    df.write.format("noop").mode("overwrite").save()


def query_op(spark, name: str, data_dir: str, records: int) -> Op:
    """One registry query, checked against its DuckDB oracle."""
    from prod_data_pipeline_spark.plans.queries import QUERIES

    spec = QUERIES[name]

    def run(tr):
        with tr.span("plans.build"):
            df = spec.fn(spark, data_dir)
        with tr.span("spark.execute"):
            materialize(df)

    def result():
        return spec.fn(spark, data_dir).toPandas()

    def expect(got):
        return checks.query_differs(name, got, spec.oracle, data_dir)

    return Op(f"query:{name}", records, run, result, expect)


def sql_op(spark, name: str, text: str, records: int, want: Callable) -> Op:
    """One SQL text over the catalog, checked against ``want()`` rows."""

    def run(tr):
        with tr.span("spark.sql"):
            df = spark.sql(text)
        with tr.span("spark.execute"):
            materialize(df)

    def result():
        return [tuple(r) for r in spark.sql(text).collect()]

    return Op(f"sql:{name}", records, run, result, lambda got: checks.rows_differ(got, want()))


class Workload:
    name = ""
    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.inputs = os.path.join(work, "inputs")

    def make_inputs(self) -> None:
        raise NotImplementedError

    def setup(self, tr) -> None:
        """The program's set-up before the first operation."""
        raise NotImplementedError

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def final_checks(self) -> dict[str, str]:
        """Checks after measurement: op name -> reason, for failures only."""
        return {}

    def trace_targets(self) -> list[tuple]:
        """(module, attribute, span name) for each program function the
        traced passes wrap."""
        return []

    def layout(self) -> dict[str, float]:
        """Curated part files per date and curated bytes per raw byte."""
        return {"sources.curated_files_per_date": 0.0, "sources.curated_bytes_per_raw_byte": 0.0}


# ---------------------------------------------------------------------------
# etl_backfill
# ---------------------------------------------------------------------------

#: The reference's three Athena inspection queries over the curated table.
CURATED_SQL = {
    "curated_per_day": """
        SELECT ingestion_date, COUNT(*) AS n_events
        FROM curated_events GROUP BY ingestion_date ORDER BY ingestion_date""",
    "curated_null_profile": """
        SELECT ingestion_date,
               SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS null_user_id,
               SUM(CASE WHEN event_type = 'purchase' AND amount IS NULL THEN 1 ELSE 0 END)
                 AS purchase_null_amount
        FROM curated_events GROUP BY ingestion_date ORDER BY ingestion_date""",
    "curated_dup_ids": """
        SELECT event_id, COUNT(*) AS c FROM curated_events
        GROUP BY event_id HAVING COUNT(*) > 1 ORDER BY c DESC, event_id LIMIT 20""",
}


def curated_counts(spark, curated: str) -> dict[str, int]:
    df = spark.read.parquet(curated)
    return {str(r[0]): r[1] for r in df.groupBy("ingestion_date").count().collect()}


class EtlBackfill(Workload):
    """Re-curates every date of a raw landing zone into the registered
    curated table (the partition rerun / backfill path), then runs the
    reference's inspection queries over it."""

    name = "etl_backfill"
    dates = [f"2025-03-0{d}" for d in range(1, 7)]
    late = ("2025-03-02", "2025-03-04")
    gated = ("2025-03-05",)
    rows_per_date = 10_000
    late_rows = 500

    def make_inputs(self) -> None:
        self.raw = os.path.join(self.inputs, "raw")
        self.truth = gen.raw_events(
            self.raw, self.seed, self.dates, self.rows_per_date,
            late_dates=self.late, late_rows=self.late_rows, gated_dates=self.gated,
        )
        self.kept = [d for d in self.dates if d not in self.gated]

    def curate(self, tr, day: str) -> None:
        """One ``curate()`` call.  The gated date succeeds only by raising
        ``DQGateError``."""
        from prod_data_pipeline_spark.plans.pipeline import DQGateError, curate

        with tr.span("pipeline.curate"):
            try:
                curate(self.spark, self.raw, day, self.curated, self.metrics)
            except DQGateError:
                if day in self.gated:
                    return
                raise
        if day in self.gated:
            raise RuntimeError(f"{day}: the DQ gate did not fire")

    def setup(self, tr) -> None:
        # Create the curated table from every date, then register it.
        from prod_data_pipeline_spark.sources.writers import register_curated_table

        self.curated = os.path.join(self.work, "out", "curated")
        self.metrics = os.path.join(self.work, "out", "metrics")
        for day in self.dates:
            self.curate(tr, day)
        with tr.span("sources.register_curated_table"):
            register_curated_table(self.spark, self.curated)
        self.setup_counts = curated_counts(self.spark, self.curated)

    def ops(self) -> list[Op]:
        t = self.truth
        want = {
            "curated_per_day": lambda: [(d, t[d].rows) for d in self.kept],
            "curated_null_profile": lambda: [(d, t[d].null_user, 0) for d in self.kept],
            "curated_dup_ids": lambda: [
                (i, 2) for i in sorted(i for d in self.kept for i in t[d].dup_ids)[:20]
            ],
        }
        kept_rows = sum(t[d].rows for d in self.kept)
        return [
            Op(f"curate:{d}", t[d].rows, lambda tr, d=d: self.curate(tr, d))
            for d in self.dates
        ] + [
            sql_op(self.spark, n, sql, kept_rows, want[n]) for n, sql in CURATED_SQL.items()
        ]

    def final_checks(self) -> dict[str, str]:
        bad: dict[str, str] = {}
        counts = curated_counts(self.spark, self.curated)
        for d in self.dates:
            op = f"curate:{d}"
            with open(os.path.join(self.metrics, f"ingestion_date={d}", "dq_report.json")) as f:
                status = json.load(f)["status"]
            partition = os.path.join(self.curated, f"ingestion_date={d}")
            if d in self.gated:
                if status != "FAIL" or d in counts or os.path.exists(partition):
                    bad[op] = f"gated date: report {status}, partition present={d in counts}"
            elif status != "PASS":
                bad[op] = f"report {status}"
            elif counts.get(d) != self.truth[d].rows:
                bad[op] = f"{counts.get(d)} curated rows != {self.truth[d].rows} generated"
            elif self.setup_counts.get(d) != counts[d]:
                bad[op] = f"rerun changed the count: {self.setup_counts.get(d)} -> {counts[d]}"
        return bad

    def trace_targets(self) -> list[tuple]:
        # curate() looks these module globals up at call time.
        from prod_data_pipeline_spark.plans import pipeline

        return [
            (pipeline, "read_events_ndjson", "sources.read_events_ndjson"),
            (pipeline, "dq_profile", "pipeline.dq_profile"),
            (pipeline, "write_json_report", "sources.write_json_report"),
            (pipeline, "write_curated", "sources.write_curated"),
        ]

    def layout(self) -> dict[str, float]:
        files = [
            glob.glob(os.path.join(self.curated, f"ingestion_date={d}", "*.parquet"))
            for d in self.kept
        ]
        return {
            "sources.curated_files_per_date": sum(map(len, files)) / len(self.kept),
            "sources.curated_bytes_per_raw_byte":
                sum(os.path.getsize(p) for fs in files for p in fs)
                / sum(self.truth[d].bytes for d in self.kept),
        }


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

#: Registry query -> the tables it reads.  Star schema: golden per-day
#: count, filtered aggregate, scan-aggregate, pre-aggregated top-k join,
#: star join.  Corpus: MinHash-LSH dedup, tokenization.
QUERY_TABLES = {
    "events_per_day": ("events",),
    "events_type_value_stats": ("events",),
    "q1_pricing_summary": ("lineitem",),
    "top_orders_by_revenue": ("orders", "customer", "lineitem"),
    "regional_nation_revenue": ("lineitem", "supplier", "orders", "customer", "nation", "region"),
    "docs_near_dup_pairs": ("documents",),
    "docs_token_stats": ("documents",),
}
QUERY_NAMES = sorted(QUERY_TABLES)


class Queries(Workload):
    """Registry queries over a star schema and a small corpus.  The
    embeddings table is generated too, because the DuckDB oracle harness
    opens every table of the test-data layout."""

    name = "queries"
    orders = 200_000
    events = 400_000
    docs = 500
    vecs = 500

    def make_inputs(self) -> None:
        self.tables = os.path.join(self.inputs, "tables")
        self.table_rows = gen.star_tables(self.tables, self.seed, self.orders, self.events)
        self.table_rows.update(gen.corpus_tables(self.tables, self.seed, self.docs, self.vecs))
        self.table_columns = {
            t: pq.read_schema(os.path.join(self.tables, f"{t}.parquet")).names
            for t in self.table_rows
        }

    def setup(self, tr) -> None:
        # Nothing is written before the first query; set-up opens every
        # input table through the program's loader (file listing, footer
        # schema, timestamp normalization) and checks its columns.
        from prod_data_pipeline_spark.sources.readers import load_table

        for t in self.table_rows:
            with tr.span("sources.load_table"):
                cols = load_table(self.spark, self.tables, t).columns
            if cols != self.table_columns[t]:
                raise RuntimeError(f"{t}: loaded columns {cols}, generated {self.table_columns[t]}")

    def ops(self) -> list[Op]:
        return [
            query_op(self.spark, q, self.tables, sum(self.table_rows[t] for t in tables))
            for q, tables in QUERY_TABLES.items()
        ]

    def trace_targets(self) -> list[tuple]:
        # Each builder imports its operator from the operator module at call
        # time, so the operators are wrapped there.
        from prod_data_pipeline_spark.functions import text
        from prod_data_pipeline_spark.operators import dedup

        return [
            (dedup, "near_dup_pairs", "operators.near_dup_pairs"),
            (text, "tokens", "operators.tokens"),
            (text, "distinct_tokens", "operators.distinct_tokens"),
        ]


WORKLOADS = {w.name: w for w in (EtlBackfill, Queries)}
