"""Catalog workload: read-only analytics queries forced through ``noop``.

One op is one pass over two groups of catalog queries.  ``iterative``
queries are driver-blocking loops (pins and probes run while the
DataFrame is built); ``scan`` queries are single heavy plans.  Each query
is timed as construction (the query function's call) and execution (the
``noop`` save), with a value digest collected by ``DataFrame.observe`` in
the same save — it costs no extra job.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from pathlib import Path

from perfbench import inputs
from perfbench.stats import median
from perfbench.trace import Tracer, self_jobs, self_times, settle

GROUPS = {
    "iterative": ["dedup_clusters", "group_kfold", "hierarchy_roots"],
    "scan": ["fixer_chain", "basket_rules", "semdedup_fixed", "geo_overlay_rect"],
}
ORDERS = 15_000  # sf0.01: small, since per-job overhead sets these queries' time
TABLES = ["orders", "lineitem", "customer", "nation", "documents", "embeddings", "events"]


@dataclass
class QueryRun:
    name: str
    group: str
    s: float
    jobs: int
    digest: tuple


@dataclass
class Pass:
    s: float
    jobs: int
    build_jobs: int
    op: int
    queries: list[QueryRun] = field(default_factory=list)


class CatalogWorkload:
    def __init__(self, spark, work: Path, seed: int, tracer: Tracer):
        self.spark, self.seed = spark, seed
        self.tracer = tracer
        self.sf_dir = str(work / "tables")
        self.reference: dict[str, tuple] = {}

    def setup(self, log=lambda msg: None) -> list[str]:
        """Write the tables, then check every query against its DuckDB
        oracle once; returns the names of queries that disagree."""
        import duckdb

        import __spark_entry__ as entry
        from tests.oracle_util import compare

        inputs.write_catalog_tables(Path(self.sf_dir), self.seed, ORDERS)
        log("tables generated")
        self.queries, oracles = entry.queries(), entry.oracle_sql()
        bad = []
        with duckdb.connect() as con:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            for names in GROUPS.values():
                for name in names:
                    df = self.queries[name](self.spark, self.sf_dir)
                    r = compare(df, con, oracles[name])
                    if not (r["cols_match"] and r["count_match"] and r["values_match"]):
                        bad.append(name)
        log(f"oracle pass done, {len(bad)} mismatches")
        return bad

    def op(self) -> Pass:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        t, c = self.tracer, self.tracer.counters
        t.op += 1
        p = Pass(0.0, 0, 0, t.op)
        for group, names in GROUPS.items():
            for name in names:
                settle(self.spark)
                j0, t0 = c.jobs(), time.perf_counter()
                with t.span(f"catalog.{group}.build") as b:
                    df = self.queries[name](self.spark, self.sf_dir)
                obs = Observation(name)
                observed = df.observe(
                    obs,
                    F.count(F.lit(1)).alias("rows"),
                    F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(2**31 - 1))).alias("h"),
                )
                with t.span(f"catalog.{group}.exec"):
                    observed.write.format("noop").mode("overwrite").save()
                s, jobs = time.perf_counter() - t0, c.jobs() - j0
                got = obs.get
                p.queries.append(QueryRun(name, group, s, jobs, (got["rows"], got["h"])))
                p.s += s
                p.jobs += jobs
                p.build_jobs += b.jobs
        return p

    def check(self, passes: list[Pass]) -> tuple[int, list[str]]:
        """Every pass's digest per query must equal the first pass's."""
        failed, msgs = 0, []
        for i, p in enumerate(passes):
            bad = []
            for q in p.queries:
                ref = self.reference.setdefault(q.name, q.digest)
                if q.digest != ref:
                    bad.append(f"{q.name} digest {q.digest} != {ref}")
            if bad:
                failed += 1
                msgs.append(f"pass {i}: " + "; ".join(bad))
        return failed, msgs

    def layer_metrics(self, passes: list[Pass]) -> dict[str, float]:
        """Median over the passes of every catalog layer metric."""
        per_pass: dict[str, list[float]] = {}
        for p in passes:
            spans = self.tracer.op_spans(p.op)
            st, sj = self_times(spans), self_jobs(spans)
            lo = min(s.stage_lo for s in spans)
            hi = max(s.stage_hi for s in spans)
            cpu, shuffle = self.tracer.counters.stage_work(lo, hi)
            scan_shuffle = sum(
                self.tracer.counters.stage_work(s.stage_lo, s.stage_hi)[1]
                for s in spans
                if s.name == "catalog.scan.exec"
            )
            vals = {
                "catalog.iterative.build_s": st.get("catalog.iterative.build", 0.0),
                "catalog.iterative.build_jobs": sj.get("catalog.iterative.build", 0),
                "catalog.iterative.exec_s": st.get("catalog.iterative.exec", 0.0),
                "catalog.iterative.exec_jobs": sj.get("catalog.iterative.exec", 0),
                "catalog.scan.build_s": st.get("catalog.scan.build", 0.0),
                "catalog.scan.exec_s": st.get("catalog.scan.exec", 0.0),
                "catalog.scan.exec_jobs": sj.get("catalog.scan.exec", 0),
                "catalog.scan.shuffle_bytes": scan_shuffle,
                "spark.stages": hi - lo,
                "spark.shuffle_bytes": shuffle,
                "spark.task_cpu_s": cpu,
            }
            for k, v in vals.items():
                per_pass.setdefault(k, []).append(v)
        return {k: median(v) for k, v in per_pass.items()}
