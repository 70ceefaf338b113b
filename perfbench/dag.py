"""DAG workload: the alert pipeline's 10-minute run as streaming micro-batches.

Set-up builds a seeded alert population from ``catalog_fixer._dirty_bronze``,
stages it as one page and drains it with no admission cap: that seeds the
state and is the warm-up op.  Every later op is one drain, through
``streaming.runner.run_available_now``, of ``PAGES`` staged pages; each page
is one micro-batch of ``UPDATES`` status changes and ``NEW`` new alerts, run
by the real ``plans.pipeline.run_micro_batch`` with feed, recon and email
sinks under the work directory.
"""

from __future__ import annotations

import importlib
import os
import re
import time
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path

from perfbench import inputs
from perfbench.stats import median
from perfbench.trace import Tracer, self_jobs, self_times, settle
from service_alerts_connector_spark.constants import (
    AUGMENTED_DATASET,
    SANITISED_DATASET,
)

PKG = "service_alerts_connector_spark."
STATE = 1_600  # alerts seeded: a city's live alerts
PAGES = 1  # micro-batches per drain: one page per scheduled run
UPDATES, NEW = 15, 5  # per page; 20 rows is the admission cap
NOW = datetime(2001, 6, 1, 12, 0)
FEEDS_PER_BATCH = 24
RECON_VERSIONS = ("v1", "v1.1", "v1.2")


def grid(prefix: str, nx: int, ny: int) -> list[tuple[str, str]]:
    """(name, WKT) rectangles tiling the stub geocoder's extent."""
    x0, y0, w, h = 18.3, -34.3, 0.52 / nx, 0.42 / ny
    out = []
    for i in range(nx):
        for j in range(ny):
            a, b = x0 + i * w, y0 + j * h
            out.append(
                (
                    f"{prefix}{i}_{j}",
                    f"POLYGON (({a} {b}, {a + w} {b}, {a + w} {b + h}, "
                    f"{a} {b + h}, {a} {b}))",
                )
            )
    return out


@dataclass
class BatchLog:
    """What one micro-batch did, as seen at its sinks."""

    page: inputs.Page
    op: int = 0
    start: float = 0.0
    end: float = 0.0
    jobs: int = 0
    feeds: list[str] = field(default_factory=list)
    notified: list[int] = field(default_factory=list)
    emails: list[tuple] = field(default_factory=list)
    recon_files: list[str] = field(default_factory=list)
    parquet_bytes: int = 0


@dataclass
class Drain:
    batches: list[BatchLog]
    s: float
    jobs: int


# (module, attribute, span) — the callables plans.pipeline resolves from
# its own namespace, plus the feed and recon sinks
BUILD_SPANS = [
    ("plans.pipeline", "fix_alerts", "plans.fixer.build"),
    ("plans.pipeline", "augment", "plans.augmenter.build"),
]
LAYER_SPANS = [
    ("plans.pipeline", "run_micro_batch", "run_micro_batch"),
    ("plans.pipeline", "broadcast_feeds", "plans.broadcaster"),
    ("plans.pipeline", "recon", "plans.recon"),
    ("plans.pipeline", "pending_emails", "plans.emailer"),
    ("plans.pipeline", "send_pending", "plans.emailer"),
    ("plans.pipeline", "read_dataset", "sources.parquet_io.read"),
    ("plans.pipeline", "_try_read", "sources.parquet_io.read"),
    ("plans.broadcaster", "write_feed", "sources.json_feed"),
    ("plans.recon", "write_per_alert_objects", "sources.json_feed"),
]
# a lazy plan executes inside the write that consumes it
WRITE_SPANS = {
    SANITISED_DATASET: "plans.fixer.exec",
    AUGMENTED_DATASET: "plans.augmenter.exec",
}
# an email's Id and status, as plans.emailer.render_email_html lays them out
_HTML_FIELD = re.compile(r"<tr><td>(Id|status)</td><td>(.*?)</td></tr>")


class DagWorkload:
    def __init__(self, spark, work: Path, seed: int, tracer: Tracer):
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer = tracer
        self.lake = str(work / "lake")
        self.staged = work / "staged"
        self.logs: list[BatchLog] = []

    # -- set-up -------------------------------------------------------------

    def setup(self, traced: bool, log=lambda msg: None) -> None:
        from pyspark.sql import functions as F

        from service_alerts_connector_spark.catalog_fixer import _dirty_bronze
        from service_alerts_connector_spark.plans.augmenter import (
            AugmenterConfig,
        )
        from service_alerts_connector_spark.plans.emailer import EmailConfig
        from service_alerts_connector_spark.plans.pipeline import PipelineSinks

        spark = self.spark
        # P2 drops one order in 11 (no publish date); the reserve covers
        # the new Ids of 40 drains
        n_orders = int((STATE + 40 * NEW * PAGES) * 1.12)
        inputs.write_orders(self.work / "orders.parquet", n_orders, self.seed)
        bronze = [
            r.asDict()
            for r in _dirty_bronze(spark, str(self.work))
            .where(F.col("Publish_x0020_Date").isNotNull())
            .orderBy("Id")
            .collect()
        ]
        self.churn = inputs.Churn(bronze, STATE, self.seed, UPDATES, NEW)
        log(f"{len(bronze)} bronze alerts generated")
        self.layers = {
            "suburb_layer": spark.createDataFrame(
                grid("SUBURB_", 8, 8), "name string, WKT string"
            ),
            "ward_layer": spark.createDataFrame(
                grid("WARD_", 4, 4), "name string, WKT string"
            ),
            # no area name matches, so every non-citywide alert takes the
            # geocode tail and the overlay runs on each work set
            "gis_areas": spark.createDataFrame(
                [("Official Planning Suburb", "NO SUCH AREA", grid("X", 1, 1)[0][1])],
                "area_type string, area string, WKT string",
            ),
        }
        self.sinks = PipelineSinks(
            feeds_root=str(self.work / "feeds"),
            recon_root=str(self.work / "recon"),
            notifier=lambda ids: self.logs[-1].notified.extend(ids),
            email_transport=lambda to, subject, html: self.logs[-1].emails.append(
                (to, *sorted(_HTML_FIELD.findall(html)))
            ),
            email_configs=[
                EmailConfig(
                    name="urgent-unplanned",
                    recipients=("ops@example.org",),
                    service_area="1-URGENT",
                    planned=False,
                ),
                EmailConfig(
                    name="ward-1-1",
                    recipients=("ward11@example.org",),
                    ward="WARD_1_1",
                ),
            ],
        )
        self._install_wrappers(traced)
        self.staged.mkdir()
        seed_page = inputs.Page(self.churn.seed_records(), {}, [])
        self._drain([seed_page], AugmenterConfig(data_size_limit=None))
        log(f"state seeded with {STATE} alerts")

    def _install_wrappers(self, traced: bool) -> None:
        # the sinks' own record of what each batch wrote (kept untraced
        # too: the checks need it)
        bc = importlib.import_module(PKG + "plans.broadcaster")
        rc = importlib.import_module(PKG + "plans.recon")
        pl = importlib.import_module(PKG + "plans.pipeline")
        write_feed, write_objects = bc.write_feed, rc.write_per_alert_objects

        def feed(*args, **kwargs):
            path = write_feed(*args, **kwargs)
            self.logs[-1].feeds.append(path)
            return path

        def objects(*args, **kwargs):
            paths = write_objects(*args, **kwargs)
            self.logs[-1].recon_files.extend(paths)
            return paths

        bc.write_feed, rc.write_per_alert_objects = feed, objects

        t = self.tracer
        for mod, attr, name in BUILD_SPANS:
            t.wrap(importlib.import_module(PKG + mod), attr, name, always=True)
        if not traced:
            return
        for mod, attr, name in LAYER_SPANS:
            t.wrap(importlib.import_module(PKG + mod), attr, name)

        write = pl.write_dataset

        def write_dataset(df, root, dataset, *args, **kwargs):
            if not t.detail:
                return write(df, root, dataset, *args, **kwargs)
            with t.span(WRITE_SPANS.get(dataset, "sources.parquet_io.write")):
                path = write(df, root, dataset, *args, **kwargs)
            self.logs[-1].parquet_bytes += tree_bytes(Path(path))
            return path

        pl.write_dataset = write_dataset

    # -- ops ----------------------------------------------------------------

    def _drain(self, pages: list[inputs.Page], config=None) -> Drain:
        from service_alerts_connector_spark.plans import pipeline
        from service_alerts_connector_spark.streaming.runner import (
            run_available_now,
            stream_raw_alerts,
        )

        t, counters = self.tracer, self.tracer.counters
        first = len(self.logs)
        # the file source takes files oldest first: give each page its own
        # modification time, in staging order
        stamp = time.time_ns()
        for k, page in enumerate(pages):
            path = self.staged / f"page-{first + k:05d}.jsonl"
            inputs.write_page(path, page.records)
            os.utime(path, ns=(stamp + k * 10**7,) * 2)
        settled = [0.0]

        def batch_fn(bdf, batch_id):
            log = BatchLog(pages[len(self.logs) - first])
            s0 = time.perf_counter()
            settle(self.spark)
            log.start = time.perf_counter()
            settled[0] += log.start - s0
            self.logs.append(log)
            t.op += 1
            log.op = t.op
            log.jobs = counters.jobs()
            pipeline.run_micro_batch(
                bdf,
                self.lake,
                sinks=self.sinks,
                augmenter_config=config,
                now=NOW,
                **self.layers,
            )
            log.end = time.perf_counter()
            log.jobs = counters.jobs() - log.jobs

        stream = stream_raw_alerts(self.spark, str(self.staged), 1)
        j0, start = counters.jobs(), time.perf_counter()
        run_available_now(stream, batch_fn, str(self.work / "checkpoint"))
        s = time.perf_counter() - start - settled[0]
        batches = self.logs[first:]
        if len(batches) != len(pages):
            raise RuntimeError(f"drain ran {len(batches)} batches for {len(pages)} pages")
        return Drain(batches, s, counters.jobs() - j0)

    def op(self) -> Drain:
        return self._drain([self.churn.next_page() for _ in range(PAGES)])

    # -- results ------------------------------------------------------------

    @staticmethod
    def batches(drains: list[Drain]) -> list[BatchLog]:
        return sorted((b for d in drains for b in d.batches), key=lambda b: b.op)

    def build_jobs(self, d: Drain) -> int:
        ops = {b.op for b in d.batches}
        js = self_jobs([s for s in self.tracer.spans if s.op in ops])
        return js.get("plans.fixer.build", 0) + js.get("plans.augmenter.build", 0)

    def check(self, drains: list[Drain]) -> tuple[int, int, list[str]]:
        """Check every batch of the timed drains at its sinks; returns
        (ops, failed ops, messages)."""
        from service_alerts_connector_spark.sources.parquet_io import (
            read_dataset,
        )

        gold = {
            r["Id"]: r["status"]
            for r in read_dataset(self.spark, self.lake, AUGMENTED_DATASET)
            .select("Id", "status")
            .collect()
        }
        timed = self.batches(drains)
        sent: set = set()
        for b in self.logs[: self.logs.index(timed[0])]:
            sent.update(b.emails)
        last_update: dict[int, int] = {}
        for b in timed:
            for rid in list(b.page.updated) + b.page.new_ids:
                last_update[rid] = b.op
        failed, msgs = 0, []
        for b in timed:
            p, bad = b.page, []
            want = dict(p.updated)
            want.update({r["Id"]: r["Status12"] for r in p.records if r["Id"] in p.new_ids})
            objects = set(b.recon_files)
            for rid, status in want.items():
                if last_update[rid] == b.op and gold.get(rid) != status:
                    bad.append(f"gold status of {rid} is {gold.get(rid)!r}, want {status!r}")
                for version in RECON_VERSIONS:
                    f = Path(self.sinks.recon_root) / version / f"{rid}.{status}.json"
                    if str(f) not in objects or not f.exists():
                        bad.append(f"no recon object {version}/{f.name}")
            if sorted(b.notified) != sorted(p.new_ids):
                bad.append(f"notified {sorted(b.notified)}, want {sorted(p.new_ids)}")
            if len(set(b.feeds)) != FEEDS_PER_BATCH or not all(map(os.path.exists, b.feeds)):
                bad.append(f"{len(set(b.feeds))} feed files written")
            dup = sent.intersection(b.emails)
            if dup or len(set(b.emails)) != len(b.emails):
                bad.append(f"email key sent twice: {sorted(dup)[:2]}")
            sent.update(b.emails)
            if bad:
                failed += 1
                msgs.append(f"batch {b.op}: " + "; ".join(bad[:3]))
        return len(timed), failed, msgs

    def layer_metrics(self, drains: list[Drain]) -> dict[str, float]:
        """Median over the sampled batches of every DAG layer metric."""
        per_batch: dict[str, list[float]] = {}
        for log in self.batches(drains):
            spans = self.tracer.op_spans(log.op)
            st, sj = self_times(spans), self_jobs(spans)
            rmb = next(s for s in spans if s.name == "run_micro_batch")
            cpu, shuffle = self.tracer.counters.stage_work(rmb.stage_lo, rmb.stage_hi)
            out_files = log.feeds + log.recon_files
            vals = {
                "plans.broadcaster.s": st.get("plans.broadcaster", 0.0),
                "plans.broadcaster.jobs": sj.get("plans.broadcaster", 0),
                "plans.broadcaster.feeds": len(log.feeds),
                "sources.json_feed.s": st.get("sources.json_feed", 0.0),
                "sources.json_feed.bytes": sum(map(os.path.getsize, out_files)),
                "sources.json_feed.files": len(out_files),
                "sources.parquet_io.read_s": st.get("sources.parquet_io.read", 0.0),
                "sources.parquet_io.read_jobs": sj.get("sources.parquet_io.read", 0),
                "sources.parquet_io.write_s": st.get("sources.parquet_io.write", 0.0),
                "sources.parquet_io.write_jobs": sj.get("sources.parquet_io.write", 0),
                "sources.parquet_io.bytes_written": log.parquet_bytes,
                "plans.fixer.build_s": st.get("plans.fixer.build", 0.0),
                "plans.fixer.exec_s": st.get("plans.fixer.exec", 0.0),
                "plans.fixer.jobs": sj.get("plans.fixer.build", 0)
                + sj.get("plans.fixer.exec", 0),
                "plans.augmenter.build_s": st.get("plans.augmenter.build", 0.0),
                "plans.augmenter.build_jobs": sj.get("plans.augmenter.build", 0),
                "plans.augmenter.exec_s": st.get("plans.augmenter.exec", 0.0),
                "plans.augmenter.jobs": sj.get("plans.augmenter.build", 0)
                + sj.get("plans.augmenter.exec", 0),
                "plans.recon.s": st.get("plans.recon", 0.0),
                "plans.recon.jobs": sj.get("plans.recon", 0),
                "plans.recon.changed": len(log.recon_files) // len(RECON_VERSIONS),
                "plans.recon.notified": len(log.notified),
                "plans.emailer.s": st.get("plans.emailer", 0.0),
                "plans.emailer.jobs": sj.get("plans.emailer", 0),
                "plans.emailer.sent": len(log.emails),
                "spark.stages": rmb.stage_hi - rmb.stage_lo,
                "spark.shuffle_bytes": shuffle,
                "spark.task_cpu_s": cpu,
            }
            for name, v in vals.items():
                per_batch.setdefault(name, []).append(v)
        out = {k: median(v) for k, v in per_batch.items()}
        # the runner's own work: a drain beyond its micro-batches
        out["streaming.runner.gap_s"] = median(
            [d.s - sum(b.end - b.start for b in d.batches) for d in drains]
        )
        out["streaming.runner.jobs"] = median(
            [d.jobs - sum(b.jobs for b in d.batches) for d in drains]
        )
        out["plans.augmenter.rows_enriched"] = self.rows_enriched()
        out["sources.parquet_io.state_bytes"] = sum(
            tree_bytes(p / "current") for p in Path(self.lake).iterdir()
        )
        return out

    def rows_enriched(self) -> int:
        """Gold rows the last micro-batch (re-)enriched: rows of its gold
        version that the version before it does not hold unchanged."""
        import pyarrow.parquet as pq

        vdir = Path(self.lake) / AUGMENTED_DATASET / "versions"
        prev, last = sorted(p for p in vdir.iterdir() if (p / "_SUCCESS").exists())[-2:]
        cols = ["Id", "InputChecksum", "tweet_text"]

        def rows(path):
            t = pq.read_table(path, columns=cols)
            return set(zip(*(t.column(c).to_pylist() for c in cols)))

        return len(rows(last) - rows(prev))


def tree_bytes(root: Path) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root)
        for f in files
    )
