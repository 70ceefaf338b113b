"""The Emailer — config-as-data recipient fan-out (SURVEY P6/P7, ST6, X5).

The reference hard-codes ~100 ``ServiceAlertEmailConfig`` Python objects with
pandas ``query()`` strings and curried row predicates
(ServiceAlertEmailer.py:49-86, 88-671).  The engine turns both into *data*:

* P6 — free-form predicates stay strings, but in Spark SQL dialect, parsed
  by ``F.expr`` (the one-time pandas→Spark translation the SURVEY §7(g)
  flags: ``.str.contains(pat)`` → ``rlike``, ``@var`` → literal,
  ``x.notna()`` → ``x IS NOT NULL``);
* P7 — the ward/service-area curried predicates become parameterized
  expression builders (``array_contains`` — no UDF).

Fan-out: every config's predicate and both delivery keys are evaluated in
Spark, in one array column (``email_matches``) of the pipeline's one
collect of gold, so gold is read once for any number of configs.  The rest
runs on the driver, as in the reference (ServiceAlertEmailer.py:793-826):
``pending_emails`` drops matches whose deterministic key is in the sent
log's collected key set (ST6) — set-based, idempotent — in place of the
reference's object-listing probe.  Compose (X5) renders Jinja2 HTML per
record (volumes are tens of rows/batch by construction); transport is
injectable and stubbed in tests.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from service_alerts_connector_spark.constants import ID_COL


def ward_predicate(ward: str) -> Column:
    """P7 — `_ward_curry_pot`: ward ∈ inferred_wards ∧ area_type ≠ Citywide
    (reference ServiceAlertEmailer.py:69-86)."""
    return F.array_contains(F.col("inferred_wards"), ward) & (
        F.coalesce(F.col("area_type"), F.lit("")) != "Citywide"
    )


def service_area_predicate(service_area: str) -> Column:
    """P7 — `_service_area_curry_pot` (reference ServiceAlertEmailer.py:52-55)."""
    return F.col("service_area") == service_area


@dataclass(frozen=True)
class EmailConfig:
    """One recipient stream = a predicate over gold + addressing/template."""

    name: str
    recipients: tuple[str, ...]
    predicate_sql: str | None = None  # P6 — Spark SQL expression string
    predicate_pandas: str | None = None  # P6 — legacy pandas query() dialect
    ward: str | None = None  # P7 sugar
    service_area: str | None = None  # P7 sugar
    planned: bool | None = None

    def predicate(self) -> Column:
        cond = F.lit(True)
        if self.predicate_sql:
            cond = cond & F.expr(self.predicate_sql)
        if self.predicate_pandas:
            # legacy configs carry pandas query() strings verbatim
            # (reference ServiceAlertEmailer.py:49-51); translate once
            from service_alerts_connector_spark.functions.predicates import (
                translate_pandas_query,
            )

            cond = cond & F.expr(translate_pandas_query(self.predicate_pandas))
        if self.ward is not None:
            cond = cond & ward_predicate(self.ward)
        if self.service_area is not None:
            cond = cond & service_area_predicate(self.service_area)
        if self.planned is not None:
            cond = cond & (F.col("planned") == F.lit(self.planned))
        return cond


# Representative config table (the production list is ~100 entries of the
# same three shapes — data, not code).
EXAMPLE_EMAIL_CONFIGS = [
    EmailConfig(
        name="grassy-park-watch",
        recipients=("ward@example.org",),
        predicate_sql=(
            "lower(cast(inferred_suburbs as string)) rlike 'grassy\\\\W?park' "
            "and area_type != 'Citywide'"
        ),
    ),
    EmailConfig(
        name="ward-57-unplanned",
        recipients=("w57@example.org",),
        ward="57",
        planned=False,
    ),
    EmailConfig(
        name="water-planned",
        recipients=("water@example.org",),
        service_area="Water & Sanitation",
        planned=True,
    ),
]


def email_key(config_name: Column) -> Column:
    """ST6 — deterministic delivery key: sha256(config ‖ Id ‖ status), the
    engine analog of the reference's status-aware sent-email filenames
    (ServiceAlertEmailer.py:793-814)."""
    return F.sha2(
        F.concat_ws(
            "|", config_name, F.col(ID_COL).cast("string"), F.col("status")
        ),
        256,
    )


def legacy_email_key(config_name: Column) -> Column:
    """Pre-status delivery key: sha256(config ‖ Id) — the engine analog of
    the reference's *legacy* filename form, which sent-dedup still honours
    so a live-state migration doesn't resend every historical alert
    (ServiceAlertEmailer.py:793-808 checks both filename forms)."""
    return F.sha2(
        F.concat_ws("|", config_name, F.col(ID_COL).cast("string")), 256
    )


MATCHES_COL = "_email_matches"


def email_matches(configs: list[EmailConfig]) -> Column:
    """Every config's match for a gold row, in one array column
    (``MATCHES_COL``): one ``(config_name, recipients, email_key,
    legacy_email_key)`` struct per config whose predicate holds.  A config
    whose predicate is false or null (``where`` drops the row) contributes
    no element.  Select it beside gold's columns and pass the collected
    rows to ``pending_emails``: gold is read once and the plan is the same
    size whatever the config count."""
    matches = F.array(
        *[
            F.when(
                cfg.predicate(),
                F.struct(
                    F.lit(cfg.name).alias("config_name"),
                    F.lit(list(cfg.recipients))
                    .cast("array<string>")
                    .alias("recipients"),
                ),
            )
            for cfg in configs
        ]
    )
    # keyed per kept match: each config adds one struct to the plan, not
    # two sha2 expressions (at 101 configs those made the collect 1.7x slower)
    return F.transform(
        F.filter(matches, lambda m: m.isNotNull()),
        lambda m: m.withField(
            "email_key", email_key(m["config_name"])
        ).withField("legacy_email_key", legacy_email_key(m["config_name"])),
    ).alias(MATCHES_COL)


def pending_emails(
    rows: list[Row],
    columns: list[str],
    sent_keys: set[str] = frozenset(),
    previous_ids: set[int] = frozenset(),
) -> list[dict]:
    """One record per (config, alert) still to send, from collected gold
    rows that carry ``email_matches``.  A record holds the gold
    ``columns``, ``config_name``, ``recipients``, ``email_key``,
    ``legacy_email_key`` and ``_is_update``, in that order: the order the
    HTML lists fields in.

    Sent-dedup (ST6): a match is dropped when EITHER of its keys is in
    ``sent_keys``, the sent log's key column.  A migrated log may hold
    legacy (status-less) keys, so both forms are checked — the reference
    makes the same two object-store probes (ServiceAlertEmailer.py:800-811).

    ``_is_update`` holds when the previous recon snapshot holds the row's
    Id (``previous_ids``) → the "Updated Service Alert" subject."""
    pending = []
    for r in rows:
        for m in r[MATCHES_COL]:
            if m["email_key"] in sent_keys or m["legacy_email_key"] in sent_keys:
                continue
            rec = {c: r[c] for c in columns}
            rec.update(
                config_name=m["config_name"],
                recipients=m["recipients"],
                email_key=m["email_key"],
                legacy_email_key=m["legacy_email_key"],
            )
            # a null Id matches no snapshot Id, as under join semantics
            rec["_is_update"] = r[ID_COL] is not None and r[ID_COL] in previous_ids
            pending.append(rec)
    return pending


def email_subject(rec: dict) -> str:
    """ST7/X5 — updates get the "Updated" subject (reference
    ServiceAlertEmailer.py:693-696)."""
    prefix = "Updated Service Alert" if rec.get("_is_update") else "Service Alert"
    return f"{prefix}: {rec.get('title', '')}"


def render_email_html(rec: dict) -> str:
    """X5 — Jinja2 HTML render with the reference's field hygiene: null and
    empty-array fields pruned, arrays joined with ', ', area fields dropped
    for Citywide alerts (ServiceAlertEmailer.py:682-773)."""
    import jinja2

    fields: dict[str, str] = {}
    citywide = rec.get("area_type") == "Citywide"
    for k, v in rec.items():
        if v is None or k.startswith("_") or k in ("recipients", "email_key"):
            continue
        if isinstance(v, (list, tuple)):
            if not v or all(x is None for x in v):
                continue
            v = ", ".join(str(x) for x in v if x is not None)
        if citywide and k in ("area", "area_type", "location"):
            continue
        fields[k] = str(v)
    template = jinja2.Template(
        "<html><body><h1>{{ subject }}</h1>"
        "<table>{% for k, v in fields.items() %}"
        "<tr><td>{{ k }}</td><td>{{ v }}</td></tr>{% endfor %}</table>"
        "</body></html>"
    )
    return template.render(subject=email_subject(rec), fields=fields)


Transport = Callable[[tuple[str, ...], str, str], None]  # (to, subject, html)


SENT_LOG_SCHEMA = "email_key string, config_name string, Id long"


def send_pending(
    spark: SparkSession,
    pending: list[dict],
    transport: Transport,
    archive_root: str | None = None,
) -> DataFrame:
    """Render + send every pending email; returns the new sent-log rows
    (email_key, config_name, Id), typed and empty when nothing was sent.
    The records are on the driver already: by construction (incremental
    cap upstream) this is ≤ tens of rows per batch — the side-effecting
    edge, not a data-scale operator.  The log rows are built from a pandas
    frame, which takes the session's Arrow path.

    ``archive_root`` archives each rendered HTML under its delivery key
    (reference S11: a copy of every sent email lands in the object store,
    ServiceAlertEmailer.py:820-826)."""
    import pandas as pd

    sent = []
    for rec in pending:
        html = render_email_html(rec)
        transport(tuple(rec["recipients"]), email_subject(rec), html)
        if archive_root is not None:
            from pathlib import Path

            path = Path(archive_root) / f"{rec['email_key']}.html"
            path.parent.mkdir(parents=True, exist_ok=True)
            path.write_text(html)
        sent.append((rec["email_key"], rec["config_name"], rec[ID_COL]))
    frame = pd.DataFrame(sent, columns=["email_key", "config_name", ID_COL])
    return spark.createDataFrame(frame, SENT_LOG_SCHEMA)


def merged_sent_log(sent_log: DataFrame | None, new_log: DataFrame) -> DataFrame:
    """The sent log to commit: the previous log (if any) plus this run's
    rows, one row per key.  ``distinct`` over a single-partition child
    needs no shuffle: one job, one file."""
    merged = new_log if sent_log is None else sent_log.unionByName(new_log)
    return merged.coalesce(1).distinct()
