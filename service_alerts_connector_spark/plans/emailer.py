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

Fan-out: every config's predicate is evaluated in one projection of gold
(``pending_emails``), so gold is read once for any number of configs.
Sent-dedup (ST6): a delivery-log anti-join on the deterministic email key
replaces the reference's object-listing probe — set-based, idempotent.
Compose (X5) renders Jinja2 HTML per row on the driver (volumes are tens of
rows/batch by construction); transport is injectable and stubbed in tests.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
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


def _anti_join_sent(fanned: DataFrame, sent_log: DataFrame) -> DataFrame:
    """Drop rows already delivered under EITHER key form.

    The sent log stores one key column; a migrated log may hold legacy
    (status-less) keys, so two consecutive left_anti joins on the same key
    set cover both — same shape the reference gets from its two
    list_objects probes (ServiceAlertEmailer.py:800-811)."""
    sent_keys = sent_log.select("email_key")
    return fanned.join(sent_keys, "email_key", "left_anti").join(
        sent_keys.withColumnRenamed("email_key", "legacy_email_key"),
        "legacy_email_key",
        "left_anti",
    )


def pending_emails(
    gold: DataFrame,
    configs: list[EmailConfig],
    sent_log: DataFrame | None = None,
    previous_snapshot: DataFrame | None = None,
) -> DataFrame:
    """Fan out gold through every config predicate and anti-join the sent
    log.  Output: one row per (config, alert) still to send — gold's
    columns plus ``config_name``, ``recipients`` and both delivery keys.

    One projection evaluates every config: each row carries an array with
    one ``(config_name, recipients)`` struct per config whose predicate
    holds (null where it does not or is null, as ``where`` drops it), and
    the non-null elements are exploded.  Gold is scanned once and the plan
    is the same size whatever the config count.

    With ``previous_snapshot`` (the recon snapshot before this run), rows
    whose Id it holds carry ``_is_update`` → the "Updated Service Alert"
    subject."""
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
    fanned = gold.select(
        "*", F.inline(F.filter(matches, lambda m: m.isNotNull()))
    ).withColumns(
        {
            "email_key": email_key(F.col("config_name")),
            "legacy_email_key": legacy_email_key(F.col("config_name")),
        }
    )
    if sent_log is not None:
        fanned = _anti_join_sent(fanned, sent_log)
    if previous_snapshot is not None:
        prev_ids = previous_snapshot.select(
            F.col(ID_COL), F.lit(True).alias("_is_update")
        ).distinct()
        fanned = fanned.join(prev_ids, ID_COL, "left").withColumn(
            "_is_update", F.coalesce(F.col("_is_update"), F.lit(False))
        )
    return fanned


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


def send_pending(
    pending: DataFrame,
    transport: Transport,
    archive_root: str | None = None,
) -> DataFrame:
    """Render + send every pending email; returns the new sent-log rows
    (email_key, config_name, Id).  Collect is intentional: by construction
    (incremental cap upstream) this is ≤ tens of rows per batch — the
    side-effecting edge, not a data-scale operator.

    ``archive_root`` archives each rendered HTML under its delivery key
    (reference S11: a copy of every sent email lands in the object store,
    ServiceAlertEmailer.py:820-826)."""
    rows = pending.collect()
    sent = []
    for r in rows:
        rec = r.asDict()
        html = render_email_html(rec)
        transport(tuple(rec["recipients"]), email_subject(rec), html)
        if archive_root is not None:
            from pathlib import Path

            path = Path(archive_root) / f"{rec['email_key']}.html"
            path.parent.mkdir(parents=True, exist_ok=True)
            path.write_text(html)
        sent.append((rec["email_key"], rec["config_name"], rec[ID_COL]))
    spark = pending.sparkSession
    return spark.createDataFrame(
        sent or [], "email_key string, config_name string, Id long"
    )
