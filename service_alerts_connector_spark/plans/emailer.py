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


def email_key(config_name: str) -> Column:
    """ST6 — deterministic delivery key: sha256(config ‖ Id ‖ status), the
    engine analog of the reference's status-aware sent-email filenames
    (ServiceAlertEmailer.py:793-814)."""
    return F.sha2(
        F.concat_ws(
            "|", F.lit(config_name), F.col(ID_COL).cast("string"), F.col("status")
        ),
        256,
    )


def legacy_email_key(config_name: str) -> Column:
    """Pre-status delivery key: sha256(config ‖ Id) — the engine analog of
    the reference's *legacy* filename form, which sent-dedup still honours
    so a live-state migration doesn't resend every historical alert
    (ServiceAlertEmailer.py:793-808 checks both filename forms)."""
    return F.sha2(
        F.concat_ws("|", F.lit(config_name), F.col(ID_COL).cast("string")),
        256,
    )


def legacy_email_key_col(config_name_col: Column) -> Column:
    """legacy_email_key with the config name as a column (join fan-out)."""
    return F.sha2(
        F.concat_ws("|", config_name_col, F.col(ID_COL).cast("string")), 256
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
) -> DataFrame:
    """Fan out gold through every config predicate and anti-join the sent
    log.  Output: one row per (config, alert) still to send, with the
    delivery key.

    The gold scan is reused once per config — the *caller* owns its cache
    lifecycle (run_micro_batch caches gold before the fan-out and
    unpersists after send_pending's eager collect).  Caching here leaked
    one pinned DataFrame per micro-batch in the foreachBatch path."""
    parts = []
    for cfg in configs:
        parts.append(
            gold.where(cfg.predicate())
            .withColumn("config_name", F.lit(cfg.name))
            .withColumn("recipients", F.lit(list(cfg.recipients)).cast("array<string>"))
            .withColumn("email_key", email_key(cfg.name))
            .withColumn("legacy_email_key", legacy_email_key(cfg.name))
        )
    fanned = parts[0]
    for p in parts[1:]:
        fanned = fanned.unionByName(p)
    if sent_log is not None:
        fanned = _anti_join_sent(fanned, sent_log)
    return fanned


def pending_emails_joined(
    gold: DataFrame,
    config_rows: DataFrame,
    sent_log: DataFrame | None = None,
) -> DataFrame:
    """Scale path for the structured (P7-style) configs: configs as a
    DataFrame joined against gold, instead of one union branch per config.

    ``config_rows`` schema: (config_name string, recipients array<string>,
    ward string, service_area string, planned boolean) — null fields are
    wildcards.  The join condition evaluates each predicate family as data:
    100 configs or 100 000 configs produce the *same* two-operator plan
    (broadcast join + anti-join), where the union path grows linearly in
    plan size.  Free-form SQL-string configs (P6) stay on `pending_emails`.
    """
    cfg = F.broadcast(config_rows)
    cond = (
        (cfg["ward"].isNull() | (
            F.array_contains(F.coalesce(gold["inferred_wards"],
                                        F.array().cast("array<string>")),
                             cfg["ward"])
            & (F.coalesce(gold["area_type"], F.lit("")) != "Citywide")
        ))
        & (cfg["service_area"].isNull()
           | (gold["service_area"] == cfg["service_area"]))
        & (cfg["planned"].isNull() | (gold["planned"] == cfg["planned"]))
    )
    fanned = (
        gold.join(cfg, cond)
        .withColumn("email_key", email_key_col(F.col("config_name")))
        .withColumn(
            "legacy_email_key", legacy_email_key_col(F.col("config_name"))
        )
    )
    if sent_log is not None:
        fanned = _anti_join_sent(fanned, sent_log)
    return fanned


def email_key_col(config_name_col: Column) -> Column:
    """email_key with the config name as a column (join fan-out path)."""
    return F.sha2(
        F.concat_ws(
            "|", config_name_col, F.col(ID_COL).cast("string"), F.col("status")
        ),
        256,
    )


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
    subject_prefix = (
        "Updated Service Alert" if rec.get("_is_update") else "Service Alert"
    )
    template = jinja2.Template(
        "<html><body><h1>{{ subject }}</h1>"
        "<table>{% for k, v in fields.items() %}"
        "<tr><td>{{ k }}</td><td>{{ v }}</td></tr>{% endfor %}</table>"
        "</body></html>"
    )
    return template.render(
        subject=f"{subject_prefix}: {rec.get('title', '')}", fields=fields
    )


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
        # ST7/X5 — updates get the "Updated" subject (reference
        # ServiceAlertEmailer.py:693-696)
        prefix = (
            "Updated Service Alert" if rec.get("_is_update") else "Service Alert"
        )
        transport(
            tuple(rec["recipients"]),
            f"{prefix}: {rec.get('title', '')}",
            html,
        )
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
