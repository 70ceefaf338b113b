"""LLM enrichment stages (X1 post drafting, X2 location extraction).

Re-expresses the reference's per-row HTTP loops
(ServiceAlertAugmenter.py:226-409, 572-621) as per-frame row loops, also
wrapped as ``mapInPandas`` operators:

* injectable client (tests inject :class:`StubLLMClient`; production injects
  an OpenAI-compatible HTTP client with the same protocol);
* retry ×``max_retries`` with temperature bump per attempt, then endpoint
  fallback — mirroring the reference's policy (Augmenter:337-409);
* shorten-reprompt when a draft exceeds ``max_post_length`` (:217-223);
* prompt-token budgeting with a hard bail (:344-351) — estimated as
  ``(len/4)*1.2 + 256`` like the reference;
* failures land in an ``llm_error`` column; the engine never ``sys.exit``s
  from an executor (SURVEY §7(e)).

Concurrency/rate control: a row loop (:func:`draft_rows`,
:func:`locate_rows`) calls serially, so requests run one at a time per
frame — on the driver in the augmenter, per partition in the operators.
:func:`draft_posts`' admission cap plans one partition, and
:func:`extract_locations` coalesces to ``max_partitions``.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass
from typing import Callable, Protocol

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from service_alerts_connector_spark.constants import (
    DRAFT_LIMIT,
    ID_COL,
    MAX_POST_LENGTH,
    PROMPT_LENGTH_LIMIT,
)
from service_alerts_connector_spark.enrichment import map_row_loop


class LLMClient(Protocol):
    """Minimal chat-completion protocol; implementations must be
    picklable (constructed per-partition or serialized into the closure)."""

    def complete(self, prompt: str, temperature: float) -> str: ...


@dataclass(frozen=True)
class StubLLMClient:
    """Deterministic test double: content-addressed pseudo-drafts.

    ``mode='draft'`` returns a short summary-like string derived from the
    prompt hash; ``mode='locations'`` returns a JSON array-of-arrays of
    pseudo location strings — shaped like the reference's few-shot examples
    (summary_prompt_template.yaml.jinja2, location_prompt_template.yaml.jinja2).
    """

    mode: str = "draft"
    fail_every: int = 0  # every Nth call raises (retry-path testing)

    def complete(self, prompt: str, temperature: float) -> str:
        h = hashlib.md5(prompt.encode()).hexdigest()
        if self.fail_every and int(h, 16) % self.fail_every == 0 and temperature < 0.5:
            raise RuntimeError("stub transient failure")
        if self.mode == "locations":
            return json.dumps([[f"Street {h[:6]}", f"Suburb {h[6:12]}"]])
        return f"Service alert update {h[:12]}: crews are attending."


def estimate_tokens(prompt: str) -> int:
    """Reference token estimate: ``(len/4)*1.2 + 256`` (Augmenter:344-351)."""
    return int(len(prompt) / 4 * 1.2) + 256


# ---------------------------------------------------------------------------
# Packaged few-shot prompt templates (same structure as the reference's
# summary/location/shorten yaml.jinja2 resources; original content)
# ---------------------------------------------------------------------------
def load_prompt_template(name: str) -> str:
    """Read a packaged template's text (driver-side; builders close over
    the string so executors never need the data file)."""
    from importlib import resources

    return (
        resources.files("service_alerts_connector_spark.resources")
        .joinpath(name)
        .read_text()
    )


def render_chat_messages(
    template_text: str, **params: object
) -> list[dict]:
    """Render a YAML/Jinja2 chat template → [{role, content}, ...].

    Structure contract (matches the reference's prompt resources,
    summary_prompt_template.yaml.jinja2:1-101): a system preamble, N
    few-shot user/assistant pairs, and a final user slot carrying the live
    record (``record_json``) or post (``post_text``)."""
    import jinja2
    import yaml

    rendered = jinja2.Template(template_text).render(**params)
    messages = yaml.safe_load(rendered)
    if not isinstance(messages, list) or not all(
        isinstance(m, dict) and {"role", "content"} <= set(m) for m in messages
    ):
        raise ValueError("prompt template must render to a chat-message list")
    return messages


def flatten_messages(messages: list[dict]) -> str:
    """Serialize chat messages for the flat-prompt ``LLMClient`` protocol.
    An OpenAI-compatible client would take the message list directly; the
    flattened transcript keeps the few-shot structure visible to both."""
    return "\n\n".join(
        f"[{m['role']}]\n{str(m['content']).rstrip()}" for m in messages
    )


def _record_json(rec: dict) -> str:
    return json.dumps(
        {k: rec[k] for k in sorted(rec) if k != ID_COL},
        default=str,
        ensure_ascii=False,
    )


def summary_prompt_builder(
    max_post_length: int = MAX_POST_LENGTH,
) -> Callable[[dict], str]:
    """X1 prompt builder from the packaged summary template."""
    text = load_prompt_template("summary_prompt.yaml.jinja2")

    def build(rec: dict) -> str:
        return flatten_messages(
            render_chat_messages(
                text,
                max_post_length=max_post_length,
                record_json=_record_json(rec),
            )
        )

    return build


def location_prompt_builder() -> Callable[[dict], str]:
    """X2 prompt builder from the packaged location template."""
    text = load_prompt_template("location_prompt.yaml.jinja2")

    def build(rec: dict) -> str:
        return flatten_messages(
            render_chat_messages(text, record_json=_record_json(rec))
        )

    return build


def shorten_prompt_builder(
    max_post_length: int = MAX_POST_LENGTH,
) -> Callable[[str], str]:
    """Shorten-reprompt builder from the packaged shorten template."""
    text = load_prompt_template("shorten_prompt.yaml.jinja2")

    def build(post_text: str) -> str:
        return flatten_messages(
            render_chat_messages(
                text, max_post_length=max_post_length, post_text=post_text
            )
        )

    return build


@dataclass(frozen=True)
class RetryPolicy:
    max_retries: int = 3
    base_temperature: float = 0.2
    temperature_bump: float = 0.15


def _call_with_retry(
    clients: list[LLMClient], prompt: str, policy: RetryPolicy
) -> tuple[str | None, str | None]:
    """Try each client in order (primary → fallback), with temperature-bumped
    retries per client.  Returns (text, error)."""
    last_err: str | None = None
    for client in clients:
        for attempt in range(policy.max_retries):
            try:
                t = policy.base_temperature + attempt * policy.temperature_bump
                text = client.complete(prompt, temperature=t)
                if text and len(text.strip()) > 1:  # one-char-response guard
                    return text, None
                last_err = "degenerate response"
            except Exception as e:  # noqa: BLE001 — error column, not abort
                last_err = f"{type(e).__name__}: {e}"
    return None, last_err


def _row_record(row: pd.Series) -> dict:
    """A row's non-null cells; array cells are kept whole."""
    return {
        c: v
        for c, v in row.items()
        if v is not None and not (pd.api.types.is_scalar(v) and pd.isna(v))
    }


def draft_rows(
    pdf: pd.DataFrame,
    clients: list[LLMClient],
    prompt_builder: Callable[[dict], str],
    max_post_length: int = MAX_POST_LENGTH,
    policy: RetryPolicy = RetryPolicy(),
    shorten_builder: Callable[[str], str] | None = None,
) -> tuple[list[str | None], list[str | None]]:
    """X1 row loop — one post per row of ``pdf``, as (texts, errors).
    Over-length drafts re-prompt through ``shorten_builder`` (default: the
    packaged few-shot shorten template, Augmenter:217-223 semantics)."""
    if shorten_builder is None:
        shorten_builder = shorten_prompt_builder(max_post_length)
    texts, errs = [], []
    for _, row in pdf.iterrows():
        prompt = prompt_builder(_row_record(row))
        if estimate_tokens(prompt) > PROMPT_LENGTH_LIMIT:
            text, err = None, "prompt too long"
        else:
            text, err = _call_with_retry(clients, prompt, policy)
            if text and len(text) > max_post_length:
                # shorten-reprompt (Augmenter:217-223)
                text, err = _call_with_retry(
                    clients, shorten_builder(text), policy
                )
                if text and len(text) > max_post_length:
                    text, err = text[:max_post_length], "truncated"
        texts.append(text)
        errs.append(err)
    return texts, errs


def draft_posts(
    df: DataFrame,
    clients: list[LLMClient],
    prompt_builder: Callable[[dict], str],
    out_col: str = "tweet_text",
    max_post_length: int = MAX_POST_LENGTH,
    policy: RetryPolicy = RetryPolicy(),
    limit: int = DRAFT_LIMIT,
    shorten_builder: Callable[[str], str] | None = None,
) -> DataFrame:
    """X1 — :func:`draft_rows` over the ``limit`` rows with the largest Ids,
    as a ``mapInPandas``; returns (Id, out_col, llm_error).
    """
    # built on the driver: executors never read the template file
    if shorten_builder is None:
        shorten_builder = shorten_prompt_builder(max_post_length)
    # Deterministic admission cap: the reference drafts for the most
    # RECENT alerts (positional tail of its frame); a bare limit()
    # admits an arbitrary partition-race subset, so make the recency
    # explicit — largest Id wins, planning TakeOrderedAndProject
    # (per-partition partial top-k, no global sort) into one partition.
    work = df.orderBy(F.col(ID_COL).desc()).limit(limit)
    return map_row_loop(
        work,
        lambda pdf: draft_rows(
            pdf, clients, prompt_builder, max_post_length, policy,
            shorten_builder,
        ),
        ID_COL,
        {out_col: "string", "llm_error": "string"},
    )


def _repair_locations(text: str) -> list[list[str]] | None:
    """Unwrap over-nested arrays, wrap flat ones, reject non-string leaves."""
    try:
        obj = json.loads(text)
    except json.JSONDecodeError:
        return None
    # unwrap [[[...]]] → [[...]]
    while (
        isinstance(obj, list)
        and len(obj) == 1
        and isinstance(obj[0], list)
        and obj[0]
        and isinstance(obj[0][0], list)
    ):
        obj = obj[0]
    # wrap ["a","b"] → [["a","b"]]
    if isinstance(obj, list) and obj and all(isinstance(x, str) for x in obj):
        obj = [obj]
    if not isinstance(obj, list) or not all(
        isinstance(g, list) and all(isinstance(x, str) for x in g)
        for g in obj
    ):
        return None
    return obj


def locate_rows(
    pdf: pd.DataFrame,
    clients: list[LLMClient],
    prompt_builder: Callable[[dict], str],
    policy: RetryPolicy = RetryPolicy(),
) -> tuple[list[list[list[str]] | None], list[str | None]]:
    """X2 row loop — nested location suggestions per row of ``pdf``, as
    (suggestions, errors).  JSON-shape repair mirrors the reference
    (Augmenter:226-319); malformed responses land in the errors."""
    locs, errs = [], []
    for _, row in pdf.iterrows():
        text, err = _call_with_retry(
            clients, prompt_builder(_row_record(row)), policy
        )
        found = _repair_locations(text) if text else None
        if text and found is None and err is None:
            err = "malformed location JSON"
        locs.append(found)
        errs.append(err)
    return locs, errs


def extract_locations(
    df: DataFrame,
    clients: list[LLMClient],
    prompt_builder: Callable[[dict], str],
    out_col: str = "suggested_locations",
    policy: RetryPolicy = RetryPolicy(),
    max_partitions: int = 4,
) -> DataFrame:
    """X2 — :func:`locate_rows` as a ``mapInPandas`` over at most
    ``max_partitions`` partitions; returns (Id, out_col
    array<array<string>>, llm_error).
    """
    return map_row_loop(
        df.coalesce(max_partitions),
        lambda pdf: locate_rows(pdf, clients, prompt_builder, policy),
        ID_COL,
        {out_col: "array<array<string>>", "llm_error": "string"},
    )
