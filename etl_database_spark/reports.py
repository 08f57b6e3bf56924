"""Report engine: config-driven query → HTML/CSV rendering.

Re-expresses entry point B (reference jobscripts/send_reports.py,
SURVEY.md §3.2): report configs hold a map of
``{placeholder: sql}`` body queries and a list of ``{name, query}``
attachment queries (JSONB in dba.treportmanager,
create_treportmanager.sql:31-33). Each stored query is executed with
``spark.sql`` against the session's registered views — the full
Catalyst parse/analyze/optimize/execute pipeline replaces PostgreSQL's.

Per-query error isolation is preserved: a failing body query renders
as an inline error string instead of failing the report
(send_reports.py:118-121). The SMTP edge is an injectable callable so
tests (and headless environments) don't need a mail server.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


@dataclass
class ReportConfig:
    """One row of the report-manager surface
    (create_treportmanager.sql:6-20)."""

    report_id: int
    report_name: str
    subject: str
    recipients: list[str]
    body_template: str = ""  # HTML with {{placeholder}} slots
    body_queries: dict[str, str] = field(default_factory=dict)  # placeholder → SQL
    attachment_queries: list[dict] = field(default_factory=list)  # [{name, query}]
    is_active: bool = True


@dataclass
class RenderedReport:
    report_id: int
    subject: str
    recipients: list[str]
    html_body: str
    attachments: dict[str, str]  # filename → CSV text
    errors: dict[str, str] = field(default_factory=dict)


def render_report(spark: SparkSession, cfg: ReportConfig, max_rows: int = 10000) -> RenderedReport:
    """Execute body + attachment queries and render the report.

    ``max_rows`` bounds driver-side materialization — report grids are
    human-facing; a query that returns more than this is truncated (the
    render is a sink, not a data path)."""
    # Unreplaced slots are stripped from the TEMPLATE before
    # substitution — a post-hoc sweep over the rendered body would
    # also delete any '{{...}}'-looking text that arrives via query
    # DATA (e.g. a config value stored in a table), corrupting the
    # report content.
    body = cfg.body_template
    known = {"{{" + p + "}}" for p in cfg.body_queries}
    body = re.sub(
        r"\{\{[^}]+\}\}", lambda m: m.group(0) if m.group(0) in known else "", body
    )
    # One collected frame per distinct SQL text: a query shown in the
    # body and as an attachment runs once per render.
    frames: dict[str, object] = {}
    for sql in [*cfg.body_queries.values(), *(s["query"] for s in cfg.attachment_queries)]:
        if sql not in frames:
            try:
                frames[sql] = spark.sql(sql).limit(max_rows).toPandas()
            except Exception as e:  # noqa: BLE001 — reports degrade, never crash
                frames[sql] = e
    errors: dict[str, str] = {}
    for placeholder, sql in cfg.body_queries.items():
        pdf = frames[sql]
        if isinstance(pdf, Exception):
            html = f"<p>Error in query '{placeholder}': {pdf}</p>"
            errors[placeholder] = str(pdf)
        else:
            html = pdf.to_html(index=False, border=1, classes="report-grid")
        body = body.replace("{{" + placeholder + "}}", html)

    attachments: dict[str, str] = {}
    for spec in cfg.attachment_queries:
        pdf = frames[spec["query"]]
        if isinstance(pdf, Exception):
            errors[spec["name"]] = str(pdf)
        else:
            attachments[f"{spec['name']}.csv"] = pdf.to_csv(index=False)
    return RenderedReport(
        cfg.report_id, cfg.subject, cfg.recipients, body, attachments, errors
    )


def process_reports(
    spark: SparkSession,
    configs: list[ReportConfig],
    send: Callable[[RenderedReport], None] | None = None,
    report_id: int | None = None,
) -> list[RenderedReport]:
    """Entry point B: render all active reports (or one by id) and hand
    each to ``send`` (SMTP in production, a collector in tests) —
    send_reports.py:82-151."""
    out = []
    for cfg in configs:
        if report_id is not None and cfg.report_id != report_id:
            continue
        if report_id is None and not cfg.is_active:
            continue
        rendered = render_report(spark, cfg)
        if send is not None:
            send(rendered)
        out.append(rendered)
    return out


def smtp_sender(host: str, port: int, user: str, password: str):
    """Build an SMTP-SSL send callable (send_reports.py:52-80). Import
    deferred; environments without network simply never call this."""

    def send(report: RenderedReport) -> None:  # pragma: no cover - network edge
        import smtplib
        from email.mime.base import MIMEBase
        from email.mime.multipart import MIMEMultipart
        from email.mime.text import MIMEText
        from email import encoders

        msg = MIMEMultipart()
        msg["Subject"] = report.subject
        msg["From"] = user
        msg["To"] = ", ".join(report.recipients)
        msg.attach(MIMEText(report.html_body, "html"))
        for fname, text in report.attachments.items():
            part = MIMEBase("application", "octet-stream")
            part.set_payload(text.encode())
            encoders.encode_base64(part)
            part.add_header("Content-Disposition", f"attachment; filename={fname}")
            msg.attach(part)
        with smtplib.SMTP_SSL(host, port) as s:
            s.login(user, password)
            s.sendmail(user, report.recipients, msg.as_string())

    return send
