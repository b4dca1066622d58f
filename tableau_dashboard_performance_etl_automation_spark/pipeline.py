"""The daily report — the engine's equivalent of the reference's
``__main__`` block (tabjolt_email.py:345-394) after its load step:

    the report queries over the ``events`` table → chart + HTML
    report → (optional) SMTP send.

``run_report`` reads the parquet ``events`` table under ``sf_dir``
(``catalog.load_table``; local or ``s3a://``). It does not extract or
load files: the reference's delimited bulk load with reject capture is
``sources.delimited.load_manifest``. The queries are the three report
plans of ``operators/tabjolt.py``, which return what the reference's
nine queries return; only the final human-sized report rows are ever
collected.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import SparkSession

from tableau_dashboard_performance_etl_automation_spark.operators import tabjolt
from tableau_dashboard_performance_etl_automation_spark.reports import (
    chart,
    email_sink,
    html,
)


@dataclass
class PipelineResult:
    metrics: list[tuple[str, object]]
    regressions: list[tuple]
    samples: list[tuple]
    improvements: list[tuple]
    html_report: str
    chart_path: str | None = None


def load_config(config_file: str) -> dict:
    """JSON config document (reference config.json shape: smtp/source
    sections; tabjolt_email.py:12-15)."""
    with open(config_file) as f:
        return json.load(f)


def _by_pct_desc(rows: list[tuple]) -> list[tuple]:
    """Sort comparison rows by ``percentage_difference`` descending, nulls
    last, as Spark's ``desc()`` orders them."""
    return sorted(rows, key=lambda r: (r[3] is None, -(r[3] or 0.0)))


def run_report(
    spark: SparkSession,
    sf_dir: str,
    subject: str = "Daily Performance Run Summary",
    chart_out: str | None = None,
    smtp_config: dict | None = None,
) -> PipelineResult:
    """Run the reference's report queries and assemble the email body.

    ``smtp_config=None`` (default) builds but does not send — sending
    is an explicit opt-in with real credentials, mirroring the
    reference's config-driven send (tabjolt_email.py:389-394).
    """
    e = tabjolt._events(spark, sf_dir)
    summary = tabjolt.report_summary(e).collect()[0]
    metrics = [
        ("Average time for the latest run (ms)", summary.avg_today),
        ("Maximum time for the latest run (ms)", summary.max_today),
        ("Minimum time for the latest run (ms)", summary.min_today),
        ("Latest event at", summary.last_run_ts),
        ("Historic average (ms)", summary.historic_avg),
    ]
    trend_rows = [tuple(r) for r in summary.trend]
    compared = [
        tuple(r)
        for r in tabjolt.report_comparison(e, summary.anchor_date).collect()
    ]
    # regressions have avg < current, improvements avg > current
    regressions = _by_pct_desc([r for r in compared if r[0] < r[1]])
    improvements = _by_pct_desc([r for r in compared if r[0] > r[1]])
    samples = [
        tuple(r)
        for r in tabjolt.report_samples(e, summary.anchor_date).collect()
    ]

    chart_path = (
        chart.render_trend_chart(trend_rows, chart_out) if chart_out else None
    )
    body = html.render_report(
        subject,
        metrics,
        regressions,
        samples,
        improvements,
        chart_cid="graph_cid" if chart_path else None,
    )
    if smtp_config:
        msg = email_sink.build_message(
            subject,
            smtp_config["sender_email"],
            smtp_config["recipient_emails"],
            body,
            chart_path=chart_path,
        )
        email_sink.send(msg, smtp_config)
    return PipelineResult(
        metrics=metrics,
        regressions=regressions,
        samples=samples,
        improvements=improvements,
        html_report=body,
        chart_path=chart_path,
    )
