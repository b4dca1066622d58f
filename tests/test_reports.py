"""Report sinks: HTML structure, red-alert styling, chart data prep,
MIME assembly, and the end-to-end report pipeline."""

from __future__ import annotations

from collections import Counter

import pytest

from tableau_dashboard_performance_etl_automation_spark import pipeline
from tableau_dashboard_performance_etl_automation_spark.catalog import load_table
from tableau_dashboard_performance_etl_automation_spark.operators import tabjolt
from tableau_dashboard_performance_etl_automation_spark.reports import (
    chart,
    email_sink,
    html,
)


def test_regression_table_red_is_strictly_above_20():
    rows = [
        (100.0, 120, "key_at_boundary", 20.0),
        (100.0, 121, "key_above", 21.0),
    ]
    out = html.regression_table(rows)
    # per-cell styling like the reference (tabjolt_email.py:230):
    # all 4 cells of the >20 row are red, the boundary row has none
    boundary_row, above_row = out.split("<tr>")[2], out.split("<tr>")[3]
    assert "key_at_boundary" in boundary_row
    assert "color: red;" not in boundary_row
    assert "key_above" in above_row
    assert above_row.count("color: red;") == 4


def test_float_cells_format_two_decimal_percent():
    out = html.regression_table([(100.0, 150, "k", 50.1234)])
    assert "50.12%" in out
    assert "100.00%" in out  # avg column is float too, same rule as reference


def test_chart_data_prep_sorts_and_scales():
    dates, values = chart.trend_points([("2024-02-01", 1500), ("2024-01-01", 900)])
    assert dates == ["2024-01-01", "2024-02-01"]
    assert values == [900, 1500]
    assert chart.ytick_ceiling(12973) == 13000 + 1000


def test_chart_renderer_always_produces_png(tmp_path):
    # with or without matplotlib a real decodable PNG comes out
    # (stdlib fallback since round 7); empty series → None
    out = chart.render_trend_chart(
        [("2024-01-01", 100)], str(tmp_path / "g.png")
    )
    assert out is not None
    data = (tmp_path / "g.png").read_bytes()
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    assert chart.render_trend_chart([], str(tmp_path / "e.png")) is None


def test_stdlib_chart_golden_five_point_series(tmp_path):
    """The fallback raster against the reference golden's shape
    (average_time_graph.png: 1000×600, bit depth 8, RGBA): full
    zlib round-trip, blue series pixels present, marker at the
    expected projected position, annotations/tick text drawn."""
    import datetime
    import struct
    import zlib

    from tableau_dashboard_performance_etl_automation_spark.reports import png_mini

    rows = [
        (datetime.date(2024, 7, 26), 9534),
        (datetime.date(2024, 7, 27), 12661),
        (datetime.date(2024, 7, 28), 11200),
        (datetime.date(2024, 7, 29), 12973),
        (datetime.date(2024, 7, 30), 12661),
    ]
    out = chart._render_trend_chart_stdlib(
        [r[0] for r in rows], [r[1] for r in rows], str(tmp_path / "g.png")
    )
    data = (tmp_path / "g.png").read_bytes()
    w, h, depth, ctype = png_mini.decode_png_header(data)
    assert (w, h, depth, ctype) == (1000, 600, 8, 6)  # golden header shape
    i = data.find(b"IDAT")
    (ln,) = struct.unpack(">I", data[i - 4 : i])
    raw = zlib.decompress(data[i + 4 : i + 4 + ln])
    assert len(raw) == h * (1 + w * 4)  # filter byte + RGBA per row

    def pixel(x, y):
        base = y * (1 + w * 4) + 1 + x * 4
        return tuple(raw[base : base + 4])

    blue = (31, 119, 180, 255)
    # the middle point (11200 on 2024-07-28) projects to the center
    # column; recompute the projection the renderer used
    x0, x1 = chart._MARGIN_L, chart._FIG_W - chart._MARGIN_R
    y0, y1 = chart._MARGIN_T, chart._FIG_H - chart._MARGIN_B
    ymax = chart.ytick_ceiling(12973)
    mx = x0 + round(2 / 4 * (x1 - x0))
    my = y1 - round(11200 / ymax * (y1 - y0))
    assert pixel(mx, my) == blue  # marker disc center
    n_blue = sum(
        1
        for y in range(y0, y1)
        for x in range(x0, x1, 7)
        if pixel(x, y) == blue
    )
    assert n_blue > 50  # the polyline crosses the sampled columns
    # black text pixels exist above the top marker (its annotation)
    tx = x0 + round(3 / 4 * (x1 - x0))
    ty = y1 - round(12973 / ymax * (y1 - y0))
    ann = sum(
        1
        for y in range(ty - 20, ty - 5)
        for x in range(tx - 30, tx + 30)
        if pixel(x, y) == (0, 0, 0, 255)
    )
    assert ann > 10


def test_build_message_inlines_chart(tmp_path):
    png = tmp_path / "g.png"
    png.write_bytes(b"\x89PNG\r\n\x1a\nfake")
    msg = email_sink.build_message(
        "subj", "a@x", ["b@y", "c@z"], "<html></html>", chart_path=str(png)
    )
    parts = msg.get_payload()
    assert msg["To"] == "b@y, c@z"
    assert parts[0].get_content_type() == "text/html"
    assert parts[1].get_content_type() == "image/png"
    assert parts[1]["Content-ID"] == "<graph_cid>"


def test_run_report_end_to_end(spark, sf_dir):
    res = pipeline.run_report(spark, sf_dir)
    assert len(res.metrics) == 5
    assert "<h1>" in res.html_report
    assert res.regressions and res.samples
    # every section's rows made it into the html
    assert str(res.regressions[0][1]) in res.html_report


#: The registered builder behind each of run_report's five metrics.
METRIC_QUERIES = (
    "q_summary_avg_today",
    "q_summary_max_today",
    "q_summary_min_today",
    "q_last_run_ts",
    "q_historic_avg",
)


@pytest.fixture
def empty_events_dir(spark, sf_dir, tmp_path):
    out = tmp_path / "empty"
    load_table(spark, sf_dir, "events").limit(0).write.parquet(
        str(out / "events.parquet")
    )
    return str(out)


@pytest.mark.parametrize("which", ["sf_dir", "empty_events_dir"])
def test_run_report_equals_registered_builders(
    spark, request, tmp_path, monkeypatch, which
):
    """run_report's three plans return what the nine registered
    builders return, also 0/NULL on an empty events table."""
    src = request.getfixturevalue(which)
    charted = []
    monkeypatch.setattr(
        chart, "render_trend_chart", lambda rows, out: charted.append(rows)
    )
    res = pipeline.run_report(spark, src, chart_out=str(tmp_path / "c.png"))

    def rows(name):
        return [tuple(r) for r in tabjolt.QUERIES[name](spark, src).collect()]

    assert [v for _, v in res.metrics] == [rows(q)[0][0] for q in METRIC_QUERIES]
    for got, name in (
        (res.regressions, "q_regressions"),
        (res.samples, "q_samples_today"),
        (res.improvements, "q_improvements"),
    ):
        want = rows(name)
        assert Counter(got) == Counter(want), name
        if name != "q_samples_today":
            assert [r[3] for r in got] == [r[3] for r in want], name
    assert charted == [rows("q_trend_series")]
    if which == "sf_dir":
        assert res.regressions and res.improvements and res.samples


def test_pct_order_matches_spark_desc(spark):
    rows = [
        (0.0, 5, "a", None),
        (10.0, 15, "b", 50.0),
        (10.0, 5, "c", -50.0),
        (10.0, 10, "d", 0.0),
        (0.0, 7, "e", None),
        (10.0, 11, "f", 10.0),
    ]
    df = spark.createDataFrame(rows, "a double, c int, k string, pct double")
    want = [r.pct for r in df.orderBy(df.pct.desc()).collect()]
    assert [r[3] for r in pipeline._by_pct_desc(rows)] == want


def test_run_report_is_three_collects_over_one_events_load(
    spark, sf_dir, monkeypatch
):
    collects, loads = [], []
    df_type = type(spark.range(1))
    real_collect = df_type.collect
    monkeypatch.setattr(
        df_type, "collect", lambda self: collects.append(1) or real_collect(self)
    )
    monkeypatch.setattr(
        tabjolt,
        "load_table",
        lambda *a: loads.append(a[2]) or load_table(*a),
    )
    pipeline.run_report(spark, sf_dir)
    assert len(collects) == 3
    assert loads == ["events"]
