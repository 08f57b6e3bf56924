from etl_database_spark.reports import ReportConfig, process_reports, render_report


def _cfg(**kw):
    defaults = dict(
        report_id=1,
        report_name="daily",
        subject="Daily Report",
        recipients=["a@example.com"],
        body_template="<h1>R</h1>{{grid}}",
        body_queries={"grid": "SELECT * FROM t ORDER BY id"},
        attachment_queries=[{"name": "data", "query": "SELECT * FROM t"}],
    )
    defaults.update(kw)
    return ReportConfig(**defaults)


def test_render_report(spark):
    spark.createDataFrame([(1, "x"), (2, "y")], "id int, v string").createOrReplaceTempView("t")
    out = render_report(spark, _cfg())
    assert "<table" in out.html_body and "{{grid}}" not in out.html_body
    assert "x" in out.html_body and "y" in out.html_body
    assert "data.csv" in out.attachments
    assert out.attachments["data.csv"].startswith("id,v")
    assert not out.errors


def test_error_isolation(spark):
    """A failing query renders as error text, never crashes the report
    (send_reports.py:118-121)."""
    spark.createDataFrame([(1,)], "id int").createOrReplaceTempView("t")
    cfg = _cfg(
        body_queries={"grid": "SELECT * FROM missing_table"},
        attachment_queries=[{"name": "bad", "query": "SELECT broken syntax !!"}],
    )
    out = render_report(spark, cfg)
    assert "Error in query 'grid'" in out.html_body
    assert "grid" in out.errors and "bad" in out.errors
    assert out.attachments == {}


def test_process_reports_filters_and_sends(spark):
    spark.createDataFrame([(1,)], "id int").createOrReplaceTempView("t")
    sent = []
    configs = [
        _cfg(report_id=1),
        _cfg(report_id=2, is_active=False),
    ]
    out = process_reports(spark, configs, send=sent.append)
    assert [r.report_id for r in out] == [1]
    assert len(sent) == 1
    out2 = process_reports(spark, configs, report_id=2)
    assert [r.report_id for r in out2] == [2]


def test_repeated_sql_runs_once_per_render(spark, jobs_of):
    """A SQL text in two body slots and an attachment is executed once;
    the grid and the CSV are rendered from the one collected frame."""
    spark.range(40).selectExpr("id % 4 AS k").createOrReplaceTempView("r")
    sql = "SELECT k, count(*) AS n FROM r GROUP BY k ORDER BY k"
    once = _cfg(body_template="{{a}}", body_queries={"a": sql}, attachment_queries=[])
    thrice = _cfg(body_template="{{a}}<hr>{{b}}", body_queries={"a": sql, "b": sql},
                  attachment_queries=[{"name": "k", "query": sql}])
    render_report(spark, once)  # warm: plan caches, first-run jobs
    single, jobs_single = jobs_of(lambda: render_report(spark, once))
    out, jobs = jobs_of(lambda: render_report(spark, thrice))
    assert len(jobs_single) >= 1 and len(jobs) == len(jobs_single)
    assert out.html_body == single.html_body + "<hr>" + single.html_body
    assert out.attachments["k.csv"] == "k,n\n0,10\n1,10\n2,10\n3,10\n"
    assert not out.errors
