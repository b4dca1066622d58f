"""The repository benchmark: the daily TabJolt report and a registered
query corpus, closed loop, one client, Spark at ``local[<cpus>]``.

    python3 perfbench/run.py --workload daily_report --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Workloads (see perfbench/NOTES.md):

- ``daily_report``: one generated TabJolt day, 200k sample lines.
- ``query_corpus``: ``pipeline.run_report`` plus a fixed list of
  registered queries over a generated parquet corpus.

Each run generates its inputs from ``--seed`` (untimed), sets up once
(session, the workload's ``warm_passes`` untimed passes, artifact
builds into a fresh warehouse), then runs passes back to back for
``--seconds``, and at least the workload's ``min_passes``. Between
passes, untimed: Python and JVM garbage collection and
``spark.catalog.clearCache()``. Outputs are checked outside the timed
windows; every failed op is printed by name.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics, including
the tracing overhead. The last stdout line is one JSON object.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

PROGRAM_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from spans import PlanListener, Tracer, gc_seconds, job_group_counters  # noqa: E402

PACKAGE = "tableau_dashboard_performance_etl_automation_spark"
SETTLE_S = 1.0
#: One registered query per fifth of the registry's measured per-query
#: cost (BENCH_DETAIL.json: the nearest query to the 10th, 30th, 50th,
#: 70th and 90th percentile that matches its DuckDB twin on generated
#: corpora). One of the five reads a warehouse artifact (knn_label_vote),
#: as about a ninth of the registry does; see NOTES.md.
CORPUS_QUERIES = (
    "dedup_exact", "purchase_click_attribution_final", "knn_label_vote", "cdc_upsert_customers",
    "sole_late_suppliers",
)
REPORT_QUERIES = {  # run_report's result field -> the tabjolt query behind it
    "regressions": "q_regressions", "samples": "q_samples_today", "improvements": "q_improvements",
}
REPORT_METRICS = ("q_summary_avg_today", "q_summary_max_today", "q_summary_min_today",
                  "q_last_run_ts", "q_historic_avg")
SUBJECT = "Daily Performance Run Summary"

END_TO_END = {
    "setup_s": "s", "report_s": "s", "corpus_pass_s": "s", "query_p50_s": "s", "ok_frac": "fraction",
}
PER_LAYER = {
    "session.get_spark_s": "s", "warmup_s": "s",
    "sources.warehouse.builds": "count", "sources.warehouse.hits": "count",
    "sources.warehouse.build_s": "s", "sources.warehouse.timed_builds": "count",
    "sources.delimited.load_s": "s", "sources.delimited.rows_per_s": "1/s",
    "sources.delimited.rows_rejected": "count",
    "operators.tabjolt_compat.build_s": "s", "operators.tabjolt_compat.exec_s": "s",
    "reports.chart_s": "s", "reports.html_s": "s", "reports.html_rows": "count",
    "catalog.load_table_calls": "count", "catalog.load_table_s": "s",
    "operators.build_s": "s", "catalyst.plan_s": "s", "operators.exec_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "jvm.gc_s": "s", "host.probe_s": "s", "trace.overhead_s": "s",
}


class OpLog:
    """Ops attempted and failed, each failure with its name and reason."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []

    def check(self, name: str, problem: str | None) -> None:
        """Count one op; ``problem`` is ``None`` when it passed."""
        self.attempted += 1
        if problem:
            self.failures.append((name, problem))


# --- result comparison ------------------------------------------------------


def _cell(v) -> str:
    if isinstance(v, float):
        return f"f:{v!r}"
    if hasattr(v, "isoformat"):
        return f"t:{v.isoformat()}"
    return f"{type(v).__name__}:{v}"


def rows_problem(got: list, want: list, ordered: bool = False) -> str | None:
    """``None`` when the rows match exactly (as a multiset unless
    ``ordered``); else a one-line reason."""
    g = [tuple(_cell(c) for c in r) for r in got]
    w = [tuple(_cell(c) for c in r) for r in want]
    if not ordered:
        g, w = sorted(g), sorted(w)
    if g == w:
        return None
    diff = next(((a, b) for a, b in zip(g, w) if a != b), None)
    return f"{len(got)} rows vs {len(want)} expected; first difference {diff}"


def _error(exc: Exception) -> str:
    return f"{type(exc).__name__}: {(str(exc).splitlines() or [''])[0][:200]}"


def order_problem(rows: list, col: int) -> str | None:
    """Rows must be sorted by ``col`` descending, nulls last."""
    keys = [r[col] for r in rows]
    n = sum(k is not None for k in keys)
    head, tail = keys[:n], keys[n:]
    if any(k is not None for k in tail) or any(a < b for a, b in zip(head, head[1:])):
        return f"not ordered by column {col} descending, nulls last"
    return None


# --- workloads --------------------------------------------------------------


class DailyWorkload:
    """Ingest the four files, collect the nine queries, render chart and HTML."""

    #: Untimed passes in set-up, and the fewest timed passes in a run.
    #: The JVM warms for several passes (on 4 cores: 4.1, 3.8, 3.5, 3.2,
    #: 3.0, 3.1 s), and single passes of this short job vary by 20%
    #: from bursts on the machine; the median of five timed passes
    #: leaves out the warm-up's tail and up to two such bursts.
    warm_passes = 2
    min_passes = 5

    def __init__(self, seed: int, work: str) -> None:
        import gen_tabjolt

        self.work = work
        self.drop = gen_tabjolt.generate(seed, os.path.join(work, "input"))
        self.input_lines = sum(self.drop.lines.values())

    def describe(self) -> str:
        d = self.drop
        return (f"as_of={d.as_of} lines={d.lines} malformed={d.malformed} keys={d.keys} "
                f"expected_rows={ {k: len(v) for k, v in d.expected.items()} }")

    def run_pass(self, spark, tr, timing: dict) -> dict:
        from tableau_dashboard_performance_etl_automation_spark.operators import tabjolt_compat
        from tableau_dashboard_performance_etl_automation_spark.reports import chart, html
        from tableau_dashboard_performance_etl_automation_spark.sources import delimited

        manifest = [(self.drop.files[name], name, schema, delim, header)
                    for name, (schema, delim, header) in tabjolt_compat.LOAD_MANIFEST.items()]
        t0 = time.perf_counter()
        with tr.span("ingest"):
            loads = delimited.load_manifest(spark, manifest, reject_path=os.path.join(self.work, "rejected"))
        t1 = time.perf_counter()
        with tr.span("queries"):
            with tr.span("build"):
                dfs = tabjolt_compat.run_reference_queries(spark, as_of=self.drop.as_of)
            results = {}
            with tr.span("exec"):
                for name, df in dfs.items():
                    q0 = time.perf_counter()
                    with tr.span("query"):
                        results[name] = [tuple(r) for r in df.collect()]
                    timing["query_s"].append(time.perf_counter() - q0)
        t2 = time.perf_counter()
        with tr.span("render"):
            chart_path = chart.render_trend_chart(results["trend_series"], os.path.join(self.work, "chart.png"))
            metrics = [(name, results[name][0][0]) for name in
                       ("summary_avg_today", "summary_max_today", "summary_min_today", "last_run_ts", "historic_avg")]
            body = html.render_report(SUBJECT, metrics, results["regressions"], results["samples_today"],
                                      results["improvements"])
        t3 = time.perf_counter()
        timing["report_s"].append(t3 - t0)
        timing["corpus_pass_s"].append(t2 - t1)
        tr.add("reports.html_rows", len(metrics) + sum(len(results[k]) for k in
                                                        ("regressions", "samples_today", "improvements")))
        return {"loads": loads, "results": results, "chart": chart_path, "html": body, "metrics": metrics}

    def check_pass(self, spark, out: dict, ops: OpLog, tag: str, tr) -> None:
        """Row conservation and exact reject counts per file, the nine
        results against the generator's own values, and the render."""
        for name, res in out["loads"].items():
            good, rejected = res.counts()
            tr.add("sources.delimited.rows_rejected", rejected)
            lines = self.drop.lines[name]
            ops.check(f"{tag}/ingest/{name}",
                      None if (good + rejected, rejected) == (lines, self.drop.malformed[name]) else
                      f"good {good} + rejected {rejected}, expected {lines} lines with "
                      f"{self.drop.malformed[name]} rejected")
        ordered = {"trend_series"}
        for name, want in self.drop.expected.items():
            got = out["results"][name]
            problem = rows_problem(got, want, ordered=name in ordered)
            if problem is None and name in ("samples_today", "regressions"):
                problem = order_problem(got, 0 if name == "samples_today" else 3)
            ops.check(f"{tag}/query/{name}", problem)
        n_rows = len(out["metrics"]) + sum(len(self.drop.expected[k]) for k in
                                           ("regressions", "samples_today", "improvements"))
        body = out["html"]
        problem = None
        if body.count("<tr>") != n_rows + 4:
            problem = f"html has {body.count('<tr>')} rows, expected {n_rows + 4}"
        elif not out["chart"] or open(out["chart"], "rb").read(8) != b"\x89PNG\r\n\x1a\n":
            problem = "chart is not a PNG"
        ops.check(f"{tag}/render", problem)


class CorpusWorkload:
    """``pipeline.run_report`` plus one pass over ``CORPUS_QUERIES``."""

    #: A pass takes about 8 s on 4 cores, so the time budget leaves room
    #: for three passes after the cold one (see NOTES.md). The first of
    #: them is still about 20% slower; the median of three leaves it out.
    warm_passes = 1
    min_passes = 3

    def __init__(self, seed: int, work: str) -> None:
        import gen_corpus

        self.work = work
        self.dir = os.path.join(work, "corpus")
        self.rows = gen_corpus.generate(seed, self.dir)
        self.oracle_ok: dict[str, str | None] = {}
        self.report_expected: dict | None = None
        self._queries: dict | None = None

    def queries(self) -> dict:
        import __spark_entry__

        if self._queries is None:
            self._queries = __spark_entry__.queries()
        return self._queries

    def describe(self) -> str:
        return f"rows={self.rows} queries={len(CORPUS_QUERIES)}"

    def run_pass(self, spark, tr, timing: dict) -> dict:
        from tableau_dashboard_performance_etl_automation_spark import pipeline

        queries = self.queries()
        t0 = time.perf_counter()
        with tr.span("report"):
            report = pipeline.run_report(spark, self.dir, chart_out=os.path.join(self.work, "chart.png"))
        t1 = time.perf_counter()
        errors = {}
        with tr.span("queries"):
            for name in CORPUS_QUERIES:
                q0 = time.perf_counter()
                try:
                    with tr.span("query"):
                        with tr.span("build"):
                            df = queries[name](spark, self.dir)
                        with tr.span("exec"):
                            df.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # noqa: BLE001 - an op failure is reported, the run goes on
                    errors[name] = _error(exc)
                timing["query_s"].append(time.perf_counter() - q0)
        t2 = time.perf_counter()
        timing["report_s"].append(t1 - t0)
        timing["corpus_pass_s"].append(t2 - t1)
        tr.add("reports.html_rows", len(report.metrics) + len(report.regressions) + len(report.samples)
               + len(report.improvements))
        return {"report": report, "errors": errors}

    def _oracles(self, spark):
        """DuckDB twins of the listed queries and of run_report's queries,
        once per run."""
        import duckdb

        import __spark_entry__

        queries, oracles = self.queries(), __spark_entry__.oracle_sql()
        con = duckdb.connect()
        for f in sorted(os.listdir(self.dir)):
            con.execute(f"CREATE VIEW {f.split('.')[0]} AS SELECT * FROM '{os.path.join(self.dir, f)}'")

        def oracle_rows(name: str, cols: list[str]) -> list[tuple]:
            """The twin's rows with its columns in ``cols`` order."""
            res = con.sql(oracles[name])
            if sorted(res.columns) != sorted(cols):
                raise ValueError(f"columns {sorted(cols)} vs oracle {sorted(res.columns)}")
            order = [res.columns.index(c) for c in cols]
            return [tuple(r[i] for i in order) for r in res.fetchall()]

        for name in CORPUS_QUERIES:
            try:
                df = queries[name](spark, self.dir)
                self.oracle_ok[name] = rows_problem([tuple(r) for r in df.collect()], oracle_rows(name, df.columns))
            except Exception as exc:  # noqa: BLE001 - reported as the query's failure
                self.oracle_ok[name] = _error(exc)
        self.report_expected = {
            name: oracle_rows(name, queries[name](spark, self.dir).columns)
            for name in list(REPORT_QUERIES.values()) + list(REPORT_METRICS)
        }
        con.close()

    def check_pass(self, spark, out: dict, ops: OpLog, tag: str, tr) -> None:
        if self.report_expected is None:
            self._oracles(spark)
        report, exp = out["report"], self.report_expected
        problems = [p for p in (
            rows_problem(getattr(report, field), exp[q]) for field, q in REPORT_QUERIES.items()) if p]
        got_metrics = [(v,) for _, v in report.metrics]
        want_metrics = [exp[q][0] for q in REPORT_METRICS]
        if p := rows_problem(got_metrics, want_metrics, ordered=True):
            problems.append(f"metrics: {p}")
        if not report.html_report.count("<tr>") or not report.chart_path:
            problems.append("no report body or chart")
        ops.check(f"{tag}/run_report", "; ".join(problems) or None)
        for name in CORPUS_QUERIES:
            ops.check(f"{tag}/{name}", out["errors"].get(name) or self.oracle_ok[name])


# --- run --------------------------------------------------------------------


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _timed(tr, fn, span: str | None = None, count: str | None = None):
    """``fn`` wrapped to record a span, or a call count and time, on ``tr``."""

    def wrapper(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            if span is None:
                return fn(*args, **kwargs)
            with tr.span(span):
                return fn(*args, **kwargs)
        finally:
            if count is not None:
                tr.add(f"{count}_calls", 1)
                tr.add(f"{count}_s", time.perf_counter() - t0)

    return wrapper


def _install_probes(tr) -> None:
    """Wrap, for the traced run, the ``load_table`` name each operator
    module imported and the two report renderers, which ``pipeline``
    calls from inside ``run_report``."""
    import importlib
    import pkgutil

    from tableau_dashboard_performance_etl_automation_spark import catalog, operators
    from tableau_dashboard_performance_etl_automation_spark.reports import chart, html

    load_table = _timed(tr, catalog.load_table, count="catalog.load_table")
    for info in pkgutil.iter_modules(operators.__path__):
        mod = importlib.import_module(f"{operators.__name__}.{info.name}")
        if getattr(mod, "load_table", None) is catalog.load_table:
            mod.load_table = load_table
    chart.render_trend_chart = _timed(tr, chart.render_trend_chart, span="chart")
    html.render_report = _timed(tr, html.render_report, span="html")


def _cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks from /proc/stat: time the hypervisor gave
    this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _host_probe(spark) -> float:
    import bench

    return bench.host_probe(spark)


class Bench:
    def __init__(self, args) -> None:
        self.args = args
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.tr = Tracer()
        self.ops = OpLog()
        self.spark = None
        self.plans: PlanListener | None = None
        self.setup_info: dict[str, float] = {}

    def environment(self) -> None:
        """Private dirs for everything Spark and the JVM write."""
        for sub in ("tmp", "spark-local"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        os.environ.update({
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": "4g",
            # every JVM, the launcher's too: no /tmp/hsperfdata_<user>, temp files here
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            # appended after the session's own -Dderby.system.home, so it wins
            "SPARK_GRAFT_EXTRA_JAVA_OPTS": f"-Dderby.system.home={tmp}/derby",
        })
        import tempfile

        tempfile.tempdir = None

    def setup(self, workload) -> float:
        """The session in a fresh warehouse, then ``warm_passes`` untimed
        passes; the first builds the workload's warehouse artifacts.
        Returns the time set-up ended."""
        from tableau_dashboard_performance_etl_automation_spark.session import get_spark
        from tableau_dashboard_performance_etl_automation_spark.sources import warehouse

        t0 = time.perf_counter()
        os.environ["SPARK_GRAFT_WAREHOUSE_DIR"] = os.path.join(self.work, "warehouse")
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        n_events, built_s = len(warehouse.ARTIFACT_EVENTS), sum(warehouse.BUILD_LOG.values())
        for _ in range(workload.warm_passes):
            workload.run_pass(self.spark, Tracer(), {"report_s": [], "corpus_pass_s": [], "query_s": []})
            self.hygiene()
        t2 = time.perf_counter()
        self.setup_info = {
            "session.get_spark_s": t1 - t0, "warmup_s": t2 - t1,
            "sources.warehouse.builds": sum(e == "build" for _, e in warehouse.ARTIFACT_EVENTS[n_events:]),
            "sources.warehouse.build_s": sum(warehouse.BUILD_LOG.values()) - built_s,
        }
        return t2

    def hygiene(self) -> None:
        gc.collect()
        self.spark._jvm.System.gc()
        self.spark.catalog.clearCache()

    def settle(self) -> None:
        """Untimed, before each timed pass: collect garbage, then give
        Spark's context cleaner, which removes the shuffle and broadcast
        data of collected plans in the background, time to finish, and
        drain the listener bus, so every event of earlier passes is in."""
        self.hygiene()
        time.sleep(SETTLE_S)
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def measure(self, workload) -> dict:
        from tableau_dashboard_performance_etl_automation_spark.sources import warehouse

        trace = bool(self.args.trace)
        timing = {"report_s": [], "corpus_pass_s": [], "query_s": []}
        traced_pass, untraced_pass, traced_passes = [], [], []
        deadline = time.perf_counter() + self.args.seconds
        n = 0
        # a traced run needs two traced and three untraced passes
        while n < max(workload.min_passes, 5 if trace else 0) or time.perf_counter() < deadline:
            tag = f"pass{n}"
            self.settle()
            # untraced, untraced, traced, traced, untraced, ...: the passes
            # still get faster as the JVM warms, and the first is the
            # slowest; the median of the untraced passes leaves it out, and
            # this order keeps the trend out of the traced-minus-untraced
            # difference
            self.tr.active, self.tr.pass_no = trace and n % 4 in (2, 3), n
            self.spark.sparkContext.setJobGroup(tag, tag)
            gc0, n_events = gc_seconds(self.spark) if self.tr.active else 0.0, len(warehouse.ARTIFACT_EVENTS)
            n_plans = len(self.plans.seconds) if self.plans else 0
            p0 = time.perf_counter()
            try:
                out = workload.run_pass(self.spark, self.tr, timing)
                pass_s = time.perf_counter() - p0
            except Exception as exc:  # noqa: BLE001 - a failed pass is an op failure, the run goes on
                traceback.print_exc(file=sys.stderr)
                self.ops.check(f"{tag}/pass", _error(exc))
                n += 1
                continue
            if self.tr.active:
                traced_passes.append(n)
                self.tr.add("jvm.gc_s", gc_seconds(self.spark) - gc0)
                for k, v in job_group_counters(self.spark, tag).items():  # drains the listener bus
                    self.tr.add(k, v)
                self.tr.add("catalyst.plan_s", sum(self.plans.seconds[n_plans:]))
                events = warehouse.ARTIFACT_EVENTS[n_events:]
                self.tr.add("sources.warehouse.hits", sum(e == "hit" for _, e in events))
                self.tr.add("sources.warehouse.timed_builds", sum(e == "build" for _, e in events))
            (traced_pass if self.tr.active else untraced_pass).append(pass_s)
            workload.check_pass(self.spark, out, self.ops, tag, self.tr)
            self.tr.active = False
            del out
            n += 1
        self.passes = n
        if not trace:
            return timing
        return {**timing, "traced": traced_passes, "traced_pass": traced_pass, "untraced_pass": untraced_pass}

    def per_layer(self, workload, m: dict) -> dict[str, float]:
        tr, passes = self.tr, m["traced"]
        per = {name: _median(tr.per_pass(name, passes)) for name in (
            "sources.warehouse.hits", "sources.warehouse.timed_builds", "reports.html_rows",
            "catalog.load_table_calls", "catalog.load_table_s", "spark.jobs", "spark.stages", "spark.tasks",
            "spark.shuffle_write_bytes", "spark.spill_bytes", "jvm.gc_s", "sources.delimited.rows_rejected",
            "catalyst.plan_s")}
        daily = isinstance(workload, DailyWorkload)
        load_s = _median(tr.per_pass("ingest", passes))
        per.update({
            **self.setup_info,
            "sources.delimited.load_s": load_s,
            "sources.delimited.rows_per_s": workload.input_lines / load_s if daily else 0.0,
            "reports.chart_s": _median(tr.per_pass("chart", passes)),
            "reports.html_s": _median(tr.per_pass("html", passes)),
            "host.probe_s": _host_probe(self.spark),
            "trace.overhead_s": _median(m["traced_pass"]) - _median(m["untraced_pass"]),
        })
        build, exec_ = _median(tr.per_pass("build", passes)), _median(tr.per_pass("exec", passes))
        per["operators.tabjolt_compat.build_s"] = build if daily else 0.0
        per["operators.tabjolt_compat.exec_s"] = exec_ if daily else 0.0
        per["operators.build_s"] = 0.0 if daily else build
        per["operators.exec_s"] = 0.0 if daily else exec_
        return per

    def run(self) -> int:
        args = self.args
        try:
            __import__(PACKAGE)
        except ImportError as exc:
            print(f"perfbench: cannot import {PACKAGE} from {ROOT}: {exc}", file=sys.stderr)
            return 2
        self.environment()
        g0 = time.perf_counter()
        workload = (CorpusWorkload(args.seed, self.work) if args.workload == "query_corpus"
                    else DailyWorkload(args.seed, self.work))
        gen_s = time.perf_counter() - g0
        print(f"workload {args.workload} seed {args.seed}: {workload.describe()}")
        if args.trace:
            _install_probes(self.tr)
        setup_s = self.setup(workload) - PROGRAM_START - gen_s
        if args.trace:
            self.plans = PlanListener.register(self.spark)
        steal0, total0 = _cpu_steal()
        m = self.measure(workload)
        steal1, total1 = _cpu_steal()
        if args.trace:
            metrics, units = self.per_layer(workload, m), PER_LAYER
        else:
            metrics, units = {
                "setup_s": setup_s,
                "report_s": _median(m["report_s"]),
                "corpus_pass_s": _median(m["corpus_pass_s"]),
                "query_p50_s": _median(m["query_s"]),
                "ok_frac": (self.ops.attempted - len(self.ops.failures)) / self.ops.attempted,
            }, END_TO_END
        print(f"samples: {self.passes} passes, report_s " + " ".join(f"{x:.3f}" for x in m["report_s"])
              + f", corpus_pass_s " + " ".join(f"{x:.3f}" for x in m["corpus_pass_s"])
              + f", {len(m['query_s'])} query latencies; "
              f"jvm.gc_s {gc_seconds(self.spark):.3f} s over the run; "
              f"cpu steal {(steal1 - steal0) / max(1, total1 - total0):.1%} while timing; "
              f"cpus {os.environ['SPARK_GRAFT_CPUS']}")
        for name, reason in self.ops.failures:
            print(f"FAILED {name}: {reason}")
        for name in units:
            print(f"{name} {metrics[name]:.6g} {units[name]}")
        result = {
            "correct": not self.ops.failures,
            "attempted": self.ops.attempted,
            "failed": len(self.ops.failures),
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }
        self.stop()
        print(json.dumps(result), flush=True)
        return 0

    def stop(self) -> None:
        """Stop Spark and the JVM it launched, and wait for it to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            SparkContext._gateway = None
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description="repository benchmark")
    ap.add_argument("--workload", required=True, choices=("daily_report", "query_corpus"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    bench = Bench(args)
    try:
        return bench.run()
    finally:
        bench.stop()


if __name__ == "__main__":
    sys.exit(main())
