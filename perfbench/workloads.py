"""The two workloads. Each makes its inputs from the seed, runs one pass
(untimed wrappers aside, a pass is exactly what a user runs), checks a
pass's outputs, and, on a traced pass, turns spans into per-layer numbers.

Sizes are fixed here so that every run, set-up and cold pass included, fits
the benchmark's time budget on a 4-core host. ``run.py`` imports this module
only after it has timed set-up, so the imports below are not set-up time.
"""

from __future__ import annotations

import contextlib
import io
import logging
import pathlib
import statistics
import time

import duckdb
from pyspark.sql import Observation
from pyspark.sql import functions as F

from debias_spark import cli, dashboard
from debias_spark.annotate import AnnotateConfig, annotate
from debias_spark.registry import load_all_queries
from debias_spark.sources import read_corpus, read_outputs
from debias_spark.sources.text_corpus import with_line_seq
from perfbench import checks, corpus, tables
from perfbench.trace import worker_cpu_s

# cli_many_files: per-file sink, driver-side PDF reports, dashboard read-back.
MANY_FILES, MANY_LINES = 100, 200
# registry_keys: the keys, by family. They read only documents and lineitem.
KEY_FAMILIES = {
    "drains": ("pipeline_checkpoint_resume",),
    "operators": ("dedup_minhash_lsh", "text_unigram_logprob"),
    "relational": ("tpch_q1_pricing_summary", "window_rank_lag_frame"),
}
KEYS = tuple(k for family in KEY_FAMILIES.values() for k in family)

PROBE_REPS = 3

MANY_FILES_SPANS = {
    "debias_spark.cli:run_pipeline": "pipeline.run_pipeline",
    "debias_spark.pipeline:write_outputs_per_file": "json_io.write_outputs_per_file",
    "debias_spark.report:render_reports": "report.render_reports",
    "debias_spark.pipeline:analytics_view": "pipeline.analytics_view",
    "debias_spark.dashboard:export_dashboard_html": "dashboard.export_dashboard_html",
    "debias_spark.dashboard:dashboard_data": "dashboard.dashboard_data",
}
MANY_FILES_TIMERS = {
    "debias_spark.report:_render_pdf": "report.render_pdf",
}


def per_layer_names() -> list[str]:
    """Every per-layer metric, in a fixed order (BENCHMARK.json's)."""
    return [
        "session.get_spark_s",
        "registry.load_s",
        "text_corpus.scan_s",
        "text_corpus.line_seq_s",
        "text_corpus.rows",
        "text_corpus.files",
        "text_corpus.shuffle_write_bytes",
        "annotate.self_s",
        "annotate.rows_per_s",
        "annotate.cpu_s",
        "annotate.passes_per_run",
        "annotate.error_rows",
        "json_io.per_file_write_s",
        "json_io.read_outputs_s",
        "json_io.files_written",
        "json_io.bytes_per_record",
        "json_io.shuffle_write_bytes",
        "report.render_s",
        "report.files",
        "report.rows",
        "analytics.view_s",
        "dashboard.data_s",
        "dashboard.export_s",
        "cli.jobs",
        "cli.stages",
        "cli.tasks",
        "cli.sql_executions",
        "keys.build_s",
        "keys.compile_s",
        "keys.exec_s",
        "keys.drains_s",
        "keys.operators_s",
        "keys.relational_s",
        *(f"key.{k}_s" for k in KEYS),
        "streaming.batches",
        "streaming.trigger_s",
        "streaming.add_batch_s",
        "streaming.bookkeeping_s",
        "streaming.planning_s",
        "streaming.outside_trigger_s",
        "spark.executor_run_s",
        "spark.executor_cpu_s",
        "spark.busy_share",
        "spark.shuffle_write_bytes",
        "spark.spill_bytes",
        "spark.failed_tasks",
        "error_share",
        "jvm_peak_rss_mb",
        "trace.overhead_s",
        "host.stolen_share",
    ]


def noop(df) -> int:
    """Run ``df`` into the noop sink; returns its row count, observed in the
    same execution (no second job)."""
    if df.isStreaming:
        return df.count()
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
        "overwrite"
    ).save()
    return int(obs.get["rows"])


def drop_cli_file_handlers() -> None:
    """``cli.main`` adds a FileHandler on every call and never removes it."""
    log = logging.getLogger("debias_spark.cli")
    for h in [h for h in log.handlers if isinstance(h, logging.FileHandler)]:
        log.removeHandler(h)
        h.close()


def engine_metrics(tracer, rec: dict, cores: int) -> dict[str, float]:
    wall = rec["end"] - rec["start"]
    run_s = tracer.total(rec, "run_ms") / 1e3
    return {
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": tracer.total(rec, "cpu_ns") / 1e9,
        "spark.busy_share": run_s / (wall * cores),
        "spark.shuffle_write_bytes": tracer.total(rec, "shuffle_write_bytes"),
        "spark.spill_bytes": tracer.total(rec, "spill_bytes"),
        "spark.failed_tasks": tracer.total(rec, "failed_tasks"),
    }


def _find(tracer, root: dict, name: str) -> list[dict]:
    out = []
    for child in tracer.children(root):
        if child["name"] == name:
            out.append(child)
        out += _find(tracer, child, name)
    return out


def _dur(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


class ManyFiles:
    """The CLI with PDF reports over a generated corpus of many small files,
    then the dashboard over its per-file outputs."""

    name = "cli_many_files"

    def __init__(self, workdir: pathlib.Path, seed: int) -> None:
        self.input = workdir / "input"
        self.truth = corpus.generate(self.input, seed, MANY_FILES, MANY_LINES)
        self.records = self.truth["lines"]  # annotated records per pass

    def cli_args(self, out: pathlib.Path) -> list[str]:
        args = ["--input", str(self.input), "--output", str(out)]
        return args + ["--summary-limit", str(len(self.truth["files"]) + 1), "--reports", "pdf"]

    def run_pass(self, spark, pass_dir: pathlib.Path, tracer=None) -> dict:
        out = pass_dir / "out"
        buf = io.StringIO()
        span = tracer.span if tracer else (lambda name, **kw: contextlib.nullcontext())
        try:
            with contextlib.redirect_stdout(buf):
                with span("cli.main", window=True):
                    rc = cli.main(self.cli_args(out))
                if rc == 0:
                    with span("dashboard.main"):
                        rc = dashboard.main(["--output", str(out), "--html", str(pass_dir / "dash.html")])
        finally:
            drop_cli_file_handlers()
        stdout = buf.getvalue()
        return {"rc": rc, "stdout": stdout, "failed": checks.summary_errors(stdout), "attempted": self.records}

    def check(self, pass_dir: pathlib.Path, res: dict) -> list[str]:
        if res["rc"] != 0:
            return [f"cli exited {res['rc']}"]
        return checks.check_many_files(self.truth, pass_dir / "out", res["stdout"], pass_dir / "dash.html")

    def pass_records(self, res: dict) -> int:
        return self.records

    # --- traced run -------------------------------------------------------

    spans, timers = MANY_FILES_SPANS, MANY_FILES_TIMERS

    def layer_metrics(self, tracer, pass_rec: dict, pass_dir: pathlib.Path, res: dict) -> dict:
        cli_rec = _find(tracer, pass_rec, "cli.main")[0]
        sink = _find(tracer, pass_rec, "json_io.write_outputs_per_file")
        export = _find(tracer, pass_rec, "dashboard.export_dashboard_html")
        data = _find(tracer, pass_rec, "dashboard.dashboard_data")
        out = pass_dir / "out"
        outputs = list(out.glob("*-output.json"))
        plans = tracer.executions_after(pass_rec["first_execution"])
        return {
            "cli.jobs": tracer.total(cli_rec, "jobs"),
            "cli.stages": tracer.total(cli_rec, "stages"),
            "cli.tasks": tracer.total(cli_rec, "tasks"),
            "cli.sql_executions": cli_rec["executions"],
            "annotate.passes_per_run": sum("MapInPandas" in p for p in plans),
            "annotate.error_rows": res["failed"],
            "json_io.files_written": len(outputs),
            "json_io.bytes_per_record": sum(p.stat().st_size for p in outputs) / self.records,
            "json_io.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in sink),
            "sink_s": _dur(sink),  # probes() subtracts the annotate probe
            "report.render_s": tracer.timers.get("report.render_pdf", 0.0),
            "report.files": len(list(out.glob("*.pdf"))),
            "report.rows": sum(len(t) for i in self.truth["files"].values() for _, t in i["records"]),
            "analytics.view_s": _dur(_find(tracer, pass_rec, "pipeline.analytics_view")),
            "dashboard.data_s": _dur(data),
            "dashboard.export_s": _dur(export) - _dur(data),
        }

    def probes(self, spark, tracer, last_out: pathlib.Path, layers: list[dict]) -> dict:
        """Scan, scan + line sequence, and scan + sequence + annotate, each
        run into the noop sink; annotation's own time is the difference, and
        the sink's own time is the sink call minus the annotate probe."""
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        inp = str(self.input)
        plans = {
            "scan": lambda: read_corpus(spark, inp),
            "seq": lambda: with_line_seq(read_corpus(spark, inp)),
            "ann": lambda: annotate(
                with_line_seq(read_corpus(spark, inp)), "value", "language", AnnotateConfig()
            ),
            "read_outputs": lambda: read_outputs(spark, str(last_out)),
        }
        t: dict[str, list[float]] = {k: [] for k in plans}
        cpu, shuffle, rows = [], [], 0
        for _ in range(PROBE_REPS):
            for name, build in plans.items():
                cpu0 = worker_cpu_s(jvm_pid)
                with tracer.span(f"probe.{name}") as rec:
                    n = noop(build())
                t[name].append(rec["end"] - rec["start"])
                if name == "scan":
                    rows = n
                elif name == "seq":
                    shuffle.append(rec["shuffle_write_bytes"])
                elif name == "ann":
                    cpu.append(worker_cpu_s(jvm_pid) - cpu0)
        med = {k: statistics.median(v) for k, v in t.items()}
        ann_self = med["ann"] - med["seq"]
        return {
            "json_io.per_file_write_s": statistics.median(m["sink_s"] for m in layers) - med["ann"],
            "text_corpus.scan_s": med["scan"],
            "text_corpus.line_seq_s": med["seq"] - med["scan"],
            "text_corpus.rows": rows,
            "text_corpus.files": len(read_corpus(spark, inp).inputFiles()),
            "text_corpus.shuffle_write_bytes": max(shuffle),
            "annotate.self_s": ann_self,
            "annotate.rows_per_s": rows / ann_self if ann_self > 0 else 0.0,
            "annotate.cpu_s": statistics.median(cpu),
            "json_io.read_outputs_s": med["read_outputs"],
        }


class RegistryKeys:
    """Fixed registry keys run the way ``bench.py`` runs them: ``spec.fn``
    then a noop write, over seeded tables."""

    name = "registry_keys"
    spans, timers = {}, {}

    def __init__(self, workdir: pathlib.Path, seed: int) -> None:
        self.sf_dir = str(workdir / "tables")
        tables.generate(self.sf_dir, seed)
        self.expected = self._oracle_rows()
        self.records = sum(self.expected.values())  # result rows per pass

    def _oracle_rows(self) -> dict[str, int]:
        """Each key's row count from its DuckDB oracle over the same tables."""
        specs = load_all_queries()
        con = duckdb.connect()
        try:
            for t in tables.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            return {
                k: con.execute(f"SELECT count(*) FROM ({specs[k].oracle})").fetchone()[0]
                for k in KEYS
            }
        finally:
            con.close()

    def run_pass(self, spark, pass_dir: pathlib.Path, tracer=None) -> dict:
        specs = load_all_queries()
        rows, errors, split = {}, {}, {}
        for key in KEYS:
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    rows[key] = noop(specs[key].fn(spark, self.sf_dir))
                else:
                    with tracer.span(f"key.{key}"):
                        df = specs[key].fn(spark, self.sf_dir)
                        t1 = time.perf_counter()
                        if not df.isStreaming:
                            df._jdf.queryExecution().executedPlan()
                        t2 = time.perf_counter()
                        rows[key] = noop(df)
                        split[key] = (t1 - t0, t2 - t1, time.perf_counter() - t2)
            except Exception as exc:  # a failed key is counted, not fatal
                errors[key] = f"{type(exc).__name__}: {exc}"[:300]
        return {"rows": rows, "errors": errors, "split": split,
                "failed": len(errors), "attempted": len(KEYS)}

    def check(self, pass_dir: pathlib.Path, res: dict) -> list[str]:
        fails = [f"{k} raised {e}" for k, e in res["errors"].items()]
        fails += [
            f"{k}: {n} rows, oracle has {self.expected[k]}"
            for k, n in res["rows"].items()
            if n != self.expected[k]
        ]
        return fails

    def pass_records(self, res: dict) -> int:
        return sum(res["rows"].values())

    def layer_metrics(self, tracer, pass_rec: dict, pass_dir: pathlib.Path, res: dict) -> dict:
        split = res["split"]
        key_s = {k: sum(v) for k, v in split.items()}
        m = {f"key.{k}_s": v for k, v in key_s.items()}
        m.update({
            "keys.build_s": sum(v[0] for v in split.values()),
            "keys.compile_s": sum(v[1] for v in split.values()),
            "keys.exec_s": sum(v[2] for v in split.values()),
        })
        for family, keys in KEY_FAMILIES.items():
            m[f"keys.{family}_s"] = sum(key_s.get(k, 0.0) for k in keys)
        batches = res.get("batches", [])

        def phase(*names: str) -> float:
            return sum(b.get(n, 0) for b in batches for n in names) / 1e3

        trigger = phase("triggerExecution")
        m.update({
            "streaming.batches": len(batches),
            "streaming.trigger_s": trigger,
            "streaming.add_batch_s": phase("addBatch"),
            "streaming.bookkeeping_s": phase("latestOffset", "getBatch", "walCommit", "commitOffsets"),
            "streaming.planning_s": phase("queryPlanning"),
            "streaming.outside_trigger_s": m["keys.drains_s"] - trigger,
        })
        return m

    def probes(self, spark, tracer, last_out, layers) -> dict:
        return {}
