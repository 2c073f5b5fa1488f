"""The CLI annotates each line once: the corpus readers list one root
directory instead of a glob, ``_seq`` is the scan's own ordering key (no
shuffle before annotation), and the summary and reports read the sink's
persisted frame.  Also pins what a CLI run leaves behind: no persisted RDDs,
no logging handlers, and no dependence on the caller's cwd."""

from __future__ import annotations

import functools
import json
import logging
import os
import pathlib
import subprocess
import sys
from collections import Counter

import pytest
from pyspark.sql import functions as F

from debias_spark import cli, pipeline
from debias_spark.pipeline import PipelineConfig, run_pipeline
from debias_spark.sources import RESPONSE_SCHEMA, read_corpus, read_outputs

REPO = pathlib.Path(__file__).resolve().parent.parent

CORPUS = {
    "en/a.csv": "1, the slow old system\n2, all good here\n\n3, big and slow\n",
    "en/b.csv": "1, nothing flagged\n",
    "de/c.csv": "1, ein big system\nno comma line\n",
    "es/e.csv": "1, slow in spanish\n",
}


def _write_tree(root: pathlib.Path, files: dict[str, str]) -> None:
    for rel, content in files.items():
        f = root / rel
        f.parent.mkdir(parents=True, exist_ok=True)
        f.write_text(content)


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _glob_corpus(spark, root, languages):
    """The corpus reader as it was: a ``<root>/*/*.csv`` glob."""
    df = (
        spark.read.text(f"{root}/*/*.csv")
        .withColumn("_path", F.input_file_name())
        .withColumn("language", F.regexp_extract("_path", r"/([^/]+)/[^/]+$", 1))
        .withColumn("src_file", F.regexp_extract("_path", r"/([^/]+)$", 1))
        .drop("_path")
        .filter(F.col("language").isin(*languages))
    )
    return df.filter(F.length(F.trim("value")) > 0)


def _glob_outputs(spark, root):
    """The output reader as it was: a ``<root>/*-output.json`` glob."""
    return (
        spark.read.schema(RESPONSE_SCHEMA)
        .option("multiLine", "true")
        .json(f"{root}/*-output.json")
        .withColumn("file", F.regexp_extract(F.input_file_name(), r"/([^/]+)$", 1))
    )


def _rows(df) -> list[str]:
    return sorted(str(r) for r in df.collect())


def test_readers_match_the_old_globs(spark, tmp_path):
    """Directory reads list recursively and would see nested, root-level and
    partition-style files the globs never matched; the depth filter must
    bring both readers back to exactly the globs' rows."""
    inp, out = tmp_path / "input", tmp_path / "out"
    _write_tree(inp, {
        **CORPUS,
        "en/sub/en/d.csv": "1, nested slow\n",
        "en/sub/x.csv": "1, nested big\n",
        "root.csv": "1, root level slow\n",
        "en/_u.csv": "1, underscore slow\n",
        "en/.h.csv": "1, dot slow\n",
        "en/t.txt": "1, text slow\n",
        "language=en/p.csv": "1, partition-style slow\n",
    })
    for langs in (("nl", "en", "de", "it", "fr"), ("en", "es")):
        got = _rows(read_corpus(spark, str(inp), languages=langs))
        assert got == _rows(_glob_corpus(spark, str(inp), langs))
    got = read_corpus(spark, str(inp), languages=("en", "es", "de"))
    assert {r.src_file for r in got.collect()} == {"a.csv", "b.csv", "c.csv", "e.csv"}

    doc = json.dumps({"results": [{"literal": "x", "language": "en", "tags": []}]})
    _write_tree(out, {
        "a-output.json": doc,
        "b-output.json": doc.replace('"x"', '"y"'),
        "old/z-output.json": doc,
        "language=en/part-00000-c000.json": '{"src_file": "a.csv"}\n',
        "_h-output.json": doc,
        ".d-output.json": doc,
        "notes.json": doc,
        "a.pdf": "%PDF-1.4\n",
        "debias.log": "log line\n",
    })
    got = read_outputs(spark, str(out))
    assert _rows(got) == _rows(_glob_outputs(spark, str(out)))
    assert {r.file for r in got.collect()} == {"a-output.json", "b-output.json"}


def test_line_order_across_file_splits(spark, tmp_path):
    """With no window, per-file order rests on the scan's partition ids: a
    file read in several splits must still come out in line order."""
    key = "spark.sql.files.maxPartitionBytes"
    lines = [f"{i}, line {i} {'slow' if i % 3 == 0 else 'calm'}" for i in range(1500)]
    inp = tmp_path / "input"
    _write_tree(inp, {
        "en/big.csv": "\n".join(lines) + "\n",
        "en/small.csv": "1, small slow\n",
        "de/klein.csv": "1, big\n2, klein\n",
    })
    old = spark.conf.get(key, None)
    spark.conf.set(key, "4096")
    try:
        corpus = read_corpus(spark, str(inp)).filter(F.col("src_file") == "big.csv")
        splits = corpus.select(F.spark_partition_id()).distinct().count()
        assert splits >= 3
        cfg = PipelineConfig(str(inp), str(tmp_path / "out"), max_retries=2)
        run_pipeline(spark, cfg).unpersist()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    doc = json.loads((tmp_path / "out" / "big-output.json").read_text())
    assert [r["literal"] for r in doc["results"]] == lines


def test_cli_annotates_each_line_once(spark, tmp_path, monkeypatch, capsys):
    """Sink, summary and reports all run, yet every non-blank input line
    reaches the client exactly once; nothing stays persisted afterwards."""
    calls = str(tmp_path / "calls.jsonl")

    # defined locally so cloudpickle ships it by value to the workers
    class CountingClient:
        def __init__(self):
            from debias_spark.annotate import LexiconClient

            self.inner = LexiconClient()

        def __call__(self, values, language):
            with open(calls, "a") as fh:
                fh.write(json.dumps(values) + "\n")
            return self.inner(values, language)

    inp, out = tmp_path / "input", tmp_path / "out"
    _write_tree(inp, CORPUS)
    monkeypatch.setattr(
        cli, "run_pipeline",
        functools.partial(run_pipeline, client_factory=CountingClient),
    )
    before = _persisted(spark)
    rc = cli.main(["--input", str(inp), "--output", str(out), "--reports", "pdf"])
    assert rc == 0
    assert "a.csv [en]: 3 records, 2 flagged, 0 errors" in capsys.readouterr().out
    assert sorted(p.name for p in out.glob("*.pdf")) == ["a.pdf", "c.pdf"]

    sent = Counter(
        v for line in pathlib.Path(calls).read_text().splitlines() for v in json.loads(line)
    )
    expected = Counter(
        line
        for rel, text in CORPUS.items()
        if not rel.startswith("es/")
        for line in text.splitlines()
        if line.strip()
    )
    assert sent == expected
    assert _persisted(spark) == before


@pytest.mark.parametrize("failing", ["sink", "reports"])
def test_cli_unpersists_after_an_exception(spark, tmp_path, monkeypatch, failing):
    """A failure after the annotated frame is cached, inside run_pipeline or
    after it, must not leave the cache or the log handler behind."""

    def materialize_then_fail(annotated, *args, **kwargs):
        annotated.count()
        raise RuntimeError(f"{failing} failed")

    if failing == "sink":
        monkeypatch.setattr(pipeline, "write_outputs_per_file", materialize_then_fail)
    else:
        monkeypatch.setattr("debias_spark.report.render_reports", materialize_then_fail)
    inp = tmp_path / "input"
    _write_tree(inp, CORPUS)
    log = logging.getLogger("debias_spark.cli")
    handlers, before = len(log.handlers), _persisted(spark)
    with pytest.raises(RuntimeError, match=f"{failing} failed"):
        cli.main(["--input", str(inp), "--output", str(tmp_path / "out"), "--reports", "pdf"])
    assert _persisted(spark) == before
    assert len(log.handlers) == handlers


def test_cli_leaves_no_log_handler(spark, tmp_path, capsys):
    """Each run's debias.log FileHandler is removed and closed on return."""
    inp = tmp_path / "input"
    _write_tree(inp, CORPUS)
    log = logging.getLogger("debias_spark.cli")
    handlers = len(log.handlers)
    for run in ("one", "two"):
        assert cli.main(["--input", str(inp), "--output", str(tmp_path / run)]) == 0
    assert len(log.handlers) == handlers
    assert "run done" in (tmp_path / "two" / "debias.log").read_text()


def test_cli_workers_import_package_from_any_cwd(tmp_path):
    """``python -m debias_spark.cli`` from a cwd outside the repo, with the
    package on the driver's sys.path only (as a script or notebook puts it
    there): the Python workers must still import debias_spark."""
    _write_tree(tmp_path / "input", CORPUS)
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    # the driver's $PYTHONPATH reaches the workers; keep the package off it
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and not (pathlib.Path(p) / "debias_spark").is_dir()
    )
    run_as_module = (
        f"import runpy, sys; sys.path.insert(0, {str(REPO)!r}); "
        "runpy.run_module('debias_spark.cli', run_name='__main__', alter_sys=True)"
    )
    proc = subprocess.run(
        [sys.executable, "-c", run_as_module, "--input", "input", "--output", "out"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert "ModuleNotFoundError" not in proc.stderr
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "a.csv [en]: 3 records, 2 flagged, 0 errors" in proc.stdout
    doc = json.loads((tmp_path / "out" / "a-output.json").read_text())
    assert [r["literal"] for r in doc["results"]] == [
        "1, the slow old system", "2, all good here", "3, big and slow"
    ]
