"""Self-test of the benchmark itself; needs no Spark.

    python3 perfbench/selftest.py

1. For a given seed, the corpus and table generators write the same bytes
   every time, and another seed writes different bytes.
2. Outputs built from the truth pass the checks, and each corruption below
   fails them: a dropped record, reordered results, a missing report, a wrong
   tag, a broken PDF and a wrong dashboard count.

Exits 0 when every case holds, 1 otherwise.
"""

from __future__ import annotations

import hashlib
import json
import pathlib
import shutil
import sys
import tempfile

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import checks, corpus, tables  # noqa: E402


def digest(root: pathlib.Path) -> str:
    h = hashlib.sha256()
    for p in sorted(root.rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def minimal_pdf() -> bytes:
    body = b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog >>\nendobj\n"
    xref = len(body)
    return body + b"xref\n0 2\ntrailer\n<< /Size 2 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % xref


def write_many_files_outputs(truth: dict, pass_dir: pathlib.Path) -> str:
    """The outputs a correct ``cli_many_files`` pass leaves; returns stdout."""
    out = pass_dir / "out"
    out.mkdir(parents=True)
    for name, info in truth["files"].items():
        doc = {"results": checks.expected_results(name, info)}
        (out / f"{checks.stem(name)}-output.json").write_text(json.dumps(doc))
    for name in checks.flagged_files(truth):
        (out / f"{checks.stem(name)}.pdf").write_bytes(minimal_pdf())
    data = json.dumps(checks.expected_dashboard(truth))
    (pass_dir / "dash.html").write_text(f"<script>\nconst DATA = {data};\n</script>")
    return "\n".join(
        f"{n} [{lang}]: {r} records, {f} flagged, {e} errors"
        for n, (lang, r, f, e) in sorted(checks.expected_summary(truth).items())
    )


def edit_doc(out: pathlib.Path, truth: dict, change) -> None:
    """Apply ``change`` to the results of the first flagged file's document."""
    name = sorted(checks.flagged_files(truth))[0]
    path = out / f"{checks.stem(name)}-output.json"
    doc = json.loads(path.read_text())
    change(doc["results"])
    path.write_text(json.dumps(doc))


def wrong_tag(results: list) -> None:
    r = next(r for r in results if r["tags"])
    r["tags"][0]["literal"] = "fast"


def bump_histogram(html: pathlib.Path) -> None:
    data = checks.dashboard_data(html.read_text())
    data["histogram"][0][1] += 1
    html.write_text(f"const DATA = {json.dumps(data)};")


def main() -> int:
    failures = []
    (ROOT / ".perfbench_work").mkdir(exist_ok=True)
    work = pathlib.Path(tempfile.mkdtemp(prefix="selftest-", dir=ROOT / ".perfbench_work"))
    try:
        a, b = (corpus.generate(work / d, 7, 20, 50) for d in ("a", "b"))
        corpus.generate(work / "d", 8, 20, 50)
        if digest(work / "a") != digest(work / "b") or a != b:
            failures.append("corpus: same seed, different bytes")
        if digest(work / "a") == digest(work / "d"):
            failures.append("corpus: another seed, same bytes")
        tables.generate(work / "t1", 7)
        tables.generate(work / "t2", 7)
        tables.generate(work / "t3", 8)
        if digest(work / "t1") != digest(work / "t2"):
            failures.append("tables: same seed, different bytes")
        if digest(work / "t1") == digest(work / "t3"):
            failures.append("tables: another seed, same bytes")

        corruptions = {
            "none": lambda out, pd: None,
            "dropped record": lambda out, pd: edit_doc(out, a, lambda r: r.pop(len(r) // 2)),
            "reordered results": lambda out, pd: edit_doc(out, a, lambda r: r.reverse()),
            "wrong tag": lambda out, pd: edit_doc(out, a, wrong_tag),
            "missing report": lambda out, pd: next(out.glob("*.pdf")).unlink(),
            "broken PDF": lambda out, pd: next(out.glob("*.pdf")).write_bytes(b"%PDF-1.4\n"),
            "wrong dashboard count": lambda out, pd: bump_histogram(pd / "dash.html"),
        }
        for label, corrupt in corruptions.items():
            pass_dir = work / f"many-{label.replace(' ', '_')}"
            stdout = write_many_files_outputs(a, pass_dir)
            corrupt(pass_dir / "out", pass_dir)
            got = checks.check_many_files(a, pass_dir / "out", stdout, pass_dir / "dash.html")
            if (label == "none") != (not got):
                failures.append(f"{label}: checks returned {got}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print(f"SELFTEST FAILED: {f}")
    print("selftest ok" if not failures else f"selftest: {len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
