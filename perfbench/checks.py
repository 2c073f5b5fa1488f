"""Output checks against the generator's truth. Each returns a list of
failure messages; an empty list means the outputs are correct. They read
only the files and stdout a pass left behind and run outside timed code."""

from __future__ import annotations

import collections
import json
import pathlib
import re

from perfbench.corpus import tag_struct

SUMMARY = re.compile(r"^(\S+) \[(\w+)\]: (\d+) records, (\d+) flagged, (\d+) errors$")
TOP_ISSUES = 30  # dashboard.main's default --top-issues


def stem(src_file: str) -> str:
    return src_file.rsplit(".", 1)[0]


def expected_results(name: str, info: dict) -> list[dict]:
    lang = info["language"]
    return [
        {"literal": lit, "language": lang, "tags": [tag_struct(t, lang) for t in tags]}
        for lit, tags in info["records"]
    ]


def expected_summary(truth: dict) -> dict[str, tuple]:
    return {
        name: (
            info["language"],
            len(info["records"]),
            sum(1 for _, tags in info["records"] if tags),
            0,
        )
        for name, info in truth["files"].items()
    }


def flagged_files(truth: dict) -> set[str]:
    return {n for n, i in truth["files"].items() if any(t for _, t in i["records"])}


def expected_dashboard(truth: dict) -> dict:
    counts: dict[str, collections.Counter] = collections.defaultdict(collections.Counter)
    per_literal: dict[str, int] = {}
    for info in truth["files"].values():
        for lit, tags in info["records"]:
            counts["all"].update(tags)
            counts[info["language"]].update(tags)
            per_literal[lit] = max(per_literal.get(lit, 0), len(tags))
    issues = {
        lang: [[t, n] for t, n in sorted(c.items(), key=lambda x: (-x[1], x[0]))[:TOP_ISSUES]]
        for lang, c in counts.items()
    }
    hist = collections.Counter(per_literal.values())
    return {"issues": issues, "histogram": [[k, hist[k]] for k in sorted(hist)]}


def parse_summary(stdout: str) -> dict[str, tuple]:
    out = {}
    for line in stdout.splitlines():
        m = SUMMARY.match(line.strip())
        if m:
            out[m.group(1)] = (m.group(2), int(m.group(3)), int(m.group(4)), int(m.group(5)))
    return out


def summary_errors(stdout: str) -> int:
    """Records the CLI reported with ``_error`` set."""
    return sum(v[3] for v in parse_summary(stdout).values())


def pdf_ok(data: bytes) -> bool:
    """Header, trailer, and a startxref offset that lands on the xref table."""
    m = re.search(rb"startxref\s+(\d+)\s+%%EOF\s*$", data)
    if not data.startswith(b"%PDF-") or not m:
        return False
    off = int(m.group(1))
    return data[off : off + 4] == b"xref"


def dashboard_data(html: str) -> dict | None:
    at = html.find("const DATA = ")
    if at < 0:
        return None
    data, _ = json.JSONDecoder().raw_decode(html, at + len("const DATA = "))
    return data


def check_summary(truth: dict, stdout: str) -> list[str]:
    got, want = parse_summary(stdout), expected_summary(truth)
    if got == want:
        return []
    bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
    return [f"summary lines differ for {len(bad)} files, e.g. {bad[0]}: "
            f"got {got.get(bad[0])} want {want.get(bad[0])}"]


def check_many_files(truth: dict, out_dir: pathlib.Path, stdout: str, html_path: pathlib.Path) -> list[str]:
    fails = []
    want_docs = {f"{stem(n)}-output.json": n for n in truth["files"]}
    got_docs = {p.name for p in out_dir.glob("*-output.json")}
    if got_docs != set(want_docs):
        fails.append(f"output docs: {len(got_docs - set(want_docs))} unexpected, "
                     f"{len(set(want_docs) - got_docs)} missing")
    skipped = {f"{stem(n)}-output.json" for n in truth["skipped"]} & got_docs
    if skipped:
        fails.append(f"outputs written for the skipped language: {sorted(skipped)[:3]}")
    for doc in sorted(got_docs & set(want_docs)):
        name = want_docs[doc]
        results = json.loads((out_dir / doc).read_text()).get("results")
        if results != expected_results(name, truth["files"][name]):
            fails.append(f"{doc}: results differ from the truth (order, records or tags)")
            break
    fails += check_summary(truth, stdout)
    want_pdfs = {f"{stem(n)}.pdf" for n in flagged_files(truth)}
    got_pdfs = {p.name for p in out_dir.glob("*.pdf")}
    if got_pdfs != want_pdfs:
        fails.append(f"reports: {len(got_pdfs - want_pdfs)} unexpected, "
                     f"{len(want_pdfs - got_pdfs)} missing")
    bad_pdfs = [p for p in sorted(got_pdfs) if not pdf_ok((out_dir / p).read_bytes())]
    if bad_pdfs:
        fails.append(f"{len(bad_pdfs)} invalid PDF reports, e.g. {bad_pdfs[0]}")
    data = dashboard_data(html_path.read_text()) if html_path.exists() else None
    if data != expected_dashboard(truth):
        fails.append("dashboard counts or histogram differ from the truth")
    return fails
