"""Seeded corpus generator for the reference layout ``input/<lang>/*.csv``.

Every line is one record. Lines are ``"<n>, <words>"`` except for a few that
carry no comma, and a few blank lines that the pipeline must drop. About 30%
of the lines in a flagged file carry planted lexicon terms. ``legacy`` is a
term only for ``en``; it is planted in every language, so a tag on a
non-``en`` line is an error. One folder holds a language the pipeline does
not support, and its files must produce no output.

The generator returns the truth the output checks need: for each supported
file, its records in line order with the tags each one must receive. The
truth comes from what was planted, not from the program's lexicon code.
"""

from __future__ import annotations

import pathlib
import random

SUPPORTED = ("nl", "en", "de", "it", "fr")
SKIPPED = "es"  # a language folder the pipeline must skip

# The default lexicon client's terms: literal -> (issue, source).
TERMS = {
    "slow": ("performance stereotype", "perf-vocab"),
    "small": ("diminutive framing", "size-vocab"),
    "big": ("aggrandizing framing", "size-vocab"),
    "error": ("deficit framing", "deficit-vocab"),
    "old": ("age bias", "age-vocab"),
    "young": ("age bias", "age-vocab"),
}
EN_ONLY_TERMS = {"legacy": ("age bias", "age-vocab")}

FILLER = (
    "report team market north river city garden window paper budget "
    "office station letter corner bridge meeting harbor field summer "
    "engine museum ticket pencil valley forest coffee planet signal "
    "archive kitchen journey lantern orchard quartz ribbon saddle timber"
).split()

PLANT_SHARE = 0.30
BLANK_SHARE = 0.03
NO_COMMA_SHARE = 0.05
UNFLAGGED_FILE_SHARE = 0.10  # files with no planted term: no report expected

if {w.lower() for w in FILLER} & (set(TERMS) | set(EN_ONLY_TERMS)):
    raise ValueError("filler vocabulary collides with lexicon terms")


def _terms_for(lang: str) -> dict[str, tuple[str, str]]:
    return {**TERMS, **EN_ONLY_TERMS} if lang == "en" else TERMS


def _line(rng: random.Random, n: int, lang: str, plant: bool) -> tuple[str, list[str]]:
    """One non-blank line and the tag literals it must receive, in order."""
    words = [rng.choice(FILLER) for _ in range(rng.randint(4, 12))]
    if plant:
        pool = sorted(TERMS) + sorted(EN_ONLY_TERMS)
        for _ in range(rng.randint(1, 3)):
            term = rng.choice(pool)
            if rng.random() < 0.2:
                term = term.capitalize()  # matching is case-insensitive
            pos = rng.randint(0, len(words))
            words.insert(pos, term)
    elif rng.random() < 0.1:
        words.insert(rng.randint(0, len(words)), "legacy")  # tagged on en only
    tagged, tags = _terms_for(lang), []
    for w in words:  # first occurrence of each term, in line order
        t = w.lower()
        if t in tagged and t not in tags:
            tags.append(t)
    text = " ".join(words)
    if rng.random() < NO_COMMA_SHARE:
        return text, tags
    return f"{n}, {text}", tags


def _file(rng: random.Random, lang: str, n_lines: int) -> tuple[str, list]:
    flagged = rng.random() >= UNFLAGGED_FILE_SHARE
    lines, records = [], []
    for n in range(1, n_lines + 1):
        if rng.random() < BLANK_SHARE:
            lines.append(rng.choice(("", "   ")))
            continue
        literal, tags = _line(rng, n, lang, flagged and rng.random() < PLANT_SHARE)
        lines.append(literal)
        records.append((literal, tags))
    return "\n".join(lines) + "\n", records


def generate(root: str | pathlib.Path, seed: int, n_files: int, n_lines: int) -> dict:
    """Write ``n_files`` supported-language files of ``n_lines`` lines each
    (spread over the five languages) plus a skipped-language folder under
    ``root``. Returns the truth: ``{"files": {src_file: {"language",
    "records": [(literal, [tag, ...]), ...]}}, "skipped": [src_file, ...],
    "lines": n}`` where ``lines`` counts the non-blank supported lines."""
    root = pathlib.Path(root)
    files: dict[str, dict] = {}
    skipped: list[str] = []
    jobs = [(SUPPORTED[i % len(SUPPORTED)], i) for i in range(n_files)]
    jobs += [(SKIPPED, i) for i in range(max(1, n_files // 20))]
    for lang, i in jobs:
        rng = random.Random(f"{seed}:{lang}:{i}")
        body, records = _file(rng, lang, n_lines)
        name = f"{lang}_{i:05d}.csv"  # unique across languages: outputs are per file name
        folder = root / lang
        folder.mkdir(parents=True, exist_ok=True)
        (folder / name).write_text(body)
        if lang == SKIPPED:
            skipped.append(name)
        else:
            files[name] = {"language": lang, "records": records}
    lines = sum(len(f["records"]) for f in files.values())
    return {"files": files, "skipped": skipped, "lines": lines}


def tag_struct(literal: str, lang: str) -> dict:
    issue, source = _terms_for(lang)[literal]
    return {"literal": literal, "issue": issue, "source": source}
