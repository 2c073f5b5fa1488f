"""Seeded generator for the two parquet tables the benchmarked registry keys
read: ``documents`` and ``lineitem``.

Column names, types and value distributions follow the repository's test
data (``TESTDATA.md``: seed 42, one parquet file per table), measured at its
0.01 scale with DuckDB:

- ``documents``: 500 rows; ``doc_id`` 0..499; ``lang`` en 43.6%, zh 15.0%,
  es 14.6%, de 14.0%, fr 12.8%; ``source`` is ``src<doc_id % 20>``; ``text``
  is 10 to 99 tokens (median 56) drawn uniformly from a 30-word vocabulary,
  48 to 553 characters (mean 298), ``n_chars`` its length; no two texts are
  equal, and exactly 5% of the rows (25) are another row's text plus the
  token ``dup``, their source row drawn from all rows, earlier or later.
- ``lineitem``: 60,000 rows; ``l_orderkey`` uniform over 15,000 orders
  (14,743 distinct, 1 to 13 rows each, mode 4); ``l_partkey`` uniform over
  2,000, ``l_suppkey`` over 100, ``l_linenumber`` over 1..7,
  ``l_quantity`` over 1..50, ``l_discount`` 0..0.10 and ``l_tax`` 0..0.08
  in steps of 0.01; ``l_extendedprice`` 900 to 105,000; ``l_returnflag`` and
  ``l_linestatus`` uniform and independent; ``l_shipdate`` uniform over 2,499
  days from 1995-01-02 (54% on or before 1998-09-01).

The same seed gives the same bytes.
"""

from __future__ import annotations

import pathlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DOC_LANGS = ["en", "zh", "es", "de", "fr"]
DOC_LANG_SHARE = [0.436, 0.150, 0.146, 0.140, 0.128]
DOC_SOURCES = 20
DUP_SHARE = 0.05
N_DOCS = 500
N_LINEITEM, N_ORDERS, N_PARTS, N_SUPPLIERS = 60_000, 15_000, 2_000, 100
SHIP_START, SHIP_DAYS = "1995-01-02", 2_499
DAY_US = 86_400 * 1_000_000

DOCUMENTS = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])
LINEITEM = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
    ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
    ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
    ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
    ("l_linestatus", pa.string()), ("l_shipdate", pa.timestamp("us")),
])
TABLES = ("documents", "lineitem")


def _write(out: pathlib.Path, name: str, cols: dict, schema: pa.Schema) -> None:
    table = pa.table({f.name: pa.array(cols[f.name], type=f.type) for f in schema}, schema=schema)
    pq.write_table(table, out / f"{name}.parquet")


def _texts(rng: np.random.Generator) -> list[str]:
    base = [" ".join(rng.choice(DOC_WORDS, int(rng.integers(10, 100)))) for _ in range(N_DOCS)]
    texts, used = list(base), set()
    for i in rng.choice(N_DOCS, int(N_DOCS * DUP_SHARE), replace=False):
        j = int(i)
        while j == i or j in used:  # any other row, each copied once
            j = int(rng.integers(0, N_DOCS))
        used.add(j)
        texts[i] = base[j] + " dup"
    if len(set(texts)) != N_DOCS:
        raise ValueError("generated documents repeat a text")
    return texts


def generate(out_dir: str | pathlib.Path, seed: int) -> None:
    """Write ``documents.parquet`` and ``lineitem.parquet`` under ``out_dir``."""
    out = pathlib.Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    texts = _texts(rng)
    _write(out, "documents", {
        "doc_id": np.arange(N_DOCS),
        "text": texts,
        "lang": rng.choice(DOC_LANGS, N_DOCS, p=DOC_LANG_SHARE),
        "source": [f"src{i % DOC_SOURCES}" for i in range(N_DOCS)],
        "n_chars": [len(t) for t in texts],
    }, DOCUMENTS)
    n = N_LINEITEM
    ship0 = np.datetime64(SHIP_START, "us").astype(np.int64)
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, N_ORDERS, n),
        "l_partkey": rng.integers(0, N_PARTS, n),
        "l_suppkey": rng.integers(0, N_SUPPLIERS, n),
        "l_linenumber": rng.integers(1, 8, n),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": (ship0 + rng.integers(0, SHIP_DAYS, n) * DAY_US).astype("datetime64[us]"),
    }, LINEITEM)
