"""Language-partitioned line-file corpus source (SURVEY §1.1, §2.A).

Reference layout (readme.md:44-56): ``input/<lang>/<file>.csv`` where the
folder name IS the language attribute; each line is one record; blank lines
dropped; unknown-language folders skipped (call-debias.py:184-194).

Spark-first: one declarative ``spark.read.text`` over the root directory,
language derived from the path, the language gate expressed as a filter.
Listing visits every folder under the root, unsupported ones included; their
lines are read and dropped by the gate.  The root is read as one directory
rather than as the ``<root>/*/*.csv`` glob: a glob that expands to more than
``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths makes Spark
list them in a separate job, while one root is listed on the driver.  A path
depth filter then keeps exactly the files the glob matched.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# call-debias.py:36 — the reference's language gate
SUPPORTED_LANGUAGES = ("nl", "en", "de", "it", "fr")


def path_parts(spark: SparkSession, root: str) -> Column:
    """``input_file_name()`` below ``root``, split on ``/``:
    ``["en", "a.csv"]`` for ``<root>/en/a.csv``, null outside ``root``.

    ``root`` is qualified the way Spark's file index qualifies it, and only
    the percent-encoded paths are compared: input_file_name() spells the
    scheme ``file:///`` where a qualified relative root reads ``file:/``.
    A recursive directory read lists every depth; filtering on the size of
    this array keeps one, which is what a ``<root>/*/*`` glob matched."""
    path = spark._jvm.org.apache.hadoop.fs.Path(root)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    prefix = fs.makeQualified(path).toUri().getRawPath().rstrip("/") + "/"
    raw = F.regexp_extract(F.input_file_name(), r"^[^:/]+:(?://[^/]*)?(/.*)$", 1)
    below = F.substring(raw, len(prefix) + 1, 1 << 30)
    return F.split(F.when(raw.startswith(prefix), below), "/")


def read_corpus(
    spark: SparkSession,
    input_dir: str,
    languages: tuple[str, ...] = SUPPORTED_LANGUAGES,
    drop_blank: bool = True,
) -> DataFrame:
    """Corpus as (value, language, src_file): one row per non-blank line.

    src_file is the source filename (stem + extension) — the unit of the
    reference's batching, retry and output naming.  Reads the files of
    ``<input_dir>/*/*.csv``: root-level and nested files are dropped, and
    Spark's listing skips ``_``- and ``.``-prefixed file names as the glob
    did.  It also skips such folders, which the glob matched; no language
    code starts with those characters.
    """
    parts = F.col("_parts")
    df = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.csv")
        .text(input_dir)
        .withColumn("_parts", path_parts(spark, input_dir))
        .filter(F.size(parts) == 2)
        .select("value", F.get(parts, 0).alias("language"), F.get(parts, 1).alias("src_file"))
    )
    df = df.filter(F.col("language").isin(*languages))
    if drop_blank:
        df = df.filter(F.length(F.trim("value")) > 0)
    return df


def with_line_seq(df: DataFrame) -> DataFrame:
    """Append ``_seq``: a key that orders the lines of each src_file.

    It is an ordering key, not a line number: values are unique and ascend
    in line order within a file, with gaps.  The reference emits results in
    input-file line order (call-debias.py:141 writes the response array in
    request order); Spark's collect_list after a shuffle is partition-order
    nondeterministic, so the per-file sink and the reports sort on this
    column to restore the reference's ordering contract.

    ``_seq`` is monotonically_increasing_id(): (partition_id << 33) +
    row-in-partition.  A scan reads each split's lines in file order, and the
    splits of one file get non-decreasing partition ids in file order (splits
    are packed in a stable length-descending order: the full-size splits in
    file order, then the shorter tail).  So ``df`` must be the scan itself,
    with no shuffle in between.  Nothing is shuffled here.
    """
    return df.withColumn("_seq", F.monotonically_increasing_id())


def split_record(df: DataFrame, value_col: str = "value") -> DataFrame:
    """The latent 2-field schema applied at report time (call-debias.py:92-96):
    split on the FIRST comma into (record_num, literal_text), trimmed; a line
    with no comma yields literal_text = ''."""
    parts = F.split(F.col(value_col), ",", 2)
    return df.withColumn("record_num", F.trim(F.get(parts, 0))).withColumn(
        "literal_text", F.coalesce(F.trim(F.get(parts, 1)), F.lit(""))
    )
