"""Crawler: schema inference over raw delimited/JSON/parquet files —
the Glue-crawler analog.

The reference deploys two crawlers (``stacks/demo_stack.py:130-187``):
one bare, one with a CSV classifier that forces header detection
(``contains_header="PRESENT"``, tab delimiter) because a header row of
all-string columns is indistinguishable from data. This module
reproduces both behaviors on Spark's readers:

- without a classifier (or with ``contains_header="UNKNOWN"``), a
  header is detected only when some column infers a non-string type,
  so all-string data is read headerless with synthesized ``col_N``
  names — exactly the Glue failure mode the reference's README
  documents for ``name.basics``;
- with :class:`CsvClassifier` (header PRESENT), the first row becomes
  the header and types are inferred from the remaining rows.

A delimited crawl is one bounded sample of raw lines, cached in the
JVM; one inference over it (two only when no header is detected); and
one typed scan of the dataset. The inferred schema is catalog state, as
a Glue crawler's is: a later crawl of the same unchanged files with the
same dialect reuses it and runs no inference job.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql.types import StringType, StructType

from cdk_serverless_data_lake_sandbox_spark.catalog import schema_for, table_version


@dataclass(frozen=True)
class CsvClassifier:
    """Glue CsvClassifier analog (``stacks/demo_stack.py:158-169``)."""

    delimiter: str = "\t"
    quote_symbol: str = "'"
    contains_header: str = "PRESENT"  # PRESENT | ABSENT | UNKNOWN (detect)

    def __post_init__(self) -> None:
        if self.contains_header not in ("PRESENT", "ABSENT", "UNKNOWN"):
            raise ValueError(
                f"contains_header={self.contains_header!r}: expected PRESENT|ABSENT|UNKNOWN"
            )


# Raw lines fed to schema inference: Glue crawlers classify from a
# sample, so inference costs O(sample) at any dataset size.
_SAMPLE_ROWS = 10_000


def _sample_lines(spark: SparkSession, path: str, n: int = _SAMPLE_ROWS) -> DataFrame:
    """The first ``n`` raw lines of the dataset as a one-column string
    frame. ``limit`` stops the text scan once ``n`` lines are read; the
    ``select`` keeps Hive partition columns out."""
    return spark.read.text(path).select("value").limit(n)


def _csv_reader(
    spark: SparkSession, delimiter: str, quote: str, use_header: bool
) -> DataFrameReader:
    return (
        spark.read.option("header", use_header)
        .option("sep", delimiter)
        .option("quote", quote)
        .option("nullValue", "\\N")  # IMDB-style nulls
    )


def _infer_from_sample(
    spark: SparkSession, sample: DataFrame, delimiter: str, quote: str, use_header: bool
) -> StructType:
    """Spark's own CSV inference over the sample, through the JVM
    reader's ``csv(Dataset[String])`` entry: sampled inference keeps
    the type-widening rules of full inference, and the lines never
    reach Python. With ``use_header`` Spark drops every line equal to
    the header, i.e. the header each file of a multi-file dataset
    repeats."""
    reader = _csv_reader(spark, delimiter, quote, use_header).option("inferSchema", True)
    lines = getattr(sample._jdf, "as")(spark._jvm.Encoders.STRING())
    return DataFrame(reader._jreader.csv(lines), spark).schema


def crawl_delimited(
    spark: SparkSession,
    path: str,
    delimiter: str = "\t",
    classifier: CsvClassifier | None = None,
    sample_rows: int = _SAMPLE_ROWS,
    mode: str = "PERMISSIVE",
    corrupt_col: str | None = "_corrupt",
) -> DataFrame:
    """Infer schema for a delimited file the way the reference's
    crawler pair does. Returns the typed DataFrame; the caller
    registers it in a :class:`~cdk_serverless_data_lake_sandbox_spark.catalog.Lake` zone.

    The first ``sample_rows`` lines (the Glue-crawler sampling
    contract, demo_stack.py:130-145) are cached for the crawl and
    inferred once. Header detection (no classifier, or
    ``contains_header="UNKNOWN"``, which uses the classifier's
    delimiter and quote) keeps that ``header=True`` schema when some
    column is non-string; otherwise it infers again headerless. The
    returned frame scans the dataset once with the inferred schema
    applied explicitly. A sample that infers no columns (empty input)
    raises ``ValueError`` naming ``path``.

    Each inference is kept in the catalog's schema store
    (:func:`~cdk_serverless_data_lake_sandbox_spark.catalog.schema_for`),
    keyed on the path's
    :func:`~cdk_serverless_data_lake_sandbox_spark.catalog.table_version`
    plus the delimiter, quote, header setting and ``sample_rows``.
    Crawling the same unchanged files again (the ETL job after the
    crawler, say) runs no inference job and builds no sample; a file
    rewritten in place is inferred again, and a path that cannot be
    stat'ed (a glob) always is. An ``UNKNOWN`` crawl runs the same
    first inference as a ``PRESENT`` one, so either reuses the
    other's.

    A type that only widens past the sample horizon (e.g. ints that
    become floats after row 10k) fails to parse on those rows. The
    caller chooses how that surfaces:

    - ``mode="PERMISSIVE"`` + ``corrupt_col="_corrupt"`` (the
      default): malformed rows land their RAW line in the corrupt
      column, so a post-read ``WHERE _corrupt IS NOT NULL`` count is
      the detection / DLQ-routing hook. Callers that have validated
      their sample horizon pass ``corrupt_col=None`` to opt out.
    - ``mode="FAILFAST"``: the scan raises on the first row the
      sampled schema cannot parse — the loud option for pipelines
      that would rather re-crawl with a bigger ``sample_rows``."""
    header, quote = "UNKNOWN", '"'
    if classifier is not None:
        header = classifier.contains_header
        delimiter, quote = classifier.delimiter, classifier.quote_symbol
    sample = _sample_lines(spark, path, sample_rows)
    version = table_version(path)
    cached = []

    def infer(use_header: bool) -> StructType:
        def run() -> StructType:
            if not cached:  # uncached, every inference job re-runs the limit scan
                cached.append(sample.cache())
            return _infer_from_sample(spark, sample, delimiter, quote, use_header)

        return schema_for((path, delimiter, quote, use_header, sample_rows), version, run)

    try:
        use_header = header != "ABSENT"
        schema = infer(use_header)
        if header == "UNKNOWN" and all(isinstance(f.dataType, StringType) for f in schema.fields):
            use_header = False
            schema = infer(False)
    finally:
        if cached:
            sample.unpersist()
    if not schema.fields:
        raise ValueError(f"crawl_delimited: no columns inferred from {path!r} (empty input?)")
    n_data_cols = len(schema.fields)
    if corrupt_col is not None:
        schema = schema.add(corrupt_col, StringType())
    reader = _csv_reader(spark, delimiter, quote, use_header).option("mode", mode).schema(schema)
    if corrupt_col is not None:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    df = reader.csv(path)
    if not use_header:
        names = [f"col_{i}" for i in range(n_data_cols)]
        if corrupt_col is not None:
            names.append(corrupt_col)
        df = df.toDF(*names)
    return df


# ------------------------------------------------------------- grok
# Glue's classifier resource family has four types — CSV (mapped
# above), JSON/parquet (format readers below), XML (crawl_xml below,
# on Spark 4's NATIVE xml data source — no external package), and
# GROK, the one raw-log ingest runs on. A grok classifier is an EXPLICIT schema: the pattern names
# and types every field, so — unlike the CSV path — classification
# needs zero inference scans; the read is a single text scan with
# JVM-side regexp_extract projections (one compiled Pattern, cached
# per task; each field's extract reruns the match, so cost is
# O(fields) regex evaluations per line — still scan-speed, no
# shuffle, no Python).

# Built-in pattern library (subset of the public grok/Logstash
# vocabulary; regexes written here, not copied). Inner groups are
# non-capturing so field group indexes stay stable.
_GROK_LIBRARY: dict[str, str] = {
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "IPV4": r"(?:\d{1,3}\.){3}\d{1,3}",
    "LOGLEVEL": r"(?:TRACE|DEBUG|INFO|WARN(?:ING)?|ERROR|FATAL)",
    "TIMESTAMP_ISO8601": (
        r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}"
        r"(?:\.\d+)?(?:Z|[+-]\d{2}:?\d{2})?"
    ),
    "UUID": r"[0-9a-fA-F]{8}(?:-[0-9a-fA-F]{4}){3}-[0-9a-fA-F]{12}",
}

_GROK_TYPES = {"int": "long", "float": "double"}


@dataclass(frozen=True)
class GrokClassifier:
    """Glue GrokClassifier analog: ``%{PATTERN:field}`` /
    ``%{PATTERN:field:int|float}`` tokens inside an otherwise-literal
    regex. ``custom_patterns`` extends the library (one level of
    ``%{...}`` nesting allowed; use non-capturing groups in custom
    regexes)."""

    grok_pattern: str
    custom_patterns: dict[str, str] | None = None

    def compile(self) -> tuple[str, list[tuple[str, str]]]:
        """-> (anchored java regex, [(field, spark_type), ...] in
        capture-group order). Only field tokens contribute capturing
        groups (library/custom regexes are non-capturing), so group
        index == field order; a LITERAL ``(`` in the pattern or a
        capturing group in a custom pattern would shift indexes —
        use ``(?:...)``."""
        import re as _re

        lib = dict(_GROK_LIBRARY, **(self.custom_patterns or {}))

        def expand(pat: str, depth: int) -> str:
            if depth > 4:
                raise ValueError("grok pattern nesting too deep")

            def sub_token(m: _re.Match) -> str:
                name = m.group(1)
                if name not in lib:
                    raise ValueError(f"unknown grok pattern %{{{name}}}")
                return "(?:" + expand(lib[name], depth + 1) + ")"

            return _re.sub(r"%\{(\w+)\}", sub_token, pat)

        fields: list[tuple[str, str]] = []

        def sub_field(m: _re.Match) -> str:
            name, field, typ = m.group(1), m.group(2), m.group(3)
            if name not in lib:
                raise ValueError(f"unknown grok pattern %{{{name}}}")
            if typ is not None and typ not in _GROK_TYPES:
                raise ValueError(f"unknown grok cast :{typ} (int|float)")
            fields.append((field, _GROK_TYPES.get(typ or "", "string")))
            return "(" + expand(lib[name], 0) + ")"

        regex = _re.sub(
            r"%\{(\w+):(\w+)(?::(\w+))?\}", sub_field, self.grok_pattern
        )
        regex = expand(regex, 0)  # bare %{NAME} tokens: match, no field
        if not fields:
            raise ValueError("grok pattern captures no fields")
        # loud compile-time validation (review findings), so every
        # misconfiguration fails HERE, not as silent nulls or a
        # PatternSyntaxException deep inside a Spark job:
        names = [f for f, _ in fields]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate grok field names in {names}")
        if "%{" in regex:
            # a token that missed the \w+ grammar (dots/dashes in the
            # field name, or %{NAME:field} nested inside a custom
            # pattern, which expand() deliberately doesn't substitute)
            rest = regex[regex.index("%{") :][:40]
            raise ValueError(f"unsubstituted grok token at: {rest!r}")
        anchored = "^" + regex + "$"
        if _re.compile(anchored).groups != len(fields):
            raise ValueError(
                "capture-group count != field count: a literal '(' in "
                "the pattern or a capturing group in a custom pattern "
                "shifts field indexes — use '(?:...)'"
            )
        return anchored, fields


def crawl_grok(
    spark: SparkSession,
    path: str,
    classifier: GrokClassifier,
    mode: str = "PERMISSIVE",
    corrupt_col: str | None = None,
) -> DataFrame:
    """Classify raw text lines with a grok pattern — the Glue
    GrokClassifier analog, and the shape raw 100 TB log ingest takes:
    ONE text scan, one compiled regex, every extract JVM-side inside
    whole-stage codegen (no inference pass: the pattern IS the
    schema). Same malformed-row contract as :func:`crawl_delimited`:

    - PERMISSIVE + ``corrupt_col``: non-matching lines land their raw
      text in the corrupt column (typed fields null) — the DLQ hook;
    - PERMISSIVE without ``corrupt_col``: non-matching lines are
      dropped (Glue routes them to unclassified);
    - FAILFAST: the scan raises on the first non-matching line, via a
      distributed ``raise_error`` guard — no extra validation scan.

    ``corrupt_col`` is added to the schema in EVERY mode (all-null
    when the mode filters/raises malformed lines away), matching
    crawl_delimited: switching modes never changes the schema a
    downstream DLQ check selects on.
    """
    from pyspark.sql import functions as F

    regex, fields = classifier.compile()
    raw = spark.read.text(path)
    if mode not in ("PERMISSIVE", "DROPMALFORMED", "FAILFAST"):
        raise ValueError(f"unknown mode {mode!r}")
    keeps_unmatched = mode == "PERMISSIVE" and corrupt_col is not None

    # ONE rlike per row in EVERY mode (r8: the r7 shape re-evaluated
    # the match predicate in the FAILFAST guard, the keep-filter, and
    # each per-field when() — up to 3x per row; CollapseProject
    # re-inlines shared subexpressions per reference, the winnowing
    # lesson of SURVEY §6). (value, matched) is let-bound as the single
    # element of an array; every downstream reference reads the bound
    # lambda variable instead of re-evaluating the regex.
    elem = F.array(
        F.struct(
            F.col("value").alias("v"),
            F.col("value").rlike(regex).alias("m"),
        )
    )
    if mode != "FAILFAST" and not keeps_unmatched:
        # drop path: filter INSIDE the array (bound element, no second
        # match evaluation); explode_outer + IS NOT NULL below drops
        # the emptied rows without the size(arr) > 0 filter non-outer
        # explode infers, which would re-inline the array expression
        # below the projection (SURVEY §6, outer-explode rule)
        elem = F.filter(elem, lambda r: r["m"])

    def out_struct(r) -> "F.Column":
        cols = [
            F.when(r["m"], F.regexp_extract(r["v"], regex, i + 1))
            .cast(typ)
            .alias(name)
            for i, (name, typ) in enumerate(fields)
        ]
        if corrupt_col is not None:
            # null on matched rows; modes that filter or raise
            # unmatched rows away leave it all-null, same schema
            cols.append(F.when(~r["m"], r["v"]).alias(corrupt_col))
        return F.struct(*cols)

    if mode == "FAILFAST":
        # distributed guard inside the same binding: an unmatched row
        # forces the raise_error branch and fails the scan
        def body(r) -> "F.Column":
            return F.when(r["m"], out_struct(r)).otherwise(
                F.raise_error(
                    F.concat(F.lit("grok: unmatched line: "), r["v"])
                )
            )

    else:
        body = out_struct
    return (
        raw.select(F.explode_outer(F.transform(elem, body)).alias("_e"))
        .where(F.col("_e").isNotNull())
        .select("_e.*")
    )


@dataclass(frozen=True)
class XmlClassifier:
    """Glue XmlClassifier analog: ``row_tag`` names the element that
    delimits one row (``CfnClassifier.XMLClassifierProperty`` — the
    fourth classifier type of the reference's resource family,
    ``stacks/demo_stack.py:158-169`` instantiates the CSV sibling)."""

    row_tag: str


def crawl_xml(
    spark: SparkSession,
    path: str,
    classifier: XmlClassifier,
    mode: str = "PERMISSIVE",
    corrupt_col: str | None = "_corrupt",
    sampling_ratio: float = 1.0,
) -> DataFrame:
    """Classify XML on Spark 4's NATIVE xml data source (built in since
    4.0 — the pre-r8 refusal rationale 'needs an external reader' is
    stale). Same two-phase shape as :func:`crawl_delimited`: one
    inference pass types the row elements (``sampling_ratio`` bounds
    the parse cost the way the CSV path's ``sample_rows`` does), then
    the dataset is read ONCE with the inferred schema applied
    explicitly, under the same malformed-row contract:

    - PERMISSIVE + ``corrupt_col`` (DEFAULT): rows the schema cannot
      parse land their raw XML in the corrupt column — the DLQ hook;
    - DROPMALFORMED: unparseable rows are dropped;
    - FAILFAST: the scan raises on the first unparseable row.

    Hive-partitioned ``key=value`` trees inherit partition discovery
    and partition-filter pushdown from the file-source framework, like
    every other crawl."""
    reader = spark.read.format("xml").option("rowTag", classifier.row_tag)
    inferred = reader.option("samplingRatio", sampling_ratio).load(path).schema
    schema = inferred
    if corrupt_col is not None:
        if corrupt_col not in schema.fieldNames():
            schema = schema.add(corrupt_col, StringType())
    typed = (
        spark.read.format("xml")
        .option("rowTag", classifier.row_tag)
        .option("mode", mode)
        .schema(schema)
    )
    if corrupt_col is not None:
        typed = typed.option("columnNameOfCorruptRecord", corrupt_col)
    return typed.load(path)


def crawl_json(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.json(path)


def crawl_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def crawl_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC zone support (native in Spark — no extra package): ORC
    files carry their own typed schema like parquet, so crawling is a
    schema read, and Spark pushes filters/column pruning into the ORC
    reader the same way. Glue crawlers classify ORC natively; this is
    that path."""
    return spark.read.orc(path)


def orc_write(df: DataFrame, path: str, partition_by: tuple[str, ...] = ()) -> None:
    """ORC zone writer (snappy, partitioned like the parquet zones)."""
    w = df.write.mode("overwrite").option("compression", "snappy")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)
