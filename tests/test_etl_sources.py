"""Tests for the reference-derived ETL surface: crawler inference
(A3), the TSV->parquet job (A5), KV store (A6), Lake catalog (A7),
and the storage/scale ops (D1-D6)."""

from __future__ import annotations

import os
import re

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdk_serverless_data_lake_sandbox_spark.catalog import (
    _SCHEMA_CACHE,
    Lake,
    _hadoop_version,
    _read_parquet_cached,
    load_tables,
    record_written,
    recorded_schema,
)
from cdk_serverless_data_lake_sandbox_spark.operators import _helpers
from cdk_serverless_data_lake_sandbox_spark.operators.etl import (
    IncrementalIngest,
    apply_mapping,
    compact,
    dv_compact,
    dv_delete,
    dv_read,
    merge_upsert,
    tsv_to_parquet_job,
)
from cdk_serverless_data_lake_sandbox_spark.plans import partition_filters, pushed_filters
from cdk_serverless_data_lake_sandbox_spark.sources.crawler import CsvClassifier, crawl_delimited
from cdk_serverless_data_lake_sandbox_spark.sources.kv import KVStore, register_kvscan

from tests.conftest import SF_SMALL, count_jobs, parquet_calls

_NAME_BASICS_TSV = (
    "nconst\tprimaryName\tbirthYear\tdeathYear\tprimaryProfession\tknownForTitles\n"
    "nm0000001\tFred Astaire\t1899\t1987\tactor,miscellaneous\ttt0072308\n"
    "nm0000002\tLauren Bacall\t1924\t2014\tactress,soundtrack\ttt0037382\n"
    "nm0000003\tBrigitte Bardot\t1934\t\\N\tactress,music_department\ttt0057345\n"
)

_ALL_STRING_TSV = (
    "nconst\tprimaryName\tprofession\n"
    "nm0000001\tFred Astaire\tactor\n"
    "nm0000002\tLauren Bacall\tactress\n"
)


# a typed drop, shaped like the orders drops the ingest benchmark lands
_DROP_TSV = "id\tname\tprice\tpriority\n" + "".join(
    f"{i}\tn{i}\t{i * 1.5}\tP{i % 3}\n" for i in range(60)
)
_DROP_MAPPING = [
    ("id", "int", "id", "bigint"),
    ("name", "string", "name", "string"),
    ("price", "double", "price", "double"),
    ("priority", "string", "priority", "string"),
]


@pytest.fixture()
def name_basics(tmp_path):
    p = tmp_path / "name.basics.tsv"
    p.write_text(_NAME_BASICS_TSV)
    return str(p)


@pytest.fixture()
def drop(tmp_path):
    p = tmp_path / "drop.tsv"
    p.write_text(_DROP_TSV)
    return str(p)


def _etl(spark, drop: str, out_dir, partition_keys=("priority",)) -> dict:
    return tsv_to_parquet_job(
        spark, drop, str(out_dir), "orders", _DROP_MAPPING, partition_keys=list(partition_keys)
    )


# ---------------------------------------------------------------- A3
def test_crawler_infers_types_with_header(spark, name_basics):
    df = crawl_delimited(spark, name_basics, classifier=CsvClassifier())
    # malformed-row DLQ column present by DEFAULT (r8 advice: silent
    # all-NULL rows past the sample horizon must be opt-in)
    assert df.columns == [
        "nconst", "primaryName", "birthYear", "deathYear",
        "primaryProfession", "knownForTitles", "_corrupt",
    ]
    types = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)
    assert types["birthYear"] == "int"  # the 'choice' column, resolved
    assert df.where(F.col("deathYear").isNull()).count() == 1  # \N null
    # the DLQ hook routes full rows (Spark refuses plans whose ONLY
    # referenced column is the internal corrupt column, so a bare
    # count() needs a cached parse — routing doesn't)
    assert df.where(F.col("_corrupt").isNotNull()).collect() == []
    # explicit opt-out keeps the pre-r8 shape
    bare = crawl_delimited(
        spark, name_basics, classifier=CsvClassifier(), corrupt_col=None
    )
    assert bare.columns == [
        "nconst", "primaryName", "birthYear", "deathYear",
        "primaryProfession", "knownForTitles",
    ]


def test_crawler_all_string_no_classifier_misses_header(spark, tmp_path):
    """The failure mode the reference README documents: all-string
    data without the classifier -> header row not detected."""
    p = tmp_path / "allstr.tsv"
    p.write_text(_ALL_STRING_TSV)
    df = crawl_delimited(spark, str(p))
    assert df.columns == ["col_0", "col_1", "col_2", "_corrupt"]
    assert df.count() == 3  # header row read as data
    with_cls = crawl_delimited(spark, str(p), classifier=CsvClassifier())
    assert with_cls.columns == ["nconst", "primaryName", "profession", "_corrupt"]
    assert with_cls.count() == 2


def test_crawler_unknown_header_is_detected_with_classifier_dialect(spark, tmp_path):
    """Glue's contains_header=UNKNOWN means "detect": a typed file's
    header row becomes the header (not a data row under col_N names),
    detection uses the classifier's delimiter and quote, all-string
    data stays headerless, and any other value is refused."""
    typed = tmp_path / "typed.csv"
    typed.write_text("id,name\n1,'a,b'\n2,c\n")
    unknown = CsvClassifier(delimiter=",", contains_header="UNKNOWN")
    df = crawl_delimited(spark, str(typed), classifier=unknown, corrupt_col=None)
    assert [f.simpleString() for f in df.schema.fields] == ["id:int", "name:string"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "a,b"), (2, "c")]

    allstr = tmp_path / "allstr.tsv"
    allstr.write_text(_ALL_STRING_TSV)
    df = crawl_delimited(
        spark, str(allstr), classifier=CsvClassifier(contains_header="UNKNOWN")
    )
    assert df.columns == ["col_0", "col_1", "col_2", "_corrupt"]

    with pytest.raises(ValueError, match="contains_header"):
        CsvClassifier(contains_header="YES")


def test_crawler_empty_input_names_path(spark, tmp_path):
    """An empty input fails at crawl time with its path, not later as
    a query over nothing but the corrupt-record column."""
    p = tmp_path / "empty.tsv"
    p.write_text("")
    with pytest.raises(ValueError, match="empty.tsv"):
        crawl_delimited(spark, str(p))
    with pytest.raises(ValueError, match="empty.tsv"):
        crawl_delimited(spark, str(p), classifier=CsvClassifier())


def _python_side_inference(spark, path, delimiter, quote, header):
    """Reference for the crawler's schema choice, computed the way it
    once was: the sample is collected into Python, repeated headers
    are filtered there, and inference runs through PySpark's
    ``csv(RDD)`` (a Python-worker round trip)."""
    lines = [r.value for r in spark.read.text(path).limit(10_000).collect()]

    def infer(q, use_header):
        sample = lines
        if use_header and sample:
            sample = [sample[0]] + [ln for ln in sample[1:] if ln != sample[0]]
        rdd = spark.sparkContext.parallelize(sample or [""], 1)
        return (
            spark.read.option("header", use_header)
            .option("sep", delimiter)
            .option("quote", q)
            .option("inferSchema", True)
            .option("nullValue", "\\N")
            .csv(rdd)
            .schema
        )

    if header == "UNKNOWN":
        probe = infer('"', True)
        use_header = any(f.dataType.simpleString() != "string" for f in probe.fields)
    else:
        use_header = header == "PRESENT"
    schema = infer(quote, use_header)
    if not use_header:
        return [(f"col_{i}", f.dataType) for i, f in enumerate(schema.fields)]
    return [(f.name, f.dataType) for f in schema.fields]


def test_crawler_jvm_inference_matches_python_side_reference(spark, tmp_path):
    """The JVM-side sample inference picks the same header and types
    as the Python-side reference on name.basics, all-string data, a
    multi-file dataset whose files each repeat the header, quoted
    fields and \\N nulls, with and without a classifier."""
    from cdk_serverless_data_lake_sandbox_spark.sources.crawler import (
        _infer_from_sample,
        _sample_lines,
    )

    multi = tmp_path / "multi"
    multi.mkdir()
    for i in range(3):
        rows = "".join(f"u{i}_{j}\t{20 + j}\t{j / 4}\n" for j in range(40))
        (multi / f"part-{i}.tsv").write_text("name\tage\tscore\n" + rows)
    inputs = {
        "name.basics.tsv": _NAME_BASICS_TSV,
        "allstr.tsv": _ALL_STRING_TSV,
        "quoted.tsv": 'id\ttitle\tscore\n1\t"a\tb"\t1.5\n2\t"say ""hi"""\t2\n',
        "nulls.tsv": "id\tval\tnote\n1\t\\N\t\\N\n2\t3\t\\N\n\\N\t4\t\\N\n",
    }
    paths = [str(multi)]
    for name, text in inputs.items():
        (tmp_path / name).write_text(text)
        paths.append(str(tmp_path / name))

    for path in paths:
        for cls in (None, CsvClassifier(quote_symbol='"')):
            header = "UNKNOWN" if cls is None else cls.contains_header
            want = _python_side_inference(spark, path, "\t", '"', header)
            df = crawl_delimited(spark, path, classifier=cls, corrupt_col=None)
            got = [(f.name, f.dataType) for f in df.schema.fields]
            assert got == want, (path, cls, got, want)
        # the sample stays a JVM frame; header=True inference matches too
        sample = _sample_lines(spark, path)
        assert isinstance(sample, DataFrame)
        schema = _infer_from_sample(spark, sample, "\t", '"', True)
        want = _python_side_inference(spark, path, "\t", '"', "PRESENT")
        assert [(f.name, f.dataType) for f in schema.fields] == want, path


def test_crawler_typed_crawl_runs_two_jobs_and_releases_its_sample(spark, tmp_path):
    """A header-present typed crawl is one inference over one cached
    sample: at most 2 Spark jobs (the header line, then the type
    aggregate), with or without a classifier, and the sample's cache
    is released before the crawl returns."""
    p = tmp_path / "typed.tsv"
    p.write_text("id\tname\tscore\n" + "".join(f"{i}\tn{i}\t{i / 3}\n" for i in range(500)))
    sc = spark.sparkContext
    for k, cls in enumerate((CsvClassifier(), None)):
        before = set(sc._jsc.getPersistentRDDs().keys())
        group = f"crawl-job-probe-{k}"
        sc.setJobGroup(group, "typed crawl")
        try:
            df = crawl_delimited(spark, str(p), classifier=cls)
        finally:
            sc.setJobGroup(None, None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert len(jobs) <= 2, f"crawl ran {len(jobs)} jobs, expected <= 2"
        assert set(sc._jsc.getPersistentRDDs().keys()) == before
        assert df.schema.fieldNames() == ["id", "name", "score", "_corrupt"]


def test_crawler_sampled_inference_bounded_probe(spark, tmp_path):
    """Crawler schema inference is a bounded probe, not a full scan:
    on a multi-file dataset far larger than the sample, the probe
    reads at most sample_rows lines and the inferred schema matches
    what full inference produces, including across file boundaries,
    where every file repeats the header."""
    from cdk_serverless_data_lake_sandbox_spark.sources.crawler import _sample_lines

    root = tmp_path / "multi"
    root.mkdir()
    rows_per_file, n_files = 5000, 3
    for i in range(n_files):
        with open(root / f"part-{i}.tsv", "w") as f:
            f.write("name\tage\tscore\n")
            for j in range(rows_per_file):
                f.write(f"user{i}_{j}\t{20 + j % 50}\t{j / 7.0}\n")

    sample = _sample_lines(spark, str(root), 1000)
    assert sample.count() <= 1000  # bounded probe, dataset has 15003 lines

    df = crawl_delimited(
        spark, str(root), classifier=CsvClassifier(), sample_rows=1000
    )
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "string",
        "int",
        "double",
        "string",  # default _corrupt DLQ column
    ], df.schema.simpleString()
    # per-file headers skipped on the full read; no row lost or
    # misparsed (a stray header line inside a typed column would be
    # NULL under the explicit schema)
    assert df.count() == rows_per_file * n_files
    assert df.where(F.col("age").isNull() | F.col("score").isNull()).count() == 0

    # headerless auto-detect path samples too
    df2 = crawl_delimited(spark, str(root), sample_rows=1000)
    assert df2.schema.fields[1].dataType.simpleString() == "int"


def test_crawler_corrupt_record_hooks(spark, tmp_path):
    """Type widening past the sample horizon is detectable: FAILFAST
    raises, and corrupt_col captures the raw line under PERMISSIVE
    instead of leaving silent NULLs."""
    root = tmp_path / "widen"
    root.mkdir()
    with open(root / "data.tsv", "w") as f:
        f.write("name\tage\n")
        for j in range(200):
            f.write(f"u{j}\t{20 + j}\n")
        f.write("late\t99.5\n")  # widens int -> double past the sample

    df = crawl_delimited(
        spark, str(root), classifier=CsvClassifier(), sample_rows=100,
        corrupt_col="_corrupt",
    ).cache()  # Spark disallows corrupt-col-only queries on raw CSV
    bad = df.where(F.col("_corrupt").isNotNull())
    assert bad.count() == 1
    assert "99.5" in bad.collect()[0]._corrupt
    assert df.where(F.col("_corrupt").isNull()).count() == 200
    df.unpersist()

    with pytest.raises(Exception):
        # collect, not count: count() prunes every data column, so the
        # malformed value would never be parsed
        crawl_delimited(
            spark, str(root), classifier=CsvClassifier(), sample_rows=100,
            mode="FAILFAST",
        ).collect()


def test_crawler_widening_rows_land_in_default_dlq_column(spark, tmp_path):
    """Types that widen past the sample horizon must be DETECTED by
    default: the malformed rows carry their raw line in _corrupt
    instead of silently becoming all-NULL."""
    p = tmp_path / "widen.tsv"
    with open(p, "w") as fh:
        fh.write("id\tval\n")
        for i in range(200):
            fh.write(f"{i}\t{i}\n")
        fh.write("200\tnot_a_number\n")  # widens int -> string past sample
    df = crawl_delimited(
        spark, str(p), classifier=CsvClassifier(), sample_rows=100
    )
    assert "_corrupt" in df.columns
    # collect()s, not count()s: Spark refuses aggregations whose only
    # surviving referenced column is the internal corrupt column
    bad = df.where(F.col("_corrupt").isNotNull()).collect()
    assert len(bad) == 1 and "not_a_number" in bad[0]["_corrupt"]
    assert len(df.where(F.col("_corrupt").isNull()).collect()) == 200


# ---------------------------------------------------------------- A3 crawl memo
def test_crawl_memo_reinfers_a_drop_rewritten_in_place(spark, tmp_path):
    """The crawled schema is kept per file version: an unchanged drop
    runs no inference job, a drop rewritten in place (new size, or the
    same bytes with a new mtime) is inferred again."""
    p = tmp_path / "drop.tsv"
    p.write_text("id\tscore\n1\t2\n3\t4\n")

    def crawl():
        return crawl_delimited(spark, str(p), classifier=CsvClassifier()).schema

    first, n = count_jobs(spark, "memo-first", crawl)
    assert n >= 1 and first["score"].dataType.simpleString() == "int"
    assert count_jobs(spark, "memo-same", crawl) == (first, 0)

    p.write_text("id\tscore\n1\t2.5\n3\t4\n")  # new size
    widened, n = count_jobs(spark, "memo-resized", crawl)
    assert n >= 1 and widened["score"].dataType.simpleString() == "double"

    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 5_000_000_000))  # same size
    again, n = count_jobs(spark, "memo-touched", crawl)
    assert n >= 1 and again == widened


def test_crawl_after_etl_job_runs_no_inference_job(spark, drop, tmp_path):
    """The crawler op's header-detecting crawl runs the same first
    inference as the ETL job's header-PRESENT crawl: after the job, a
    crawl of the unchanged drop runs no Spark job at all."""
    _etl(spark, drop, tmp_path / "processed")
    df, n = count_jobs(spark, "crawl-after-etl", lambda: crawl_delimited(spark, drop))
    assert n == 0
    assert df.columns == ["id", "name", "price", "priority", "_corrupt"]
    assert len(df.where(F.col("_corrupt").isNull()).collect()) == 60


def test_crawl_memo_keeps_all_string_unknown_headerless(spark, tmp_path):
    """A remembered all-string crawl still falls back to headerless
    ``col_N`` names, and the stored schema is not extended by the
    ``_corrupt`` column the crawl appends to its copy."""
    p = tmp_path / "allstr.tsv"
    p.write_text(_ALL_STRING_TSV)
    for k in range(3):
        df, n = count_jobs(spark, f"all-string-{k}", lambda: crawl_delimited(spark, str(p)))
        assert df.columns == ["col_0", "col_1", "col_2", "_corrupt"]
        assert df.count() == 3
    assert n == 0


def test_crawl_and_etl_build_no_keyed_scratch(spark, drop, tmp_path):
    """The crawl memo lives in the catalog's schema store: crawling and
    the ETL job add no keyed-scratch entry, which the ingest benchmark
    checks (``scratch.keys_built == 0``)."""
    before = set(_helpers._MATERIALIZED)
    crawl_delimited(spark, drop)
    _etl(spark, drop, tmp_path / "processed")
    crawl_delimited(spark, drop)
    assert set(_helpers._MATERIALIZED) == before


# ---------------------------------------------------------------- A4
def test_apply_mapping_choice_resolution(spark):
    df = spark.createDataFrame([("1", "2.5"), ("3", "x")], ["a", "b"])
    out = apply_mapping(
        df,
        [("a", "choice", "a_num", "bigint"), ("b", "choice", "b_num", "double")],
    )
    rows = {r.a_num: r.b_num for r in out.collect()}
    assert rows == {1: 2.5, 3: None}  # unparseable 'choice' -> null, no job crash


# ---------------------------------------------------------------- A5/D1
def test_tsv_to_parquet_job_partitioned_and_pruned(spark, name_basics, tmp_path):
    out = tsv_to_parquet_job(
        spark,
        name_basics,
        str(tmp_path / "processed"),
        "name.basics",
        mappings=[
            ("nconst", "string", "nconst", "string"),
            ("primaryName", "string", "primaryName", "string"),
            ("birthYear", "choice", "birthYear", "bigint"),
            ("deathYear", "choice", "deathYear", "bigint"),
        ],
        partition_keys=["birthYear"],
    )
    assert any(e.startswith("birthYear=") for e in os.listdir(out["partitioned"]))
    back = spark.read.parquet(out["partitioned"])
    assert back.count() == 3
    pruned = back.where(F.col("birthYear") == 1899)
    assert any("birthYear" in f for f in partition_filters(pruned))
    assert pruned.count() == 1
    flat = spark.read.parquet(out["unpartitioned"])
    assert flat.count() == 3


def test_tsv_to_parquet_job_layouts_hold_the_same_rows(spark, drop, tmp_path):
    out = _etl(spark, drop, tmp_path / "processed")
    cols = [m[2] for m in _DROP_MAPPING]
    part = spark.read.parquet(out["partitioned"]).select(*cols).collect()
    flat = spark.read.parquet(out["unpartitioned"]).select(*cols).collect()
    assert len(flat) == 60
    assert sorted(part) == sorted(flat)


def test_tsv_to_parquet_job_writes_carry_the_callers_job_group(spark, drop, tmp_path):
    """Both layouts are written at once, the partitioned one from
    another thread; its job must still belong to the caller's group.
    With the drop already crawled, the job runs its two writes only."""
    crawl_delimited(spark, drop)
    _, n = count_jobs(spark, "etl-writes", lambda: _etl(spark, drop, tmp_path / "processed"))
    assert n == 2


def test_tsv_to_parquet_job_raises_a_failed_partitioned_write(spark, drop, tmp_path):
    """A failing write raises, naming its output, instead of returning
    the paths; the other write has ended by then."""
    part = os.path.join(str(tmp_path / "processed"), "partitioned", "orders")
    with pytest.raises(RuntimeError, match=re.escape(repr(part))) as failed:
        _etl(spark, drop, tmp_path / "processed", partition_keys=("no_such_column",))
    assert failed.value.__cause__ is not None
    flat = os.path.join(str(tmp_path / "processed"), "unpartitioned", "orders")
    assert spark.read.parquet(flat).count() == 60


# ---------------------------------------------------------------- A6
def test_kv_store_roundtrip(spark):
    store = KVStore()
    store.put_item({"id": "k1", "v": "one"})
    store.put_item({"id": "k2", "v": "two"})
    assert store.get_item("k1")["v"] == "one"
    assert [i["id"] for i in store.scan()] == ["k1", "k2"]
    df = store.to_df(spark)
    assert df.count() == 2 and set(df.columns) == {"id", "v"}
    with pytest.raises(ValueError):
        store.put_item({"v": "no key"})


# ---------------------------------------------------------------- A7
def test_lake_catalog_zones(spark, tmp_path):
    lake = Lake(spark, str(tmp_path))
    lake.add_zone("raw")
    lake.add_zone("processed")
    nation = load_tables(spark, SF_SMALL, ("nation",))["nation"]
    lake.register("raw", "nation", f"{SF_SMALL}/nation.parquet", nation)
    assert lake.list_tables("raw") == ["nation"]
    assert lake.table("raw", "nation").count() == 25
    assert spark.sql("SELECT COUNT(*) FROM raw_nation").collect()[0][0] == 25
    lake.drop("raw", "nation")
    assert lake.list_tables("raw") == []


# ---------------------------------------------------------------- A7 (durable)
def test_lake_catalog_survives_sessions(spark, tmp_path):
    """Glue-Catalog durability analog: a lake reopened from its
    catalog.json manifest restores zones, table registry, and temp
    views without any re-registration — including a versioned table's
    newest-snapshot view. Vanished data dirs are pruned, not
    registered as dangling views."""
    import shutil

    from pyspark.sql import functions as F2

    root = str(tmp_path / "lake")
    lake = Lake(spark, root)
    lake.add_zone("raw")
    lake.add_zone("processed")
    nation = load_tables(spark, SF_SMALL, ("nation",))["nation"]
    lake.register("raw", "nation", f"{SF_SMALL}/nation.parquet", nation)
    lake.write_version("processed", "cust", nation.select("n_nationkey"))
    lake.write_version(
        "processed", "cust", nation.select("n_nationkey", "n_name")
    )
    ghost = str(tmp_path / "ghost")
    nation.write.parquet(ghost)
    lake.register("raw", "ghost", ghost, spark.read.parquet(ghost))
    shutil.rmtree(ghost)  # data vanishes behind the catalog's back

    # simulate a fresh session: all temp views gone
    for v in ("raw_nation", "raw_ghost", "processed_cust"):
        spark.catalog.dropTempView(v)

    reopened = Lake.open(spark, root)
    assert sorted(reopened.zones) == ["processed", "raw"]
    assert reopened.list_tables("raw") == ["nation"]  # ghost pruned
    assert reopened.table("raw", "nation").count() == 25
    assert spark.sql("SELECT COUNT(*) FROM raw_nation").first()[0] == 25
    # the versioned table's view points at the NEWEST snapshot
    assert reopened.table("processed", "cust").columns == [
        "n_nationkey",
        "n_name",
    ]
    # the reopened lake keeps versioning state: next write is v=2
    assert (
        reopened.write_version(
            "processed", "cust", nation.withColumn("n_name", F2.lower("n_name"))
        )
        == 2
    )


# ---------------------------------------------------------------- A7 (versioned)
def test_lake_versioned_tables(spark, tmp_path):
    from pyspark.sql import functions as F2

    lake = Lake(spark, str(tmp_path))
    lake.add_zone("processed")
    nation = load_tables(spark, SF_SMALL, ("nation",))["nation"]
    v0 = lake.write_version("processed", "nation", nation)
    v1 = lake.write_version(
        "processed", "nation", nation.withColumn("n_name", F2.lower("n_name"))
    )
    assert (v0, v1) == (0, 1)
    assert lake.table("processed", "nation").where(
        F2.col("n_name") == F2.lower(F2.col("n_name"))
    ).count() == 25  # view tracks newest snapshot
    old = lake.read_version("processed", "nation", 0)
    assert old.where(F2.col("n_name") != F2.lower(F2.col("n_name"))).count() > 0


# ---------------------------------------------------------------- D3
def test_compaction(spark, tmp_path):
    src = str(tmp_path / "frag")
    nation = load_tables(spark, SF_SMALL, ("nation",))["nation"]
    nation.repartition(10).write.parquet(src)
    n_before = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_before == 10
    out = compact(spark, src, target_file_mb=128)
    n_after = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    assert n_after == 1  # tiny data -> single target-size file
    assert spark.read.parquet(out).count() == 25


def test_dv_compact_crash_before_swap_keeps_table(spark, tmp_path, monkeypatch):
    """A compaction that dies as its rewrite is moved into place must
    leave a table that still reads its pre-compaction rows: the live
    directory is untouched until the swap, and a reader restores the
    aside copy an interrupted swap left behind. A retry compacts it."""
    import shutil

    tbl = str(tmp_path / "t")
    # four range-partitioned files; the delete dirties only the first
    spark.range(0, 40, numPartitions=4).write.parquet(tbl)
    assert dv_delete(spark, tbl, "id < 3")["rows_deleted"] == 3
    want = sorted(r.id for r in dv_read(spark, tbl).collect())
    assert want == list(range(3, 40))

    real_move = shutil.move

    def crash_moving_into_table(src, dst, *a, **k):
        if os.path.abspath(dst) == tbl:
            raise OSError("injected crash")
        return real_move(src, dst, *a, **k)

    monkeypatch.setattr(shutil, "move", crash_moving_into_table)
    with pytest.raises(OSError, match="injected crash"):
        dv_compact(spark, tbl)
    monkeypatch.undo()
    assert sorted(r.id for r in dv_read(spark, tbl).collect()) == want

    assert dv_compact(spark, tbl) == {
        "files_rewritten": 1, "files_kept": 3, "rows_dropped": 3,
    }
    assert sorted(r.id for r in spark.read.parquet(tbl).collect()) == want


# ---------------------------------------------------------------- D2
def test_bucketed_join_skips_shuffle(spark, tmp_path):
    from cdk_serverless_data_lake_sandbox_spark.operators.etl import write_bucketed
    from cdk_serverless_data_lake_sandbox_spark.plans import formatted_plan

    orders = load_tables(spark, SF_SMALL, ("orders",))["orders"]
    li = load_tables(spark, SF_SMALL, ("lineitem",))["lineitem"]
    write_bucketed(orders, "b_orders", "o_orderkey", n_buckets=8)
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem", "o_orderkey", 8
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        plan = formatted_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucketing removed both shuffles
        assert joined.count() == 6000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


# ---------------------------------------------------------------- D4
def test_incremental_ingest_watermark(spark, tmp_path):
    target = str(tmp_path / "tgt")
    state = str(tmp_path / "wm.json")
    ev = load_tables(spark, SF_SMALL, ("events",))["events"]
    first = ev.where(F.col("event_id") < 500)
    rest = ev  # overlaps: watermark must drop the first 500
    ing = IncrementalIngest(state, "ts")
    n1 = ing.ingest(first, target)
    assert n1 == 500
    # one source scan per batch: count + watermark ride the append as
    # observe metrics, so an ingest triggers exactly one Spark job
    # (the old shape was count / write / max-collect = three)
    sc = spark.sparkContext
    sc.setJobGroup("ingest-scan-probe", "single-pass ingest")
    try:
        n2 = ing.ingest(rest, target)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("ingest-scan-probe")
    assert len(jobs) == 1, f"ingest ran {len(jobs)} jobs, expected 1"
    assert 0 < n2 <= 500
    total = spark.read.parquet(target).count()
    assert total == n1 + n2
    assert spark.read.parquet(target).select("event_id").distinct().count() == total
    # a stale batch (all rows behind the watermark) must not move it
    import json as _json

    wm_before = _json.load(open(state))["watermark"]
    assert ing.ingest(first, target) == 0
    assert _json.load(open(state))["watermark"] == wm_before
    assert spark.read.parquet(target).count() == total


# ---------------------------------------------------------------- D5
def test_schema_evolution_merge(spark, tmp_path):
    p = str(tmp_path / "evolve")
    spark.range(3).select(F.col("id"), F.lit("a").alias("v1")).write.parquet(p + "/b1")
    spark.range(3).select(
        F.col("id"), F.lit("b").alias("v1"), F.lit(1.5).alias("v2")
    ).write.parquet(p + "/b2")
    merged = spark.read.option("mergeSchema", True).parquet(p + "/b1", p + "/b2")
    assert set(merged.columns) == {"id", "v1", "v2"}
    assert merged.where(F.col("v2").isNull()).count() == 3


# ---------------------------------------------------------------- D6 (JSON reader)
def test_crawl_json(spark, tmp_path):
    from cdk_serverless_data_lake_sandbox_spark.sources.crawler import crawl_json

    p = tmp_path / "data.json"
    p.write_text('{"id": 1, "name": "a", "score": 1.5}\n{"id": 2, "name": "b", "score": 2.5}\n')
    df = crawl_json(spark, str(p))
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types == {"id": "bigint", "name": "string", "score": "double"}
    assert df.count() == 2


# ---------------------------------------------------------------- D6 (pushdown sanity on crawled output)
def test_crawled_parquet_pushdown(spark, name_basics, tmp_path):
    df = crawl_delimited(spark, name_basics, classifier=CsvClassifier())
    p = str(tmp_path / "nb.parquet")
    df.write.parquet(p)
    q = spark.read.parquet(p).where(F.col("birthYear") > 1900).select("primaryName")
    assert any("birthYear" in f for f in pushed_filters(q))


# ---------------------------------------------------------------- D7 (z-order clustering)
def test_zorder_write_clusters_both_keys(spark, tmp_path):
    import pyarrow.parquet as pq
    from cdk_serverless_data_lake_sandbox_spark.operators.etl import zorder_write

    src = load_tables(spark, SF_SMALL, ("lineitem",))["lineitem"]

    def rowgroup_span(root, col):
        """Mean fraction of the global value range covered per row group."""
        spans, lo_g, hi_g = [], None, None
        for f in os.listdir(root):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, f)).metadata
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        lo, hi = c.statistics.min, c.statistics.max
                        spans.append((lo, hi))
                        lo_g = lo if lo_g is None else min(lo_g, lo)
                        hi_g = hi if hi_g is None else max(hi_g, hi)
        width = hi_g - lo_g
        return sum((hi - lo) / width for lo, hi in spans) / len(spans)

    plain = str(tmp_path / "plain")
    src.repartition(8).write.parquet(plain)
    zordered = str(tmp_path / "zordered")
    zorder_write(src, zordered, "l_partkey", "l_suppkey")

    # Unclustered row groups each cover ~the whole range of both keys;
    # z-ordered groups cover a narrow band of each -> stats pruning
    # works for filters on either key.
    for col in ("l_partkey", "l_suppkey"):
        assert rowgroup_span(zordered, col) < 0.7 * rowgroup_span(plain, col), col

    back = spark.read.parquet(zordered)
    assert back.count() == src.count()


# ---------------------------------------------------------------- D8 (batch upsert)
def test_merge_upsert_keeps_newest(spark, tmp_path):
    from cdk_serverless_data_lake_sandbox_spark.operators.etl import merge_upsert

    target = str(tmp_path / "upsert_target")
    v1 = spark.createDataFrame(
        [(1, 10.0, 1), (2, 20.0, 1), (3, 30.0, 1)], "id long, v double, version long"
    )
    merge_upsert(spark, target, v1, "id", "version")
    v2 = spark.createDataFrame(
        [(2, 21.0, 2), (4, 40.0, 2)], "id long, v double, version long"
    )
    merge_upsert(spark, target, v2, "id", "version")
    got = {r.id: (r.v, r.version) for r in spark.read.parquet(target).collect()}
    assert got == {1: (10.0, 1), 2: (21.0, 2), 3: (30.0, 1), 4: (40.0, 2)}
    # idempotent re-apply
    merge_upsert(spark, target, v2, "id", "version")
    assert spark.read.parquet(target).count() == 4


def test_merge_upsert_refuses_unreadable_target(spark, tmp_path):
    """Only a missing target is a first load: a damaged one must raise,
    not be replaced by the update batch alone."""
    from cdk_serverless_data_lake_sandbox_spark.operators.etl import merge_upsert

    target = str(tmp_path / "upsert_target")
    spark.range(1000).selectExpr("id", "1L AS version").coalesce(1).write.parquet(target)
    (part,) = [f for f in os.listdir(target) if f.endswith(".parquet")]
    path = os.path.join(target, part)
    with open(path, "rb") as fh:
        intact = fh.read()
    with open(path, "wb") as fh:
        fh.write(intact[: len(intact) // 2])
    update = spark.createDataFrame([(1, 2)], "id long, version long")
    with pytest.raises(Py4JJavaError):
        merge_upsert(spark, target, update, "id", "version")
    with open(path, "wb") as fh:
        fh.write(intact)
    assert spark.read.parquet(target).count() == 1000


def test_etl_and_upsert_record_the_schema_a_footer_read_returns(spark, drop, tmp_path):
    """The writers that record their output's schema record exactly
    what ``spark.read.parquet`` would infer from the footers."""
    flat = _etl(spark, drop, tmp_path / "processed")["unpartitioned"]
    assert recorded_schema(flat) == spark.read.parquet(flat).schema
    updates = spark.read.parquet(flat).where("id < 5").withColumn("price", F.col("price") + 1)
    merge_upsert(spark, flat, updates, "id", "price")
    assert recorded_schema(flat) == spark.read.parquet(flat).schema
    assert spark.read.parquet(flat).where("id < 5 AND price = id * 1.5 + 1").count() == 5


def test_record_written_matches_footer_for_nested_non_nullable_fields(spark, tmp_path):
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        MapType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("id", LongType(), False, {"comment": "key"}),
            StructField("version", LongType(), False),
            StructField("tags", ArrayType(StringType(), False), False),
            StructField("attrs", MapType(StringType(), LongType(), False), True),
            StructField("pt", StructType([StructField("x", IntegerType(), False)]), False),
        ]
    )
    rows = [(1, 1, ["a"], {"k": 1}, (1,)), (2, 1, [], {}, (2,))]
    target = str(tmp_path / "nested")
    merge_upsert(spark, target, spark.createDataFrame(rows, schema), "id", "version")
    assert recorded_schema(target) == spark.read.parquet(target).schema


def test_merge_upsert_reads_a_recorded_target_without_a_footer_job(spark, tmp_path):
    """Two identical targets, one with its schema recorded: the same
    upsert runs one job fewer on it (the footer read), and the table
    it swaps in is recorded for the next reader."""
    v1 = spark.createDataFrame([(i, float(i), 1) for i in range(20)], "id long, v double, version long")
    update = spark.createDataFrame([(3, 33.0, 2)], "id long, v double, version long")
    recorded, unknown = str(tmp_path / "recorded"), str(tmp_path / "unknown")
    for target in (recorded, unknown):
        v1.write.parquet(target)
    record_written(recorded, v1.schema)
    _, n_recorded = count_jobs(
        spark, "upsert-recorded", lambda: merge_upsert(spark, recorded, update, "id", "version")
    )
    _, n_unknown = count_jobs(
        spark, "upsert-unknown", lambda: merge_upsert(spark, unknown, update, "id", "version")
    )
    assert n_unknown == n_recorded + 1
    for target in (recorded, unknown):
        assert recorded_schema(target) == spark.read.parquet(target).schema
        assert spark.read.parquet(target).where("id = 3").first().v == 33.0
    # the swapped-in version replaced the one recorded before the upsert
    assert sum(k[0] == recorded for k in _SCHEMA_CACHE) == 1
    # a table rewritten behind the store's back has a new mtime: unknown again
    spark.range(3).selectExpr("id", "1L AS version").write.mode("overwrite").parquet(recorded)
    assert recorded_schema(recorded) is None


def test_schema_store_keeps_one_version_per_identity_under_threads():
    """Streaming batches record from their own thread while the caller
    reads and writes: concurrent stores of one identity must still
    leave exactly its newest-stored version, never two."""
    import sys
    import threading

    from pyspark.sql.types import LongType, StructField, StructType

    from cdk_serverless_data_lake_sandbox_spark import catalog

    schema = StructType([StructField("id", LongType())])
    identities = [("store-stress", i) for i in range(3)]
    errors = []

    def hammer(t: int) -> None:
        try:
            for v in range(300):
                catalog._store(identities[v % 3], (t, v), schema)
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=hammer, args=(t,)) for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    try:
        assert not any(th.is_alive() for th in threads)
        assert errors == []
        for ident in identities:
            assert sum(k[0] == ident for k in catalog._SCHEMA_CACHE) == 1
    finally:
        for k in [k for k in catalog._SCHEMA_CACHE if k[0] in identities]:
            del catalog._SCHEMA_CACHE[k]


# ---------------------------------------------------------------- relation store
def test_relation_store_rereads_a_table_rewritten_in_place(spark, tmp_path, monkeypatch):
    """A file rewritten in place (same name and inode, new size and
    mtime) is resolved again, whether the table is a single file or a
    directory whose own mtime the rewrite leaves alone; a rewrite that
    changes the schema reads the new schema, not a stored one."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    lake = str(tmp_path / "lake")
    os.makedirs(lake)
    small, big = str(tmp_path / "small"), str(tmp_path / "big")
    for path, n in ((small, 5), (big, 9)):
        spark.range(n).selectExpr("id", "id * 2 AS v").coalesce(1).write.parquet(path)
    (part,) = [f for f in os.listdir(small) if f.endswith(".parquet")]
    single = os.path.join(lake, "t.parquet")
    directory = os.path.join(lake, "d.parquet")
    os.makedirs(directory)
    dpart = os.path.join(directory, part)  # no .crc sibling to go stale
    shutil.copyfile(os.path.join(small, part), single)
    shutil.copyfile(os.path.join(small, part), dpart)
    calls = parquet_calls(monkeypatch)
    assert {t: df.count() for t, df in load_tables(spark, lake, ("t", "d")).items()} == {"t": 5, "d": 5}
    assert {t: df.count() for t, df in load_tables(spark, lake, ("t", "d")).items()} == {"t": 5, "d": 5}
    assert len(calls) == 2  # the second load reused both scans
    dir_mtime = os.stat(directory).st_mtime_ns
    (big_part,) = [f for f in os.listdir(big) if f.endswith(".parquet")]
    for target in (single, dpart):
        ino = os.stat(target).st_ino
        shutil.copyfile(os.path.join(big, big_part), target)
        assert os.stat(target).st_ino == ino
    assert os.stat(directory).st_mtime_ns == dir_mtime
    tables = load_tables(spark, lake, ("t", "d"))
    assert len(calls) == 4
    assert {t: sorted(r.v for r in df.collect()) for t, df in tables.items()} == {
        "t": [2 * i for i in range(9)],
        "d": [2 * i for i in range(9)],
    }

    changed = str(tmp_path / "changed")
    os.makedirs(changed)
    cpart = os.path.join(changed, "part-0.parquet")
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), cpart)
    assert _read_parquet_cached(spark, changed).columns == ["a", "b"]
    dir_mtime = os.stat(changed).st_mtime_ns
    pq.write_table(pa.table({"a": [3, 4], "c": [7.0, 8.0]}), cpart)
    assert os.stat(changed).st_mtime_ns == dir_mtime
    df = _read_parquet_cached(spark, changed)
    assert df.columns == ["a", "c"]
    assert sorted(tuple(r) for r in df.collect()) == [(3, 7.0), (4, 8.0)]


def test_relation_and_schema_stores_serve_a_file_uri_like_a_plain_path(spark, tmp_path, monkeypatch):
    """A ``file:`` URI has a table version: a second read of it resolves
    nothing, and the schema a writer records under it is found again."""
    uri = (tmp_path / "uri_table").as_uri()
    df = spark.range(6).selectExpr("id", "id * 2 AS v")
    df.write.parquet(uri)
    record_written(uri, df.schema)
    assert recorded_schema(uri) == spark.read.parquet(uri).schema
    calls = parquet_calls(monkeypatch)
    assert _read_parquet_cached(spark, uri).count() == 6
    assert len(calls) == 1
    assert _read_parquet_cached(spark, uri).count() == 6
    assert len(calls) == 1


def test_hadoop_table_version_sees_a_file_rewritten_in_place(spark, tmp_path):
    """The Hadoop FileSystem branch of ``table_version`` (the one that
    runs on ``s3a:`` and ``hdfs:``), called on a ``file:`` URI: a file
    rewritten in place, in a directory whose mtime stays, is a new
    version, and a path that does not exist has none."""
    d = tmp_path / "hv"
    spark.range(5).coalesce(1).write.parquet(str(d))
    (part,) = [p for p in d.iterdir() if p.name.endswith(".parquet")]
    st = part.stat()
    assert _hadoop_version(part.as_uri()) == (("", st.st_size, st.st_mtime_ns // 1_000_000),)
    before = _hadoop_version(d.as_uri())
    assert ("/" + part.name, st.st_size, st.st_mtime_ns // 1_000_000) in before
    dir_mtime = d.stat().st_mtime_ns
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 5_000_000_000))  # same size
    assert d.stat().st_mtime_ns == dir_mtime
    assert _hadoop_version(d.as_uri()) != before
    assert _hadoop_version((tmp_path / "missing").as_uri()) is None


def test_relation_store_frames_self_join_on_column_references(spark, monkeypatch):
    """Two frames the store hands out for one table are two scans with
    their own attribute ids: a join on Column references of both is not
    an ambiguous self-join, and matches the join of two fresh reads."""
    path = f"{SF_SMALL}/nation.parquet"
    load_tables(spark, SF_SMALL, ("nation",))
    calls = parquet_calls(monkeypatch)
    a = load_tables(spark, SF_SMALL, ("nation",))["nation"]
    b = load_tables(spark, SF_SMALL, ("nation",))["nation"]
    assert calls == []  # both from the store

    def pairs(x, y):
        joined = x.join(y, x.n_nationkey == y.n_regionkey)
        return sorted((r[0], r[1]) for r in joined.select(x.n_name, y.n_name).collect())

    want = pairs(spark.read.parquet(path), spark.read.parquet(path))
    assert len(want) == 25
    assert pairs(a, b) == want


def test_relation_store_never_hands_a_stopped_sessions_frame_to_a_new_one(tmp_path):
    """In one process: read a table, stop the application, start a new
    one and read it again. The new read is bound to the new session and
    runs, and no entry of the stopped session stays in the store."""
    import subprocess
    import sys

    script = f"""
from cdk_serverless_data_lake_sandbox_spark import catalog
from cdk_serverless_data_lake_sandbox_spark.session import get_spark

conf = {{"spark.driver.memory": "1g", "spark.sql.warehouse.dir": {str(tmp_path / "wh")!r}}}
old = get_spark(app_name="relation-store-old", extra_conf=conf)
assert catalog.load_tables(old, {SF_SMALL!r}, ("nation",))["nation"].count() == 25
old.stop()
new = get_spark(app_name="relation-store-new", extra_conf=conf)
assert new is not old
df = catalog.load_tables(new, {SF_SMALL!r}, ("nation",))["nation"]
assert df.sparkSession is new
assert df.count() == 25
assert [e for e in catalog._RELATIONS.values() if e[2].session is old] == []
new.stop()
print("OK")
"""
    env = dict(os.environ, SPARK_GRAFT_CPUS="1")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=repo, env=env, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0 and proc.stdout.strip().endswith("OK"), proc.stderr[-3000:]


def test_relation_store_serves_another_session_its_own_scan(spark):
    """A second session of the application gets a frame bound to
    itself, never the first session's scan."""
    load_tables(spark, SF_SMALL, ("nation",))
    other = spark.newSession()
    df = load_tables(other, SF_SMALL, ("nation",))["nation"]
    assert df.sparkSession is other
    assert df.count() == 25


def test_registering_a_table_the_lake_wrote_runs_no_footer_job(spark, tmp_path):
    """``Lake.write``, ``write_version`` and ``publish_tables`` record
    what they wrote, so registering the table runs only the write's
    jobs; reopening the lake registers every table with no job."""
    df = spark.createDataFrame([(i, f"n{i}") for i in range(20)], "id long, name string")
    _, plain = count_jobs(spark, "plain-write", lambda: df.write.parquet(str(tmp_path / "plain")))
    root = str(tmp_path / "lake")
    lake = Lake(spark, root)
    lake.add_zone("processed")
    lake.grant("etl", "processed", actions=("write",))
    _, written = count_jobs(spark, "lake-write", lambda: lake.write("etl", "processed", "t", df))
    _, versioned = count_jobs(spark, "lake-version", lambda: lake.write_version("processed", "v", df))
    _, published = count_jobs(
        spark, "lake-publish", lambda: lake.publish_tables("processed", {"p": df})
    )
    assert (written, versioned, published) == (plain, plain, plain)
    reopened, opened = count_jobs(spark, "lake-open", lambda: Lake.open(spark, root))
    assert opened == 0
    assert sorted(reopened.list_tables("processed")) == ["p", "t", "v"]
    for t in ("p", "t", "v"):
        assert reopened.table("processed", t).count() == 20


# ---------------------------------------------------------------- D9 (dynamic partition overwrite)
def test_dynamic_partition_overwrite(spark, tmp_path):
    """Overwrite in dynamic mode must replace only the partitions the
    incoming batch touches — the lake-refresh semantics that avoid
    rewriting the whole table for a single-day backfill."""
    target = str(tmp_path / "dyn")
    base = spark.createDataFrame(
        [("2024-01-01", 1, 10.0), ("2024-01-02", 2, 20.0), ("2024-01-03", 3, 30.0)],
        "day string, id long, v double",
    )
    base.write.partitionBy("day").parquet(target)
    prior = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        patch = spark.createDataFrame(
            [("2024-01-02", 20, 21.0)], "day string, id long, v double"
        )
        patch.write.mode("overwrite").partitionBy("day").parquet(target)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prior)
    # partition values read back type-inferred (string day -> date)
    got = {(str(r.day), r.id, r.v) for r in spark.read.parquet(target).collect()}
    assert got == {
        ("2024-01-01", 1, 10.0),
        ("2024-01-02", 20, 21.0),  # replaced
        ("2024-01-03", 3, 30.0),  # untouched
    }


# ---------------------------------------------------------------- A3 (partitioned crawl)
def test_crawl_partitioned_layout(spark, tmp_path):
    """Glue crawlers register Hive-style day=X directories as a
    partition column; the delimited crawler must surface the same
    layout with the partition value typed and filterable (and the
    filter must prune to the one directory)."""
    from cdk_serverless_data_lake_sandbox_spark.sources.crawler import CsvClassifier, crawl_delimited

    root = tmp_path / "raw"
    for day, rows in [("2024-01-01", [(1, "a")]), ("2024-01-02", [(2, "b"), (3, "c")])]:
        d = root / f"day={day}"
        d.mkdir(parents=True)
        (d / "part.tsv").write_text("id\tname\n" + "\n".join(f"{i}\t{n}" for i, n in rows) + "\n")
    df = crawl_delimited(spark, str(root), classifier=CsvClassifier())
    assert "day" in df.columns
    assert df.count() == 3
    one_day = df.where(F.col("day") == "2024-01-02")
    assert one_day.count() == 2
    assert {r.id for r in one_day.collect()} == {2, 3}


# ---------------------------------------------------------------- D10 (delete)
def test_delete_keys_removes_only_matches(spark, tmp_path):
    from cdk_serverless_data_lake_sandbox_spark.operators.etl import delete_keys

    target = str(tmp_path / "del_target")
    nation = load_tables(spark, SF_SMALL, ("nation",))["nation"]
    nation.write.parquet(target)
    doomed = spark.createDataFrame([(1,), (3,), (999,)], "n_nationkey long")
    n = delete_keys(spark, target, doomed, "n_nationkey")
    assert n == 2  # 999 didn't exist
    back = spark.read.parquet(target)
    assert back.count() == 23
    assert back.where(F.col("n_nationkey").isin(1, 3)).count() == 0


# ---------------------------------------------------------------- A7 (vacuum)
def test_lake_vacuum_retention(spark, tmp_path):
    lake = Lake(spark, str(tmp_path))
    lake.add_zone("processed")
    nation = load_tables(spark, SF_SMALL, ("nation",))["nation"]
    for i in range(4):
        lake.write_version("processed", "nation", nation.limit(25 - i))
    removed = lake.vacuum("processed", "nation", keep_last=2)
    assert removed == [0, 1]
    # newest two still readable, view still on latest
    assert lake.read_version("processed", "nation", 3).count() == 22
    assert lake.read_version("processed", "nation", 2).count() == 23
    assert lake.table("processed", "nation").count() == 22
    import pytest as _pt
    with _pt.raises(Exception):
        lake.read_version("processed", "nation", 0).count()


# ---------------------------------------------------------------- D11 (partition stats)
def test_partition_stats_counts_files_and_rows(spark, tmp_path):
    from cdk_serverless_data_lake_sandbox_spark.operators.etl import partition_stats

    target = str(tmp_path / "ptable")
    orders = load_tables(spark, SF_SMALL, ("orders",))["orders"]
    orders.withColumn("pr", F.col("o_orderpriority")).write.partitionBy("pr").parquet(target)
    stats = partition_stats(spark, target)
    rows = {r.partition: r for r in stats.collect()}
    assert all(p.startswith("pr=") for p in rows)
    assert sum(r.n_rows for r in rows.values()) == orders.count()
    assert all(r.n_files >= 1 and r.n_bytes > 0 for r in rows.values())


# ------------------------------------------------- federated JDBC source
def test_jdbc_partitioned_read_contract(spark, tmp_path):
    """The partitioned read must honor Spark's JDBC contract: one
    stride query per partition, the first stride unbounded below (and
    NULL-catching), the last unbounded above, no row lost or
    duplicated, and predicates/columns pushed into the remote SQL."""
    import pandas as pd

    from cdk_serverless_data_lake_sandbox_spark.sources.jdbc import (
        RelationalStore,
        partitioned_read,
    )

    store = RelationalStore(str(tmp_path / "remote.duckdb"))
    store.load_table(
        "t", pd.DataFrame({"k": list(range(100)) + [None], "v": range(101)})
    )
    df = partitioned_read(
        spark, store, "t", partition_column="k",
        lower_bound=20, upper_bound=80, num_partitions=4,
    )
    assert len(store.last_queries) == 4
    assert "IS NULL" in store.last_queries[0]          # null-catching first stride
    assert "AND k <" not in store.last_queries[-1]      # last stride unbounded above
    assert df.count() == 101                            # bounds never drop rows
    assert df.select("k").distinct().count() == 101
    assert df.rdd.getNumPartitions() == 4

    pushed = partitioned_read(
        spark, store, "t", columns=["k"], predicate="k >= 90"
    )
    assert all("k >= 90" in q for q in store.last_queries)
    assert pushed.columns == ["k"] and pushed.count() == 10


# ------------------------------------------------- query results zone
def test_results_zone_persists_runs(spark, tmp_path):
    """Athena-workgroup analog: each named-query run persists its
    result parquet under <zone>/<name>/run=N and stays re-readable."""
    from cdk_serverless_data_lake_sandbox_spark.catalog import ResultsZone

    zone = ResultsZone(spark, str(tmp_path / "results"))
    nation = load_tables(spark, SF_SMALL, ("nation",))["nation"]
    r0 = zone.run("preview_nation", nation.orderBy("n_nationkey").limit(10))
    r1 = zone.run("preview_nation", nation.orderBy("n_nationkey").limit(5))
    assert (r0, r1) == (0, 1)
    assert zone.list_runs("preview_nation") == [0, 1]
    assert zone.read("preview_nation", run=0).count() == 10
    assert zone.read("preview_nation").count() == 5  # latest by default


# ---------------------------------------------------------------- D12
def test_snapshot_diff_classifies_changes(spark, tmp_path):
    from cdk_serverless_data_lake_sandbox_spark.catalog import Lake
    from cdk_serverless_data_lake_sandbox_spark.operators.etl import snapshot_diff

    lake = Lake(spark, str(tmp_path / "diff_lake"))
    lake.add_zone("serving")
    v0 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, s string, v double"
    )
    v1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 25.0), (4, "d", 40.0)], "id long, s string, v double"
    )
    assert lake.write_version("serving", "t", v0) == 0
    assert lake.write_version("serving", "t", v1) == 1
    got = {
        r.key: r.change_type
        for r in snapshot_diff(lake, "serving", "t", 0, 1, "id").collect()
    }
    assert got == {1: "unchanged", 2: "updated", 3: "deleted", 4: "inserted"}


# ---------------------------------------------------------------- D13
def test_incremental_agg_refresh_matches_full_recompute(spark, tmp_path):
    from cdk_serverless_data_lake_sandbox_spark.operators.etl import (
        incremental_agg_refresh,
    )

    orders = load_tables(spark, SF_SMALL, ("orders",))["orders"]
    target = str(tmp_path / "agg_state")
    b1 = orders.where(F.col("o_orderkey") % 2 == 0)
    b2 = orders.where(F.col("o_orderkey") % 2 == 1)
    incremental_agg_refresh(spark, target, b1)
    got = {
        r.day: (r.n_orders, float(r.revenue))
        for r in incremental_agg_refresh(spark, target, b2).collect()
    }
    full = {
        r.day: (r.n_orders, float(r.revenue))
        for r in orders.groupBy(
            F.date_trunc("day", F.col("o_orderdate")).alias("day")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
        )
        .collect()
    }
    assert got == full


def test_file_skipping_report_rewards_clustering(spark, tmp_path):
    """A range-clustered write must show high footer-skippability for
    a narrow range predicate; the same data round-robin-shuffled must
    show (near) none — the report is the measurement the z-order
    writer exists to improve."""
    from cdk_serverless_data_lake_sandbox_spark.operators.etl import (
        file_skipping_report,
    )

    df = spark.range(100_000).selectExpr("id AS k", "id % 97 AS v")
    clustered = str(tmp_path / "clustered")
    scattered = str(tmp_path / "scattered")
    df.repartitionByRange(8, "k").write.parquet(clustered)
    df.repartition(8).write.parquet(scattered)

    good = file_skipping_report(spark, clustered, "k", 1000, 2000).first()
    bad = file_skipping_report(spark, scattered, "k", 1000, 2000).first()
    assert good.n_row_groups >= 8
    # at most one range file overlaps [1000, 2000]
    assert good.n_skippable >= good.n_row_groups - 2
    assert good.skippable_rows >= 80_000
    assert bad.n_skippable == 0
    # unknown column: everything conservatively unskippable
    unk = file_skipping_report(spark, clustered, "nope", 0, 1).first()
    assert unk.n_skippable == 0


def test_schema_drift_report_classifies_and_measures(spark, tmp_path):
    from cdk_serverless_data_lake_sandbox_spark.catalog import Lake
    from cdk_serverless_data_lake_sandbox_spark.operators.etl import (
        schema_drift_report,
    )

    lake = Lake(spark, str(tmp_path / "lake"))
    lake.add_zone("processed")
    v1 = spark.createDataFrame(
        [(1, "a", 1.0), (2, None, 2.0), (3, "c", 3.0), (4, "d", 4.0)],
        "id long, name string, score double",
    )
    # v2: `score` became string (type change), `name` got much nuller,
    # `extra` appeared
    v2 = spark.createDataFrame(
        [(1, None, "x", 10), (2, None, "y", 20), (3, None, "z", 30), (4, "d", "w", 40)],
        "id long, name string, score string, extra long",
    )
    a = lake.write_version("processed", "t", v1)
    b = lake.write_version("processed", "t", v2)
    rep = {
        r.column: r
        for r in schema_drift_report(lake, "processed", "t", a, b).collect()
    }
    assert rep["extra"].status == "added" and rep["extra"].old_type is None
    assert rep["score"].status == "type_changed"
    assert rep["score"].old_type == "double" and rep["score"].new_type == "string"
    assert rep["id"].status == "unchanged"
    assert rep["name"].null_rate_old == 0.25
    assert rep["name"].null_rate_new == 0.75
    assert rep["name"].null_rate_delta == 0.5


def test_ledger_ingest_content_addressed(spark, tmp_path):
    """Re-runs are no-ops; the same content under a NEW NAME is
    skipped; changed content under the OLD NAME is re-ingested."""
    import shutil

    from cdk_serverless_data_lake_sandbox_spark.operators.etl import (
        ledger_ingest,
    )

    src = tmp_path / "src"
    src.mkdir()
    spark.range(10).coalesce(1).write.parquet(str(tmp_path / "a"))
    import glob

    part_a = glob.glob(str(tmp_path / "a") + "/part-*.parquet")[0]
    shutil.copy(part_a, str(src / "f1.parquet"))
    target = str(tmp_path / "target")
    ledger = str(tmp_path / "ledger")

    r1 = ledger_ingest(spark, str(src), target, ledger)
    assert r1 == {"ingested_files": 1, "ingested_rows": 10}
    # rerun: no-op
    assert ledger_ingest(spark, str(src), target, ledger)["ingested_files"] == 0
    # same bytes, new name: still a no-op (content-addressed)
    shutil.copy(part_a, str(src / "f1_redelivered.parquet"))
    assert ledger_ingest(spark, str(src), target, ledger)["ingested_files"] == 0
    # changed bytes, old name: re-ingested
    spark.range(5).coalesce(1).write.parquet(str(tmp_path / "b"))
    part_b = glob.glob(str(tmp_path / "b") + "/part-*.parquet")[0]
    shutil.copy(part_b, str(src / "f1.parquet"))
    r4 = ledger_ingest(spark, str(src), target, ledger)
    assert r4 == {"ingested_files": 1, "ingested_rows": 5}
    assert spark.read.parquet(target).count() == 15
    # crash between write and marker: wipe the ledger entries and
    # re-run — dynamic overwrite of the digest partitions must leave
    # the row count unchanged (no duplicate window)
    import os

    for m in os.listdir(ledger):
        os.remove(os.path.join(ledger, m))
    r5 = ledger_ingest(spark, str(src), target, ledger)
    assert r5["ingested_files"] == 2  # both digests re-attempted
    assert spark.read.parquet(target).count() == 15  # but nothing duplicated


def test_collect_column_stats_one_pass_analyze(spark):
    from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables
    from cdk_serverless_data_lake_sandbox_spark.operators.etl import (
        collect_column_stats,
    )

    from tests.conftest import SF_SMALL

    orders = load_tables(spark, SF_SMALL, ("orders",))["orders"]
    stats = {r.column: r for r in collect_column_stats(orders).collect()}
    n = orders.count()
    assert set(stats) == set(orders.columns)
    ok = stats["o_orderkey"]
    assert ok.n_rows == n and ok.n_nulls == 0
    exact_ndv = orders.select("o_orderkey").distinct().count()
    assert abs(ok.approx_ndv - exact_ndv) / exact_ndv < 0.05
    assert int(ok.min_value) == orders.agg({"o_orderkey": "min"}).first()[0]
    assert int(ok.max_value) == orders.agg({"o_orderkey": "max"}).first()[0]
    # status is low-cardinality: NDV must reflect that, not row count
    assert stats["o_orderstatus"].approx_ndv <= 5


def test_relational_store_accepts_all_parquet_layouts(spark, tmp_path):
    """The federated fixture loads every lake layout: a single parquet
    file, a flat Spark-written directory of part files, and a
    partitionBy() tree (where partition columns must come back as
    real columns) — the r7 review found the flat-dir glob missed
    partitioned trees entirely."""
    import pandas as pd

    from cdk_serverless_data_lake_sandbox_spark.sources.jdbc import (
        RelationalStore,
    )

    df = spark.createDataFrame(
        [(1, "emea", 10.0), (2, "emea", 20.0), (3, "apac", 30.0)],
        "id int, region string, amount double",
    )
    single = tmp_path / "single.parquet"
    df.toPandas().to_parquet(single)
    flat = str(tmp_path / "flat")
    df.repartition(2).write.parquet(flat)
    tree = str(tmp_path / "tree")
    df.write.partitionBy("region").parquet(tree)

    store = RelationalStore(str(tmp_path / "db" / "store.duckdb"))
    for name, path in [
        ("t_single", str(single)),
        ("t_flat", flat),
        ("t_tree", tree),
    ]:
        store.load_table_from_parquet(name, path)
        con = store._connect(read_only=True)
        try:
            rows = con.execute(
                f"SELECT id, region, amount FROM {name} ORDER BY id"
            ).fetchall()
        finally:
            con.close()
        assert rows == [
            (1, "emea", 10.0),
            (2, "emea", 20.0),
            (3, "apac", 30.0),
        ], name


def test_crawler_discovers_hive_partitions(spark, tmp_path):
    """Glue crawlers create PARTITIONED tables from key=value
    directory trees (the raw-zone layout every date-partitioned feed
    lands in). crawl_delimited inherits that: the sampled inference
    types the data columns, and Spark appends the partition column
    discovered from the directory names — no extra code path, pinned
    here as the contract."""
    from cdk_serverless_data_lake_sandbox_spark.sources.crawler import (
        CsvClassifier,
        crawl_delimited,
    )

    for region in ["emea", "apac"]:
        d = tmp_path / f"region={region}"
        d.mkdir()
        (d / "part.tsv").write_text("id\tamount\n1\t10.5\n2\t20.5\n")

    df = crawl_delimited(
        spark, str(tmp_path), classifier=CsvClassifier(delimiter="\t")
    )
    assert [f.simpleString() for f in df.schema.fields] == [
        "id:int",
        "amount:double",
        "_corrupt:string",  # default DLQ column (r8)
        "region:string",  # partition col appended after the data cols
    ]
    assert sorted((r.id, r.region) for r in df.collect()) == [
        (1, "apac"),
        (1, "emea"),
        (2, "apac"),
        (2, "emea"),
    ]
    # partition pruning reaches the scan: a region filter plans a
    # PartitionFilters entry, not a post-scan filter over both dirs
    pruned = df.where("region = 'emea'")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "region" in plan.split(
        "PartitionFilters:"
    )[1].split("]")[0]
    assert pruned.count() == 2


# ---------------------------------------------------------------- A13
_XML_DOC = """<catalog>
  <item><id>1</id><name>widget</name><price>9.5</price></item>
  <item><id>2</id><name>gadget</name><price>19.25</price></item>
  <item><id>not_a_number</id><name>broken</name><price>1.0</price></item>
</catalog>
"""


def test_crawl_xml_typed_with_dlq_default(spark, tmp_path):
    """Spark 4's native XML source closes the fourth Glue classifier
    type (XMLClassifier, row_tag) with zero external packages: typed
    inference + the same malformed-row contract as crawl_delimited."""
    from cdk_serverless_data_lake_sandbox_spark.sources.crawler import (
        XmlClassifier,
        crawl_xml,
    )

    p = tmp_path / "catalog.xml"
    p.write_text(_XML_DOC)
    df = crawl_xml(spark, str(p), XmlClassifier(row_tag="item"))
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types["id"] == "bigint" or types["id"] == "string", types
    assert types["price"] == "double"
    assert "_corrupt" in df.columns
    rows = df.collect()
    assert len(rows) == 3


def test_crawl_xml_malformed_row_contract(spark, tmp_path):
    from cdk_serverless_data_lake_sandbox_spark.sources.crawler import (
        XmlClassifier,
        crawl_xml,
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    p = tmp_path / "catalog.xml"
    p.write_text(_XML_DOC)
    cls = XmlClassifier(row_tag="item")

    # force a schema the third row cannot satisfy by crawling a clean
    # subset first: id must be long
    clean = tmp_path / "clean.xml"
    clean.write_text(
        "<catalog><item><id>1</id><name>a</name><price>1.0</price></item>"
        "</catalog>"
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("price", StringType()),
            StructField("_corrupt", StringType()),
        ]
    )
    typed = (
        spark.read.format("xml")
        .option("rowTag", "item")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .schema(schema)
        .load(str(p))
    )
    bad = [r for r in typed.collect() if r["_corrupt"] is not None]
    assert len(bad) == 1 and "not_a_number" in bad[0]["_corrupt"]

    # crawl_xml's own inference fits the WHOLE file (id widens to
    # string, every row parses — the crawler contract); the mode knobs
    # bite when a fixed schema meets rows it cannot parse, pinned here
    # with the schema the clean crawl produces:
    clean_schema = crawl_xml(
        spark, str(clean), cls, corrupt_col=None
    ).schema
    assert {f.name: f.dataType.simpleString() for f in clean_schema}[
        "id"
    ] == "bigint"
    base = spark.read.format("xml").option("rowTag", "item").schema(
        clean_schema
    )
    dropped = base.option("mode", "DROPMALFORMED").load(str(p))
    assert [r["id"] for r in dropped.collect()] == [1, 2]
    with pytest.raises(Exception, match="FAILFAST|Malformed|malformed"):
        base.option("mode", "FAILFAST").load(str(p)).collect()


def test_crawl_xml_partition_discovery_and_pruning(spark, tmp_path):
    from cdk_serverless_data_lake_sandbox_spark.sources.crawler import (
        XmlClassifier,
        crawl_xml,
    )

    for region in ["emea", "apac"]:
        d = tmp_path / f"region={region}"
        d.mkdir()
        (d / "part.xml").write_text(
            "<rows><r><id>1</id><amount>10.5</amount></r>"
            "<r><id>2</id><amount>20.5</amount></r></rows>"
        )
    df = crawl_xml(spark, str(tmp_path), XmlClassifier(row_tag="r"))
    assert "region" in df.columns
    assert sorted((r.id, r.region) for r in df.collect()) == [
        (1, "apac"),
        (1, "emea"),
        (2, "apac"),
        (2, "emea"),
    ]
    pruned = df.where("region = 'emea'")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "region" in plan.split(
        "PartitionFilters:"
    )[1].split("]")[0]
    assert len(pruned.collect()) == 2


def test_register_kvscan_refuses_a_session_without_filter_pushdown(spark):
    """``kvscan`` pushes filters down, and Spark refuses to start such a
    reader unless the session allows it. Registration names the setting
    up front instead of leaving the failure to the first scan."""
    conf = "spark.sql.python.filterPushdown.enabled"
    assert spark.conf.get(conf) == "true"
    try:
        spark.conf.set(conf, "false")
        with pytest.raises(ValueError, match=re.escape(conf)):
            register_kvscan(spark)
    finally:
        spark.conf.set(conf, "true")
    register_kvscan(spark)
