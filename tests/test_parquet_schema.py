"""Driver-side parquet schema resolution (``sources.files.footer_schema``
/ ``read_parquet``): the schema read from one footer must be exactly the
one Spark's inference job gives, and building a table or manifest read
must run no Spark job."""

from __future__ import annotations

import importlib.util
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_DIR
from py4j.protocol import Py4JJavaError

from spark_streaming_kafka_bucket_counter_spark.session import restored_conf
from spark_streaming_kafka_bucket_counter_spark.sources.files import (
    NANOS_AS_LONG,
    footer_schema,
    load_table,
    read_parquet,
)
from spark_streaming_kafka_bucket_counter_spark.sources.manifest import (
    manifest_read,
    manifest_txn,
)

REPO = Path(__file__).resolve().parents[1]


@pytest.fixture(scope="module")
def gen_dir(tmp_path_factory) -> Path:
    spec = importlib.util.spec_from_file_location(
        "gen_scale", REPO / "tools" / "gen_scale.py"
    )
    gen_scale = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen_scale)
    out = tmp_path_factory.mktemp("gen_sf0.001")
    gen_scale.generate(0.001, str(out))
    return out


@pytest.fixture
def two_schema_tree(tmp_path) -> Path:
    """A manifest-managed ``postings`` subtree whose two live files, in
    two ``band=`` partitions, carry different schemas."""
    root = tmp_path / "idx"
    with manifest_txn(root):
        for band, table in (
            (0, pa.table({"x": pa.array([1, 2], pa.int64()), "y": ["a", "b"]})),
            (1, pa.table({"x": pa.array([3], pa.int32()), "z": [0.5]})),
        ):
            leaf = root / "postings" / f"band={band}"
            leaf.mkdir(parents=True)
            pq.write_table(table, leaf / f"part-{band}.parquet")
    return root


def _jobs_run_by(spark, build) -> int:
    sc = spark.sparkContext
    group = f"schema-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_footer_schema_matches_spark_inference_on_every_generated_table(spark, gen_dir):
    tables = sorted(gen_dir.glob("*.parquet"))
    assert len(tables) == 10
    with restored_conf(spark, NANOS_AS_LONG):
        spark.conf.set(NANOS_AS_LONG, "true")
        for p in tables:
            assert footer_schema(spark, [str(p)]) == spark.read.parquet(str(p)).schema, p.name


def test_manifest_read_schema_is_spark_non_merge_inference(spark, two_schema_tree):
    base = str(two_schema_tree / "postings")
    paths = sorted(str(p) for p in Path(base).rglob("*.parquet"))
    inferred = spark.read.option("basePath", base).parquet(*paths).schema
    assert manifest_read(spark, two_schema_tree, "postings").schema == inferred
    assert "band" in inferred.fieldNames()
    # Spark opens the lexicographically first file, whatever order the
    # paths are given in
    flipped = paths[::-1]
    assert (
        read_parquet(spark, *flipped, base=base).schema
        == spark.read.option("basePath", base).parquet(*flipped).schema
        == inferred
    )


def test_building_table_and_manifest_reads_runs_no_spark_job(spark, two_schema_tree):
    assert _jobs_run_by(spark, lambda: load_table(spark, SF_DIR, "events")) == 0
    assert _jobs_run_by(spark, lambda: manifest_read(spark, two_schema_tree, "postings")) == 0


def test_directory_and_glob_fall_back_to_spark_inference(spark, two_schema_tree, tmp_path):
    leaf = str(two_schema_tree / "postings" / "band=0")
    assert footer_schema(spark, [leaf]) is None
    assert read_parquet(spark, leaf).schema == spark.read.parquet(leaf).schema
    glob = str(two_schema_tree / "postings" / "band=*")
    assert footer_schema(spark, [glob]) is None
    # a file listed with a directory that sorts after it: the file is
    # still the first leaf Spark's listing yields, so its footer is read
    lone = two_schema_tree / "postings" / "a.parquet"
    pq.write_table(pa.table({"w": pa.array([1], pa.int16())}), lone)
    mixed = [str(two_schema_tree / "postings" / "band=1"), str(lone)]
    assert footer_schema(spark, mixed) == spark.read.parquet(*mixed).schema
    assert footer_schema(spark, mixed).fieldNames() == ["w"]
    # a file that is not parquet raises instead of silently falling back
    bad = tmp_path / "not-parquet.parquet"
    bad.write_bytes(b"not a parquet file")
    with pytest.raises(Py4JJavaError):
        footer_schema(spark, [str(bad)])
