"""Object-store sink round-trip (reference scripts/aws_upload.py:6-99)
against a local S3 mock (moto).

The Spark-native path — executors writing ``s3a://`` URIs directly —
needs hadoop-aws + aws-java-sdk jars that this sandbox's pyspark does
not ship (documented environment gate in sources/object_store.py), so
the exercised surface is the boto3 sync module: write a real gold
layer with Spark, upload it, list it, download it, and verify the
parquet round-trips value-identically.
"""

from __future__ import annotations

import pytest

moto = pytest.importorskip("moto")

from retail_etl_pipeline_airflow_s3_athena_spark.plans import (  # noqa: E402
    gold,
    retail_views,
)
from retail_etl_pipeline_airflow_s3_athena_spark.sources import (  # noqa: E402
    object_store,
    writers,
)

BUCKET = "retail-gold-test"


@pytest.fixture()
def s3():
    with moto.mock_aws():
        c = object_store.client()
        object_store.ensure_bucket(c, BUCKET)
        yield c


def test_gold_layer_s3_round_trip(spark, sf_dir, tmp_path, s3):
    st = retail_views.sale_transactions(spark, sf_dir)
    daily = gold.daily_sales_summary(st)
    local = writers.write_gold(daily, str(tmp_path / "gold"), "daily_sales_summary")

    keys = object_store.sync_dir_to_s3(
        s3, local, BUCKET, "gold/daily_sales_summary"
    )
    assert keys, "no files uploaded"
    assert all(k.startswith("gold/daily_sales_summary/") for k in keys)
    assert not any(k.endswith("_SUCCESS") or k.endswith(".crc") for k in keys)
    # the schema manifest travels with the data; its checksum does not
    assert "gold/daily_sales_summary/.schema.json" in keys
    assert object_store.list_layer(s3, BUCKET, "gold/daily_sales_summary") == keys

    back = tmp_path / "restored"
    files = object_store.download_layer(
        s3, BUCKET, "gold/daily_sales_summary", str(back)
    )
    assert len(files) == len(keys)

    restored = spark.read.parquet(str(back))
    orig = {tuple(r) for r in daily.collect()}
    assert {tuple(r) for r in restored.collect()} == orig


def test_ensure_bucket_idempotent(s3):
    object_store.ensure_bucket(s3, BUCKET)  # second call: no error
    object_store.ensure_bucket(s3, "another-bucket")
    s3.head_bucket(Bucket="another-bucket")


def test_silver_partitions_sync_layout(spark, sf_dir, tmp_path, s3):
    """Partitioned silver layout (date=YYYYMMDD) survives the sync with
    its Hive directory structure intact in the keys."""
    cust = retail_views.customers(spark, sf_dir)
    path = writers.write_silver(
        cust, str(tmp_path / "silver"), "customers", run_date="20260814"
    )
    keys = object_store.sync_dir_to_s3(s3, path, BUCKET, "silver/customers")
    data = [k for k in keys if k != "silver/customers/.schema.json"]
    assert data and len(data) == len(keys) - 1
    assert all("date=20260814/" in k for k in data)


def _write_layer(tmp_path, name, rows):
    d = tmp_path / name
    d.mkdir(parents=True, exist_ok=True)
    for i, content in enumerate(rows):
        (d / f"part-{i}.txt").write_text(content)
    return str(d)


def test_publish_layer_atomic_pointer_flip(tmp_path, s3):
    """publish_layer: data lands under a versioned prefix; readers see
    it only after the single _CURRENT pointer PUT."""
    v1 = _write_layer(tmp_path, "v1src", ["a", "b"])
    p1 = object_store.publish_layer(s3, v1, BUCKET, "gold/daily", 1)
    assert p1 == "gold/daily/v1"
    assert object_store.resolve_current(s3, BUCKET, "gold/daily") == p1
    back = tmp_path / "back1"
    files = object_store.download_current_layer(
        s3, BUCKET, "gold/daily", str(back)
    )
    assert sorted(open(f).read() for f in files) == ["a", "b"]

    v2 = _write_layer(tmp_path, "v2src", ["c", "d", "e"])
    p2 = object_store.publish_layer(s3, v2, BUCKET, "gold/daily", 2)
    assert object_store.resolve_current(s3, BUCKET, "gold/daily") == p2
    back2 = tmp_path / "back2"
    files2 = object_store.download_current_layer(
        s3, BUCKET, "gold/daily", str(back2)
    )
    assert sorted(open(f).read() for f in files2) == ["c", "d", "e"]


def test_publish_layer_crash_mid_upload_leaves_reader_on_old(
    tmp_path, s3, monkeypatch
):
    """Kill the writer mid-upload: a concurrent reader resolving the
    pointer must still see the complete OLD version — never a partial
    new one (the atomicity gap in reference aws_upload.py:67-79)."""
    v1 = _write_layer(tmp_path, "c1", ["old-1", "old-2"])
    object_store.publish_layer(s3, v1, BUCKET, "gold/g", 1)

    v2 = _write_layer(tmp_path, "c2", ["new-1", "new-2", "new-3"])
    real_upload = s3.upload_file
    calls = {"n": 0}

    def dying_upload(path, bucket, key):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("writer killed mid-upload")
        return real_upload(path, bucket, key)

    monkeypatch.setattr(s3, "upload_file", dying_upload)
    with pytest.raises(RuntimeError, match="killed"):
        object_store.publish_layer(s3, v2, BUCKET, "gold/g", 2)
    monkeypatch.setattr(s3, "upload_file", real_upload)

    # pointer untouched -> reader gets the full old version
    assert object_store.resolve_current(s3, BUCKET, "gold/g") == "gold/g/v1"
    back = tmp_path / "cback"
    files = object_store.download_current_layer(s3, BUCKET, "gold/g", str(back))
    assert sorted(open(f).read() for f in files) == ["old-1", "old-2"]

    # retried publish of the same batch id must pick a FRESH suffix
    # (the half-written v2 prefix is abandoned garbage)
    p = object_store.publish_layer(s3, v2, BUCKET, "gold/g", 2)
    assert p == "gold/g/v2r1"
    back2 = tmp_path / "cback2"
    files2 = object_store.download_current_layer(s3, BUCKET, "gold/g", str(back2))
    assert sorted(open(f).read() for f in files2) == ["new-1", "new-2", "new-3"]


def test_resolve_current_unpublished_is_none(s3):
    assert object_store.resolve_current(s3, BUCKET, "gold/never") is None
    with pytest.raises(FileNotFoundError, match="never been published"):
        object_store.download_current_layer(s3, BUCKET, "gold/never", "/tmp/x")
