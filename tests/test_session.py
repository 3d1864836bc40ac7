"""Session parallelism contract: shuffle and streaming-state width equal the
session's cores (session.py module docstring)."""

from __future__ import annotations

import os

from t_mobile_data_fnt_etl_pipeline_aws_spark import get_spark
from t_mobile_data_fnt_etl_pipeline_aws_spark.session import configure
from t_mobile_data_fnt_etl_pipeline_aws_spark.streaming.harness import (
    read_events_stream,
    run_available_now,
    stage_events,
)


def test_shuffle_partitions_equal_session_cores():
    spark = get_spark()
    cores = spark.sparkContext.defaultParallelism
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == cores


def test_configure_keeps_callers_shuffle_width(spark):
    """configure() runs on callers' sessions: their width is theirs."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        configure(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_stream_state_partitions_equal_session_cores(spark, sf_dir, tmp_path):
    """A stateful stream fixes the shuffle width into its checkpoint: one
    state store per core."""
    stream_dir, _ = stage_events(spark, sf_dir, str(tmp_path))
    deduped = read_events_stream(spark, stream_dir).select(
        "user_id", "event_type"
    ).dropDuplicates(["user_id", "event_type"])
    ckpt = str(tmp_path / "ckpt")
    run_available_now(deduped, "state_width_mem", ckpt, "append")
    md = spark.read.format("state-metadata").load(ckpt).collect()
    assert [(r.operatorName, r.numPartitions) for r in md] == [
        ("dedupe", spark.sparkContext.defaultParallelism)
    ]


def test_session_master_follows_spark_graft_cpus(spark):
    """The suite's shared session is the configured one: a test that
    builds its own session first would pin every later test to its width."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "").strip() or "*"
    assert spark.sparkContext.master == f"local[{cpus}]"
