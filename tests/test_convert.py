"""Converter round-trip + partition tests (reference TestWriteFile,
main_test.go:27-70, generalized) and event-discovery tests (main.go:87-135).
"""

from __future__ import annotations

import gzip
import json

from pyspark.sql import functions as F

from aws_vpcflowlogs_parquet_spark.operators.convert import (
    convert_flowlogs,
    register_flowlog_table,
)
from aws_vpcflowlogs_parquet_spark.sources.events import targets_from_event

HEADER = (
    "version account-id interface-id srcaddr dstaddr srcport dstport "
    "protocol packets bytes start end action log-status"
)


def _mk_line(acct: str, start: int, sport: int = 1234) -> str:
    return (
        f"2 {acct} eni-70594239 10.0.2.2 10.0.4.8 {sport} 5245 17 6 965 "
        f"{start} {start + 420} ACCEPT OK"
    )


DAY1 = 1541375637  # 2018-11-04 UTC
DAY2 = 1541462037  # 2018-11-05 UTC


def test_round_trip_and_partition_set(spark, tmp_path):
    # multi-day/multi-account input → correct partition set (main.go:169-172)
    src = tmp_path / "in.log.gz"
    with gzip.open(src, "wt") as f:
        f.write(
            "\n".join(
                [
                    HEADER,
                    _mk_line("111111111111", DAY1),
                    _mk_line("111111111111", DAY1, 5678),
                    _mk_line("111111111111", DAY2),
                    _mk_line("222222222222", DAY2),
                ]
            )
        )
    out = tmp_path / "out"
    keys = convert_flowlogs(spark, str(src), str(out))
    assert keys == [
        ("2018-11-04", "111111111111"),
        ("2018-11-05", "111111111111"),
        ("2018-11-05", "222222222222"),
    ]
    back = spark.read.parquet(str(out))
    assert back.count() == 4
    # partition columns usable for pruning; data columns intact
    assert back.filter(F.col("dt") == "2018-11-04").count() == 2
    assert back.filter(F.col("account") == "222222222222").count() == 1
    assert dict(back.dtypes)["start_ts"] == "bigint"
    assert dict(back.dtypes)["end_ts"] == "bigint"  # not the Glue int bug


def test_idempotent_partition_overwrite(spark, tmp_path):
    # re-running the same source must not duplicate rows (reference achieves
    # this via deterministic output keys, convert.go:86; we use dynamic
    # partition overwrite)
    src = tmp_path / "in.log"
    src.write_text("\n".join([HEADER, _mk_line("111111111111", DAY1)]))
    out = tmp_path / "out"
    convert_flowlogs(spark, str(src), str(out))
    convert_flowlogs(spark, str(src), str(out))
    assert spark.read.parquet(str(out)).count() == 1


def test_catalog_registration(spark, tmp_path):
    src = tmp_path / "in.log"
    src.write_text(
        "\n".join([HEADER, _mk_line("111111111111", DAY1), _mk_line("222222222222", DAY2)])
    )
    out = tmp_path / "tbl"
    keys = convert_flowlogs(spark, str(src), str(out))
    register_flowlog_table(spark, "flowlogs_test", str(out), partitions=keys)
    try:
        got = spark.sql(
            "SELECT account, count(*) AS n FROM flowlogs_test "
            "WHERE dt = '2018-11-04' GROUP BY account"
        ).collect()
        assert [(r["account"], r["n"]) for r in got] == [("111111111111", 1)]
        parts = spark.sql("SHOW PARTITIONS flowlogs_test").count()
        assert parts == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS flowlogs_test")


def test_targets_from_s3_event():
    event = {
        "Records": [
            {
                "awsRegion": "ap-northeast-1",
                "s3": {"bucket": {"name": "b1"}, "object": {"key": "logs/x.gz"}},
            },
            {"unsupported": True},
        ]
    }
    ts = targets_from_event(event)
    assert len(ts) == 1  # unsupported record skipped, not an error
    assert ts[0].bucket == "b1" and ts[0].key == "logs/x.gz"
    assert ts[0].path == "s3a://b1/logs/x.gz"


def test_targets_from_sns_wrapped_event():
    inner = {
        "Records": [
            {"s3": {"bucket": {"name": "b2"}, "object": {"key": "k2"}}}
        ]
    }
    event = {"Records": [{"Sns": {"Message": json.dumps(inner)}}]}
    ts = targets_from_event(event)
    assert [(t.bucket, t.key) for t in ts] == [("b2", "k2")]


def test_targets_bad_sns_message_skipped():
    event = {"Records": [{"Sns": {"Message": "not json"}}]}
    assert targets_from_event(event) == []


def test_strict_raises_single_pass_and_writes_valid_rows(spark, tmp_path):
    # single-pass strict (observe-based): the malformed-line verdict rides
    # the write job; error raised AFTER the write, valid rows persisted,
    # re-run of corrected input overwrites idempotently
    import pytest

    from aws_vpcflowlogs_parquet_spark.sources.flowlog import FlowLogParseError

    src = tmp_path / "in.log"
    src.write_text(
        "\n".join([HEADER, _mk_line("111111111111", DAY1), "2 too few tokens"])
    )
    out = tmp_path / "out"
    with pytest.raises(FlowLogParseError, match="1 malformed"):
        convert_flowlogs(spark, str(src), str(out), strict=True)
    assert spark.read.parquet(str(out)).count() == 1
    # corrected input converges to the same single row
    src.write_text("\n".join([HEADER, _mk_line("111111111111", DAY1)]))
    keys = convert_flowlogs(spark, str(src), str(out), strict=True)
    assert keys == [("2018-11-04", "111111111111")]
    assert spark.read.parquet(str(out)).count() == 1


def test_observed_parse_plan_has_collect_metrics_single_scan(spark, tmp_path):
    # the validity counter is a CollectMetrics node inside the one plan —
    # no separate validation scan of the source
    from aws_vpcflowlogs_parquet_spark.sources.flowlog import (
        parse_flowlog_lines_observed,
    )

    src = tmp_path / "in.log"
    src.write_text("\n".join([HEADER, _mk_line("111111111111", DAY1)]))
    parsed, _obs = parse_flowlog_lines_observed(spark.read.text(str(src)))
    plan = parsed._jdf.queryExecution().optimizedPlan().toString()
    assert "CollectMetrics" in plan
    assert plan.count("Relation") == 1  # exactly one source scan


def test_src_partition_preserves_sibling_source_files(spark, tmp_path):
    # R14 per-source-file idempotence (reference convert.go:86): two source
    # files land in the same (dt, account); re-converting one must not drop
    # the other's rows and must not duplicate its own
    f1 = tmp_path / "a.log"
    f2 = tmp_path / "b.log"
    f1.write_text("\n".join([HEADER, _mk_line("111111111111", DAY1, 1111)]))
    f2.write_text(
        "\n".join(
            [HEADER, _mk_line("111111111111", DAY1, 2222), _mk_line("111111111111", DAY1, 3333)]
        )
    )
    out = tmp_path / "out"
    convert_flowlogs(spark, str(f1), str(out), src_partition=True)
    convert_flowlogs(spark, str(f2), str(out), src_partition=True)
    assert spark.read.parquet(str(out)).count() == 3
    # re-run of f1 alone: sibling f2 rows intact, no duplicates
    convert_flowlogs(spark, str(f1), str(out), src_partition=True)
    back = spark.read.parquet(str(out))
    assert back.count() == 3
    assert back.filter(F.col("srcport") == 1111).count() == 1
    # dt/account pruning still works through the extra src level
    assert back.filter(F.col("dt") == "2018-11-04").count() == 3


def test_register_partition_with_explicit_location(spark, tmp_path):
    # non-Hive layout parity (reference main.go:177 always emits LOCATION):
    # data lives outside the table root; explicit per-partition LOCATION
    # registers it and queries prune on the declared key
    src = tmp_path / "in.log"
    src.write_text("\n".join([HEADER, _mk_line("333333333333", DAY1, 7777)]))
    staged = tmp_path / "staged"
    convert_flowlogs(spark, str(src), str(staged))
    leaf = str(staged / "dt=2018-11-04" / "account=333333333333")
    tbl_root = tmp_path / "tbl_root"
    tbl_root.mkdir()
    register_flowlog_table(
        spark,
        "flowlogs_loc_test",
        str(tbl_root),
        partitions=[("2018-11-04", "333333333333", leaf)],
    )
    try:
        got = spark.sql(
            "SELECT srcport FROM flowlogs_loc_test WHERE dt='2018-11-04'"
        ).collect()
        assert [r["srcport"] for r in got] == [7777]
    finally:
        spark.sql("DROP TABLE IF EXISTS flowlogs_loc_test")


def test_src_partitioned_registration_full_spec(spark, tmp_path):
    # ADVICE r2 (medium): a table partitioned (dt, account, src) rejects
    # 2-level ALTER TABLE specs. convert_flowlogs(src_partition=True) must
    # return 3-tuples and register_flowlog_table(src_partitioned=True)
    # must emit full specs.
    f1 = tmp_path / "a.log"
    f1.write_text("\n".join([HEADER, _mk_line("111111111111", DAY1)]))
    out = tmp_path / "tbl"
    keys = convert_flowlogs(spark, str(f1), str(out), src_partition=True)
    assert len(keys) == 1 and len(keys[0]) == 3
    assert keys[0][:2] == ("2018-11-04", "111111111111")
    register_flowlog_table(
        spark, "flowlogs_src_test", str(out), partitions=keys, src_partitioned=True
    )
    try:
        got = spark.sql(
            "SELECT count(*) AS n FROM flowlogs_src_test WHERE dt='2018-11-04'"
        ).collect()[0]["n"]
        assert got == 1
        assert spark.sql("SHOW PARTITIONS flowlogs_src_test").count() == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS flowlogs_src_test")


def test_src_partitioned_partial_keys_fall_back_to_msck(spark, tmp_path):
    # legacy callers passing (dt, account) against a src-partitioned table
    # must not fail after the data is written — MSCK fallback recovers all
    f1 = tmp_path / "a.log"
    f1.write_text("\n".join([HEADER, _mk_line("111111111111", DAY1)]))
    out = tmp_path / "tbl"
    convert_flowlogs(spark, str(f1), str(out), src_partition=True)
    register_flowlog_table(
        spark,
        "flowlogs_msckfb_test",
        str(out),
        partitions=[("2018-11-04", "111111111111")],
        src_partitioned=True,
    )
    try:
        assert spark.sql("SHOW PARTITIONS flowlogs_msckfb_test").count() == 1
        n = spark.sql("SELECT count(*) AS n FROM flowlogs_msckfb_test").collect()[0]["n"]
        assert n == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS flowlogs_msckfb_test")


def test_run_event_src_partitioned_registers(spark, tmp_path):
    # handler.run_event with src_partition=True previously died on the
    # partial-spec DDL after a successful write (ADVICE r2)
    from aws_vpcflowlogs_parquet_spark.handler import HandlerConfig, run_event

    bucket = tmp_path / "bucket"
    (bucket / "logs").mkdir(parents=True)
    (bucket / "logs" / "x.log").write_text(
        "\n".join([HEADER, _mk_line("111111111111", DAY1)])
    )
    event = {
        "Records": [
            {"s3": {"bucket": {"name": str(bucket)}, "object": {"key": "logs/x.log"}}}
        ]
    }
    cfg = HandlerConfig(
        dst_path=str(tmp_path / "warehouse"),
        table="flowlogs_srcrun_test",
        src_partition=True,
    )
    try:
        keys = run_event(spark, event, cfg)
        assert len(keys) == 1 and len(keys[0]) == 3
        n = spark.sql(
            "SELECT count(*) AS n FROM flowlogs_srcrun_test WHERE dt='2018-11-04'"
        ).collect()[0]["n"]
        assert n == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS flowlogs_srcrun_test")


def test_strict_failure_still_registers_written_partitions(spark, tmp_path):
    # ADVICE r2 (low): single-pass strict raises after the write; the valid
    # rows of the failing batch must not be left unregistered/invisible
    import pytest

    from aws_vpcflowlogs_parquet_spark.handler import HandlerConfig, run_event
    from aws_vpcflowlogs_parquet_spark.sources.flowlog import FlowLogParseError

    bucket = tmp_path / "bucket"
    (bucket / "logs").mkdir(parents=True)
    (bucket / "logs" / "x.log").write_text(
        "\n".join([HEADER, _mk_line("111111111111", DAY1), "2 bad line"])
    )
    event = {
        "Records": [
            {"s3": {"bucket": {"name": str(bucket)}, "object": {"key": "logs/x.log"}}}
        ]
    }
    cfg = HandlerConfig(
        dst_path=str(tmp_path / "warehouse"), table="flowlogs_strict_test"
    )
    try:
        with pytest.raises(FlowLogParseError, match="1 malformed"):
            run_event(spark, event, cfg)
        # the partial (valid-row) state is catalog-visible, not stranded
        n = spark.sql(
            "SELECT count(*) AS n FROM flowlogs_strict_test WHERE dt='2018-11-04'"
        ).collect()[0]["n"]
        assert n == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS flowlogs_strict_test")


def test_msck_registers_many_partitions(spark, tmp_path):
    # VERDICT r2 item 7: the partitions=None MSCK path exercised at scale —
    # ≥100 Hive-layout partition directories recovered in one statement
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "tbl"
    accounts = [f"{i:012d}" for i in range(4)]
    days = [f"2018-11-{d:02d}" for d in range(1, 27)]
    tbl = pa.table(
        {
            "version": pa.array([2], pa.int32()),
            "accountid": pa.array(["x"], pa.string()),
            "interfaceid": pa.array(["eni-1"], pa.string()),
            "srcaddr": pa.array(["10.0.0.1"], pa.string()),
            "dstaddr": pa.array(["10.0.0.2"], pa.string()),
            "srcport": pa.array([1], pa.int32()),
            "dstport": pa.array([2], pa.int32()),
            "protocol": pa.array([6], pa.int32()),
            "packets": pa.array([1], pa.int32()),
            "bytes": pa.array([1], pa.int32()),
            "start_ts": pa.array([DAY1], pa.int64()),
            "end_ts": pa.array([DAY1 + 60], pa.int64()),
            "action": pa.array(["ACCEPT"], pa.string()),
            "logstatus": pa.array(["OK"], pa.string()),
        }
    )
    for dt in days:
        for acct in accounts:
            leaf = root / f"dt={dt}" / f"account={acct}"
            leaf.mkdir(parents=True)
            pq.write_table(tbl, leaf / "part-0.parquet")
    register_flowlog_table(spark, "flowlogs_msck_test", str(root), partitions=None)
    try:
        n_parts = spark.sql("SHOW PARTITIONS flowlogs_msck_test").count()
        assert n_parts == len(days) * len(accounts) == 104
        n = spark.sql("SELECT count(*) AS n FROM flowlogs_msck_test").collect()[0]["n"]
        assert n == 104
    finally:
        spark.sql("DROP TABLE IF EXISTS flowlogs_msck_test")


def test_object_store_scheme_round_trip(spark, tmp_path):
    # Hermetic non-local-FS round-trip (VERDICT r2 item 6; reference
    # main_test.go:136-159 runs the same flow against live S3). No AWS in
    # the sandbox, so the closest real thing: Hadoop's ViewFileSystem — a
    # genuinely different FS scheme (viewfs://) with its own URI
    # resolution, mount-table indirection, and FileSystem implementation
    # — mounted over a local directory. Everything the engine does with
    # paths (write partitioned parquet, dynamic overwrite, partition
    # discovery, catalog LOCATION, query-back) runs through the non-local
    # scheme end to end. S3 multipart-upload semantics (main.go:221-238)
    # remain untestable here and are covered by the S3A committer in
    # production — documented divergence.
    import py4j.protocol
    import pytest

    from aws_vpcflowlogs_parquet_spark.handler import HandlerConfig, run_event

    mount_root = tmp_path / "viewfs_root"
    mount_root.mkdir()
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set(
        "fs.viewfs.mounttable.testcluster.link./warehouse",
        mount_root.as_uri(),
    )
    dst = "viewfs://testcluster/warehouse"
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI.create(dst), hconf
        )
    except py4j.protocol.Py4JJavaError as e:  # pragma: no cover
        pytest.skip(f"ViewFileSystem unavailable in bundled Hadoop: {e}")

    bucket = tmp_path / "bucket"
    (bucket / "logs").mkdir(parents=True)
    (bucket / "logs" / "x.log").write_text(
        "\n".join([HEADER, _mk_line("111111111111", DAY1), _mk_line("222222222222", DAY2)])
    )
    event = {
        "Records": [
            {"s3": {"bucket": {"name": str(bucket)}, "object": {"key": "logs/x.log"}}}
        ]
    }
    cfg = HandlerConfig(dst_path=dst, table="flowlogs_viewfs_test")
    try:
        keys = run_event(spark, event, cfg)
        assert keys == [
            ("2018-11-04", "111111111111"),
            ("2018-11-05", "222222222222"),
        ]
        # data physically landed under the mount target in Hive layout
        assert (mount_root / "dt=2018-11-04" / "account=111111111111").exists()
        # query-back goes through the viewfs:// LOCATION
        n = spark.sql(
            "SELECT count(*) AS n FROM flowlogs_viewfs_test WHERE dt='2018-11-05'"
        ).collect()[0]["n"]
        assert n == 1
        # idempotent re-run through the non-local scheme (dynamic
        # partition overwrite must resolve paths via the mount table)
        run_event(spark, event, cfg)
        assert spark.read.parquet(dst).count() == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS flowlogs_viewfs_test")


def test_run_event_end_to_end(spark, tmp_path):
    # the reference Lambda handler surface (main.go:67-85): SNS-wrapped S3
    # event → convert → registered, queryable table
    import json as _json

    from aws_vpcflowlogs_parquet_spark.handler import (
        config_from_env,
        run_event,
    )

    bucket = tmp_path / "bucket"
    (bucket / "logs").mkdir(parents=True)
    (bucket / "logs" / "x.log").write_text(
        "\n".join([HEADER, _mk_line("111111111111", DAY1), _mk_line("222222222222", DAY2)])
    )
    inner = {
        "Records": [
            {"s3": {"bucket": {"name": str(bucket)}, "object": {"key": "logs/x.log"}}}
        ]
    }
    event = {"Records": [{"Sns": {"Message": _json.dumps(inner)}}]}
    cfg = config_from_env(
        {"S3_BUCKET": str(tmp_path / "warehouse"), "ATHENA_TABLE_NAME": "flowlogs_h_test"}
    )
    try:
        keys = run_event(spark, event, cfg)
        assert keys == [
            ("2018-11-04", "111111111111"),
            ("2018-11-05", "222222222222"),
        ]
        n = spark.sql(
            "SELECT count(*) AS n FROM flowlogs_h_test WHERE dt='2018-11-05'"
        ).collect()[0]["n"]
        assert n == 1
        # empty / uninterpretable event: no-op, not an error (main.go:119-123)
        assert run_event(spark, {"Records": [{"nope": 1}]}, cfg) == []
    finally:
        spark.sql("DROP TABLE IF EXISTS flowlogs_h_test")


def _count_alters(monkeypatch, spark):
    """Wrap ``spark.sql`` and collect the ALTER TABLE statements it runs."""
    alters = []
    real_sql = spark.sql

    def sql(query, *args, **kwargs):
        if query.lstrip().upper().startswith("ALTER TABLE"):
            alters.append(query)
        return real_sql(query, *args, **kwargs)

    monkeypatch.setattr(spark, "sql", sql)
    return alters


def _multi_key_source(tmp_path, name="multi.log"):
    # 2 days x 2 accounts = 4 (dt, account) keys
    src = tmp_path / name
    src.write_text(
        "\n".join(
            [HEADER]
            + [_mk_line(a, d) for a in ("111111111111", "222222222222") for d in (DAY1, DAY2)]
        )
    )
    return src


def test_registration_issues_one_alter_for_all_keys(spark, tmp_path, monkeypatch):
    out = tmp_path / "tbl"
    keys = convert_flowlogs(spark, str(_multi_key_source(tmp_path)), str(out))
    assert len(keys) == 4
    alters = _count_alters(monkeypatch, spark)
    register_flowlog_table(spark, "flowlogs_one_alter_test", str(out), partitions=keys)
    try:
        assert len(alters) == 1
        assert alters[0].count("PARTITION (") == 4
        assert spark.sql("SHOW PARTITIONS flowlogs_one_alter_test").count() == 4
        n = spark.sql("SELECT count(*) AS n FROM flowlogs_one_alter_test").collect()[0]["n"]
        assert n == 4
    finally:
        spark.sql("DROP TABLE IF EXISTS flowlogs_one_alter_test")


def test_registration_without_keys_issues_no_alter(spark, tmp_path, monkeypatch):
    alters = _count_alters(monkeypatch, spark)
    register_flowlog_table(
        spark, "flowlogs_no_keys_test", str(tmp_path / "tbl"), partitions=[]
    )
    try:
        assert alters == []
        assert spark.catalog.tableExists("flowlogs_no_keys_test")
        assert spark.sql("SHOW PARTITIONS flowlogs_no_keys_test").count() == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS flowlogs_no_keys_test")


def test_reregistering_overlapping_keys_is_idempotent(spark, tmp_path, monkeypatch):
    out = tmp_path / "tbl"
    keys = convert_flowlogs(spark, str(_multi_key_source(tmp_path)), str(out))
    alters = _count_alters(monkeypatch, spark)
    register_flowlog_table(spark, "flowlogs_overlap_test", str(out), partitions=keys[:3])
    # overlaps the first set in two keys, adds the fourth, repeats one key
    register_flowlog_table(
        spark, "flowlogs_overlap_test", str(out), partitions=keys[1:] + keys[1:2]
    )
    try:
        assert len(alters) == 2
        assert spark.sql("SHOW PARTITIONS flowlogs_overlap_test").count() == 4
        n = spark.sql("SELECT count(*) AS n FROM flowlogs_overlap_test").collect()[0]["n"]
        assert n == 4
    finally:
        spark.sql("DROP TABLE IF EXISTS flowlogs_overlap_test")


def test_src_partitioned_keys_register_in_one_statement(spark, tmp_path, monkeypatch):
    f1 = tmp_path / "a.log"
    f2 = tmp_path / "b.log"
    f1.write_text("\n".join([HEADER, _mk_line("111111111111", DAY1, 1111)]))
    f2.write_text(
        "\n".join(
            [HEADER, _mk_line("111111111111", DAY1, 2222), _mk_line("222222222222", DAY2)]
        )
    )
    out = tmp_path / "tbl"
    keys = convert_flowlogs(spark, [str(f1), str(f2)], str(out), src_partition=True)
    assert len(keys) == 3 and all(len(k) == 3 for k in keys)
    alters = _count_alters(monkeypatch, spark)
    register_flowlog_table(
        spark, "flowlogs_src_one_test", str(out), partitions=keys, src_partitioned=True
    )
    try:
        assert len(alters) == 1
        assert spark.sql("SHOW PARTITIONS flowlogs_src_one_test").count() == 3
        n = spark.sql(
            "SELECT count(*) AS n FROM flowlogs_src_one_test WHERE dt='2018-11-04'"
        ).collect()[0]["n"]
        assert n == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS flowlogs_src_one_test")


def test_explicit_locations_register_in_one_statement(spark, tmp_path, monkeypatch):
    staged = tmp_path / "staged"
    keys = convert_flowlogs(spark, str(_multi_key_source(tmp_path)), str(staged))
    entries = [
        (dt, acct, str(staged / f"dt={dt}" / f"account={acct}")) for dt, acct in keys
    ]
    tbl_root = tmp_path / "tbl_root"
    tbl_root.mkdir()
    alters = _count_alters(monkeypatch, spark)
    register_flowlog_table(spark, "flowlogs_locs_test", str(tbl_root), partitions=entries)
    try:
        assert len(alters) == 1
        assert alters[0].count("LOCATION") == 4
        got = spark.sql(
            "SELECT account, count(*) AS n FROM flowlogs_locs_test "
            "WHERE dt='2018-11-05' GROUP BY account ORDER BY account"
        ).collect()
        assert [(r["account"], r["n"]) for r in got] == [
            ("111111111111", 1),
            ("222222222222", 1),
        ]
    finally:
        spark.sql("DROP TABLE IF EXISTS flowlogs_locs_test")


def test_convert_leaves_session_overwrite_mode_unchanged(spark, tmp_path):
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        src = tmp_path / "in.log"
        src.write_text("\n".join([HEADER, _mk_line("111111111111", DAY1)]))
        convert_flowlogs(spark, str(src), str(tmp_path / "out"))
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, before)


def test_second_source_leaves_other_partitions_intact(spark, tmp_path):
    # dynamic overwrite is a per-write option, so it holds even when the
    # session says static (which would truncate the whole table)
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        f1 = tmp_path / "a.log"
        f2 = tmp_path / "b.log"
        f1.write_text("\n".join([HEADER, _mk_line("111111111111", DAY1, 1111)]))
        f2.write_text("\n".join([HEADER, _mk_line("222222222222", DAY2, 2222)]))
        out = tmp_path / "out"
        convert_flowlogs(spark, str(f1), str(out))
        convert_flowlogs(spark, str(f2), str(out))
        got = sorted(
            (r["dt"], r["account"], r["srcport"])
            for r in spark.read.parquet(str(out)).collect()
        )
        assert got == [
            ("2018-11-04", "111111111111", 1111),
            ("2018-11-05", "222222222222", 2222),
        ]
    finally:
        spark.conf.set(key, before)


def test_parsed_schema_names_types_and_order(spark):
    from aws_vpcflowlogs_parquet_spark.sources.flowlog import parse_flowlog_lines

    lines = spark.createDataFrame([(_mk_line("111111111111", DAY1),)], "value string")
    assert parse_flowlog_lines(lines).dtypes == [
        ("version", "int"),
        ("accountid", "string"),
        ("interfaceid", "string"),
        ("srcaddr", "string"),
        ("dstaddr", "string"),
        ("srcport", "int"),
        ("dstport", "int"),
        ("protocol", "int"),
        ("packets", "int"),
        ("bytes", "int"),
        ("start_ts", "bigint"),
        ("end_ts", "bigint"),
        ("action", "string"),
        ("logstatus", "string"),
        ("start_time", "timestamp"),
    ]


def test_tokenize_keeps_columns_and_accepts_value_col(spark):
    from aws_vpcflowlogs_parquet_spark.sources.flowlog import tokenize

    df = spark.createDataFrame(
        [(7, HEADER), (8, _mk_line("111111111111", DAY1)), (9, "2 too few")],
        "id int, line string",
    )
    tok = tokenize(df, value_col="line")
    assert tok.columns[:2] == ["id", "line"]
    got = {
        r["id"]: (r["_n_toks"], r["_is_header"], r["_is_valid"])
        for r in tok.collect()
    }
    assert got == {7: (14, True, False), 8: (14, False, True), 9: (3, False, False)}
