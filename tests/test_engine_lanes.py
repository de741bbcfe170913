"""Engine lanes through the config dialect: error quarantine + threshold
gate (V4/W11, spark.json:7,97-101), duplicate-run ledger (V5, spark.json:8),
input archival (W12, spark.json:10-12), single-file output with prefix
(W3, spark.json:77-78,89-90), compression (W4, spark.json:93), and the
single-pass validated run: lanes tagged in one plan, lane and
reconciliation counts read from Observations (V6, spark.json:80)."""

import glob
import os

import pytest

from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.operators.validation import (
    DUPLICATE_RECORD,
    LANE,
    NULL_PRIMARY_KEY,
    dedup_split,
    null_pk_split,
    tag_lanes,
)
from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.plans.engine import (
    Orchestrator,
    ThresholdExceeded,
)
from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.sinks import writers


def _base_config(name, src_path, out_path, **configs_extra):
    return {
        "configs": {
            "name": name,
            "phase_1": {
                "input_data": {
                    "dataSource": "local",
                    "dataFrameName": "src",
                    "path": src_path,
                    "fileProperties": {"fileFormat": "parquet"},
                }
            },
            **configs_extra,
        },
        "phase_2": {
            "data_transformations": [
                {
                    "functionName": "ident",
                    "sqlQuery": "SELECT * FROM src",
                    "outputDFName": "out",
                }
            ]
        },
        "phase_3": {
            "target_record_insert": [
                {
                    "dataTarget": "local",
                    "dataFrameName": "out",
                    "loadType": "truncateInsert",
                    "path": out_path,
                    "outputDataProperties": {"fileFormat": "parquet"},
                }
            ]
        },
    }


@pytest.fixture
def dirty_src(spark, tmp_path):
    """6 rows: 2 null-PK, 2 sharing a PK (1 dup) → 3 bad of 6."""
    path = str(tmp_path / "dirty_src")
    spark.createDataFrame(
        [
            (None, "2024-01-01", "a"),
            (None, "2024-01-02", "b"),
            (1, "2024-01-01", "c"),
            (1, "2024-01-02", "d"),
            (2, "2024-01-01", "e"),
            (3, "2024-01-01", "f"),
        ],
        "pk int, ts string, v string",
    ).write.parquet(path)
    return path


def _with_validation(cfg):
    cfg["phase_2"]["data_validation_required"] = "true"
    cfg["phase_2"]["data_validations"] = {
        "nullValueValidation": "true",
        "nullValueCheck": {"primaryKeys": ["pk"]},
        "duplicateRecordValidation": "true",
        "duplicateRecordCheck": {"primaryKeys": ["pk"], "orderByCols": ["ts"]},
    }
    return cfg


def test_error_lane_quarantine_and_threshold_pass(spark, tmp_path, dirty_src):
    """3/6 bad rows with a 60% threshold: job passes, quarantine holds the
    bad rows tagged with the failing validation."""
    out, err = str(tmp_path / "out"), str(tmp_path / "errors")
    cfg = _with_validation(
        _base_config("lanes_ok", dirty_src, out, thresholdLimit="60%")
    )
    cfg["phase_3"]["ErrorRecordInsert"] = {"fileTarget": "local", "targetS3Location": err}
    result = Orchestrator(spark).run(cfg)
    assert result.bad_count == 3
    good = spark.read.parquet(out)
    assert good.count() == 3  # pks 1 (survivor), 2, 3
    assert good.filter("pk IS NULL").count() == 0
    quarantined = spark.read.parquet(err)
    reasons = {r["__error_reason"] for r in quarantined.select("__error_reason").collect()}
    assert reasons == {"null_primary_key", "duplicate_record"}
    assert quarantined.count() == 3


def test_threshold_exceeded_fails_job(spark, tmp_path, dirty_src):
    """Same 50% bad share with a 30% threshold → ThresholdExceeded."""
    cfg = _with_validation(
        _base_config("lanes_fail", dirty_src, str(tmp_path / "out2"), thresholdLimit="30%")
    )
    out = cfg["phase_3"]["target_record_insert"][0]["path"]
    with pytest.raises(ThresholdExceeded):
        Orchestrator(spark).run(cfg)
    assert not os.path.exists(out)  # the gate fires before any target write


def test_duplicate_run_ledger_skips_second_run(spark, tmp_path, dirty_src):
    out = str(tmp_path / "out3")
    cfg = _base_config(
        "ledger_job",
        dirty_src,
        out,
        duplicateRunCheck="true",
        s3TempPath=str(tmp_path / "scratch"),
    )
    orch = Orchestrator(spark)
    first = orch.run(cfg)
    assert not first.skipped_duplicate_run
    n_files = len(glob.glob(os.path.join(out, "part-*")))
    second = orch.run(cfg)
    assert second.skipped_duplicate_run
    assert len(glob.glob(os.path.join(out, "part-*"))) == n_files  # nothing rewritten


def test_archival_copies_input(spark, tmp_path, dirty_src):
    archive = str(tmp_path / "archive")
    cfg = _base_config(
        "archive_job",
        dirty_src,
        str(tmp_path / "out4"),
        archiveInputFile="true",
        archiveS3Path=archive,
    )
    Orchestrator(spark).run(cfg)
    archived = os.path.join(archive, os.path.basename(dirty_src))
    assert os.path.isdir(archived)
    assert spark.read.parquet(archived).count() == 6
    assert os.path.isdir(dirty_src)  # deleteSourceAfterArchival not set


def test_unknown_target_view_raises_keyerror(spark, tmp_path, dirty_src):
    cfg = _base_config("bad_view", dirty_src, str(tmp_path / "nowhere"))
    cfg["phase_3"]["target_record_insert"][0]["dataFrameName"] = "no_such_view"
    with pytest.raises(KeyError, match="no_such_view"):
        Orchestrator(spark).run(cfg)


def test_unsupported_format_raises(spark, tmp_path, dirty_src):
    cfg = _base_config("bad_fmt", dirty_src, str(tmp_path / "nowhere2"))
    cfg["configs"]["phase_1"]["input_data"]["fileProperties"] = {"fileFormat": "avro-nope"}
    with pytest.raises(ValueError, match="fileFormat"):
        Orchestrator(spark).run(cfg)


def test_streaming_with_validation_raises(spark, tmp_path):
    src = str(tmp_path / "sv_src")
    spark.createDataFrame([(1, "a")], "k int, v string").write.parquet(src)
    cfg = _base_config("sv_job", src, str(tmp_path / "sv_out"), s3TempPath=str(tmp_path / "t"))
    cfg["configs"]["phase_1"]["input_data"]["streaming"] = "true"
    cfg["phase_2"]["data_validation_required"] = "true"
    cfg["phase_2"]["data_validations"] = {
        "nullValueValidation": "true",
        "nullValueCheck": {"primaryKeys": ["k"]},
    }
    with pytest.raises(NotImplementedError, match="bounded"):
        Orchestrator(spark).run(cfg)


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_writer_format_roundtrip(spark, tmp_path, dirty_src, fmt):
    """W1: every file-sink format writes and reads back the full row set."""
    out = str(tmp_path / f"rt_{fmt}")
    cfg = _base_config(f"rt_{fmt}", dirty_src, out)
    cfg["phase_3"]["target_record_insert"][0]["outputDataProperties"] = {
        "fileFormat": fmt,
        "header": "true",
    }
    Orchestrator(spark).run(cfg)
    reader = spark.read.option("header", "true").option("inferSchema", "true")
    assert reader.format(fmt).load(out).count() == 6


def test_streaming_config_job_is_incremental(spark, tmp_path):
    """`"streaming": "true"` on the input runs the same JSON job as a
    checkpointed Structured Streaming job: a re-run after new data arrives
    processes ONLY the unseen files (the streaming-native form of
    duplicateRunCheck), appending instead of reprocessing."""
    src = str(tmp_path / "stream_in")
    out = str(tmp_path / "stream_out")
    spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, v double").write.mode(
        "append"
    ).parquet(src)

    cfg = {
        "configs": {
            "name": "incr_job",
            "s3TempPath": str(tmp_path / "scratch"),
            "phase_1": {
                "input_data": {
                    "dataSource": "local",
                    "dataFrameName": "src",
                    "path": src,
                    "streaming": "true",
                    "fileProperties": {"fileFormat": "parquet"},
                }
            },
        },
        "phase_2": {
            "data_transformations": [
                {
                    "functionName": "double_v",
                    "sqlQuery": "SELECT k, v * 2 AS v2 FROM src",
                    "outputDFName": "doubled",
                }
            ]
        },
        "phase_3": {
            "target_record_insert": [
                {
                    "dataTarget": "local",
                    "dataFrameName": "doubled",
                    "loadType": "simpleInsert",
                    "path": out,
                    "outputDataProperties": {"fileFormat": "parquet"},
                }
            ]
        },
    }
    orch = Orchestrator(spark)
    r1 = orch.run(cfg)
    assert r1.write_results[0]["streaming"]
    assert spark.read.parquet(out).count() == 2

    # second run with one new file: only the new row lands
    spark.createDataFrame([(3, 30.0)], "k int, v double").write.mode("append").parquet(src)
    orch.run(cfg)
    rows = {r["k"]: r["v2"] for r in spark.read.parquet(out).collect()}
    assert rows == {1: 20.0, 2: 40.0, 3: 60.0}  # no reprocessing of k=1,2


def test_single_file_csv_with_prefix_and_compression(spark, tmp_path, dirty_src):
    out = str(tmp_path / "export")
    cfg = _base_config("export_job", dirty_src, out)
    cfg["phase_3"]["target_record_insert"][0]["outputDataProperties"] = {
        "fileFormat": "csv",
        "singleFile": "true",
        "outputFileNamePrefix": "daily_export",
        "header": "true",
        "compression": "gzip",
    }
    Orchestrator(spark).run(cfg)
    # the codec suffix must survive the rename or the file reads back as garbage
    assert os.path.isfile(os.path.join(out, "daily_export.csv.gz"))
    df = spark.read.option("header", "true").csv(os.path.join(out, "daily_export.csv.gz"))
    assert df.count() == 6


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize(
    "null_keys, dup_keys, order_by",
    [
        (["a"], ["a", "b"], ["ts"]),  # null keys a subset of the dup keys
        (["b"], ["a"], ["ts"]),  # disjoint: V1 failures share V2 windows
        (["b"], ["a"], None),  # survivor by all non-key columns
        (["a"], [], ["ts"]),
        ([], ["a", "b"], ["ts"]),
    ],
)
def test_tag_lanes_match_split_composition(spark, null_keys, dup_keys, order_by):
    """The one-plan lanes hold exactly the rows of null_pk_split followed by
    dedup_split on its valid side, including rows NULL in only one key."""
    df = spark.createDataFrame(
        [
            (1, 1, 1, "p"), (1, 1, 2, "q"), (1, 1, 3, "r"),
            (1, None, 4, "s"), (1, None, 5, "t"),
            (None, 1, 6, "u"), (None, 1, 7, "v"), (None, None, 8, "w"),
            (2, 1, 9, "x"), (2, None, 10, "y"), (3, 2, 11, "z"),
        ],
        "a int, b int, ts int, v string",
    )
    valid, invalid = null_pk_split(df, null_keys)
    survivors, dups = dedup_split(valid, dup_keys, order_by)
    tagged = tag_lanes(df, null_keys, dup_keys, order_by)
    lane = tagged[LANE]
    assert _rows(tagged.filter(lane.isNull()).drop(LANE)) == _rows(survivors)
    assert _rows(tagged.filter(lane == NULL_PRIMARY_KEY).drop(LANE)) == _rows(invalid)
    assert _rows(tagged.filter(lane == DUPLICATE_RECORD).drop(LANE)) == _rows(dups)


def _reconciled_error_sink_config(src, tmp_path):
    out, err = str(tmp_path / "out"), str(tmp_path / "errors")
    cfg = _with_validation(_base_config("lanes_once", src, out, thresholdLimit="60%"))
    cfg["phase_3"]["target_record_insert"][0]["reconciliation"] = "true"
    cfg["phase_3"]["ErrorRecordInsert"] = {"fileTarget": "local", "targetS3Location": err}
    return cfg, out, err


def test_validated_run_counts_once(spark, tmp_path, dirty_src, monkeypatch):
    """Lane counts come from the materialization and the reconciliation's
    expected count from the write: the only DataFrame.count left is the
    target read-back."""
    cfg, out, err = _reconciled_error_sink_config(dirty_src, tmp_path)
    df_class = type(spark.range(0))
    calls = []
    real_count = df_class.count

    def counting(self):
        calls.append(1)
        return real_count(self)

    monkeypatch.setattr(df_class, "count", counting)
    result = Orchestrator(spark).run(cfg)
    assert len(calls) <= 1
    monkeypatch.undo()
    assert (result.input_count, result.bad_count) == (3, 3)
    assert result.lane_counts == {"good": 3, NULL_PRIMARY_KEY: 2, DUPLICATE_RECORD: 1}
    rec = result.write_results[0]["reconciliation"]
    assert rec["ok"] and rec["expected"] == rec["written"] == 3
    assert spark.read.parquet(err).count() == 3


def test_empty_lanes_write_no_error_files(spark, tmp_path):
    src = str(tmp_path / "clean_src")
    spark.createDataFrame(
        [(1, "2024-01-01", "a"), (2, "2024-01-01", "b")], "pk int, ts string, v string"
    ).write.parquet(src)
    cfg, out, err = _reconciled_error_sink_config(src, tmp_path)
    result = Orchestrator(spark).run(cfg)
    assert result.bad_count == 0
    assert result.lane_counts == {"good": 2, NULL_PRIMARY_KEY: 0, DUPLICATE_RECORD: 0}
    assert not os.path.exists(err)
    assert spark.read.parquet(out).count() == 2


def test_reconciliation_flags_lost_rows(spark, tmp_path, dirty_src, monkeypatch):
    """A row missing from the target at read-back: the observed count of
    what was written no longer matches it."""
    cfg, out, _ = _reconciled_error_sink_config(dirty_src, tmp_path)
    real_read_back = writers._read_back
    monkeypatch.setattr(
        writers, "_read_back", lambda spark, spec: real_read_back(spark, spec).filter("pk <> 3")
    )
    rec = Orchestrator(spark).run(cfg).write_results[0]["reconciliation"]
    assert (rec["expected"], rec["written"], rec["ok"]) == (3, 2, False)


def test_v3_counts_the_good_lane_when_every_row_is_invalid(spark, tmp_path, monkeypatch):
    """Every row fails V1 and no thresholdLimit is set (V4 off): V3 takes
    its input from the good lane's observed count, 0, without a count job,
    so an empty output passes and the whole input lands in quarantine."""
    src = str(tmp_path / "all_null_src")
    spark.createDataFrame(
        [(None, "2024-01-01", "a"), (None, "2024-01-02", "b")], "pk int, ts string, v string"
    ).write.parquet(src)
    out, err = str(tmp_path / "out"), str(tmp_path / "errors")
    cfg = _with_validation(_base_config("all_bad", src, out))
    cfg["phase_2"]["transformed_data_count_validation"] = "true"
    cfg["phase_3"]["ErrorRecordInsert"] = {"fileTarget": "local", "targetS3Location": err}
    df_class = type(spark.range(0))
    calls = []
    real_count = df_class.count
    monkeypatch.setattr(df_class, "count", lambda self: calls.append(1) or real_count(self))
    result = Orchestrator(spark).run(cfg)
    n_calls = len(calls)
    monkeypatch.undo()
    # the only count job left is V3's count of the output view
    assert n_calls == 1
    assert result.input_count == 0
    assert result.lane_counts == {"good": 0, NULL_PRIMARY_KEY: 2, DUPLICATE_RECORD: 0}
    assert spark.read.parquet(out).count() == 0
    assert spark.read.parquet(err).count() == 2


def test_v3_compares_output_with_the_good_lane(spark, tmp_path, dirty_src):
    """V3's input is the good lane (3 of 6 rows): keeping 1 row is 67% off,
    beyond the 60% threshold; keeping 2 is 33% off and passes, where the
    raw 6 rows would put it at 67%."""
    cfg = _with_validation(_base_config("v3", dirty_src, str(tmp_path / "out"), thresholdLimit="60%"))
    cfg["phase_2"]["transformed_data_count_validation"] = "true"
    cfg["phase_2"]["data_transformations"][0]["sqlQuery"] = "SELECT * FROM src WHERE pk = 2"
    with pytest.raises(ThresholdExceeded, match="vs input 3 "):
        Orchestrator(spark).run(cfg)
    cfg["phase_2"]["data_transformations"][0]["sqlQuery"] = "SELECT * FROM src WHERE pk > 1"
    Orchestrator(spark).run(cfg)


def test_targets_read_the_validated_view(spark, tmp_path, dirty_src):
    """A target naming the validated input directly gets the good lane."""
    out = str(tmp_path / "direct")
    cfg = _with_validation(_base_config("direct", dirty_src, out, thresholdLimit="60%"))
    cfg["phase_2"].pop("data_transformations")
    cfg["phase_3"]["target_record_insert"][0]["dataFrameName"] = "src"
    Orchestrator(spark).run(cfg)
    assert sorted(r["v"] for r in spark.read.parquet(out).collect()) == ["d", "e", "f"]


def test_run_record_lane_counts_and_refused_confs(spark, tmp_path, dirty_src):
    import json

    mdir = str(tmp_path / "metrics")
    cfg = _with_validation(
        _base_config(
            "record",
            dirty_src,
            str(tmp_path / "out"),
            thresholdLimit="60%",
            metricsPath=mdir,
            sparkConfig={"spark.sql.broadcastTimeout": "3000", "spark.executor.memory": "2g"},
        )
    )
    Orchestrator(spark).run(cfg)
    (path,) = glob.glob(os.path.join(mdir, "record_*.json"))
    with open(path) as fh:
        rec = json.load(fh)
    assert rec["lane_counts"] == {"good": 3, NULL_PRIMARY_KEY: 2, DUPLICATE_RECORD: 1}
    assert rec["confs_not_applied"] == ["spark.executor.memory"]
