"""The three benchmark workloads.

A workload turns the generated inputs into job configs or a manifest,
runs one *unit* of user-visible work through the engine's public entry
points, and checks the unit's outputs against DuckDB over the same inputs.

- ``etl_quarantine``: one Orchestrator job — dirty CSV, null-key and
  duplicate validation with the error sink and ``thresholdLimit`` gate,
  typing and a daily join-aggregate, two ``truncateInsert`` targets.
- ``pipeline_fanout``: one 9-task DAG run (``from_manifest(...).run()``).
- ``nightly_increments``: one night of a two-task DAG — land one day of
  events and drain it with the ``availableNow`` streaming job, then merge
  the night's snapshot, as ``scdType2Insert``, into a delta-lite and a
  parquet history table.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import math
import os
import shutil
import urllib.parse

import duckdb

import gen

REL_TOL = 1e-6


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=1e-6)
    return str(a) == str(b)


def _sort_key(row: list) -> list:
    return [str(x) if not isinstance(x, float) else "" for x in row]


def same_rows(actual: list, expected: list) -> bool:
    """Row sets equal up to order, floats to ``REL_TOL``."""
    if len(actual) != len(expected):
        return False
    return all(
        len(x) == len(y) and all(_same(p, q) for p, q in zip(x, y))
        for x, y in zip(sorted(actual, key=_sort_key), sorted(expected, key=_sort_key))
    )


def scan(path: str) -> str:
    """DuckDB relation over every parquet file below ``path`` (the
    ``ds=...`` directory names are not read as partition columns)."""
    return f"read_parquet('{os.path.join(path, '**', '*.parquet')}', hive_partitioning=false)"


def failed_tasks(outcomes: dict) -> list[str]:
    """Names of the pipeline tasks that did not succeed."""
    return [name for name, o in outcomes.items() if o.state != "success"]


def run_manifest(spark, manifest: dict, params: dict | None = None) -> dict:
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.plans.pipeline import (
        from_manifest,
    )

    return from_manifest(spark, manifest, params=params).run()


def delta_files(table: str) -> list[str]:
    """Live data files of a delta table, by replaying its JSON commits."""
    live: dict[str, None] = {}
    for commit in sorted(glob.glob(os.path.join(table, "_delta_log", "*.json"))):
        with open(commit, encoding="utf-8") as fh:
            for line in fh:
                action = json.loads(line)
                if "add" in action:
                    live[urllib.parse.unquote(action["add"]["path"])] = None
                elif "remove" in action:
                    live.pop(urllib.parse.unquote(action["remove"]["path"]), None)
    return [os.path.join(table, p) for p in live]


class Workload:
    """One workload over its generated inputs under ``work``."""

    name = ""

    def __init__(self, spark, orch, work: str, seed: int, expected: dict, ncpu: int):
        self.spark = spark
        self.orch = orch
        self.work = work
        self.seed = seed
        self.exp = expected
        self.ncpu = ncpu
        #: every target, error sink and checkpoint of the workload's jobs
        self.out = os.path.join(work, "out")
        self.con = duckdb.connect()

    def configs(self) -> list[tuple[dict, dict]]:
        """(raw config, params) pairs the CI gate validates."""
        raise NotImplementedError

    def params(self, i: int) -> dict:
        """Job parameters of unit ``i``: its own output partition."""
        return {"ds": f"u{i:04d}"}

    def prepare_unit(self, i: int) -> None:
        """Untimed staging of unit ``i``'s input."""

    def run_unit(self, i: int):
        """The timed call into the engine."""
        raise NotImplementedError

    def check_unit(self, i: int, result) -> str | None:
        """None when unit ``i``'s outputs are right, else what is wrong."""
        raise NotImplementedError

    def unit_input(self, i: int) -> tuple[int, int]:
        """(rows, bytes) the generator delivered to unit ``i``."""
        return int(self.exp["input_rows"]), int(self.exp["input_bytes"])

    def changed_rows(self, i: int) -> int:
        """Input rows of unit ``i`` that are new or changed."""
        return self.unit_input(i)[0]

    def close(self) -> None:
        self.con.close()

    def _count(self, path: str) -> int:
        return self.con.execute(f"SELECT COUNT(*) FROM {scan(path)}").fetchone()[0]


class EtlQuarantine(Workload):
    name = "etl_quarantine"

    def config(self) -> dict:
        out = self.out
        return {
            "configs": {
                "name": "etl_quarantine",
                "sparkConfig": {"spark.sql.broadcastTimeout": "3000", "spark.executor.memory": "2g"},
                "thresholdLimit": "10%",
                "phase_1": {"input_data": {
                    "dataSource": "local", "dataFrameName": "lineitem_raw", "path": self.exp["csv"],
                    "fileProperties": {"fileFormat": "csv", "header": "true"},
                }},
                "additional_input_read": [{
                    "dataSource": "local", "dataFrameName": "orders", "path": self.exp["orders"],
                    "fileProperties": {"fileFormat": "parquet"},
                }],
            },
            "phase_2": {
                "data_validation_required": "true",
                "data_validations": {
                    "nullValueValidation": "true",
                    "nullValueCheck": {"primaryKeys": ["l_orderkey", "l_linenumber"]},
                    "duplicateRecordValidation": "true",
                    "duplicateRecordCheck": {"primaryKeys": ["l_orderkey", "l_linenumber"],
                                             "orderByCols": ["ingest_seq"]},
                },
                "data_transformations": [
                    {"functionName": "typing", "outputDFName": "lines",
                     "sqlQuery": gen.ETL_TYPED_SQL.format(src="lineitem_raw")},
                    {"functionName": "daily_revenue", "outputDFName": "daily",
                     "sqlQuery": gen.ETL_DAILY_SQL.format(lines="lines", orders="orders")},
                ],
            },
            "phase_3": {
                "target_record_insert": [
                    {"dataTarget": "local", "dataFrameName": "lines", "loadType": "truncateInsert",
                     "path": f"{out}/lines/ds=${{ds}}", "outputDataProperties": {"fileFormat": "parquet"}},
                    {"dataTarget": "local", "dataFrameName": "daily", "loadType": "truncateInsert",
                     "path": f"{out}/daily/ds=${{ds}}", "outputDataProperties": {"fileFormat": "parquet"},
                     "reconciliation": "true"},
                ],
                "ErrorRecordInsert": {"fileTarget": "local", "targetS3Location": f"{out}/errors/ds=${{ds}}"},
            },
        }

    def configs(self):
        return [(self.config(), self.params(0))]

    def run_unit(self, i):
        return self.orch.run(self.config(), params=self.params(i))

    def check_unit(self, i, result):
        e = self.exp
        ds = self.params(i)["ds"]
        if result.input_count != e["good"] or result.bad_count != e["bad_null"] + e["bad_dup"]:
            return f"lanes {result.input_count}/{result.bad_count}"
        lines = scan(f"{self.out}/lines/ds={ds}")
        if gen.typed_checksum(self.con, lines) != e["typed_checksum"]:
            return "typed target checksum"
        daily = self.con.execute(
            f"SELECT * FROM {scan(f'{self.out}/daily/ds={ds}')}"
        ).fetchall()
        if not same_rows([list(r) for r in daily], e["daily"]):
            return "daily target rows"
        if self._count(f"{self.out}/errors/ds={ds}") != e["bad_null"] + e["bad_dup"]:
            return "error sink rows"
        return None


class PipelineFanout(Workload):
    name = "pipeline_fanout"

    def __init__(self, *args):
        super().__init__(*args)
        self.first_sums = None

    def task_configs(self) -> dict[str, dict]:
        p = self.exp["paths"]
        out = f"{self.out}/ds=${{ds}}"

        def job(name, tables, step, extra_inputs=None):
            inputs = [{"dataSource": "local", "dataFrameName": t, "path": p[t],
                       "fileProperties": {"fileFormat": "parquet"}} for t in tables]
            inputs += extra_inputs or []
            return {
                "configs": {"name": name, "phase_1": {"input_data": inputs[0]},
                            "additional_input_read": inputs[1:]},
                "phase_2": {"data_transformations": [{**step, "outputDFName": f"{name}_out"}]},
                "phase_3": {"target_record_insert": [{
                    "dataTarget": "local", "dataFrameName": f"{name}_out", "loadType": "truncateInsert",
                    "path": f"{out}/{name}", "outputDataProperties": {"fileFormat": "parquet"},
                }]},
            }

        tasks = {q: job(q, gen.FAN_TABLES[q], {"sqlQuery": sql}) for q, sql in gen.FAN_SQL.items()}
        tasks["tokens"] = job("tokens", ["documents"], {"sqlQuery": gen.FAN_TOKENS_SQL})
        tasks["minhash"] = job("minhash", ["documents"], {
            "operatorName": "minhashNearDups", "inputDFName": "documents",
            "operatorParams": {"id_col": "doc_id", "text_col": "text",
                               "threshold": gen.MINHASH_THRESHOLD}})
        tasks["embed"] = job("embed", ["embeddings"], {
            "operatorName": "embeddingNearDups", "inputDFName": "embeddings",
            "operatorParams": {"id_col": "vec_id", "vec_col": "embedding",
                               "threshold": gen.EMBED_THRESHOLD}})
        tasks["kmeans"] = job("kmeans", ["embeddings"], {
            "operatorName": "kmeansClusters", "inputDFName": "embeddings",
            "operatorParams": {"id_col": "vec_id", "vec_col": "embedding", "k": gen.KMEANS_K,
                               "iters": 3}})
        tasks["report"] = job("report", [], {"sqlQuery": gen.FAN_REPORT_SQL}, extra_inputs=[
            {"dataSource": "local", "dataFrameName": f"{q}_out", "path": f"{out}/{q}",
             "fileProperties": {"fileFormat": "parquet"}} for q in ("q5", "q10")])
        return tasks

    def manifest(self) -> dict:
        tasks = self.task_configs()
        upstream = [t for t in tasks if t != "report"]
        return {
            "name": "pipeline_fanout",
            "concurrency": min(4, self.ncpu),
            "tasks": [{"name": t, "config": cfg, "dependsOn": upstream if t == "report" else []}
                      for t, cfg in tasks.items()],
        }

    def configs(self):
        # the report reads the upstream outputs: validate it after unit 0
        return [(cfg, self.params(0)) for cfg in self.task_configs().values()]

    def run_unit(self, i):
        return run_manifest(self.spark, self.manifest(), self.params(i))

    def _rows(self, ds: str, task: str) -> list:
        return [list(r) for r in self.con.execute(
            f"SELECT * FROM {scan(f'{self.out}/ds={ds}/{task}')}").fetchall()]

    def check_unit(self, i, result):
        if failed_tasks(result):
            return f"tasks not successful: {failed_tasks(result)}"
        ds = self.params(i)["ds"]
        exp = self.exp["results"]
        for q in [*gen.FAN_SQL, "report"]:
            if not same_rows(self._rows(ds, q), exp[q]):
                return f"{q} rows"
        base = f"{self.out}/ds={ds}"
        tok = self.con.execute(
            f"SELECT COUNT(*), SUM(n_tokens), SUM(doc_id * n_tokens) "
            f"FROM {scan(base + '/tokens')}").fetchone()
        if list(tok) != exp["tokens"]:
            return "tokens checksum"
        pairs = {tuple(r[:2]) for r in self._rows(ds, "minhash")}
        if not {tuple(p) for p in self.exp["doc_pairs"]} <= pairs:
            return "minhash misses a planted duplicate"
        low = self.con.execute(
            f"SELECT COUNT(*) FROM {scan(base + '/minhash')} "
            f"WHERE jaccard_sim < {gen.MINHASH_THRESHOLD} OR id_a >= id_b").fetchone()[0]
        if low:
            return "minhash pair below threshold"
        vecs = self.exp["paths"]["embeddings"]
        emb = self.con.execute(
            f"SELECT p.id_a, p.id_b, list_cosine_similarity(a.embedding, b.embedding) "
            f"FROM {scan(base + '/embed')} p "
            f"JOIN read_parquet('{vecs}') a ON a.vec_id = p.id_a "
            f"JOIN read_parquet('{vecs}') b ON b.vec_id = p.id_b").fetchall()
        if not {tuple(p) for p in self.exp["vec_pairs"]} <= {(a, b) for a, b, _ in emb}:
            return "embedding near-dups miss a planted pair"
        if any(c < gen.EMBED_THRESHOLD - 1e-4 for _, _, c in emb):
            return "embedding pair below threshold"
        km = self.con.execute(
            f"SELECT COUNT(*), COUNT(DISTINCT vec_id), COUNT(DISTINCT cluster) "
            f"FROM {scan(base + '/kmeans')}").fetchone()
        n = self.exp["n_vecs"]
        if km[0] != n or km[1] != n or not 1 <= km[2] <= gen.KMEANS_K:
            return "kmeans assignment"
        # the seeded operators must also give the same answer every unit
        sums = {t: self.con.execute(f"SELECT COUNT(*), SUM(hash(COLUMNS(*)) % 1000003) "
                                    f"FROM {scan(base + '/' + t)}").fetchall()
                for t in ("minhash", "embed", "kmeans")}
        if self.first_sums is None:
            self.first_sums = sums
        elif sums != self.first_sums:
            return "a seeded operator's output changed between units"
        return None


class Scd2Nights:
    """The SCD2 half of ``nightly_increments``: each night a full snapshot
    of the customer table is merged, as ``scdType2Insert``, into a
    delta-lite and a parquet history table."""

    def __init__(self, work: str, out: str, seed: int, con):
        self.work = work
        self.out = out
        self.con = con
        self.nights = gen.NightlySnapshots(seed, os.path.join(work, "nights"))
        self.inputs: dict[int, tuple[str, int, int]] = {}

    def config(self) -> dict:
        def target(path, fmt, mode=None):
            props = {"fileFormat": fmt, **({"savemode": mode} if mode else {})}
            return {"dataTarget": "local", "dataFrameName": "customers",
                    "loadType": "scdType2Insert", "scd2Keys": ["cust_id"],
                    "scd2EffectiveCol": "${eff_ts}", "path": path, "outputDataProperties": props}

        return {
            "configs": {"name": "customers_scd2", "phase_1": {"input_data": {
                "dataSource": "local", "dataFrameName": "snapshot", "path": "${snapshot}",
                "fileProperties": {"fileFormat": "parquet"}}}},
            "phase_2": {"data_transformations": [{
                "functionName": "customers", "outputDFName": "customers",
                "sqlQuery": "SELECT cust_id, segment, tier, balance_cents FROM snapshot"}]},
            "phase_3": {"target_record_insert": [
                target(f"{self.out}/history_delta", "deltalake"),
                target(f"{self.out}/history_parquet", "parquet", "scd2"),
            ]},
        }

    def params(self, i: int) -> dict:
        night = dt.date(2024, 1, 1) + dt.timedelta(days=i)
        return {"snapshot": self.inputs[i][0], "eff_ts": f"{night:%Y-%m-%d} 00:00:00"}

    def prepare(self, i: int) -> None:
        if i not in self.inputs:
            self.inputs[i] = self.nights.next()

    def unit_input(self, i: int) -> tuple[int, int]:
        path, rows, _ = self.inputs[i]
        return rows, gen.file_bytes(path)

    def changed_rows(self, i: int) -> int:
        return self.inputs[i][2] if i else self.inputs[i][1]

    def check(self, i: int) -> str | None:
        total, versions = gen.scd2_expected(os.path.join(self.work, "nights", "*", "snapshot.parquet"))
        snap = f"read_parquet('{self.inputs[i][0]}', hive_partitioning=false)"
        for label, rel in (
            ("delta", "read_parquet([{}])".format(
                ", ".join(f"'{f}'" for f in delta_files(f"{self.out}/history_delta")))),
            ("parquet", scan(f"{self.out}/history_parquet")),
        ):
            got_total = self.con.execute(f"SELECT COUNT(*) FROM {rel}").fetchone()[0]
            if got_total != total:
                return f"{label} history rows {got_total} != {total}"
            diff = self.con.execute(
                f"SELECT (SELECT COUNT(*) FROM (SELECT cust_id, segment, tier, balance_cents FROM {rel} "
                f"WHERE is_current EXCEPT SELECT * FROM {snap})), "
                f"(SELECT COUNT(*) FROM (SELECT * FROM {snap} EXCEPT "
                f"SELECT cust_id, segment, tier, balance_cents FROM {rel} WHERE is_current))"
            ).fetchone()
            if diff != (0, 0):
                return f"{label} current rows differ from the snapshot {diff}"
            got = self.con.execute(
                f"WITH v AS (SELECT cust_id, COUNT(*) AS n FROM {rel} GROUP BY cust_id) "
                f"SELECT SUM(n), SUM(cust_id * n), COUNT(*) FROM v").fetchone()
            if [int(x) for x in got] != versions:
                return f"{label} version counts"
        return None


class EventStream:
    """The streaming half of ``nightly_increments``: each night one day of
    events lands as a JSON file and the ``availableNow`` dedup + sessions
    job drains it."""

    def __init__(self, work: str, out: str, seed: int, con):
        self.out = out
        self.con = con
        self.days = gen.EventDays(seed)
        self.staging = os.path.join(work, "staging")
        self.incoming = os.path.join(work, "incoming")
        self.landed = os.path.join(work, "landed")
        for d in (self.staging, self.incoming, self.landed):
            os.makedirs(d, exist_ok=True)
        self.inputs: dict[int, tuple[int, int]] = {}

    def config(self) -> dict:
        return {
            "configs": {
                "name": "stream_sessions",
                # the streaming example's session setting: state partitions
                # are fixed by the first run's checkpoint
                "sparkConfig": {"spark.sql.shuffle.partitions": "8"},
                "s3TempPath": f"{self.out}/tmp",
                "phase_1": {"input_data": {
                    "dataSource": "local", "dataFrameName": "events", "path": self.incoming,
                    "streaming": "true", "fileProperties": {"fileFormat": "json"}}},
            },
            "phase_2": {
                "data_transformations": [
                    {"functionName": "parse event time", "outputDFName": "typed_events",
                     "sqlQuery": "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, "
                                 "event_type, value FROM events"},
                    {"operatorName": "streamingDedup", "inputDFName": "typed_events",
                     "operatorParams": {"keys": ["event_id"], "ts_col": "ts", "delay": "2 hours"},
                     "outputDFName": "unique_events"},
                    {"operatorName": "sessionAggregate", "inputDFName": "unique_events",
                     "operatorParams": {"ts_col": "ts", "key": "user_id", "gap": "30 minutes",
                                        "delay": None},
                     "outputDFName": "sessions"},
                ],
                "transformed_data_count_validation": "false",
            },
            "phase_3": {"target_record_insert": [{
                "dataTarget": "local", "dataFrameName": "sessions", "loadType": "simpleInsert",
                "path": f"{self.out}/sessions", "outputDataProperties": {"fileFormat": "parquet"}}]},
        }

    @staticmethod
    def _day_file(i: int) -> str:
        return f"day_{i:04d}.json"

    def prepare(self, i: int) -> None:
        if i not in self.inputs:
            path = os.path.join(self.staging, self._day_file(i))
            rows = self.days.next(path)
            self.inputs[i] = (rows, os.path.getsize(path))

    def land(self, i: int) -> None:
        name = self._day_file(i)
        src = os.path.join(self.staging, name)
        shutil.copy(src, os.path.join(self.landed, name))
        os.replace(src, os.path.join(self.incoming, name))

    def check(self, i: int) -> str | None:
        want = gen.stream_expected(os.path.join(self.landed, "*.json"), i + 1)
        sessions = f"{self.out}/sessions"
        if not glob.glob(os.path.join(sessions, "**", "*.parquet"), recursive=True):
            got = [0, None, None]
        else:
            got = list(self.con.execute(
                f"SELECT COUNT(*), SUM(n_events), SUM((user_id + 1) * n_events * "
                f"(epoch(session_start)::BIGINT % 100003)) FROM {scan(sessions)}").fetchone())
        if [int(x or 0) for x in got] != want:
            return f"sessions {got} != {want}"
        return None


class NightlyIncrements(Workload):
    """One night of a nightly DAG that runs its tasks one at a time: land a
    day of events and drain the stream, then merge the night's customer
    snapshot into the SCD2 history tables."""

    name = "nightly_increments"

    def __init__(self, *args):
        super().__init__(*args)
        self.scd2 = Scd2Nights(self.work, self.out, self.seed, self.con)
        self.stream = EventStream(self.work, self.out, self.seed, self.con)

    def manifest(self) -> dict:
        return {"name": "nightly_increments", "concurrency": 1, "tasks": [
            {"name": "stream_sessions", "config": self.stream.config()},
            {"name": "customers_scd2", "config": self.scd2.config()},
        ]}

    def params(self, i):
        return self.scd2.params(i)

    def prepare_unit(self, i):
        self.scd2.prepare(i)
        self.stream.prepare(i)

    def configs(self):
        return [(self.stream.config(), {}), (self.scd2.config(), self.params(0))]

    def run_unit(self, i):
        self.stream.land(i)
        return run_manifest(self.spark, self.manifest(), self.params(i))

    def unit_input(self, i):
        (r1, b1), (r2, b2) = self.scd2.unit_input(i), self.stream.inputs[i]
        return r1 + r2, b1 + b2

    def changed_rows(self, i):
        return self.scd2.changed_rows(i) + self.stream.inputs[i][0]

    def check_unit(self, i, result):
        if failed_tasks(result):
            return f"tasks not successful: {failed_tasks(result)}"
        return self.stream.check(i) or self.scd2.check(i)


WORKLOADS = {w.name: w for w in (EtlQuarantine, PipelineFanout, NightlyIncrements)}
