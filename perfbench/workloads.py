"""The three benchmark workloads.

Each workload drives ``onetl_spark`` through its public API only. The run
loop in ``run.py`` calls, in order:

- ``generate(rep)`` a few times (input generation; the last repetition is
  the one the run uses),
- ``warm_up()`` once (every op shape runs once, untimed),
- per op: ``prepare(i)`` (untimed input), ``op(i)`` (timed, returns rows
  written), ``after_op(i)`` (untimed clean-up),
- ``check(n)`` once after the timed ops (untimed output checks).
"""

from __future__ import annotations

import contextlib
import gc
import importlib.util
import os
import random
import sys
from datetime import date, timedelta


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files)


class Workload:
    name = ""
    min_ops = 20  # the tail percentile needs 10 samples beyond it
    count_ops = 5  # leading traced ops whose counts must repeat exactly
    warm_appends = 3  # EL warm-up: the create op, then this many append ops

    def __init__(self, spark, work: str, seed: int, root: str, tracer):
        self.spark, self.work, self.seed, self.root, self.tracer = spark, work, seed, root, tracer

    def kind(self, i: int) -> str:
        return self.name

    def traced(self, i: int) -> bool:
        """In a traced run, ops alternate traced/untraced so the run also
        measures its own tracing overhead."""
        return i % 2 == 0

    def more(self, done: int, deadline_passed: bool) -> bool:
        return done < self.min_ops or not deadline_passed

    def prepare(self, i: int) -> None:
        pass

    def after_op(self, i: int) -> None:
        # every op starts with the same garbage-collector state
        gc.collect()

    def warm_up_ops(self) -> None:
        """Run the first op, which creates the target, then the steady
        append op a few times, all untimed."""
        for i in range(-self.warm_appends - 1, 0):
            self.prepare(i)
            self.op(i)
            self.after_op(i)

    def layer_counts(self) -> dict:
        return {}

    def close(self) -> None:
        pass


# --- jdbc_incremental ---------------------------------------------------------


class JdbcIncremental(Workload):
    """Derby table → IncrementalStrategy + DBReader(ColumnIntHWM) →
    DBWriter into a parquet catalog table, HWM kept in a YamlHWMStore."""

    name = "jdbc_incremental"
    SEED_ROWS = 40_000
    BATCH_ROWS = 4_000
    HWM_NAME = "jdbc_source_id"
    TARGET = "jdbc_target"

    def __init__(self, spark, work, seed, root, tracer):
        super().__init__(spark, work, seed, root, tracer)
        from onetl_spark.connections import Derby

        self.derby = Derby(spark=spark, path=os.path.join(work, "derby", "db"))
        self.source = ""
        self.next_id = 0
        self.store = None

    def generate(self, rep: int) -> None:
        from onetl_spark.connections import JDBCWriteOptions

        self.source = f"SOURCE_{rep}"
        self.derby.execute(
            f"CREATE TABLE {self.source} (ID BIGINT NOT NULL PRIMARY KEY, BATCH INT, "
            "USER_ID INT, AMOUNT DOUBLE, KIND VARCHAR(16))"
        )
        s = self.seed
        rows = self.spark.range(self.SEED_ROWS).selectExpr(
            "id AS ID",
            f"{-self.warm_appends - 1} AS BATCH",  # read by the first warm-up op
            f"CAST(pmod(xxhash64(id, {s}), 50000) AS INT) AS USER_ID",
            f"CAST(pmod(xxhash64(id, {s + 1}), 1000000) AS DOUBLE) / 100 AS AMOUNT",
            f"element_at(array('view', 'click', 'cart', 'purchase'), CAST(pmod(xxhash64(id, {s + 2}), 4) AS INT) + 1) AS KIND",
        )
        self.derby.write_df_to_target(rows, self.source, JDBCWriteOptions(if_exists="append"))
        self.next_id = self.SEED_ROWS

    def warm_up(self) -> None:
        from onetl_spark.connections import SparkSQLConnection
        from onetl_spark.connections.sparksql import SparkSQLWriteOptions
        from onetl_spark.db import DBReader, DBWriter
        from onetl_spark.hwm import ColumnIntHWM
        from onetl_spark.hwm.store import YamlHWMStore

        self.store = YamlHWMStore(os.path.join(self.work, "hwm")).__enter__()
        self.reader = DBReader(self.derby, self.source, hwm=ColumnIntHWM(name=self.HWM_NAME, expression="ID"))
        self.writer = DBWriter(SparkSQLConnection(self.spark), self.TARGET, SparkSQLWriteOptions(if_exists="append"))
        self.warm_up_ops()

    def prepare(self, i: int) -> None:
        if i == -self.warm_appends - 1:
            return  # the first op reads the pre-seeded rows
        # a new batch: the seed rows' values under new IDs, inserted by Derby
        # itself (cheaper than a Spark JDBC write, and still seed-derived)
        self.derby.execute(
            f"INSERT INTO {self.source} SELECT ID + {self.next_id}, {i}, USER_ID, AMOUNT, KIND "
            f"FROM {self.source} WHERE ID < {self.BATCH_ROWS}"
        )
        self.next_id += self.BATCH_ROWS

    def op(self, i: int) -> int:
        from onetl_spark.strategy import IncrementalStrategy

        with IncrementalStrategy():
            self.writer.run(self.reader.run())
        return self.BATCH_ROWS

    def input_size(self) -> dict:
        return {
            "source_rows": self.next_id,
            "target_bytes": _dir_bytes(os.path.join(self.work, "warehouse", self.TARGET)),
            "hwm_store_bytes": _dir_bytes(self.store.path),
        }

    def layer_counts(self) -> dict:
        return {"hwm.store_bytes": _dir_bytes(self.store.path), "hwm.tracked_files": 0}

    def check(self, n_ops: int) -> tuple[set[int], dict]:
        source = {
            r["BATCH"]: r["N"]
            for r in self.derby.sql(f"SELECT BATCH, COUNT(*) AS N FROM {self.source} GROUP BY BATCH").collect()
        }
        max_id = self.derby.sql(f"SELECT MAX(ID) AS M FROM {self.source}").collect()[0]["M"]
        target = {
            r["BATCH"]: (r["n"], r["d"])
            for r in self.spark.sql(
                f"SELECT BATCH, COUNT(*) AS n, COUNT(DISTINCT ID) AS d FROM {self.TARGET} GROUP BY BATCH"
            ).collect()
        }
        distinct = self.spark.sql(f"SELECT COUNT(DISTINCT ID) AS d FROM {self.TARGET}").collect()[0]["d"]
        saved = self.store.get_hwm(self.HWM_NAME).value
        details = {
            "source_rows": sum(source.values()),
            "target_rows": sum(n for n, _ in target.values()),
            "target_distinct_ids": distinct,
            "saved_hwm": saved,
            "source_max_id": max_id,
        }
        whole_ok = (
            details["source_rows"] == details["target_rows"] == distinct and saved == max_id
        )
        failed = {i for i in range(n_ops) if target.get(i) != (source.get(i), source.get(i))}
        return (set(range(n_ops)) if not whole_ok else failed), details

    def close(self) -> None:
        if self.store is not None:
            self.store.__exit__(None, None, None)


# --- file_ingest --------------------------------------------------------------


class FileIngest(Workload):
    """Landing directory → FileDownloader(Glob + FileListHWM) →
    FileDFReader(CSV, explicit schema) → DBWriter into a table partitioned
    by day."""

    name = "file_ingest"
    SEED_FILES = 150
    FILES_PER_OP = 3
    ROWS_PER_FILE = 200
    DAYS = 7
    HWM_NAME = "landing_files"
    TARGET = "file_target"

    def __init__(self, spark, work, seed, root, tracer):
        super().__init__(spark, work, seed, root, tracer)
        self.landing = self.store = None
        self.files = 0  # files written to the landing directory so far
        self.landed: dict[int, list[int]] = {}  # op → file numbers it landed
        self.downloaded: dict[int, tuple[int, int]] = {}  # op → (successful, failed)

    def _land(self, count: int) -> list[int]:
        kinds = ("view", "click", "cart", "purchase")
        first_day = date(2024, 1, 1)
        numbers = list(range(self.files, self.files + count))
        for n in numbers:
            rng = random.Random(self.seed * 1_000_003 + n)
            lines = ["event_id,file_no,user_id,amount,kind,day"]
            for r in range(self.ROWS_PER_FILE):
                day = first_day + timedelta(days=rng.randrange(self.DAYS))
                lines.append(
                    f"{n * self.ROWS_PER_FILE + r},{n},{rng.randrange(50_000)},"
                    f"{rng.randrange(1_000_000) / 100},{rng.choice(kinds)},{day.isoformat()}"
                )
            with open(os.path.join(self.landing, f"part-{n:06d}.csv"), "w") as f:
                f.write("\n".join(lines) + "\n")
        self.files += count
        return numbers

    def generate(self, rep: int) -> None:
        from onetl_spark.hwm import FileListHWM
        from onetl_spark.hwm.store import YamlHWMStore

        self.landing = os.path.join(self.work, f"landing_{rep}")
        os.makedirs(self.landing)
        self.files = 0
        self._land(self.SEED_FILES)
        paths = frozenset(os.path.join(self.landing, name) for name in os.listdir(self.landing))
        # the pre-seeded files are already ingested: the store holds them,
        # with the full history the store keeps, as a long-running job's does
        store = YamlHWMStore(os.path.join(self.work, f"hwm_{rep}"))
        for _ in range(store.MAX_HISTORY):
            store.set_hwm(FileListHWM(name=self.HWM_NAME, value=paths))
        self.store_path = store.path

    def warm_up(self) -> None:
        from onetl_spark.hwm.store import YamlHWMStore

        self.store = YamlHWMStore(self.store_path).__enter__()
        self.warm_up_ops()

    def prepare(self, i: int) -> None:
        self.landed[i] = self._land(self.FILES_PER_OP)

    def op(self, i: int) -> int:
        from pyspark.sql.types import DateType, DoubleType, IntegerType, LongType, StringType, StructField, StructType

        from onetl_spark.connections import SparkSQLConnection
        from onetl_spark.connections.sparksql import SparkSQLWriteOptions
        from onetl_spark.db import DBWriter
        from onetl_spark.file import FileDFReader
        from onetl_spark.file.connections import SparkLocalFS
        from onetl_spark.file.format.csv import CSV
        from onetl_spark.file.transfer import FileDownloader, Glob, LocalFileConnection
        from onetl_spark.file.transfer.downloader import FileDownloaderOptions
        from onetl_spark.hwm import FileListHWM
        from onetl_spark.strategy import IncrementalStrategy

        schema = StructType(
            [
                StructField("event_id", LongType()),
                StructField("file_no", IntegerType()),
                StructField("user_id", IntegerType()),
                StructField("amount", DoubleType()),
                StructField("kind", StringType()),
                StructField("day", DateType()),
            ]
        )
        staging = os.path.join(self.work, "staging", f"op{i}")
        with IncrementalStrategy():
            result = FileDownloader(
                connection=LocalFileConnection(),
                source_path=self.landing,
                local_path=staging,
                filters=[Glob("*.csv")],
                hwm=FileListHWM(name=self.HWM_NAME),
                options=FileDownloaderOptions(workers=2),
            ).run()
            files = [os.path.join(staging, os.path.basename(str(f.path))) for f in result.successful]
            df = FileDFReader(SparkLocalFS(self.spark), CSV(header=True), source_path=staging, df_schema=schema).run(files)
            DBWriter(
                SparkSQLConnection(self.spark),
                self.TARGET,
                SparkSQLWriteOptions(if_exists="append", partition_by=["day"]),
            ).run(df)
        self.downloaded[i] = (len(result.successful), len(result.failed))
        return len(files) * self.ROWS_PER_FILE

    def tracked(self) -> int:
        return self.SEED_FILES + sum(len(v) for v in self.landed.values())

    def input_size(self) -> dict:
        return {
            "landing_files": self.files,
            "tracked_files": self.tracked(),
            "hwm_store_bytes": _dir_bytes(self.store.path),
            "target_bytes": _dir_bytes(os.path.join(self.work, "warehouse", self.TARGET)),
        }

    def layer_counts(self) -> dict:
        return {"hwm.store_bytes": _dir_bytes(self.store.path), "hwm.tracked_files": self.tracked()}

    def check(self, n_ops: int) -> tuple[set[int], dict]:
        target = {
            r["file_no"]: r["n"]
            for r in self.spark.sql(f"SELECT file_no, COUNT(*) AS n FROM {self.TARGET} GROUP BY file_no").collect()
        }
        landed = {n for files in self.landed.values() for n in files}
        stored = len(self.store.get_hwm(self.HWM_NAME).value)
        details = {
            "landed_files": len(landed),
            "ingested_files": len(target),
            "target_rows": sum(target.values()),
            "tracked_files": stored,
        }
        whole_ok = (
            set(target) == landed
            and details["target_rows"] == len(landed) * self.ROWS_PER_FILE
            and stored == self.tracked()
        )
        failed = {
            i
            for i in range(n_ops)
            if self.downloaded.get(i) != (self.FILES_PER_OP, 0)
            or any(target.get(n) != self.ROWS_PER_FILE for n in self.landed[i])
        }
        return (set(range(n_ops)) if not whole_ok else failed), details

    def close(self) -> None:
        if self.store is not None:
            self.store.__exit__(None, None, None)


# --- operator_registry --------------------------------------------------------

# Multi-job queries that the driver-barrier work targets, then single-job
# controls. Four heavier multi-job queries (dedup_components_star,
# brand_bradley_terry, event_markov_stationary, supplier_pagerank) are left
# out: with them a run does not fit the run budget (NOTES.md). The pool size
# is odd, so the median of two passes falls on one query's samples rather
# than between two queries.
POOL = [
    "fk_candidate_profile",
    "supplier_bfs_hops",
    "events_value_qq_normal",
    "events_type_friedman",
    "events_daily_acf",
    "segment_mh_odds_ratio",
    "user_engagement_cronbach",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "events_daily_stats",
    "dbreader_projection_filter",
]


class OperatorRegistry(Workload):
    """A fixed pool of registry queries, each executed into the ``noop`` sink
    in a seed-shuffled order, whole passes over the pool at a time."""

    name = "operator_registry"
    SCALE = 0.01
    DATA_SEED = 42  # the distribution the registry's oracles are checked on
    min_passes = 2

    def __init__(self, spark, work, seed, root, tracer):
        super().__init__(spark, work, seed, root, tracer)
        self.count_ops = len(POOL)
        self.entry = _load(root, "__spark_entry__.py")
        self.queries = self.entry.queries()
        self.parity = _load(root, "tools/driver_parity.py")
        self.order: list[str] = []
        self.rng = random.Random(seed)
        self.results: dict[str, tuple[list[str], list]] = {}

    def kind(self, i: int) -> str:
        while len(self.order) <= i:
            self.order += self.rng.sample(POOL, len(POOL))
        return self.order[i]

    def traced(self, i: int) -> bool:
        # over two passes each query is traced once and untraced once
        return (POOL.index(self.kind(i)) + i // len(POOL)) % 2 == 0

    def more(self, done: int, deadline_passed: bool) -> bool:
        return done % len(POOL) != 0 or done < self.min_passes * len(POOL) or not deadline_passed

    def generate(self, rep: int) -> None:
        gen = _load(self.root, "tools/gen_testdata.py")
        self.data = os.path.join(self.work, f"sf{self.SCALE}_{rep}")
        with contextlib.redirect_stdout(sys.stderr):
            gen.generate(self.SCALE, self.data, seed=self.DATA_SEED)

    def warm_up(self) -> None:
        # the warm-up pass also captures each query's result for the oracle
        # check made after the timed ops
        for name in POOL:
            df = self.queries[name](self.spark, self.data)
            self.results[name] = self._result(df.columns, df.collect())
            del df
            self.after_op(0)
        self.queries[POOL[-1]](self.spark, self.data).write.format("noop").mode("overwrite").save()
        self.after_op(0)

    def op(self, i: int) -> int:
        name = self.kind(i)
        with self.tracer.span("operators.build"):
            df = self.queries[name](self.spark, self.data)
        with self.tracer.span("operators.exec"):
            df.write.format("noop").mode("overwrite").save()
        return len(self.results[name][1])

    def after_op(self, i: int) -> None:
        # queries are independent: drop operator-internal caches and the
        # Python references that keep their checkpoint blocks alive
        self.spark.catalog.clearCache()
        super().after_op(i)

    def input_size(self) -> dict:
        return {"data_bytes": _dir_bytes(self.data), "pool": len(POOL)}

    def _result(self, columns, rows) -> tuple[list[str], list]:
        """What the registry's parity check compares: the column names and
        the typed, order-insensitive multiset of rows."""
        return sorted(columns), self.parity.multiset(list(columns), [tuple(r) for r in rows])

    def check(self, n_ops: int) -> tuple[set[int], dict]:
        oracles = self.entry.oracle_sql()
        con = self.parity.duck_con(self.data)
        try:
            bad = set()
            for name in POOL:
                cur = con.execute(oracles[name])
                expected = self._result([d[0] for d in cur.description], cur.fetchall())
                if expected != self.results[name]:
                    bad.add(name)
        finally:
            con.close()
        failed = {i for i in range(n_ops) if self.kind(i) in bad}
        return failed, {"oracle_mismatch": sorted(bad), "checked_queries": len(POOL)}


def _load(root: str, relpath: str):
    """Import a module of the repository by its file path."""
    name = os.path.splitext(os.path.basename(relpath))[0]
    spec = importlib.util.spec_from_file_location(name, os.path.join(root, relpath))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


WORKLOADS = {w.name: w for w in (JdbcIncremental, FileIngest, OperatorRegistry)}
