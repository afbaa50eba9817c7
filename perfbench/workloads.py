"""The three workloads: inputs, the operations of one pass, and the oracle
check of their outputs.

- ``mta_service_day``: the paper's own job. Nested GTFS-rt polls are landed
  with ``sources.ingest``, the 12 sources loaded with ``sources.registry``,
  the 4 fact models built and 2 of them materialized partitioned, and
  M1-M12 run on the materialized tables.
- ``sql_interactive``: short relational registry entries over the TPC-H-ish
  tables; fixed per-query cost (plan build, Catalyst, job scheduling)
  dominates.
- ``corpus_curation``: training-data operators and the two streaming
  ingest sinks over ``documents``/``embeddings``/``orders``; CPU, shuffle
  and Python-worker work dominates.

Every operation ends in a full-output action: a ``noop``-format write for a
DataFrame (so column pruning cannot skip projections), the real parquet
write for ``materialize`` and the landing, and a drained ``availableNow``
query for a sink.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import pickle
import random
import shutil
import threading
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

import datagen
from harness import Op, OpTimeout

PKG = "mta_rtf_dbt_spark."
SINK_TIMEOUT_S = 60

# The registry modules the entries of the two registry-driven workloads
# live in (the plan modules that generate fixtures on import stay out).
_REGISTRY_MODULES = [
    "plans.relational",
    "plans.tpch_extra",
    "metrics.events_analog",
    "sources.ingest",
    "operators.dedup",
    "operators.textprep",
]


def _registry() -> tuple[dict[str, Callable], dict[str, str]]:
    import importlib

    queries: dict[str, Callable] = {}
    oracle: dict[str, str] = {}
    for name in _REGISTRY_MODULES:
        mod = importlib.import_module(PKG + name)
        queries.update(mod.QUERIES)
        oracle.update(mod.ORACLE)
    return queries, oracle


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def fingerprint(root: str) -> str:
    """Content hash of the parquet files under ``root``, keyed by their
    directory and content but not their names (Spark names its part files
    with a random UUID), for the oracle cache."""
    entries = []
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if name.endswith(".parquet"):
                with open(os.path.join(dirpath, name), "rb") as fh:
                    digest = hashlib.sha256(fh.read()).hexdigest()
                rel = os.path.relpath(dirpath, root)
                entries.append(f"{rel}/{name if dirpath == root else ''}:{digest}")
    return hashlib.sha256("\n".join(sorted(entries)).encode()).hexdigest()


class CachedOracle:
    """A DuckDB connection front that caches query results on disk by
    (SQL text, input fingerprint) and serialises access, so several checks
    can share it from threads. ``tests.oracle_harness.compare`` reads
    ``description`` and ``fetchall()`` from what ``execute`` returns."""

    def __init__(self, con, cache_dir: str, inputs_fp: str):
        self._con = con
        self._dir = cache_dir
        self._fp = inputs_fp
        self._lock = threading.Lock()
        os.makedirs(cache_dir, exist_ok=True)

    def execute(self, sql: str):
        with self._lock:
            return self._execute(sql)

    def close(self) -> None:
        self._con.close()

    def _execute(self, sql: str):
        if not sql.lstrip().upper().startswith(("SELECT", "WITH")):
            return self._con.execute(sql)
        key = hashlib.sha256(f"{self._fp}\x00{sql}".encode()).hexdigest()
        path = os.path.join(self._dir, f"{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:  # written by this benchmark only
                cols, rows = pickle.load(fh)
        else:
            res = self._con.execute(sql)
            cols, rows = [d[0] for d in res.description], res.fetchall()
            tmp = f"{path}.{os.getpid()}"
            with open(tmp, "wb") as fh:
                pickle.dump((cols, rows), fh)
            os.replace(tmp, path)
        return _Rows(cols, rows)


class _Rows:
    def __init__(self, cols, rows):
        self.description = [(c,) for c in cols]
        self._rows = rows

    def fetchall(self):
        return self._rows


def compare_all(con, items: list[tuple[str, Callable, str]]) -> dict[str, list[str]]:
    """Oracle mismatches per name for ``(name, build_df, oracle_sql)`` items.
    Plans are built one at a time (building can run eager jobs); the Spark
    collects of the comparisons then run concurrently, since none of this
    is timed."""
    from tests.oracle_harness import compare

    errs: dict[str, list[str]] = {}
    built = []
    for name, build, sql in items:
        try:
            built.append((name, build(), sql))
        except Exception as exc:
            errs[name] = [f"{name}: plan build raised {exc!r}"[:400]]
    with ThreadPoolExecutor(max_workers=4) as pool:
        futures = {name: pool.submit(compare, name, df, con, sql) for name, df, sql in built}
        for name, fut in futures.items():
            try:
                errs[name] = fut.result()
            except Exception as exc:
                errs[name] = [f"{name}: check raised {exc!r}"[:400]]
    return errs


def duck(work: str):
    import duckdb

    con = duckdb.connect()
    spill = os.path.join(work, "duckdb_tmp")
    os.makedirs(spill, exist_ok=True)
    con.execute(f"SET temp_directory='{spill}'")
    con.execute("SET threads=2")
    con.execute("SET preserve_insertion_order=false")
    con.execute("SET TimeZone='UTC'")
    return con


class Workload:
    name = ""
    # warm passes every run measures at least; with the pass size this fixes
    # the guaranteed sample count, and so the tail percentile
    min_warm_passes = 3
    # passes the traced run measures with the event log attached
    trace_passes = 1

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.rng = random.Random(seed)
        self.inputs: dict[str, int] = {}

    def stage(self) -> None:
        """Generate and stage inputs (part of set-up)."""
        raise NotImplementedError

    def ops(self, spark, shuffle: bool = True) -> list[Op]:
        """The operations of one pass, in this pass's order: shuffled by
        the seed, or in their declared order (the cold pass, which runs
        as a scheduled job would)."""
        raise NotImplementedError

    def check(self, spark) -> dict[str, list[str]]:
        """Oracle mismatches by operation name (empty lists = pass)."""
        raise NotImplementedError

    def input_bytes(self) -> int:
        total = 0
        for root, _dirs, files in os.walk(os.path.join(self.work, "inputs")):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total


class RegistryWorkload(Workload):
    """Runs named ``queries()`` entries over seeded TPC-H-ish tables and
    checks each against its ``oracle_sql()`` text. The seed shuffles the
    order of every pass; the tables come from a fixed data seed so the
    oracle results can be cached across runs by input fingerprint."""

    DATA_SEED = 42
    SF = 0.02
    ENTRIES: list[str] = []

    def stage(self) -> None:
        self.sf_dir = os.path.join(self.work, "inputs", "sf")
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        self.inputs = datagen.tables(self.sf_dir, self.SF, self.DATA_SEED)

    def _entry_ops(self, spark) -> list[Op]:
        queries, _ = _registry()
        return [
            Op(name, queries[name].__module__.removeprefix(PKG),
               lambda fn=queries[name]: noop(fn(spark, self.sf_dir)))
            for name in self.ENTRIES
        ]

    def ops(self, spark, shuffle: bool = True) -> list[Op]:
        ops = self._entry_ops(spark)
        if shuffle:
            self.rng.shuffle(ops)
        return ops

    def _oracle(self):
        from tests.oracle_harness import register_views

        con = CachedOracle(duck(self.work), os.path.join(self.work, "oracle_cache"), fingerprint(self.sf_dir))
        register_views(con, self.sf_dir)
        return con

    def check_items(self, spark) -> list[tuple[str, Callable, str]]:
        queries, oracle = _registry()
        return [
            (name, lambda fn=queries[name]: fn(spark, self.sf_dir), oracle[name])
            for name in self.ENTRIES
        ]

    def check(self, spark) -> dict[str, list[str]]:
        with contextlib.closing(self._oracle()) as con:
            return compare_all(con, self.check_items(spark))


class SqlInteractive(RegistryWorkload):
    name = "sql_interactive"
    ENTRIES = [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "j6_banded_range_join",
        "a9_percentiles",
        "w3_lag_headway",
        "m5_analog_headways",
        "ingest_flatten_roundtrip",
    ]


class CorpusCuration(RegistryWorkload):
    name = "corpus_curation"
    min_warm_passes = 7
    trace_passes = 2
    ENTRIES = [
        "dedup_exact",
        "dedup_minhash_lsh",
        "text_decontaminate",
        "pack_sequences",
    ]
    SINKS = ["stream_dedup_ingest"]

    def stage(self) -> None:
        super().stage()
        self.stream_in = os.path.join(self.work, "inputs", "stream_in")
        os.makedirs(self.stream_in, exist_ok=True)
        shutil.copy(os.path.join(self.sf_dir, "documents.parquet"), self.stream_in)
        self.sink_root = os.path.join(self.work, "sinks")
        shutil.rmtree(self.sink_root, ignore_errors=True)
        self._sink_seq = 0
        self.last_sink_out: dict[str, str] = {}

    def _sink_op(self, spark, name: str) -> Op:
        from mta_rtf_dbt_spark.streaming import upsert

        sink = getattr(upsert, name)

        def run() -> list[str]:
            self._sink_seq += 1
            out = os.path.join(self.sink_root, f"{self._sink_seq:04d}-{name}")
            schema = spark.read.parquet(self.stream_in).schema
            stream = spark.readStream.schema(schema).parquet(self.stream_in)
            q = sink(spark, stream, f"{out}/corpus", f"{out}/index", f"{out}/ckpt")
            self.last_sink_out[name] = f"{out}/corpus"
            if not q.awaitTermination(SINK_TIMEOUT_S):
                q.stop()
                raise OpTimeout(name)
            return [str(q.runId)]

        return Op(name, "streaming.upsert", run)

    def ops(self, spark, shuffle: bool = True) -> list[Op]:
        ops = self._entry_ops(spark) + [self._sink_op(spark, n) for n in self.SINKS]
        if shuffle:
            self.rng.shuffle(ops)
        return ops

    def check_items(self, spark) -> list[tuple[str, Callable, str]]:
        _, oracle = _registry()
        # one micro-batch holds the whole corpus, so the sink keeps exactly
        # the batch exact-dedup survivors (keep-first per content hash)
        want = f"SELECT canonical_doc_id AS doc_id FROM ({oracle['dedup_exact']}) AS d"
        return super().check_items(spark) + [
            (name, lambda out=self.last_sink_out[name]: spark.read.parquet(out).select("doc_id"), want)
            for name in self.SINKS
        ]

    def lsh_ratios(self, spark) -> dict[str, float]:
        """Verified group pairs per MinHash-LSH candidate group pair and
        ANN candidates per query (the two wasted-work ratios)."""
        from pyspark.sql import functions as F

        from mta_rtf_dbt_spark.operators.dedup import minhash_lsh_stages
        from mta_rtf_dbt_spark.operators.similarity import ann_lsh_topk
        from mta_rtf_dbt_spark.sources.registry import load

        # candidates are pairs of shingle-set groups; map the verified
        # document pairs back to group pairs so both sides count alike
        mh = minhash_lsh_stages(load(spark, self.sf_dir, "documents"))
        n_cand = mh["candidates"].count()
        member = mh["groups"].select("gid", F.explode("docs").alias("doc"))
        n_ver = (
            mh["verified"]
            .join(member.toDF("ga", "doc_a"), "doc_a")
            .join(member.toDF("gb", "doc_b"), "doc_b")
            .filter(F.col("ga") != F.col("gb"))
            .select(F.least("ga", "gb").alias("x"), F.greatest("ga", "gb").alias("y"))
            .distinct()
            .count()
        )
        emb = load(spark, self.sf_dir, "embeddings")
        queries = emb.filter(F.col("vec_id") < 5)
        stages: dict = {}
        noop(ann_lsh_topk(emb, queries, k=5, queries_in_corpus=True, stages_out=stages))
        return {
            "operators.dedup.lsh_verified_per_candidate": n_ver / n_cand if n_cand else 0.0,
            "operators.similarity.ann_candidates_per_query": stages["candidates"].count()
            / queries.count(),
        }


class MtaServiceDay(Workload):
    """The paper's pipeline over ``sources.fixtures.generate`` output,
    re-nested into one decoder-shaped file per feed poll."""

    name = "mta_service_day"
    min_warm_passes = 1
    # sized to the run budget (README, "Known limits")
    N_TRIPS = 500
    N_SNAPSHOTS = 4
    REALTIME = ["trip_updates", "trip_updates__trip_update__stop_time_update", "alerts"] + [
        f"alerts__alert__{c}" for c in datagen.ALERT_CHILDREN
    ]

    def stage(self) -> None:
        from mta_rtf_dbt_spark.sources import fixtures

        inputs = os.path.join(self.work, "inputs")
        shutil.rmtree(inputs, ignore_errors=True)
        flat = os.path.join(inputs, "flat")
        self.inputs = fixtures.generate(flat, n_trips=self.N_TRIPS, n_snapshots=self.N_SNAPSHOTS, seed=self.seed)
        self.polls = os.path.join(inputs, "polls")
        datagen.nested_polls(flat, self.polls)
        # static GTFS arrives as files, staged next to where the landed
        # realtime tables go, so the registry reads all 12 from one place
        self.landed = os.path.join(self.work, "landed")
        shutil.rmtree(self.landed, ignore_errors=True)
        os.makedirs(self.landed)
        for t in fixtures.MTA_TABLES:
            if t not in self.REALTIME:
                shutil.copy(os.path.join(flat, f"{t}.parquet"), self.landed)
        self.marts = os.path.join(self.work, "marts")

    def _land_trip_updates(self, spark, poll: str) -> None:
        from mta_rtf_dbt_spark.sources.ingest import flatten_parent_child

        load_id = os.path.basename(poll).removeprefix("poll-").removesuffix(".parquet")
        parent, child = flatten_parent_child(
            spark.read.parquet(poll), "stop_time_update", ["entity_id", "trip_update.timestamp"], load_id
        )
        parent.write.mode("append").parquet(self._landed("trip_updates"))
        child.write.mode("append").parquet(self._landed("trip_updates__trip_update__stop_time_update"))

    def _land_alerts(self, spark, poll: str) -> None:
        from pyspark.sql.types import ArrayType

        from mta_rtf_dbt_spark.sources.ingest import flatten_parent_child

        df = spark.read.parquet(poll)
        arrays = [f.name for f in df.schema.fields if isinstance(f.dataType, ArrayType)]
        for i, child_name in enumerate(datagen.ALERT_CHILDREN):
            parent, child = flatten_parent_child(df, child_name, ["entity_id", "as_of"], "aload0")
            if i == 0:
                parent.drop(*arrays).write.mode("append").parquet(self._landed("alerts"))
            child.write.mode("append").parquet(self._landed(f"alerts__alert__{child_name}"))

    def _landed(self, table: str) -> str:
        return os.path.join(self.landed, f"{table}.parquet")

    def ops(self, spark, shuffle: bool = True) -> list[Op]:
        from pyspark.sql import functions as F

        from mta_rtf_dbt_spark.metrics import guide
        from mta_rtf_dbt_spark.plans import mta_models
        from mta_rtf_dbt_spark.sources.fixtures import MTA_TABLES
        from mta_rtf_dbt_spark.sources.registry import load

        state: dict = {}
        # every pass lands the day from scratch (untimed: before its first op)
        for t in self.REALTIME:
            shutil.rmtree(self._landed(t), ignore_errors=True)
        shutil.rmtree(self.marts, ignore_errors=True)
        polls = sorted(os.listdir(os.path.join(self.polls, "trip_updates")))
        ops = [
            Op(f"land_{p.removesuffix('.parquet')}", "sources.ingest",
               lambda p=p: self._land_trip_updates(spark, os.path.join(self.polls, "trip_updates", p)))
            for p in polls
        ]
        ops.append(Op("land_alerts", "sources.ingest",
                      lambda: self._land_alerts(spark, os.path.join(self.polls, "alerts", "poll-0.parquet"))))

        def load_sources() -> None:
            state["src"] = {t: load(spark, self.landed, t) for t in MTA_TABLES}

        def build() -> None:
            state["models"] = mta_models.build_all(spark, state["src"], register_views=False)

        def mat_stops() -> None:
            mta_models.materialize(
                state["models"]["fact_trips_stops"], self._mart("fact_trips_stops"), ["service_day_local"]
            )

        def mat_trips() -> None:
            ft = state["models"]["fact_trips"].withColumn("last_feed_date", F.to_date("last_feed_ts_utc"))
            mta_models.materialize(ft, self._mart("fact_trips"), ["last_feed_date"])

        def load_marts() -> None:
            models = dict(state["models"])
            models["fact_trips_stops"] = load(spark, self.marts, "fact_trips_stops")
            models["fact_trips"] = load(spark, self.marts, "fact_trips").drop("last_feed_date")
            state["marts"] = models

        ops += [
            Op("load_sources", "sources.registry", load_sources),
            Op("build_all", "plans.mta_models.build_all", build),
            Op("materialize_fact_trips_stops", "plans.mta_models.materialize", mat_stops),
            Op("materialize_fact_trips", "plans.mta_models.materialize", mat_trips),
            Op("load_marts", "sources.registry", load_marts),
        ]
        metric_ops = [
            Op(name, "metrics.guide", lambda fn=fn: noop(fn(state["marts"], state["src"])))
            for name, fn in metric_calls(guide).items()
        ]
        if shuffle:
            self.rng.shuffle(metric_ops)
        self._state = state
        return ops + metric_ops

    def _mart(self, table: str) -> str:
        return os.path.join(self.marts, f"{table}.parquet")

    def check(self, spark) -> dict[str, list[str]]:
        con = CachedOracle(duck(self.work), os.path.join(self.work, "oracle_cache"), fingerprint(self.landed))
        with contextlib.closing(con):
            return compare_all(con, self._check_items(con))

    def _check_items(self, con) -> list[tuple[str, Callable, str]]:
        from mta_rtf_dbt_spark.metrics import guide
        from mta_rtf_dbt_spark.plans.mta_oracle import METRIC_SQL, MODEL_VIEWS
        from mta_rtf_dbt_spark.sources.fixtures import MTA_TABLES

        for t in MTA_TABLES:
            path = self._landed(t)
            src = f"{path}/*.parquet" if os.path.isdir(path) else path
            con.execute(f"CREATE OR REPLACE VIEW \"{t}\" AS SELECT * FROM read_parquet('{src}')")
        for view in MODEL_VIEWS:
            # views, as in tests/test_mta_metrics: over TABLE copies of the
            # oracle models the M12 oracle SQL returns varying results
            con.execute(view)
        marts, src = self._state["marts"], self._state["src"]
        items = [
            (name, lambda fn=fn: fn(marts, src), METRIC_SQL[name.split("_")[0]])
            for name, fn in metric_calls(guide).items()
        ]
        items += [
            (f"rows_{model}",
             lambda m=model: marts[m].groupBy().count().withColumnRenamed("count", "n"),
             f"SELECT CAST(COUNT(*) AS BIGINT) AS n FROM o_{model}")
            for model in ["fact_trips_stops", "fact_trips", "fact_delays", "fact_alerts"]
        ]
        return items


def metric_calls(guide) -> dict[str, Callable]:
    """M1-M12 with the canonical parameters of ``plans.mta_oracle``."""
    from mta_rtf_dbt_spark.plans.mta_oracle import DAY, END, START, STOP_A, STOP_B

    return {
        "m1_trips_per_minute": lambda m, s: guide.m1_trips_per_minute(m, START, END),
        "m2_trips_per_5min": lambda m, s: guide.m2_trips_per_5min(m, START, END),
        "m3_service_delivered": lambda m, s: guide.m3_service_delivered(m, s, DAY),
        "m4_terminal_otp": lambda m, s: guide.m4_terminal_otp(m, s, DAY),
        "m5_headways": lambda m, s: guide.m5_headways(m, STOP_A, DAY),
        "m6_dwell_times": lambda m, s: guide.m6_dwell_times(m),
        "m7_run_time": lambda m, s: guide.m7_run_time(m, STOP_A, STOP_B),
        "m8_excess_delay": lambda m, s: guide.m8_excess_delay(m, s, DAY, STOP_A),
        "m9_completeness": lambda m, s: guide.m9_completeness(m),
        "m10_added_canceled_share": lambda m, s: guide.m10_added_canceled_share(m),
        "m11_feed_latency": lambda m, s: guide.m11_feed_latency(m),
        "m12_wait_assessment": lambda m, s: guide.m12_wait_assessment(m, s, STOP_A, DAY),
    }


WORKLOADS = {w.name: w for w in (MtaServiceDay, SqlInteractive, CorpusCuration)}
