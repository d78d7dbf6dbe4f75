"""The three workloads. Each has ``prepare`` (untimed), ``measure``
(the timed window) and ``check`` (untimed output verification), and
reports operation latencies in two classes: ``read`` (an operation that
returns a result: a registry query, a chain read) and ``commit`` (an
operation that writes the chain)."""

from __future__ import annotations

import os
import shutil
import time

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import inputs
from digest import frame_digest


class Workload:
    name = ""
    #: passes run even when the window is over
    MIN_PASSES = 1

    def __init__(self, spark, data: str, work: str, seed: int, tracer):
        self.spark, self.data, self.work, self.seed, self.tr = spark, data, work, seed, tracer
        self.walls: list[float] = []
        #: (pass index, kind, seconds, operation) with kind read, commit
        #: or freshness
        self.samples: list[tuple[int, str, float, str]] = []
        self.attempted = 0
        self.retries = 0
        self.errors: list[str] = []

    def prepare(self) -> None:
        pass

    def measure(self, seconds: float) -> None:
        """Run whole passes (rounds) until ``seconds`` have gone by and at
        least ``MIN_PASSES`` have run."""
        t0 = time.perf_counter()
        while self.has_next() and (
            time.perf_counter() - t0 < seconds or len(self.walls) < self.MIN_PASSES
        ):
            with self.tr.span("pass", n=len(self.walls)) as sp:
                self.one_pass()
            self.walls.append(sp.dur)

    def measured(self) -> list[int]:
        """The passes the metrics are taken over (see the subclasses)."""
        raise NotImplementedError

    def has_next(self) -> bool:
        """Whether another pass (round) may start."""
        raise NotImplementedError

    def sample(self, kind: str, seconds: float, what: str = "") -> None:
        self.samples.append((len(self.walls), kind, seconds, what))

    def values(self, kind: str) -> list[float]:
        keep = set(self.measured())
        return [v for p, k, v, _ in self.samples if k == kind and p in keep]

    def stream_progress(self) -> list[dict]:
        return []

    def bytes_per_user_byte(self) -> float:
        return 0.0

    def stop(self) -> None:
        pass

    def fail(self, what: str) -> None:
        self.errors.append(what)


class QueryWorkload(Workload):
    """Registry queries, each built by its ``Query.fn`` (the ``plans``
    layer, including the eager actions inside it) and then delivered to
    the driver with ``toPandas`` (scans, shuffles, codegen, Python
    workers). A query's read latency is build plus delivery."""

    queries: tuple[str, ...] = ()

    def measured(self) -> list[int]:
        """The one pass. These are batch jobs: a user runs each once per
        session and pays for planning and code generation of its queries
        every time, so the first pass after the generic set-up is what
        they see."""
        return [0]

    def has_next(self) -> bool:
        return not self.walls

    def prepare(self) -> None:
        from portfolio1_etl_spark.plans import REGISTRY

        self.registry = REGISTRY
        self.results: dict[str, object] = {}

    def one_pass(self) -> None:
        for name in self.queries:
            self.attempted += 1
            try:
                with self.tr.span("plans.build", query=name) as b:
                    df = self.registry[name].fn(self.spark, self.data)
                with self.tr.span("plans.exec", query=name) as e:
                    pdf = df.toPandas()
            except Exception as ex:  # noqa: BLE001 — counted, reported, run goes on
                self.fail(f"{name}: {type(ex).__name__}: {str(ex)[:200]}")
                continue
            self.sample("read", b.dur + e.dur, name)
            self.results[name] = pdf
            self.spark.catalog.clearCache()

    def check(self) -> None:
        """Every result against the query's DuckDB oracle SQL over the
        same tables."""
        import duckdb

        from tools.check_oracle import _compare

        con = duckdb.connect()
        for t in inputs.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')")
        for name, got in self.results.items():  # a query that raised is counted already
            ok, msg = _compare(got, con.sql(self.registry[name].sql).df())
            if not ok:
                self.fail(f"{name}: differs from the oracle: {msg}")


class EtlBatch(QueryWorkload):
    """The reference pipeline's enriched-sales report (EP3), a relational
    aggregate, a sort-merge join, a window query and a star join over
    the x20 tables."""

    name = "etl_batch"
    queries = (
        "q01_pricing_summary",
        "q09_sortmerge_join",
        "q20_window_lag",
        "q43_enriched_sales",
        "q205_profit_by_nation_year",
    )


class LlmPrep(QueryWorkload):
    """LLM data preparation: corpus preparation, connected-components
    dedup fixpoints and near-duplicate clusters, an IVF-PQ index build and probe
    (``overlap_jobs``), BPE chunk packing (``functions.bpe``), and the
    Python-worker boundary: PNG decode through ``mapInPandas`` and a
    scalar pandas UDF (``operators.udfs``)."""

    name = "llm_prep"
    queries = (
        "q100_corpus_prep",
        "q129_dedup_recall",
        "q265_ivfpq_index_probe",
        "q102_png_decode",
        "q89_dup_clusters",
        "q109_chunking_bpe",
        "q132_udf_scalar_tokens",
    )


class ChainRw(Workload):
    """Writes beside reads on one manifest chain with change capture,
    plus a CDC stream folding one landed ``events`` slice per round."""

    name = "chain_rw"
    KEY = ["o_orderkey"]
    #: rounds keep getting faster until the third, so the measured rounds
    #: (all after the first) always include the second and the third
    MIN_PASSES = 3
    MAX_ROUNDS = 5
    #: time travel reads the version two commits back from the delete: the
    #: previous round's compaction (v0 in the first round). A seeded depth
    #: made the read's cost, and so the round, vary with the seed.
    TRAVEL_BACK = 2
    SLICE = 1000

    def prepare(self) -> None:
        from portfolio1_etl_spark.operators.sinks import write_versioned
        from portfolio1_etl_spark.streaming import read_events_stream, versioned_cdc_stream

        root = os.path.join(self.work, "chain", f"{self.seed}-{os.getpid()}")
        shutil.rmtree(root, ignore_errors=True)
        self.root = root
        self.chain = os.path.join(root, "orders_chain")
        self.land = os.path.join(root, "land")
        src = os.path.join(root, "src")
        os.makedirs(self.land)
        os.makedirs(src)

        orders = pq.read_table(os.path.join(self.data, "orders.parquet"))
        self.states = [orders]  # expected table per chain version
        self.ops = []
        state = orders
        for r, op in enumerate(inputs.chain_ops(orders, self.seed, self.MAX_ROUNDS)):
            ups = inputs.upsert_rows(state, op)
            dels = pa.table({"o_orderkey": pa.array(op["delete"], pa.int64())})
            pq.write_table(ups, os.path.join(src, f"upsert-{r}.parquet"))
            pq.write_table(dels, os.path.join(src, f"delete-{r}.parquet"))
            keys = pc.is_in(state.column("o_orderkey"), value_set=ups.column("o_orderkey"))
            state = pa.concat_tables([state.filter(pc.invert(keys)), ups])
            self.states.append(state)
            gone = pc.is_in(state.column("o_orderkey"), value_set=dels.column("o_orderkey"))
            state = state.filter(pc.invert(gone))
            self.states.append(state)
            self.states.append(state)  # compaction changes layout, not rows
            self.ops.append(
                {
                    "upsert": os.path.join(src, f"upsert-{r}.parquet"),
                    "delete": os.path.join(src, f"delete-{r}.parquet"),
                }
            )

        events = pq.read_table(os.path.join(self.data, "events.parquet"))
        self.slices = inputs.event_slices(events, self.seed, self.MAX_ROUNDS + 1, self.SLICE)
        self.landed = 0
        self._land()

        v0 = write_versioned(
            self.spark.read.parquet(os.path.join(self.data, "orders.parquet")),
            self.chain, capture_changes=True, manifest=True,
        )
        if v0 != 0:
            self.fail(f"initial chain version is {v0}, expected 0")
        self.cdc = os.path.join(root, "cdc_chain")
        self.stream = (
            versioned_cdc_stream(read_events_stream(self.spark, self.land), self.cdc, stream_id="bench")
            .trigger(processingTime="250 milliseconds")
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .start()
        )
        self.stream.processAllAvailable()
        self.read_log: list[tuple] = []
        self.versions: list[int] = []

    def measured(self) -> list[int]:
        """Every round after the first, which warms the chain's code
        paths. Commits arrive all the time here, so the steady state is
        what users see."""
        return list(range(1, len(self.walls)))

    def _land(self) -> float:
        """Land the next slice atomically (a hidden temp file, renamed)."""
        i = self.landed
        tmp = os.path.join(self.land, f".tmp-{i}.parquet")
        pq.write_table(self.slices[i], tmp)
        os.rename(tmp, os.path.join(self.land, f"file-{i:04d}.parquet"))
        self.landed += 1
        return time.time()

    def has_next(self) -> bool:
        return len(self.walls) < self.MAX_ROUNDS

    def _commit(self, what: str, fn, *args) -> int | None:
        self.attempted += 1
        try:
            with self.tr.span("sinks.commit", op=what) as sp:
                v = fn(self.spark, self.chain, *args)
        except Exception as ex:  # noqa: BLE001
            self.fail(f"{what}: {type(ex).__name__}: {str(ex)[:200]}")
            return None
        self.sample("commit", sp.dur, what)
        expected = self.versions[-1] + 1 if self.versions else 1
        self.retries += max(0, v - expected)  # versions taken by a lost commit race
        self.versions.append(v)
        return v

    def _read(self, what: str, expect: tuple, fn, *args) -> None:
        self.attempted += 1
        try:
            with self.tr.span("sinks.read", op=what) as sp:
                pdf = fn(self.spark, self.chain, *args).toPandas()
        except Exception as ex:  # noqa: BLE001
            self.fail(f"{what}: {type(ex).__name__}: {str(ex)[:200]}")
            return
        self.sample("read", sp.dur, what)
        self.read_log.append((what, expect, pdf))

    def one_pass(self) -> None:
        from portfolio1_etl_spark.operators.sinks import (
            compact_versioned,
            delete_from_chain,
            read_changes,
            read_version,
            upsert_into_chain,
        )

        r = len(self.walls)
        op = self.ops[r]
        up = self.spark.read.parquet(op["upsert"])
        dl = self.spark.read.parquet(op["delete"])
        v = self._commit("upsert", upsert_into_chain, up, self.KEY)
        self._read("latest", ("version", 3 * r + 1), read_version)
        v = self._commit("delete", delete_from_chain, dl, self.KEY)
        if v is not None:
            self._read("changes", ("changes", v - 1, v), read_changes, v - 1, v)
            back = v - self.TRAVEL_BACK
            self._read("time_travel", ("version", back), read_version, back)
        self._commit("compact", compact_versioned)

        self.attempted += 1
        with self.tr.span("stream.fold"):
            landed = self._land()
            try:
                self.stream.processAllAvailable()
            except Exception as ex:  # noqa: BLE001
                self.fail(f"stream: {type(ex).__name__}: {str(ex)[:200]}")
                return
            self.sample("freshness", time.time() - landed)

    def stream_progress(self) -> list[dict]:
        return [
            p for p in self.stream.recentProgress
            if p.get("numInputRows", 0) > 0
        ]

    def bytes_per_user_byte(self) -> float:
        """Bytes under the chain directory over the bytes of one fresh
        parquet write of the final table (same writer, same compression)."""
        from portfolio1_etl_spark.operators.sinks import read_version

        def du(path):
            return sum(
                os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
            )

        fresh = os.path.join(self.root, "fresh")
        read_version(self.spark, self.chain).write.parquet(fresh)
        return du(self.chain) / du(fresh)

    def stop(self) -> None:
        self.stream.stop()

    def check(self) -> None:
        """Chain reads against the replayed states; the CDC chain against
        the one-shot batch aggregate of every landed slice."""
        from pyspark.sql import functions as F

        from portfolio1_etl_spark.operators.sinks import read_version
        from tools.check_oracle import _compare

        expected_v = list(range(1, 1 + len(self.versions)))
        if self.versions != expected_v[: len(self.versions)]:
            self.fail(f"chain versions {self.versions}, expected {expected_v}")
        for what, expect, pdf in self.read_log:
            if expect[0] == "version":
                want = self.states[expect[1]].to_pandas()
            else:
                want = changes(self.states[expect[1]], self.states[expect[2]])
            if frame_digest(pdf) != frame_digest(want):
                self.fail(f"{what} read {expect} differs from the replay")

        got = read_version(self.spark, self.cdc).toPandas()
        raw = self.spark.read.parquet(self.land)
        want = (
            raw.groupBy(F.col("event_type").alias("sku"))
            .agg(
                F.sum(F.col("value").cast("decimal(18,2)")).alias("qty"),
                F.count(F.lit(1)).cast("long").alias("n"),
            )
            .toPandas()
        )
        ok, msg = _compare(got, want)
        if not ok:
            self.fail(f"CDC chain differs from the batch aggregate of the landed slices: {msg}")


def changes(before: pa.Table, after: pa.Table):
    """Row-level change feed between two replayed states (multiset
    difference both ways), as ``read_changes`` without key columns
    reports it: the data columns plus ``_change``."""
    a = before.to_pandas()
    b = after.to_pandas()
    cols = list(a.columns)
    m = a.merge(b, how="outer", on=cols, indicator=True)
    ins = m[m["_merge"] == "right_only"][cols].assign(_change="insert")
    dels = m[m["_merge"] == "left_only"][cols].assign(_change="delete")
    return pd.concat([ins, dels], ignore_index=True)


WORKLOADS = {w.name: w for w in (EtlBatch, LlmPrep, ChainRw)}
