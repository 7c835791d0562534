"""The benchmark's workloads, their inputs and their correctness checks.

Every workload is one client in a closed loop: the next operation starts
only when the previous one has returned. An operation is the unit the
end-to-end latency is taken over; it is made of one or more steps, each
with a type (commit, merge, replace, read.<kind>, compaction,
query.<key>) that the per-layer counts are grouped by. Its latency is the
sum of its steps' times, so the checks between steps are not timed.

A run repeats the workload's cycle, a fixed sequence of operations, a
whole number of times: ``--seconds`` divided by the cycle's nominal
length on a 4-core machine. Every run of a workload therefore does the
same operations, whatever the machine's speed, and only the seed changes
the data they work on.

Why these three (each stresses a different layer; for a change to one
layer one of them exercises it and another bypasses it):

* ``microbatch_ingest`` -- small messy dict batches, one snapshot per call:
  the fixed per-commit cost (Spark job launch, metadata resolution along
  the manifest delta chain) dominates; data work is tiny.
* ``cdc_read_mix`` -- merge-on-read upserts with point, range, aggregate
  and time-travel reads beside them, and after every three upserts a
  copy-on-write replace of a key range followed by compaction: read cost
  grows with pending delete files until compaction clears them.
* ``operator_mix`` -- passes over a pinned sample of Part B operators on
  parquet inputs, each pass over its own copy of the inputs so that no
  pass finds another's process-local memos; the snapshot table layer is
  bypassed, so a table-layer change should move nothing here.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

import datagen

#: Scale factors of the generated inputs (lineitem ~= 6M * sf rows).
CDC_SF = 0.1
EVENTS_SF = 0.1
OPERATOR_SF = 0.01

MICROBATCH_ROWS = 1_000
EVOLVE_EVERY = 20
CDC_UPSERT_SHARE = 0.01
CDC_KEEP_LAST = 5
#: Upsert rounds between compactions: up to this many delete files pend.
CDC_ROUNDS = 3

#: One key from each of five operator modules (dedup, multimodal, streaming,
#: timeseries, relational), pinned so that every run times the same
#: queries. The sample is sized so that two cold passes fill a run on a
#: 4-core machine.
OPERATOR_KEYS = (
    "ngram_jaccard_pairs",
    "multimodal_decode_features",
    "stream_session_30m_users",
    "winsorize_value_by_type",
    "q1_pricing_summary",
)

STEP_TYPES = ("commit", "merge", "replace", "read", "compaction", "query")
READ_KINDS = ("point", "range", "aggregate", "time_travel")


def cents(values) -> int:
    """Exact integer sum of 2-decimal money values."""
    return int(pc.sum(pc.round(pc.multiply(values, 100.0))).as_py() or 0)


def spark_cents(col: str) -> str:
    return f"CAST(sum(CAST(round({col} * 100) AS BIGINT)) AS BIGINT)"


class Run:
    """State of one benchmark run: the session, the tracer and the samples.

    The tracer always exists; it records only in a traced run, after
    set-up. ``jobs`` is set in a traced run only.
    """

    def __init__(self, spark, seed, work_dir, tracer, counting=False):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.tracer = tracer
        self.counting = counting
        self.jobs = None
        self.rng = np.random.default_rng([seed, 7])
        self.op_latencies: list[float] = []
        self.steps: list[tuple[str, float]] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.step_id = 0

    def reset_samples(self) -> None:
        """Forget what set-up did, so only the timed operations count."""
        self.op_latencies.clear()
        self.steps.clear()
        self.attempted = self.failed = 0

    def warehouse(self, name: str):
        from iceberg_loader_spark.tables import Warehouse

        path = os.path.join(self.work_dir, name)
        if not self.counting:
            return Warehouse(path)
        from tracing import CountingBackend

        return Warehouse(
            path, backend_factory=lambda root: CountingBackend(root, self.tracer)
        )

    def step(self, step_type: str, fn):
        """Run one step under its own Spark job group and trace span."""
        self.step_id += 1
        self.tracer.op_id = self.step_id
        self.tracer.op_type = step_type
        if self.jobs is not None:
            self.jobs.start(self.step_id, step_type)
        if self.tracer.enabled and step_type.startswith("read."):
            self.tracer.counts["reads"] += 1
            self.tracer.counts["pending_delete_files"] += self.tracer.pending_delete_files
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{step_type.split('.')[0]}"):
                return fn()
        finally:
            self.steps.append((step_type, time.perf_counter() - t0))
            if self.jobs is not None:
                self.jobs.stop()

    def op(self, fn) -> None:
        """Run one operation; ``fn`` returns whether its inline check held.

        The operation's latency is the sum of its steps' times: the checks
        and the benchmark's housekeeping around the steps are not timed.
        """
        self.attempted += 1
        first = len(self.steps)
        try:
            ok = fn()
        except Exception:  # a failed operation is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            self.problems.append(f"operation {self.attempted} raised")
            ok = False
        self.op_latencies.append(sum(sec for _, sec in self.steps[first:]))
        if not ok:
            self.failed += 1

    def check(self, label: str, got, want) -> bool:
        if got != want:
            self.problems.append(f"{label}: got {got!r}, want {want!r}")
            return False
        return True


# ---- microbatch_ingest ---------------------------------------------------


class MicrobatchIngest:
    """1,000 messy dict rows per ``load_data`` call into a ``day(ts)``
    table with ``commit_interval=1``: one snapshot per call."""

    name = "microbatch_ingest"
    # one full-manifest period of the delta chain, so every cycle sees the
    # same mix of chain depths
    cycle_ops = 8
    nominal_cycle_s = 3.0

    def __init__(self, run: Run):
        self.run = run
        events = datagen.generate(run.seed, EVENTS_SF, ["events"])["events"]
        self.events = events
        self.n_batches = events.num_rows // MICROBATCH_ROWS
        self.next_batch = 0
        self.loaded: list[int] = []

    def _rows(self, b: int) -> list[dict]:
        """Batch ``b`` as messy dicts: ``props`` decoded to nested values,
        some ``value`` fields as numeric strings, and every
        ``EVOLVE_EVERY``-th batch with one key the table has not seen."""
        rng = np.random.default_rng([self.run.seed, 11, b])
        rows = self.events.slice(b * MICROBATCH_ROWS, MICROBATCH_ROWS).to_pylist()
        tags = ["web", "ios", "android", "api"]
        for i, r in enumerate(rows):
            props = json.loads(r["props"])
            if i % 3 == 0:
                props["ctx"] = {"src": tags[(b + i) % 4], "depth": i % 5}
            if i % 7 == 0:
                props["tags"] = tags[: 1 + i % 4]
            r["props"] = props
        if b % 5 == 4:
            for i in rng.choice(len(rows), 10, replace=False):
                rows[i]["value"] = f"{rows[i]['value']:.2f}"
        if b % EVOLVE_EVERY == EVOLVE_EVERY - 1:
            for i, r in enumerate(rows):
                r[f"extra_{b}"] = b * 10_000 + i
        return rows

    def _config(self):
        from iceberg_loader_spark import LoaderConfig

        return LoaderConfig(
            partition_by="day(ts)",
            commit_interval=1,
            batch_size=MICROBATCH_ROWS,
            schema_evolution=True,
        )

    def setup(self) -> None:
        from iceberg_loader_spark import SparkLoader

        self.wh = self.run.warehouse("microbatch")
        self.loader = SparkLoader(self.run.spark, self.wh)
        self.cfg = self._config()
        # one untimed cycle creates the table and warms the commit path
        for _ in range(self.cycle_ops):
            self._commit(self._rows(self.next_batch))

    def _commit(self, rows) -> bool:
        b = self.next_batch
        self.next_batch += 1
        res = self.run.step(
            "commit", lambda: self.loader.load_data(rows, "db.events", self.cfg)
        )
        self.loaded.append(b)
        return self.run.check(f"batch {b} rows", res["rows_loaded"], len(rows))

    def cycle(self) -> list:
        if self.next_batch + self.cycle_ops > self.n_batches:
            raise ValueError("the generated events are too few for this many cycles")
        batches = [self._rows(self.next_batch + i) for i in range(self.cycle_ops)]
        return [lambda rows=rows: self._commit(rows) for rows in batches]

    def verify(self) -> None:
        ev = pa.concat_tables(
            [self.events.slice(b * MICROBATCH_ROWS, MICROBATCH_ROWS) for b in self.loaded]
        )
        extra_cols = [
            f"extra_{b}" for b in self.loaded if b % EVOLVE_EVERY == EVOLVE_EVERY - 1
        ]
        row = (
            self.wh.load_table("db.events")
            .scan(self.run.spark)
            .selectExpr(
                "count(*)",
                "sum(event_id)",
                spark_cents("value"),
                *(f"count({c})" for c in extra_cols),
            )
            .collect()[0]
        )
        r = self.run
        ok = r.check("events rows", row[0], ev.num_rows)
        ok &= r.check("sum(event_id)", row[1], pc.sum(ev["event_id"]).as_py())
        ok &= r.check("sum(value) cents", row[2], cents(ev["value"]))
        for i, c in enumerate(extra_cols):
            ok &= r.check(f"count({c})", row[3 + i], MICROBATCH_ROWS)
        if not ok:
            r.failed += 1


# ---- cdc_read_mix ----------------------------------------------------------


class CdcReadMix:
    """``orders`` loaded once; then rounds of one merge-on-read upsert of a
    seeded 1% key sample, each followed by a point lookup, a key-range
    scan, a full aggregate by ``o_orderstatus`` and a time-travel read two
    versions back. A cycle is ``CDC_ROUNDS`` rounds, so that many
    equality-delete files build up, then a copy-on-write replace-by-filter
    of a 1% key range and compaction: ``rewrite_data_files`` plus
    ``expire_snapshots(keep_last=5)``.

    Reads are checked against an in-memory replay of every change: each
    key's status and price, and each table version's live row count and
    price sum."""

    name = "cdc_read_mix"
    nominal_cycle_s = 16.0

    def __init__(self, run: Run):
        self.run = run
        self.orders = datagen.generate(run.seed, CDC_SF, ["orders"])["orders"]
        n = self.orders.num_rows
        self.n = n
        # in-memory replay of every change: key -> (status, price)
        self.status = self.orders["o_orderstatus"].to_pylist()
        self.price_cents = [
            round(p * 100) for p in self.orders["o_totalprice"].to_pylist()
        ]
        self.total_cents = sum(self.price_cents)
        # table version -> (live rows, sum of price cents), or None for a
        # version inside a step whose state the replay does not know
        self.versions: dict[int, tuple[int, int] | None] = {}
        self.version = -1

    def setup(self) -> None:
        from iceberg_loader_spark import LoaderConfig, SparkLoader

        self.wh = self.run.warehouse("cdc")
        self.loader = SparkLoader(self.run.spark, self.wh)
        self.loader.load_data(
            self.orders, "db.orders", LoaderConfig(batch_size=self.n)
        )
        self.table = self.wh.load_table("db.orders")
        self.loaded_version = self._record()
        # one untimed round, replace and compaction warm every path
        for fn in self._round() + [self._replace, self._compact]:
            if not fn():
                self.run.problems.append("warm-up step failed its checks")

    def _record(self, middle: tuple[int, int] | None = None) -> int:
        """Note the replayed state of every version committed since the
        last call; ``middle`` is the state of all but the newest of them."""
        current = self.table.meta.current_version()
        for v in range(self.version + 1, current):
            self.versions[v] = middle
        self.versions[current] = (self.n, self.total_cents)
        self.version = current
        return current

    def _changed_rows(self, keys: np.ndarray) -> pa.Table:
        """The rows of ``keys`` with a new price and status, recorded in the
        in-memory replay."""
        rng = self.run.rng
        k = len(keys)
        price = np.round(rng.uniform(1_000.0, 500_000.0, k), 2)
        status = np.asarray(["F", "O", "P"], dtype=object)[rng.integers(0, 3, k)]
        src = self.orders.take(pa.array(keys))
        src = src.set_column(
            src.schema.get_field_index("o_totalprice"), "o_totalprice", pa.array(price)
        ).set_column(
            src.schema.get_field_index("o_orderstatus"),
            "o_orderstatus",
            pa.array(list(status)),
        )
        for key, s, p in zip(keys.tolist(), status.tolist(), price.tolist()):
            self.status[key] = s
            self.total_cents += round(p * 100) - self.price_cents[key]
            self.price_cents[key] = round(p * 100)
        return src

    def _upsert(self):
        from iceberg_loader_spark import LoaderConfig

        k = max(1, int(self.n * CDC_UPSERT_SHARE))
        keys = np.sort(self.run.rng.choice(self.n, k, replace=False))
        src = self._changed_rows(keys)
        cfg = LoaderConfig(
            join_cols=("o_orderkey",), row_level_mode="mor", batch_size=k
        )
        res = self.run.step(
            "merge", lambda: self.loader.load_data(src, "db.orders", cfg)
        )
        self._record()
        self.last_keys = keys
        return self.run.check("upsert rows", res["rows_loaded"], k)

    def _replace(self):
        from iceberg_loader_spark import LoaderConfig

        width = max(1, int(self.n * CDC_UPSERT_SHARE))
        lo = int(self.run.rng.integers(0, self.n - width))
        # a replace deletes the range, then appends: the state in between
        deleted = (
            self.n - width,
            self.total_cents - sum(self.price_cents[lo : lo + width]),
        )
        src = self._changed_rows(np.arange(lo, lo + width))
        cfg = LoaderConfig(
            replace_filter=f"o_orderkey >= {lo} and o_orderkey < {lo + width}",
            batch_size=width,
        )
        res = self.run.step(
            "replace", lambda: self.loader.load_data(src, "db.orders", cfg)
        )
        self._record(middle=deleted)
        return self.run.check("replaced rows", res["rows_loaded"], width)

    def _point(self):
        key = int(self.last_keys[len(self.last_keys) // 2])
        rows = self.run.step(
            "read.point",
            lambda: self.table.scan(self.run.spark, where=f"o_orderkey == {key}")
            .select("o_orderkey", "o_orderstatus", "o_totalprice")
            .collect(),
        )
        got = [(r[0], r[1], round(r[2] * 100)) for r in rows]
        return self.run.check(
            f"point read {key}", got, [(key, self.status[key], self.price_cents[key])]
        )

    def _range(self):
        width = max(1, self.n // 100)
        lo = int(self.run.rng.integers(0, self.n - width))
        hi = lo + width - 1
        row = self.run.step(
            "read.range",
            lambda: self.table.scan(
                self.run.spark, where=f"o_orderkey >= {lo} and o_orderkey <= {hi}"
            )
            .selectExpr("count(*)", spark_cents("o_totalprice"))
            .collect()[0],
        )
        return self.run.check(
            f"range [{lo}, {hi}]",
            tuple(row),
            (width, sum(self.price_cents[lo : hi + 1])),
        )

    def _aggregate(self):
        rows = self.run.step(
            "read.aggregate",
            lambda: self.table.scan(self.run.spark)
            .groupBy("o_orderstatus")
            .count()
            .collect(),
        )
        want: dict[str, int] = {}
        for s in self.status:
            want[s] = want.get(s, 0) + 1
        return self.run.check("aggregate", dict((r[0], r[1]) for r in rows), want)

    def _time_travel(self):
        # two versions back, but never before the load committed the rows,
        # and at a version whose state the replay knows
        version = max(self.loaded_version, self.version - 2)
        while self.versions[version] is None:
            version -= 1
        row = self.run.step(
            "read.time_travel",
            lambda: self.table.scan(self.run.spark, version=version)
            .selectExpr("count(*)", spark_cents("o_totalprice"))
            .collect()[0],
        )
        return self.run.check(
            f"rows and cents at v{version}", tuple(row), self.versions[version]
        )

    def _compact(self):
        from iceberg_loader_spark.tables import maintenance

        def work():
            maintenance.rewrite_data_files(self.table, self.run.spark)
            maintenance.expire_snapshots(self.table, keep_last=CDC_KEEP_LAST)

        self.run.step("compaction", work)
        # compaction rewrites files but keeps the rows
        self._record(middle=(self.n, self.total_cents))
        return True

    def _round(self) -> list:
        return [self._upsert, self._point, self._range, self._aggregate,
                self._time_travel]

    def cycle(self) -> list:
        ops = []
        for _ in range(CDC_ROUNDS):
            ops += self._round()
        return ops + [self._replace, self._compact]

    def verify(self) -> None:
        r = self.run
        row = (
            self.table.scan(r.spark)
            .selectExpr("count(*)", spark_cents("o_totalprice"))
            .collect()[0]
        )
        if not r.check("live orders", tuple(row), (self.n, self.total_cents)):
            r.failed += 1

    def storage_bytes_per_live_byte(self) -> float:
        """Parquet bytes under the table root over the bytes of the same
        rows written as one plain parquet file."""
        import pyarrow.parquet as pq

        live = os.path.join(self.run.work_dir, "orders.parquet")
        pq.write_table(self.orders, live)
        total = 0
        for dirpath, _, files in os.walk(self.table.root):
            total += sum(
                os.path.getsize(os.path.join(dirpath, f))
                for f in files
                if f.endswith(".parquet")
            )
        return total / os.path.getsize(live)


# ---- operator_mix ----------------------------------------------------------


class OperatorMix:
    """Passes over ``OPERATOR_KEYS`` on generated parquet inputs, each
    query's rows counted and compared with its DuckDB twin. A pass is one
    operation, a batch job whose latency is the sum of its query times.

    Cache posture: the operators keep process-local memos keyed by the
    input directory (artifact roots, persisted indexes) that make a
    second pass over the same directory many times faster. Each pass
    therefore reads its own copy of the inputs, made untimed, so every
    pass finds the memos cold; only the JVM warms from pass to pass. The
    warm-up is ``bench._warmup``, the one the query bench uses, and
    between queries the same untimed cleanup as the query bench runs."""

    name = "operator_mix"
    nominal_cycle_s = 8.0

    def __init__(self, run: Run):
        self.run = run
        self.data_dir = os.path.join(run.work_dir, "tables")
        datagen.write_parquet(datagen.generate(run.seed, OPERATOR_SF), self.data_dir)
        self.passes = 0
        self.rows: list[tuple[int, str, int]] = []  # (pass, key, rows)

    def setup(self) -> None:
        import bench
        from iceberg_loader_spark.operators import all_queries

        self.bench = bench
        self.queries = all_queries()
        bench._warmup(self.run.spark, self.data_dir)

    def _query(self, key: str, data_dir: str) -> None:
        spark = self.run.spark

        def query():
            with self.run.tracer.span(f"operators.{key}"):
                return self.queries[key](spark, data_dir).count()

        try:
            n = self.run.step(f"query.{key}", query)
            self.rows.append((self.passes, key, n))
        finally:
            self.bench._clear_session_memos(spark)
            self.bench._release_all_blocks(spark)
            spark.catalog.clearCache()

    def _pass(self) -> bool:
        self.passes += 1
        data_dir = f"{self.data_dir}-{self.passes}"
        shutil.copytree(self.data_dir, data_dir)
        for key in OPERATOR_KEYS:
            self._query(key, data_dir)
        return True

    def cycle(self) -> list:
        return [self._pass]

    def verify(self) -> None:
        import duckdb

        from iceberg_loader_spark.operators import all_oracles

        oracles = all_oracles()
        con = duckdb.connect()
        try:
            for t in datagen.TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            want = {
                key: con.sql(f"SELECT count(*) FROM ({oracles[key]})").fetchone()[0]
                for key in OPERATOR_KEYS
                if key in oracles
            }
        finally:
            con.close()
        bad = {
            p
            for p, key, n in self.rows
            if key in want and not self.run.check(f"pass {p} {key} rows", n, want[key])
        }
        self.run.failed += len(bad)


WORKLOADS = {
    w.name: w for w in (MicrobatchIngest, CdcReadMix, OperatorMix)
}


def cycles(workload, seconds: float) -> int:
    """Whole cycles that fill ``seconds`` at the nominal cycle length."""
    return max(1, round(seconds / workload.nominal_cycle_s))

