"""The benchmark's workloads: what one operation is, how a workload
warms up, and how its outputs are checked.

Each workload is closed-loop with one client: the next operation starts
when the previous one returns.  The seed only orders the operations (query
workloads) or picks the batch keys and price deltas (``etl_load``); the
engine sees nothing but the generated inputs.

Every operation the run attempts (warm-up, check and timed) is counted,
and every exception or output mismatch is a failed operation.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time

from tracing import BUILD, EXEC, EXTRACT, LAYER_MAP, LOAD, TRANSFORM

END_TO_END_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "cpu_s_per_op": "s",
}
PER_LAYER_UNITS = {k: v[0] for k, v in LAYER_MAP.items()}

# sf0.01: one query from each of 12 families plus q_udaf_grouped, whose
# grouped map runs in Arrow Python workers.  Thirteen queries keep a warm
# pass near 3.5 s; an odd count puts the median and p75 of the pooled
# latencies inside one query's samples rather than on the edge between
# two queries, which keeps both percentiles steady from run to run.
INTERACTIVE = (
    "q_agg_q1", "q_ts_markov", "q_join_inner", "q_win_rank",
    "q_stats_ttest", "q_udf_python", "q_text_wordcount", "q_embed_norm",
    "q_scan_project", "q_filter_range", "q_union_all", "q_sort_multi",
    "q_udaf_grouped",
)


def _duckdb():
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.environ['TMPDIR']}'")
    return con


def _digest(text: str) -> str:
    return hashlib.md5(text.encode()).hexdigest()


class QueryWorkload:
    """Each operation calls one registry builder, then runs the returned
    frame to Spark's noop sink.  A pass runs every query once, in a
    seeded order; the first warm-up pass collects each result instead
    and checks it against DuckDB's run of the query's oracle SQL."""

    min_timed_passes = 6
    # C1 only.  With the tiered default the JVM kept speeding up for a
    # minute past the warm-up while C2's compiler threads burned a third
    # of the run's CPU, so each process sat at its own point of that
    # curve; with C1 the passes are flat after the first warm pass.  C1
    # alone reserves a 48 MB code cache; 240 MB is the tiered default.
    jvm_options = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"

    def __init__(self, name: str, sf: float, names: tuple[str, ...], warm_passes: int):
        self.name, self.sf, self.names, self.warm_passes = name, sf, names, warm_passes
        self.attempted = 0
        self.failures: list[str] = []
        self.timed: dict[str, list[float]] = {}
        self._op = 0

    def prepare_inputs(self, sf_dir: str, work: str) -> None:
        """DuckDB's answers, cached beside the tables by oracle SQL digest."""
        from __spark_entry__ import oracle_sql

        sqls = oracle_sql()
        path = os.path.join(sf_dir, "oracle.json")
        cache = {}
        if os.path.exists(path):
            with open(path) as fh:
                cache = json.load(fh)
        stale = [
            q for q in self.names
            if cache.get(q, {}).get("sql") != _digest(sqls[q])
        ]
        if stale:
            from polybot_data_etl_spark.catalog import TABLES
            from scripts.check_oracle import canon_frame

            con = _duckdb()
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM"
                    f" read_parquet('{sf_dir}/{t}.parquet')"
                )
            for q in stale:
                rows, cols, h, _ = canon_frame(con.execute(sqls[q]).fetchdf())
                cache[q] = {"sql": _digest(sqls[q]), "rows": rows, "cols": cols, "hash": h}
            con.close()
            tmp = f"{path}.{os.getpid()}"
            with open(tmp, "w") as fh:
                json.dump(cache, fh)
            os.replace(tmp, path)
        self.expected = {q: cache[q] for q in self.names}

    def setup(self, spark, sf_dir: str, rng) -> None:
        from __spark_entry__ import queries

        self.spark, self.sf_dir = spark, sf_dir
        builders = queries()
        self.builders = {q: builders[q] for q in self.names}

    def _order(self, rng) -> list[str]:
        order = list(self.names)
        rng.shuffle(order)
        return order

    def _run_op(self, q: str, tracer, collect: bool) -> float | None:
        """Latency of one operation, or None when it failed."""
        op, self._op = self._op, self._op + 1
        self.attempted += 1
        try:
            b = tracer.begin(op, BUILD, q)
            df = self.builders[q](self.spark, self.sf_dir)
            tracer.end(b)
            e = tracer.begin(op, EXEC, q)
            if collect:
                result = df.toPandas()
            else:
                df.write.mode("overwrite").format("noop").save()
            tracer.end(e)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            self.failures.append(f"{q}: {type(exc).__name__}: {exc}"[:300])
            return None
        if collect:
            from scripts.check_oracle import canon_frame

            rows, cols, h, _ = canon_frame(result)
            want = self.expected[q]
            if (rows, cols, h) != (want["rows"], want["cols"], want["hash"]):
                self.failures.append(
                    f"{q}: result differs from DuckDB (rows {rows} vs {want['rows']})"
                )
                return None
        return b.wall_s + e.wall_s

    def warm_pass(self, tracer, rng, check: bool) -> None:
        for q in self._order(rng):
            self._run_op(q, tracer, collect=check)

    def timed_pass(self, tracer, rng, deadline: float) -> list[tuple[str, float]]:
        """One whole pass, as (query, latency) pairs; the window ends on a
        pass boundary so every query weighs the same in every run."""
        lats = []
        for q in self._order(rng):
            lat = self._run_op(q, tracer, collect=False)
            if lat is not None:
                lats.append((q, lat))
                self.timed.setdefault(q, []).append(lat)
        return lats

    def detail(self) -> dict:
        """Median timed latency of each query, for reading a slow run."""
        return {
            "query_p50_s": {
                q: round(statistics.median(v), 4) for q, v in sorted(self.timed.items())
            }
        }

    def verify(self) -> None:
        """Outputs were checked in the first warm-up pass."""

    def layer_extras(self, window_spans) -> dict[str, float]:
        return {}


class EtlLoadWorkload:
    """Each operation is one three-task ``plans.dag.Pipeline`` run:
    extract the orders whose key is ``r`` modulo KEY_MOD (5000 keys at
    sf0.1), add a whole-dollar ``delta`` to their price, and load them
    with ``sources.repository.merge_upsert`` into a managed table made
    during set-up, then ``vacuum`` it.  ``(r, delta)`` come from the
    seed.  After the timed window the table is compared with the table
    DuckDB derives from the same batches."""

    name = "etl_load"
    sf = 0.1
    KEY_MOD = 30
    OPS_PER_PASS = 2
    min_timed_passes = 1
    # The tiered default: C1 alone made each merge 40 % slower (parquet
    # encoding and the merge's row work want C2).
    jvm_options = ""

    def __init__(self, warm_passes: int):
        self.warm_passes = warm_passes
        self.attempted = 0
        self.failures: list[str] = []
        self.batches: list[tuple[int, int]] = []
        self.dag_s: list[dict[str, float]] = []
        self.window_from: int | None = None
        self._op = 0

    def prepare_inputs(self, sf_dir: str, work: str) -> None:
        self.sf_dir = sf_dir
        self.path = os.path.join(work, "etl", "orders")

    def setup(self, spark, sf_dir: str, rng) -> None:
        from polybot_data_etl_spark import catalog
        from polybot_data_etl_spark.plans.dag import Pipeline, Task
        from polybot_data_etl_spark.sources import repository

        self.spark, self.rng = spark, rng
        shutil.rmtree(self.path, ignore_errors=True)
        orders = catalog.table(spark, sf_dir, "orders")
        repository.create_table(orders, self.path)
        self.batch_rows = -(-orders.count() // self.KEY_MOD)
        self.pipeline = Pipeline(
            [
                Task("extract", self._extract),
                Task("transform", self._transform, deps=("extract",)),
                Task("load", self._load, deps=("transform",)),
            ],
            name="orders_price_update",
        )

    # -- the three tasks; each is a span with its own job group --
    def _extract(self, spark, ctx):
        from polybot_data_etl_spark import catalog
        from pyspark.sql import functions as F

        s = self.tracer.begin(self._op, EXTRACT, "extract")
        r, _ = ctx["batch"]
        out = catalog.table(spark, self.sf_dir, "orders").where(
            F.col("o_orderkey") % self.KEY_MOD == r
        )
        self.tracer.end(s)
        return out

    def _transform(self, spark, ctx):
        from pyspark.sql import functions as F

        s = self.tracer.begin(self._op, TRANSFORM, "transform")
        _, delta = ctx["batch"]
        out = ctx["extract"].withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(float(delta))
        )
        self.tracer.end(s)
        return out

    def _load(self, spark, ctx):
        from polybot_data_etl_spark.sources import repository

        s = self.tracer.begin(self._op, LOAD, "load")
        try:
            repository.merge_upsert(spark, self.path, ctx["transform"], ["o_orderkey"])
            repository.vacuum(self.path)
        finally:
            self.tracer.end(s)

    def _run_op(self, tracer) -> float | None:
        self.tracer = tracer
        batch = (self.rng.randrange(self.KEY_MOD), self.rng.randint(1, 9))
        self.attempted += 1
        t0 = time.perf_counter()
        _, runs = self.pipeline.run(self.spark, {"batch": batch})
        lat = time.perf_counter() - t0
        self._op += 1
        bad = [r for r in runs.values() if r.status != "success"]
        if bad:
            # The table may or may not hold this batch now; the final
            # check compares against the successful batches only.
            self.failures.append(
                "; ".join(f"{r.name} {r.status}: {r.error}" for r in bad)[:300]
            )
            return None
        self.batches.append(batch)
        self.dag_s.append({n: r.wall_s for n, r in runs.items()})
        return lat

    def warm_pass(self, tracer, rng, check: bool) -> None:
        for _ in range(self.OPS_PER_PASS):
            self._run_op(tracer)

    def timed_pass(self, tracer, rng, deadline: float) -> list[tuple[str, float]]:
        """Up to OPS_PER_PASS operations, as ("merge", latency) pairs;
        stops early at ``deadline``."""
        if self.window_from is None:
            self.window_from = len(self.dag_s)
        lats = []
        for _ in range(self.OPS_PER_PASS):
            lats.append(self._run_op(tracer))
            if time.time() >= deadline:
                break
        return [("merge", x) for x in lats if x is not None]

    def verify(self) -> None:
        """Compare the final table with DuckDB's replay of the batches."""
        from polybot_data_etl_spark.sources import repository
        from scripts.check_oracle import canon_frame

        self.attempted += 1
        got = canon_frame(repository.read_table(self.spark, self.path).toPandas())
        values = ", ".join(
            f"({i}, {r}, {d})" for i, (r, d) in enumerate(self.batches)
        ) or "(0, -1, 0)"
        con = _duckdb()
        want = canon_frame(
            con.execute(
                f"""
                WITH b(i, r, delta) AS (VALUES {values}),
                last AS (SELECT r, arg_max(delta, i) AS delta FROM b GROUP BY r)
                SELECT o.* REPLACE (
                    CASE WHEN last.delta IS NULL THEN o.o_totalprice
                         ELSE o.o_totalprice + last.delta END AS o_totalprice)
                FROM read_parquet('{self.sf_dir}/orders.parquet') o
                LEFT JOIN last ON o.o_orderkey % {self.KEY_MOD} = last.r
                """
            ).fetchdf()
        )
        con.close()
        if got[:3] != want[:3]:
            self.failures.append(
                f"final table differs from DuckDB replay of {len(self.batches)}"
                f" batches (rows {got[0]} vs {want[0]})"
            )

    def detail(self) -> dict:
        return {"batches": len(self.batches)}

    def layer_extras(self, window_spans) -> dict[str, float]:
        from polybot_data_etl_spark.sources import repository

        runs = self.dag_s[self.window_from:]
        per = max(1, len(runs))
        out = {
            f"dag.{n}_s": sum(r[n] for r in runs) / per
            for n in ("extract", "transform", "load")
        }
        out["repository.space_amp"] = _du(self.path) / _du(
            os.path.join(self.path, repository.current_version(self.path))
        )
        return out


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


# Workload name -> factory; each run makes a fresh workload object.
WORKLOADS = {
    "interactive": lambda: QueryWorkload("interactive", 0.01, INTERACTIVE, warm_passes=3),
    "etl_load": lambda: EtlLoadWorkload(warm_passes=6),
}
