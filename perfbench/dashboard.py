"""Workload ``dashboard``: the read path over an ingested lake.

Set-up generates the messages, writes the lake with the engine's own
``start_ingest``, builds the ``PointsCatalog`` and runs one warm-up
round, which pays the cold JVM's first statements. The measured part
is one closed-loop client refreshing a seeded dashboard: every round
issues the same twelve InfluxQL statements through
``influxql(..., catalog=...)``, with their time windows moved on by a
minute per round, each timed from the call to the end of ``collect()``.
``job_s`` is the dashboard's refresh time: the sum over its statements
of each statement's median time over the measured rounds. Every
answer, the warm-up round's too, is then recomputed by DuckDB from the
source messages, not from the lake.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import duckdb
import numpy as np

import checks
import gen
import ingest
from common import JobStats, RunResult, median, tree_cpu_s

# statements per round, by template; one wide regex union per round
ROUND = (
    ["agg"] * 3 + ["last"] * 2 + ["percentile"] * 2 + ["raw"] * 2
    + ["derivative", "narrow_regex", "wide_regex"]
)
AGGS = {"MEAN": "avg", "MAX": "max", "MIN": "min", "SUM": "sum", "COUNT": "count"}
BUCKETS = {"10m": 600, "30m": 1800, "1h": 3600}
MIN_POINTS = 3  # a window is redrawn until the series has this many points
# Round r moves every window on by r minutes, so no two rounds issue the
# same text; MIN_POINTS is counted in the part of the window that every
# round up to MAX_SHIFT keeps.
MAX_SHIFT = dt.timedelta(hours=1)
# Rounds keep getting faster for several rounds after the first (the
# JVM compiles the statements' code paths as they repeat); one warm-up
# round takes the steepest part, and the per-statement median over the
# measured rounds the rest. With a second warm-up round the measured
# rounds still fell by up to 13%, and it costs a run 8-12 s.
WARMUP_ROUNDS = 1
MIN_ROUNDS = 3  # measured rounds


def _iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def _bucket(sec: int) -> str:
    return f"make_timestamp(CAST(floor(epoch_us(ts) / {sec * 1_000_000}) * {sec * 1_000_000} AS BIGINT))"


class Statements:
    """Seeded statement generator. Each statement is (template, InfluxQL,
    DuckDB SQL over ``pts``, ordered?)."""

    def __init__(self, con, registered: list[str]):
        self.con = con
        self.series = [f"{d}_{t}" for d in registered for t in gen.FLOAT_TRANSDUCERS]
        self.devices = registered
        self.shift = dt.timedelta(0)

    def _window(self, rng, series: str | None, hours: list[int]):
        while True:
            h = int(rng.choice(hours))
            start = int(rng.integers(0, gen.SPAN_S // 3600 - h + 1))
            lo = gen.BASE_TS + dt.timedelta(hours=start)
            hi = lo + dt.timedelta(hours=h)
            if series is None:
                return lo + self.shift, hi + self.shift
            n = self.con.execute(
                "SELECT count(*) FROM pts WHERE series_id = ? AND ts >= ? AND ts < ?",
                [series, lo + MAX_SHIFT, hi],
            ).fetchone()[0]
            if n >= MIN_POINTS:
                return lo + self.shift, hi + self.shift

    def build(self, rng, template: str):
        s = str(rng.choice(self.series))
        where_sql = "ts >= TIMESTAMPTZ '{lo}' AND ts < TIMESTAMPTZ '{hi}'"
        if template == "agg":
            lo, hi = self._window(rng, s, [4, 8, 12])
            fn = str(rng.choice(list(AGGS)))
            b = str(rng.choice(list(BUCKETS)))
            iq = (f"SELECT {fn}(value) FROM {s} WHERE time >= '{_iso(lo)}' AND time < '{_iso(hi)}' "
                  f"GROUP BY time({b}) fill(none)")
            sql = (f"SELECT {_bucket(BUCKETS[b])} AS time, {AGGS[fn]}(value_double) FROM pts "
                   f"WHERE series_id = '{s}' AND {where_sql} GROUP BY 1")
            return template, iq, sql.format(lo=lo, hi=hi), False
        if template == "last":
            lo, hi = self._window(rng, s, [4, 8, 24])
            iq = f"SELECT LAST(value) FROM {s} WHERE time >= '{_iso(lo)}' AND time < '{_iso(hi)}'"
            sql = (f"SELECT arg_max(value_double, ts) FROM pts "
                   f"WHERE series_id = '{s}' AND {where_sql}")
            return template, iq, sql.format(lo=lo, hi=hi), True
        if template == "percentile":
            lo, hi = self._window(rng, s, [8, 24, 48])
            p = int(rng.choice([50, 90, 95, 99]))
            iq = (f"SELECT PERCENTILE(value, {p}) FROM {s} "
                  f"WHERE time >= '{_iso(lo)}' AND time < '{_iso(hi)}'")
            # nearest rank: the ceil(p * n / 100)-th smallest value
            sql = (f"SELECT value_double FROM (SELECT value_double, "
                   f"row_number() OVER (ORDER BY value_double) AS rn, count(*) OVER () AS n "
                   f"FROM pts WHERE series_id = '{s}' AND {where_sql}) "
                   f"WHERE rn = ({p} * n + 99) // 100")
            return template, iq, sql.format(lo=lo, hi=hi), True
        if template == "raw":
            lo, hi = self._window(rng, s, [4, 12, 24])
            k = int(rng.choice([10, 20, 50]))
            iq = (f"SELECT value FROM {s} WHERE time >= '{_iso(lo)}' AND time < '{_iso(hi)}' "
                  f"ORDER BY time LIMIT {k}")
            sql = (f"SELECT ts, value_double FROM pts WHERE series_id = '{s}' AND {where_sql} "
                   f"ORDER BY ts LIMIT {k}")
            return template, iq, sql.format(lo=lo, hi=hi), True
        if template == "derivative":
            lo, hi = self._window(rng, s, [4, 12])
            iq = (f"SELECT DERIVATIVE(value, 1m) FROM {s} "
                  f"WHERE time >= '{_iso(lo)}' AND time < '{_iso(hi)}'")
            sql = (f"SELECT ts, (value_double - lag(value_double) OVER w) * 60e6 "
                   f"/ (epoch_us(ts) - lag(epoch_us(ts)) OVER w) AS d FROM pts "
                   f"WHERE series_id = '{s}' AND {where_sql} WINDOW w AS (ORDER BY ts) "
                   f"QUALIFY d IS NOT NULL")
            return template, iq, sql.format(lo=lo, hi=hi), False
        if template == "narrow_regex":
            lo, hi = self._window(rng, None, [4, 8])
            devs = sorted(rng.choice(self.devices, int(rng.integers(2, 5)), replace=False))
            rx = f"^({'|'.join(devs)})_({'|'.join(gen.FLOAT_TRANSDUCERS)})$"
            fn = str(rng.choice(["MEAN", "MAX", "COUNT"]))
            iq = (f"SELECT {fn}(value) FROM /{rx}/ "
                  f"WHERE time >= '{_iso(lo)}' AND time < '{_iso(hi)}'")
            sql = (f"SELECT series_id, {AGGS[fn]}(value_double) FROM pts "
                   f"WHERE regexp_matches(series_id, '{rx}') AND {where_sql} GROUP BY 1")
            return template, iq, sql.format(lo=lo, hi=hi), False
        if template == "wide_regex":
            lo, hi = self._window(rng, None, [3])
            iq = (f"SELECT COUNT(value) FROM /.*/ WHERE time >= '{_iso(lo)}' "
                  f"AND time < '{_iso(hi)}' GROUP BY time(1h)")
            sql = (f"SELECT series_id, {_bucket(3600)} AS time, count(value_double) FROM pts "
                   f"WHERE {where_sql} GROUP BY 1, 2")
            return template, iq, sql.format(lo=lo, hi=hi), False
        raise ValueError(template)

    def round(self, seed: int, r: int) -> list[tuple]:
        """The seed's dashboard as round ``r`` issues it: the same draws
        every round, windows moved on by ``r`` minutes."""
        self.shift = dt.timedelta(minutes=r)
        assert self.shift < MAX_SHIFT
        rng = np.random.default_rng([seed, 3])
        order = rng.permutation(len(ROUND))
        return [self.build(rng, ROUND[i]) for i in order]


def run(ctx) -> RunResult:
    from mqtt_influx_storage_service_spark.functions.influxql import PointsCatalog, influxql

    res = RunResult()
    spark, trace = ctx.spark, ctx.trace
    with trace.span("setup.generate"):
        src, registered, gen_s = ingest.generate(ctx)
    registry_df = spark.createDataFrame([(d,) for d in registered], "device_id string")
    with trace.span("setup.lake"):
        lake, _q, lake_s = ingest.replay(ctx, src, registry_df, "dash")
    points_dir = os.path.join(lake, "points")
    if trace.enabled:
        write_layers = ingest.replay_layers(ctx, lake)
        write_layers["ingest.msgs_per_s"] = gen.MESSAGES / lake_s
    with trace.span("setup.catalog"):
        t = time.perf_counter()
        cat = PointsCatalog(spark, points_dir)
        cat_s = time.perf_counter() - t

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    checks.reference_points(con, os.path.join(src, "*.parquet"), registered)
    res.errors += checks.check_ingest(
        checks.summarize(con, "pts", "quarantine"), checks.lake_summary(con, lake)
    )
    stmts = Statements(con, registered)
    done = []  # (statement, rows) of every statement that ran, for the checks

    def run_statement(q: int, stmt) -> tuple[list, float, dict]:
        _tmpl, iq, _sql, _ordered = stmt
        lay = {}
        t = time.perf_counter()
        with trace.span("influxql.compile", q=q), trace.group(f"q{q}:compile"):
            df = influxql(spark, points_dir, iq, catalog=cat)
        lay["compile_s"] = time.perf_counter() - t
        if trace.enabled:
            t1 = time.perf_counter()
            with trace.span("plan", q=q):
                df._jdf.queryExecution().executedPlan()
            lay["plan_s"] = time.perf_counter() - t1
        t2 = time.perf_counter()
        with trace.span("exec", q=q), trace.group(f"q{q}:exec"):
            rows = df.collect()
        lay["exec_s"] = time.perf_counter() - t2
        return [tuple(r) for r in rows], time.perf_counter() - t, lay

    def run_round(r: int) -> tuple[list, float, list]:
        """Returns ([seconds per statement], process-tree CPU seconds,
        [(statement id, seconds, layer split)])."""
        rs, cpu0, stats = [], tree_cpu_s(), []
        with trace.span("dashboard.round", round=r):
            for stmt in stmts.round(ctx.seed, r):
                res.attempted += 1
                q = res.attempted  # names the statement's job groups
                try:
                    rows, secs, lay = run_statement(q, stmt)
                except Exception as exc:
                    res.failed += 1
                    ctx.log(f"{stmt[1]!r} failed: {type(exc).__name__}: {exc}")
                    continue
                done.append((stmt, rows))
                stats.append((q, secs, lay))
                rs.append(secs)
        return rs, tree_cpu_s() - cpu0, stats

    warm_s = sum(sum(run_round(r)[0]) for r in range(WARMUP_ROUNDS))
    res.setup_s = ctx.session_s + gen_s + lake_s + cat_s + warm_s
    ctx.log(f"setup: session {ctx.session_s:.2f}s, generate {gen_s:.2f}s, lake {lake_s:.2f}s, "
            f"catalog {cat_s:.2f}s, warm-up {warm_s:.2f}s")

    rounds, cpu, stats = [], [], []
    start = time.perf_counter()
    while len(rounds) < MIN_ROUNDS or time.perf_counter() - start < ctx.seconds:
        rs, c, st = run_round(WARMUP_ROUNDS + len(rounds))
        rounds.append(rs)
        cpu.append(c)
        stats += st
    # a round in which a statement failed is short; the run fails then
    refresh_s = sum(median(list(col)) for col in zip(*rounds))
    ctx.log("rounds " + " ".join(f"{sum(x):.2f}" for x in rounds) + " s, cpu "
            + " ".join(f"{x:.2f}" for x in cpu) + f" s, refresh {refresh_s:.2f} s")
    for (tmpl, iq, sql, ordered), rows in done:
        want = [tuple(x) for x in con.execute(sql).fetchall()]
        if tmpl in ("last", "percentile"):
            want = [w for w in want if w != (None,)]
        for e in checks.compare_rows(f"dashboard {tmpl} [{iq}]", rows, want, ordered):
            res.errors.append(e)
    con.close()

    res.end_to_end = {"job_s": refresh_s, "cpu_s": median(cpu)}
    if trace.enabled:
        res.per_layer = dashboard_layers(ctx, stats, len(rounds), cat_s, write_layers)
    return res


def dashboard_layers(ctx, stats, n_rounds: int, cat_s: float, write_layers) -> dict[str, float]:
    """Per-round figures of the measured rounds (the warm-up round left out)."""
    js = JobStats(ctx.spark)
    layers = [(q, lay) for q, _secs, lay in stats]
    comp = [lay["compile_s"] for _q, lay in layers]
    lat = [secs for _q, secs, _lay in stats]
    out = {
        "dashboard.query_p50_s": median(lat),
        # a tail needs ten samples beyond it
        "dashboard.query_p90_s": float(np.quantile(lat, 0.9)) if len(lat) >= 100 else 0.0,
        "influxql.compile_s_p50": median(comp),
        "influxql.compile_s_sum": sum(comp) / n_rounds,
        "influxql.compile_jobs": sum(len(js.jobs(f"q{q}:compile")) for q, _l in layers) / n_rounds,
        "catalog.build_s": cat_s,
        "plan_s": sum(lay["plan_s"] for _q, lay in layers) / n_rounds,
        "exec_s": sum(lay["exec_s"] for _q, lay in layers) / n_rounds,
    }
    exec_jobs = [j for q, _l in layers for j in js.jobs(f"q{q}:exec")]
    out["exec.jobs"] = len(exec_jobs) / n_rounds
    for k, v in js.stage_totals(exec_jobs).items():
        out[f"exec.{k}"] = v / n_rounds
    out.update(write_layers)
    return out
