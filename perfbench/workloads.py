"""The benchmark's workloads, each a closed loop driven by one client.

A workload synthesizes its inputs from the seed before the program is
imported, then runs passes of operations. Every operation's output is
checked after its timer stops; an operation whose output is wrong
counts as failed. Calls into the program's layers are wrapped in
spans, which record only in the traced run.
"""

from __future__ import annotations

import math
import os
import time
from dataclasses import dataclass, field

from . import stats, synth, telemetry


@dataclass
class Op:
    """One timed operation and what the traced run measured around it."""

    name: str
    wall: float
    ok: bool
    detail: str = ""
    layer: dict[str, float] = field(default_factory=dict)


@dataclass
class Context:
    """What a workload needs from the run after set-up."""

    spark: object
    tracer: object
    run_dir: str
    cores: int
    stages: telemetry.StageCounter | None = None
    jvm_pid: int = 0


def _timed(ctx: Context, name: str, fn):
    """Run ``fn`` under a span and, when traced, attribute the executor
    work of the stages it ran and the Python-worker CPU it used."""
    traced = ctx.stages is not None
    py0 = telemetry.descendant_cpu_s(ctx.jvm_pid) if traced else 0.0
    with ctx.tracer.span(name):
        t0 = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
    layer = {}
    if traced:
        layer = ctx.stages.take()
        layer["pyworker_cpu_s"] = max(0.0, telemetry.descendant_cpu_s(ctx.jvm_pid) - py0)
    return out, wall, layer


# ---------------------------------------------------------------- queries


def _canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if hasattr(v, "item") and not hasattr(v, "__len__"):  # numpy scalar
        return _canon(v.item())
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "tolist"):
        return _canon(v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def _rows(frame) -> tuple[list[str], list[tuple]]:
    cols = sorted(frame.columns)
    rows = [tuple(_canon(r[c]) for c in cols) for r in frame.to_dict("records")]
    return cols, sorted(rows, key=lambda r: tuple(str(x) for x in r))


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return str(a) == str(b)


def diff_results(got, want) -> str:
    """'' when two result frames hold the same rows in any order,
    otherwise a one-line reason."""
    gc, gr = _rows(got)
    wc, wr = _rows(want)
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if not _same(a, b):
            return f"row {i}: {a} != {b}"
    return ""


class CurationWorkload:
    """Registered near-duplicate queries over a synthesized document
    corpus, each result fetched to the client and compared with the
    query's DuckDB oracle."""

    # d24 and s34 answer the same containment question from one shingle
    # frame and one candidate-pair frame on the scratch-parquet frame
    # tier; s34 is the known super-linear shape (ROADMAP Fix-first #1).
    QUERIES = ("d24_containment_pairs", "s34_idf_soft_jaccard")

    def __init__(self) -> None:
        self.cold: dict[str, float] = {}
        self.warm: dict[str, list[float]] = {q: [] for q in self.QUERIES}

    def synthesize(self, run_dir: str, seed: int) -> None:
        self.data_dir = os.path.join(run_dir, "data")
        synth.write_tables(synth.curation_tables(seed), self.data_dir)

    def start(self, ctx: Context) -> None:
        import duckdb

        from e_commerce_data_engineering_spark.plans.registry import all_oracles, all_queries

        fns, oracles = all_queries(), all_oracles()
        self.fns = {q: fns[q] for q in self.QUERIES}
        con = duckdb.connect()
        for f in sorted(os.listdir(self.data_dir)):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{self.data_dir}/{f}'")
        self.expected = {q: con.execute(oracles[q]).fetchdf() for q in self.QUERIES if q in oracles}
        con.close()

    def run_pass(self, ctx: Context, cold: bool) -> list[Op]:
        ops = []
        for q in self.QUERIES:
            ctx.tracer.new_run()
            ctx.spark.catalog.clearCache()
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span("op"):
                    df, build_s, built = _timed(ctx, "plans.build", lambda: self.fns[q](ctx.spark, self.data_dir))
                    got, _, layer = _timed(ctx, "exec.collect", df.toPandas)
                    wall = time.perf_counter() - t0
            except Exception as e:  # a query that raises is a failed operation
                ops.append(Op(q, time.perf_counter() - t0, False, f"raised {e!r}"[:300]))
                continue
            if ctx.stages is not None:
                # builders may run jobs of their own (driver collects)
                layer = {k: v + built.get(k, 0.0) for k, v in layer.items()}
                layer["build_s"] = build_s
                layer.update({f"catalyst_{k}_ms": v for k, v in telemetry.catalyst_ms(df).items()})
            why = diff_results(got, self.expected[q]) if q in self.expected else ""
            ops.append(Op(q, wall, not why, why, layer))
            if cold:
                self.cold[q] = wall
            else:
                self.warm[q].append(wall)
        return ops

    def finish(self, ctx: Context) -> list[str]:
        return []

    def outcome_metrics(self) -> dict[str, float]:
        return {}

    def layer_metrics(self, ctx: Context) -> dict[str, float]:
        out = {}
        for q in self.QUERIES:
            if self.warm[q]:
                out[f"q.{q}.warm_s"] = stats.median(self.warm[q])
            out[f"q.{q}.cold_s"] = self.cold.get(q, 0.0)
        tmp = os.path.join(ctx.run_dir, "tmp")
        tiers = [os.path.join(tmp, f) for f in os.listdir(tmp) if f.startswith("spark_graft_frames_")]
        out["tier.scratch_mb"] = sum(telemetry.dir_bytes(t) for t in tiers) / 2**20
        if out["tier.scratch_mb"]:
            # cold minus warm: frame builds, plus the JIT warm-up of these plans
            warm = sum(out.get(f"q.{q}.warm_s", 0.0) for q in self.QUERIES)
            out["tier.build_s"] = sum(self.cold.values()) - warm
        return out


# ---------------------------------------------------------------- stream


class StreamWorkload:
    """The reference's event-driven processor: one raw order file and
    one click-stream file land, then every streaming query drains them
    to completion (AvailableNow) and the dashboard reads its state. The
    next file lands only after the reads return."""

    ORDERS = 2000
    EVENTS = 2000

    def __init__(self) -> None:
        self.arrivals = 0
        self.expect_city: dict[str, tuple[int, float]] = {}
        self.expect_daily: dict[tuple[str, str], object] = {}
        self.reads: list[float] = []
        self.progress: list[dict] = []
        self.start_s: list[float] = []
        self.n_invalid = 0
        self.last_file = ""
        self.last_orders: synth.OrderFile | None = None
        self.batch_check = ""

    def synthesize(self, run_dir: str, seed: int) -> None:
        """Files are made one arrival at a time, just before they land."""
        self.seed = seed
        names = ("raw", "events", "processed", "quarantine", "rollup", "daily", "ckpt", "incoming")
        self.dirs = {k: os.path.join(run_dir, "stream", k) for k in names}
        for k in ("raw", "events", "incoming"):
            os.makedirs(self.dirs[k])
        self.in_bytes = 0

    def start(self, ctx: Context) -> None:
        from pyspark.sql import types as T

        self.rollup_schema = T.StructType(
            [T.StructField("customer_city", T.StringType()), T.StructField("total_amount", T.DoubleType())]
        )
        self.event_schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
            ]
        )

    def _land(self, kind: str, lines: list[str]) -> str:
        """Write the whole file aside, then move it into the watched
        directory, so a stream never lists a half-written file."""
        tmp = os.path.join(self.dirs["incoming"], f"{kind}-{self.arrivals:05d}.jsonl")
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        self.in_bytes += os.path.getsize(tmp)
        dst = os.path.join(self.dirs[kind], os.path.basename(tmp))
        os.replace(tmp, dst)
        return dst

    def _drain(self, ctx: Context, span: str, start) -> dict:
        with ctx.tracer.span(span):
            t0 = time.perf_counter()
            q = start()
            self.start_s.append(time.perf_counter() - t0)
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"{span}: {q.exception()}")
        self.progress.extend(p for p in q.recentProgress if p.get("numInputRows"))
        return q.lastProgress or {}

    def run_pass(self, ctx: Context, cold: bool) -> list[Op]:
        from e_commerce_data_engineering_spark.streaming.pipeline import (
            read_cusum,
            read_rollup,
            start_daily_totals_stream,
            start_processing_stream,
            start_rollup_stream,
        )

        spark, d = ctx.spark, self.dirs
        orders = synth.order_file(self.seed, self.arrivals, self.ORDERS)
        ev_lines, ev_totals = synth.event_lines(self.seed, self.arrivals, self.EVENTS)
        self.last_file = self._land("raw", orders.lines)
        self._land("events", ev_lines)
        self.last_orders = orders
        self.arrivals += 1

        def arrive():
            ingest = self._drain(
                ctx,
                "stream.processing",
                lambda: start_processing_stream(
                    spark, d["raw"], d["processed"], f"{d['ckpt']}/processing", d["quarantine"], available_now=True
                ),
            )
            self._drain(
                ctx,
                "stream.rollup",
                lambda: start_rollup_stream(
                    spark, d["processed"], d["rollup"], f"{d['ckpt']}/rollup", self.rollup_schema,
                    ["customer_city"], "total_amount", max_files_per_trigger=100_000,
                ),
            )
            self._drain(
                ctx,
                "stream.daily",
                lambda: start_daily_totals_stream(
                    spark, d["events"], d["daily"], f"{d['ckpt']}/daily", self.event_schema,
                    max_files_per_trigger=100_000,
                ),
            )
            t_read = time.perf_counter()
            with ctx.tracer.span("state.read"):
                rollup = read_rollup(spark, d["rollup"], ["customer_city"]).collect()
                daily = read_cusum(spark, d["daily"]).collect()
            self.reads.append(time.perf_counter() - t_read)
            return ingest, rollup, daily

        ctx.tracer.new_run()
        (ingest, rollup, daily), wall, layer = _timed(ctx, "op", arrive)
        for city, (n, s) in orders.by_city.items():
            n0, s0 = self.expect_city.get(city, (0, 0.0))
            self.expect_city[city] = (n0 + n, s0 + s)
        for k, v in ev_totals.items():
            self.expect_daily[k] = self.expect_daily.get(k, 0) + v
        self.n_invalid += orders.n_invalid
        why = self._check(ingest, orders, rollup, daily)
        return [Op("arrival", wall, not why, why, layer)]

    def _check(self, ingest: dict, orders: synth.OrderFile, rollup, daily) -> str:
        row = (ingest.get("observedMetrics") or {}).get("ingest")
        seen = row.asDict() if row is not None else {}
        if (seen.get("rows"), seen.get("corrupt_lines")) != (orders.n_lines, orders.n_malformed):
            return f"ingest counted {seen}, file has {orders.n_lines} lines, {orders.n_malformed} malformed"
        got = {r["customer_city"]: (r["n"], r["total"]) for r in rollup}
        if set(got) != set(self.expect_city):
            return f"rollup keys {sorted(got)} != {sorted(self.expect_city)}"
        for city, (n, s) in self.expect_city.items():
            if got[city][0] != n or abs(got[city][1] - s) > 0.005:
                return f"rollup {city}: {got[city]} != {(n, round(s, 2))}"
        got_d = {(r["event_type"], r["day"]): r["day_value"] for r in daily}
        want_d = {k: float(v) for k, v in self.expect_daily.items()}
        if got_d != want_d:
            bad = sorted(k for k in set(got_d) | set(want_d) if got_d.get(k) != want_d.get(k))[:3]
            return f"daily totals differ at {bad}"
        return ""

    def finish(self, ctx: Context) -> list[str]:
        """The quarantine holds exactly the injected invalid orders (and,
        after a traced run, the batch twin counted what was injected)."""
        n = ctx.spark.read.json(self.dirs["quarantine"]).count()
        problems = [] if n == self.n_invalid else [f"quarantine has {n} rows, {self.n_invalid} injected"]
        return problems + ([self.batch_check] if self.batch_check else [])

    def outcome_metrics(self) -> dict[str, float]:
        """Median dashboard read after the cold arrival, and bytes left on
        disk (outputs, quarantine, state, checkpoints) per raw input byte."""
        d = self.dirs
        out = sum(telemetry.dir_bytes(d[k]) for k in ("processed", "quarantine", "rollup", "daily", "ckpt"))
        return {"state_read_s": stats.median(self.reads[1:]), "out_bytes_per_in_byte": out / self.in_bytes}

    def layer_metrics(self, ctx: Context) -> dict[str, float]:
        d = self.dirs
        out = {}
        dur = lambda key: stats.median([p["durationMs"].get(key, 0) for p in self.progress])  # noqa: E731
        if self.progress:
            out["stream.trigger_ms"] = dur("triggerExecution")
            out["stream.latest_offset_ms"] = dur("latestOffset")
            out["stream.add_batch_ms"] = dur("addBatch")
            out["stream.commit_ms"] = dur("commitOffsets")
        out["stream.start_s"] = stats.median(self.start_s)
        out["state.dirs"] = float(sum(telemetry.dir_count(d[k], "batch_id=") for k in ("rollup", "daily")))
        out["state.mb"] = sum(telemetry.dir_bytes(d[k]) for k in ("rollup", "daily", "ckpt")) / 2**20
        warm = self.reads[1:]
        out["state.read_slope_ms_per_epoch"] = 1e3 * stats.slope(list(range(len(warm))), warm)
        out.update(self._probe_batch_layers(ctx))
        return out

    def _probe_batch_layers(self, ctx: Context) -> dict[str, float]:
        """Time the batch twin's layers on the last landed file, each by
        a call into its module: the generator, the JSONL parse, validate
        and enrich on the cached parse, and the whole batch run."""
        from e_commerce_data_engineering_spark import pipeline
        from e_commerce_data_engineering_spark.sources.generator import generate_orders

        spark, path = ctx.spark, self.last_file

        def noop(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        def wall(name: str, fn) -> float:
            return _timed(ctx, name, fn)[1]

        out = {
            "sources.generate_s": wall(
                "sources.generate", lambda: noop(generate_orders(spark, self.ORDERS, seed=self.seed))
            ),
            "pipeline.parse_s": wall("pipeline.parse", lambda: noop(pipeline.read_raw_jsonl(spark, path))),
        }
        raw = pipeline.read_raw_jsonl(spark, path).cache()
        raw.count()

        def validate_enrich() -> None:
            processed, invalid, _ = pipeline.process_raw(raw)
            noop(processed)
            noop(invalid)

        out["functions.validate_enrich_s"] = wall("functions.validate_enrich", validate_enrich)
        raw.unpersist()
        dst = os.path.join(ctx.run_dir, "batch")
        res, run_s, _ = _timed(
            ctx,
            "pipeline.run_batch",
            lambda: pipeline.run_batch(spark, path, f"{dst}/processed", f"{dst}/quarantine", output_format="parquet"),
        )
        out["pipeline.sink_s"] = max(0.0, run_s - out["pipeline.parse_s"] - out["functions.validate_enrich_s"])
        n_in = res.total_processed + res.invalid_orders + res.corrupt_lines
        out.update(
            rows_in=float(n_in),
            rows_processed=float(res.total_processed),
            rows_quarantined=float(res.invalid_orders),
            rows_corrupt=float(res.corrupt_lines),
            useful_ratio=res.total_processed / n_in if n_in else 0.0,
        )
        orders = self.last_orders
        want = (orders.n_valid, orders.n_invalid, orders.n_malformed)
        got = (res.total_processed, res.invalid_orders, res.corrupt_lines)
        self.batch_check = "" if got == want else f"run_batch counts {got} != injected {want}"
        return out


WORKLOADS = {
    "etl_stream": StreamWorkload,
    "llm_curation": CurationWorkload,
}
