"""The three workloads. Each drives mini_flink_spark's public API from the
outside: it builds its seeded input (before any clock), warms up, runs its
timed loop, checks its output against the generator's ground truth and, when
traced, derives per-layer metrics from its spans, the Spark event log and
``StreamingQuery.recentProgress``.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.compute as pc

import gen
from measure import (
    Tracer,
    backlog_growth,
    highest_supported_percentile,
    median,
    self_time_by_name,
    spark_totals,
    task_skew,
)


@dataclass
class Ctx:
    work: str  # the run's scratch directory
    seed: int
    seconds: float
    tracer: Tracer
    log: callable = print

    def dir(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p


@dataclass
class Measured:
    """What a timed loop returns: end-to-end values (minus set-up and RSS),
    outcome counts, the epoch window(s) the timed work ran in, and
    workload-specific per-layer values."""

    records_per_s: float
    latency_ms: list[float]
    attempted: int
    failed: int
    windows: list[tuple[float, float]]
    layers: dict = field(default_factory=dict)
    details: dict = field(default_factory=dict)


def _jobs_in(jobs, stages, lo: float, hi: float):
    """Jobs submitted inside [lo, hi] (epoch seconds), and their stages."""
    js = [j for j in jobs.values() if lo * 1e3 <= j.submit_ms <= hi * 1e3]
    st = [stages[s] for j in js for s in j.stage_ids if s in stages]
    return js, st


def _iteration_spark(jobs, stages, windows, cores) -> dict:
    """spark.* totals over the timed windows, averaged per window."""
    per = [spark_totals(*_jobs_in(jobs, stages, lo, hi), hi - lo, cores) for lo, hi in windows]
    return {k: sum(p[k] for p in per) / len(per) for k in per[0]}


def _closed_loop(ctx: Ctx, span: str, job, check) -> tuple[list, list, int, list]:
    """Run `job()` back to back within ctx.seconds: at least once, and again
    while the last iteration's wall still fits before the deadline. Each
    iteration's wall covers the job only; `check` then returns its output
    errors. An iteration that raises or has errors is a failure. Returns
    (walls, epoch windows, failures, errors)."""
    walls, windows, failed, errors = [], [], 0, []
    deadline = time.perf_counter() + ctx.seconds
    while not walls or time.perf_counter() + walls[-1] <= deadline:
        lo = time.time()
        t = time.perf_counter()
        try:
            with ctx.tracer.span(span):
                res = job()
            wall = time.perf_counter() - t
            errs = check(res)
        except Exception as e:  # a failed iteration is counted, not fatal
            wall, errs = time.perf_counter() - t, [repr(e)]
        windows.append((lo, time.time()))
        walls.append(wall)
        if errs:
            failed += 1
            errors.extend(errs)
    return walls, windows, failed, errors


class Workload:
    """Trace hooks a workload may override: `trace_live` runs while the
    measured session is still up, `trace_post` after it stopped, and
    `trace_layers` once the event log is parsed."""

    def trace_live(self, spark, ctx: Ctx, m: Measured) -> dict:
        return {}

    def trace_post(self, spark_factory, ctx: Ctx, m: Measured) -> dict:
        return {}


# ------------------------------------------------------------ wordcount_running


class WordcountRunning(Workload):
    """Closed loop: read → tokenize → drop stop tokens → key by word →
    per-record running count (one output row per kept token)."""

    name = "wordcount_running"
    N_TOKENS = 2_000_000
    # Untimed runs of the timed job before the clock starts. After one, the
    # first timed run was still 10-40% slower than the rest; a run costs ~2.5 s.
    WARMUP_RUNS = 2

    def prepare(self, ctx: Ctx) -> None:
        self.inp = gen.wordcount_input(ctx.dir("wc"), ctx.seed, self.N_TOKENS)

    def _job(self, spark, inp, tracer: Tracer):
        """Build the running count and run its one action: a per-word
        (last running count, rows, sum of running counts) readback, which
        the window's key partitioning feeds without another shuffle."""
        from pyspark.sql import functions as F

        from mini_flink_spark.operators import DataStream, StreamExecutionEnvironment
        from mini_flink_spark.operators.running_reduce import running_agg
        from mini_flink_spark.operators.stream import ARRIVAL_COL
        from mini_flink_spark.streaming.wordcount import tokenize

        with tracer.span("operators.construct"):
            env = StreamExecutionEnvironment(spark)
            lines = env.read_parquet(inp.path)
            words = DataStream(tokenize(lines.df, "line"))
            kept = words.filter(~F.col("word").isin(list(inp.stop_tokens))).with_arrival_index()
            keyed = kept.key_by("word")
            out = running_agg(keyed.df, ["word"], ARRIVAL_COL, running_count=F.count(F.lit(1)))
        with tracer.span("operators.running_agg.action"):
            res = (
                out.groupBy("word")
                .agg(
                    F.max("running_count").alias("last"),
                    F.count(F.lit(1)).alias("rows"),
                    F.sum("running_count").alias("tri"),
                )
                .toArrow()
            )
        return res

    @staticmethod
    def check(res, inp) -> list[str]:
        errs = []
        words = res.column("word").to_pylist()
        last = res.column("last").to_numpy()
        rows = res.column("rows").to_numpy()
        tri = res.column("tri").to_numpy()
        if int(rows.sum()) != inp.n_kept:
            errs.append(f"output rows {int(rows.sum())} != kept tokens {inp.n_kept}")
        got = dict(zip(words, last.tolist()))
        if got != inp.counts:
            bad = [w for w in set(got) | set(inp.counts) if got.get(w) != inp.counts.get(w)]
            errs.append(f"{len(bad)} words with a wrong last running count, e.g. {bad[:3]}")
        if not (np.array_equal(last, rows) and np.array_equal(tri, last * (last + 1) // 2)):
            errs.append("running counts are not 1..n per word")
        return errs

    def warmup(self, spark, ctx: Ctx) -> None:
        """WARMUP_RUNS untimed runs of the timed job: codegen, the JIT and
        the file-listing cache are warm before the first timed call."""
        for _ in range(self.WARMUP_RUNS):
            errs = self.check(self._job(spark, self.inp, Tracer("warm", False)), self.inp)
            if errs:
                raise RuntimeError(f"warm-up output wrong: {errs}")

    def measure(self, spark, ctx: Ctx) -> Measured:
        walls, windows, failed, errors = _closed_loop(
            ctx, "wordcount_running.iteration",
            lambda: self._job(spark, self.inp, ctx.tracer),
            lambda res: self.check(res, self.inp),
        )
        return Measured(
            records_per_s=self.inp.n_tokens / median(walls),
            latency_ms=[w * 1e3 for w in walls],
            attempted=len(walls),
            failed=failed,
            windows=windows,
            details={
                "input_tokens": self.inp.n_tokens,
                "kept_tokens": self.inp.n_kept,
                "hot_word_share": self.inp.hot_share,
                "iteration_s": walls,
                "errors": errors[:10],
            },
        )

    def trace_post(self, spark_factory, ctx: Ctx, m: Measured) -> dict:
        return {"scaling.speedup_vs_1core": self._speedup(spark_factory, ctx, m)}

    def trace_layers(self, ctx: Ctx, m: Measured, jobs, stages, extra: dict) -> dict:
        window_s, skews, scan_s = [], [], []
        for lo, hi in m.windows:
            _, st = _jobs_in(jobs, stages, lo, hi)
            win = [s for s in st if "Window" in s.scopes]
            scan = [s for s in st if any(x.startswith("Scan") for x in s.scopes)]
            if win:
                w = max(win, key=lambda s: s.run_ms)
                window_s.append((w.complete_ms - w.submit_ms) / 1e3)
                skews.append(task_skew(w))
            if scan:
                scan_s.append(sum(s.complete_ms - s.submit_ms for s in scan) / 1e3)
        spans = self_time_by_name(ctx.tracer.spans)
        n_it = len(m.windows)
        return {
            "operators.construct_s": spans.get("operators.construct", 0.0) / n_it,
            "operators.running_agg.window_stage_s": median(window_s) if window_s else 0.0,
            "operators.running_agg.task_skew": median(skews) if skews else 0.0,
            "sources.scan_tokenize_stage_s": median(scan_s) if scan_s else 0.0,
        }

    def _speedup(self, spark_factory, ctx: Ctx, m: Measured) -> float:
        """One iteration of the same job at local[1], against the median
        local[nproc] iteration."""
        spark = spark_factory({"spark.master": "local[1]"})
        try:
            t = time.perf_counter()
            with ctx.tracer.span("scaling.local1_iteration"):
                res = self._job(spark, self.inp, Tracer("local1", False))
            one = time.perf_counter() - t
        finally:
            spark.stop()
        if self.check(res, self.inp):
            raise RuntimeError("local[1] wordcount output wrong")
        ctx.log(f"local[1] iteration {one:.2f}s")
        return one / median([x / 1e3 for x in m.latency_ms])


# -------------------------------------------------------- stream_running_reduce


class StreamRunningReduce(Workload):
    """Open loop at a fixed offered rate: a generator process renames one
    parquet file per tick into a watched directory; the query is
    file_stream → running_reduce_stream → a foreachBatch sink that runs one
    action per batch and records when it finished."""

    name = "stream_running_reduce"
    RATE = 500  # events/s offered: the highest measured rate that shows a flat backlog
    TICK_S = 0.2
    # Shorter than a batch's cost here (~1.5 s even when small), so batches
    # run back to back and a run holds as many as the host can make.
    TRIGGER_S = 1.0
    # Flat backlog: its fitted growth over the writing phase (from at least
    # MIN_TREND_BATCHES batches) stays within one trigger interval's files.
    MIN_TREND_BATCHES = 3
    LATENCY_LIMIT_MS = 10000.0
    GRACE_S = 30.0
    STATE_PARTITIONS = 4

    def prepare(self, ctx: Ctx) -> None:
        self.plan = gen.stream_plan(ctx.seed, self.RATE, ctx.seconds, self.TICK_S)
        # One tick of negated keys from another seed primes the timed query
        # (its first batch plans the query, starts the Python workers and
        # opens the state stores) without touching any timed key's state.
        prime = gen.stream_plan(ctx.seed + 1_000_003, self.RATE, self.TICK_S, self.TICK_S).tick_table(0, 0)
        self.prime = prime.set_column(0, "user_id", pc.negate(prime.column("user_id")))

    def _query(self, spark, in_dir: str, ckpt: str, sink):
        from mini_flink_spark.operators import StreamExecutionEnvironment
        from mini_flink_spark.operators.running_reduce import running_reduce_stream

        env = StreamExecutionEnvironment(spark)
        src = env.file_stream(in_dir, gen.STREAM_SCHEMA)
        out = running_reduce_stream(src.df, "user_id", "value", "created")
        w = (
            out.writeStream.foreachBatch(sink).outputMode("update").option("checkpointLocation", ckpt)
            .trigger(processingTime=f"{self.TRIGGER_S} seconds")
        )
        # state-store instances are fixed at the query's first start; use the
        # library's own streaming default (run_stream_to_memory) rather than
        # the session's shuffle width
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(self.STATE_PARTITIONS))
        try:
            return w.start()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    def warmup(self, spark, ctx: Ctx) -> None:
        """Start the timed query and wait until its priming batch is out."""
        self.in_dir = ctx.dir("stream", "in")
        self.batches: list[tuple[int, float, object]] = []

        def sink(df, batch_id):
            tbl = df.toArrow()
            self.batches.append((batch_id, time.time(), tbl))

        self.q = self._query(spark, self.in_dir, os.path.join(ctx.work, "stream", "ckpt"), sink)
        try:
            gen.write_atomic(self.prime, self.in_dir, "prime.parquet")
            deadline = time.time() + 120
            while sum(b[2].num_rows for b in self.batches) < self.prime.num_rows:
                if self.q.exception() is not None or time.time() > deadline:
                    raise RuntimeError(f"stream query did not take its priming batch: {self.q.exception()}")
                time.sleep(0.02)
        except BaseException:
            self.q.stop()
            raise
        self.prime_batch = max(b[0] for b in self.batches)
        self.batches.clear()

    def measure(self, spark, ctx: Ctx) -> Measured:
        plan, q, batches = self.plan, self.q, self.batches
        try:
            # Triggers fire on wall-clock multiples of TRIGGER_S; the first
            # tick lands just after one, so every run has the same phase.
            # The 1.5 s lead lets the generator process start and build its files.
            t0 = math.ceil((time.time() + 1.5) / self.TRIGGER_S) * self.TRIGGER_S + self.TICK_S / 2
            gen_proc = subprocess.Popen(
                [sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"),
                 "--dir", self.in_dir, "--seed", str(ctx.seed), "--rate", str(self.RATE),
                 "--seconds", str(ctx.seconds), "--tick", str(self.TICK_S), "--t0", repr(t0)],
                stdout=subprocess.PIPE,
            )
            try:
                out, _ = gen_proc.communicate(timeout=ctx.seconds + 60)
            finally:
                if gen_proc.poll() is None:
                    gen_proc.kill()
                    gen_proc.wait()
            if gen_proc.returncode != 0:
                raise RuntimeError(f"stream generator exited {gen_proc.returncode}")
            audit = json.loads(out)
            deadline = time.time() + self.GRACE_S
            while time.time() < deadline and sum(b[2].num_rows for b in batches) < plan.n_events:
                if q.exception() is not None:
                    break
                time.sleep(0.05)
            t_end = time.time()
            if q.exception() is not None:
                raise RuntimeError(f"stream query failed: {q.exception()}")
            progress = [p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress]
            progress = [p for p in progress if p["batchId"] > self.prime_batch]
        finally:
            q.stop()
        return self._score(ctx, plan, batches, t0, t_end, audit, progress)

    def _score(self, ctx, plan, batches, t0, t_end, audit, progress) -> Measured:
        t0_us = int(round(t0 * 1e6))
        created = plan.created(t0_us)
        due_s = t0 + plan.tick_of * self.TICK_S
        emits = np.zeros(plan.n_events, dtype=np.int64)
        wrong = np.zeros(plan.n_events, dtype=bool)
        done_at = np.full(plan.n_events, np.inf)
        unknown = 0
        backlog = []  # (batch finish, files written minus files in committed batches)
        max_tick_seen = -1
        for _, finished, tbl in sorted(batches, key=lambda b: b[0]):
            if tbl.num_rows == 0:
                continue
            c = tbl.column("created").to_numpy()
            idx = np.searchsorted(created, c)
            ok = (idx < created.size) & (created[np.minimum(idx, created.size - 1)] == c)
            unknown += int((~ok).sum())
            idx = idx[ok]
            np.add.at(emits, idx, 1)
            run = tbl.column("running_micros").to_numpy()[ok]
            uid = tbl.column("user_id").to_numpy()[ok]
            wrong[idx] |= (run != plan.prefix[idx]) | (uid != plan.user_id[idx])
            done_at[idx] = np.minimum(done_at[idx], finished)
            max_tick_seen = max(max_tick_seen, int(plan.tick_of[idx].max()))
            written = min(plan.n_ticks, int((finished - t0) / self.TICK_S) + 1)
            backlog.append((finished, written - (max_tick_seen + 1)))
        lat_ms = (done_at - due_s) * 1e3
        emitted = emits > 0
        failed_mask = (~emitted) | (emits > 1) | wrong | (lat_ms > self.LATENCY_LIMIT_MS)
        lat = lat_ms[emitted]
        n_batches = sum(1 for b in batches if b[2].num_rows)
        span = (done_at[emitted].max() - t0) if emitted.any() else float("nan")
        # backlog while the generator still writes (after that it can only drain)
        b_vals = [(fin, b) for fin, b in backlog if fin <= t0 + plan.n_ticks * self.TICK_S]
        growth = backlog_growth(b_vals) if len(b_vals) >= self.MIN_TREND_BATCHES else None
        # a growing backlog means the rate is above what the host sustains;
        # too few batches to fit a trend cannot show that it is not growing
        flat = growth is not None and growth <= self.TRIGGER_S / self.TICK_S
        on_time = audit["max_lateness_s"] <= self.TICK_S
        if not on_time:
            ctx.log(f"INVALID run: generator fell {audit['max_lateness_s']:.3f}s behind (> one tick)")
        if not flat:
            ctx.log(f"INVALID run: backlog grew by {growth} files over {len(b_vals)} batches")
        return Measured(
            records_per_s=int(emitted.sum()) / span if emitted.any() else 0.0,
            latency_ms=lat.tolist(),
            attempted=plan.n_events,
            failed=int(failed_mask.sum()) + unknown,
            windows=[(t0, t_end)],
            details={
                "offered_rate": self.RATE,
                "tick_s": self.TICK_S,
                "events": plan.n_events,
                "distinct_keys": plan.n_keys,
                "latency_limit_ms": self.LATENCY_LIMIT_MS,
                "never_emitted": int((~emitted).sum()),
                "emitted_twice": int((emits > 1).sum()),
                "wrong_running_sum": int(wrong.sum()),
                "over_latency_limit": int((lat_ms[emitted] > self.LATENCY_LIMIT_MS).sum()),
                "unknown_rows": unknown,
                "batches": n_batches,
                "latency_samples": int(lat.size),
                "highest_supported_percentile": highest_supported_percentile(int(lat.size)),
                "highest_supported_percentile_by_batches": highest_supported_percentile(n_batches),
                "backlog_files": [b for _, b in b_vals],
                "backlog_growth_files": growth,
                "backlog_flat": flat,
                "generator": audit,
                "valid": on_time and flat,
            },
            layers={"progress": progress, "backlog_files_max": max((b for _, b in b_vals), default=0)},
        )

    def trace_layers(self, ctx: Ctx, m: Measured, jobs, stages, extra: dict) -> dict:
        prog = [p for p in m.layers["progress"] if p.get("numInputRows", 0) > 0]

        def dur(p, k):
            return float((p.get("durationMs") or {}).get(k, 0))

        def p50(vals):
            return median(vals) if vals else 0.0

        ops = [(p.get("stateOperators") or [{}])[0] for p in prog]
        upd_ms = [float(o.get("allUpdatesTimeMs", 0)) for o in ops]
        upd_rows = sum(int(o.get("numRowsUpdated", 0)) for o in ops)
        last = ops[-1] if ops else {}
        return {
            "operators.running_reduce_stream.state_fn_ms_per_batch": p50(upd_ms),
            "operators.running_reduce_stream.ms_per_updated_key": sum(upd_ms) / upd_rows if upd_rows else 0.0,
            "sources.offset_ms": p50([dur(p, "latestOffset") + dur(p, "getBatch") for p in prog]),
            "sources.backlog_files_max": m.layers["backlog_files_max"],
            "streaming.trigger_ms": p50([dur(p, "triggerExecution") for p in prog]),
            "streaming.add_batch_ms": p50([dur(p, "addBatch") for p in prog]),
            "streaming.query_planning_ms": p50([dur(p, "queryPlanning") for p in prog]),
            "streaming.wal_commit_ms": p50([dur(p, "walCommit") for p in prog]),
            "streaming.commit_offsets_ms": p50([dur(p, "commitOffsets") for p in prog]),
            "streaming.state_commit_ms": p50([float(o.get("commitTimeMs", 0)) for o in ops]),
            "streaming.state_rows_total": int(last.get("numRowsTotal", 0)),
            "streaming.state_memory_bytes": int(last.get("memoryUsedBytes", 0)),
            "streaming.batches": len(prog),
            "streaming.rows_per_batch": p50([float(p["numInputRows"]) for p in prog]),
        }


# ------------------------------------------------------------ curation_neardup


SPEC = [{"op": "gopher_gate"}, {"op": "neardup_quality_reps"}]
# How far the decomposed stages' summed time may sit from the wall of a plain
# run of the timed job made just before them, as a share of it.
COVERAGE_TOLERANCE = 0.25


class CurationNeardup(Workload):
    """Closed loop: run_pipeline(gopher_gate → neardup_quality_reps), then one
    action that reads back (keep_id, n_dups)."""

    name = "curation_neardup"
    N_DOCS = 1000
    # Untimed runs before the clock starts. After one, the first timed run
    # was 12-30% slower than the second (the JIT still compiling), so a
    # run's p50 and p90 measured how far the warm-up got. After two, a run's
    # timed iterations agree within ~10%. The second costs 6-8 s of set-up.
    WARMUP_RUNS = 2
    RECALL_FLOOR = 0.9

    def prepare(self, ctx: Ctx) -> None:
        self.inp = gen.curation_input(ctx.dir("cur"), ctx.seed, self.N_DOCS)

    def _job(self, spark, inp, tracer: Tracer):
        from mini_flink_spark.pipeline_spec import run_pipeline

        docs = spark.read.parquet(inp.path)
        with tracer.span("pipeline_spec.run_pipeline"):
            out = run_pipeline(docs, SPEC)
        with tracer.span("pipeline_spec.action"):
            return out.select("keep_id", "n_dups").toArrow()

    def check(self, res, inp) -> tuple[list[str], float]:
        """Gate drops equal the planted failures; per-family mass balance
        (the n_dups of the reps drawn from a family sum to its size, which
        any group mixing two families breaks unless two mixes cancel
        exactly); planted-family recall at or above RECALL_FLOOR."""
        errs = []
        keep = res.column("keep_id").to_numpy()
        nd = res.column("n_dups").to_numpy()
        n_pass = inp.n_docs - inp.gate_fail_ids.size
        if int(nd.sum()) != n_pass:
            errs.append(f"groups cover {int(nd.sum())} docs, gate passes {n_pass}")
        if np.isin(keep, inp.gate_fail_ids).any():
            errs.append("a planted gate failure survived the gate")
        if np.unique(keep).size != keep.size:
            errs.append("duplicate keep_id")
        fam_mass: dict[int, int] = {}
        fam_reps: dict[int, int] = {}
        for k, n in zip(keep.tolist(), nd.tolist()):
            f = inp.family_of.get(k)
            if f is None:
                if n != 1:
                    errs.append(f"singleton {k} grouped with {n - 1} other docs")
                continue
            fam_mass[f] = fam_mass.get(f, 0) + n
            fam_reps[f] = fam_reps.get(f, 0) + 1
        mixed = [f for f, size in inp.family_sizes.items() if fam_mass.get(f, 0) != size]
        if mixed:
            errs.append(f"{len(mixed)} families' groups mix in other docs")
        merges = sum(size - 1 for size in inp.family_sizes.values())
        missed = sum(fam_reps.get(f, 0) - 1 for f in inp.family_sizes)
        recall = 1.0 - missed / merges if merges else 1.0
        if recall < self.RECALL_FLOOR:
            errs.append(f"family recall {recall:.3f} < floor {self.RECALL_FLOOR}")
        return errs[:10], recall

    def warmup(self, spark, ctx: Ctx) -> None:
        """WARMUP_RUNS untimed runs of the timed pipeline (see WordcountRunning.warmup)."""
        for _ in range(self.WARMUP_RUNS):
            errs, _ = self.check(self._job(spark, self.inp, Tracer("warm", False)), self.inp)
            if errs:
                raise RuntimeError(f"warm-up output wrong: {errs}")

    def measure(self, spark, ctx: Ctx) -> Measured:
        recalls = []

        def check(res):
            errs, recall = self.check(res, self.inp)
            recalls.append(recall)
            return errs

        walls, windows, failed, errors = _closed_loop(
            ctx, "curation_neardup.iteration",
            lambda: self._job(spark, self.inp, ctx.tracer), check,
        )
        return Measured(
            records_per_s=self.inp.n_docs / median(walls),
            latency_ms=[w * 1e3 for w in walls],
            attempted=len(walls),
            failed=failed,
            windows=windows,
            details={
                "docs": self.inp.n_docs,
                "families": len(self.inp.family_sizes),
                "family_docs": sum(self.inp.family_sizes.values()),
                "planted_gate_failures": int(self.inp.gate_fail_ids.size),
                "singletons": self.inp.n_singletons,
                "recall": recalls,
                "recall_floor": self.RECALL_FLOOR,
                "iteration_s": walls,
                "errors": errors[:10],
            },
        )

    def trace_live(self, spark, ctx: Ctx, m: Measured) -> dict:
        # The decomposed stages against a plain run of the timed job made
        # just before them, so both see the same host: each stage is
        # materialized on its own, so this tests that the split loses or
        # adds no work the timed run does not. A timed iteration from before
        # the decomposition is no reference on a shared host, where CPU
        # steal can double one wall and leave the next alone.
        t = time.perf_counter()
        res = self._job(spark, self.inp, Tracer("reference", False))
        reference_s = time.perf_counter() - t
        errs, _ = self.check(res, self.inp)
        if errs:
            raise RuntimeError(f"reference curation output wrong: {errs}")
        out = self.decompose(spark, ctx)
        coverage = out["_stage_sum_s"] / reference_s
        m.details["reference_s"] = reference_s
        m.details["decomposed_coverage"] = coverage
        m.details["lsh_split_coverage"] = out["_split_sum_s"] / out["functions.dedup.minhash_lsh_pairs_s"]
        if abs(1.0 - coverage) > COVERAGE_TOLERANCE:
            ctx.log(f"decomposed stages sum to {coverage:.3f} of the timed wall, outside ±{COVERAGE_TOLERANCE}")
            m.details["valid"] = False
        if not out["_split_matches_library"]:
            ctx.log("the recomposed LSH split finds other pairs than minhash_lsh_pairs")
            m.details["valid"] = False
        return out

    def trace_layers(self, ctx: Ctx, m: Measured, jobs, stages, extra: dict) -> dict:
        spans = self_time_by_name(ctx.tracer.spans)
        n_it = len(m.windows)
        cc_jobs, _ = _jobs_in(jobs, stages, *extra["_cc_window"])
        return {
            "pipeline_spec.construct_s": spans.get("pipeline_spec.run_pipeline", 0.0) / n_it,
            "pipeline_spec.action_s": spans.get("pipeline_spec.action", 0.0) / n_it,
            "functions.dedup.components_jobs": len(cc_jobs),
        }

    def decompose(self, spark, ctx: Ctx) -> dict:
        """The timed pipeline's steps run one at a time, each materialized in
        its own span, so a span's time is its step's cost:

        - the spec's gate prefix (``run_pipeline`` with the gate alone);
        - ``dedup.minhash_lsh_pairs``, the library call;
        - ``dedup.connected_components``, the library call;
        - the rest of ``_stage_neardup_quality_reps`` (quality score,
          labeled join, representative per group, keep_id rejoin) and the
          timed run's action, written out here from the stage's body.

        These four sum to the wall of a plain run of the timed job within
        COVERAGE_TOLERANCE. Then, outside that sum, ``minhash_lsh_pairs`` is
        split into shingle, signature, band join and verify by recomposing
        its body from the library's public parts; the split must find the
        library's pairs exactly."""
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from mini_flink_spark.functions import dedup as D
        from mini_flink_spark.functions import text as T
        from mini_flink_spark.pipeline_spec import run_pipeline

        tr = ctx.tracer
        docs = spark.read.parquet(self.inp.path)
        with tr.span("curation_neardup.decomposed"):
            with tr.span("functions.text.gate"):
                gated = run_pipeline(docs, [{"op": "gopher_gate"}]).localCheckpoint(
                    eager=True, storageLevel=StorageLevel.DISK_ONLY
                )
            with tr.span("functions.dedup.minhash_lsh_pairs"):
                pairs = D.minhash_lsh_pairs(gated, "doc_id", "text", threshold=0.5).localCheckpoint(eager=True)
            t_cc = time.time()
            with tr.span("functions.dedup.connected_components"):
                comp = D.connected_components(pairs).localCheckpoint(eager=True)
            t_cc_end = time.time()
            with tr.span("pipeline_spec.neardup_select"):
                tk = gated.select("doc_id", T.tokens("text").alias("t"))
                scored = tk.select("doc_id", T.quality_score_from_tokens(F.col("t")).alias("q"))
                labeled = scored.join(comp, scored.doc_id == comp.id, "left").select(
                    F.coalesce(F.col("component"), F.col("doc_id")).cast("bigint").alias("group_id"),
                    "doc_id",
                    "q",
                )
                kept = (
                    labeled.groupBy("group_id")
                    .agg(
                        F.min(F.struct((-F.col("q")).alias("negq"), F.col("doc_id").alias("keep_id"))).alias("b"),
                        F.count(F.lit(1)).cast("bigint").alias("n_dups"),
                    )
                    .select(F.col("b.keep_id").alias("keep_id"), "n_dups")
                )
                res = (
                    kept.join(gated.select(F.col("doc_id").alias("keep_id"), "text", "lang"), "keep_id")
                    .select("keep_id", "n_dups")
                    .toArrow()
                )
        errs, _ = self.check(res, self.inp)
        if errs:
            raise RuntimeError(f"decomposed curation output wrong: {errs}")
        split = self._lsh_split(gated, tr)
        lib = pairs.select("a", "b")
        split_pairs = split.pop("_pairs")
        matches = lib.exceptAll(split_pairs).count() == 0 and split_pairs.exceptAll(lib).count() == 0
        dur = {s.name: s.end - s.start for s in tr.spans}
        stage_names = ("functions.text.gate", "functions.dedup.minhash_lsh_pairs",
                       "functions.dedup.connected_components", "pipeline_spec.neardup_select")
        split_names = ("functions.dedup.shingle", "functions.dedup.signature",
                       "functions.dedup.band_join", "functions.dedup.verify")
        n_gated = gated.count()
        return {
            "_cc_window": (t_cc, t_cc_end),
            "_stage_sum_s": sum(dur[k] for k in stage_names),
            "_split_sum_s": sum(dur[k] for k in split_names),
            "_split_matches_library": matches,
            "functions.text.gate_s": dur["functions.text.gate"],
            "functions.text.gate_drop_frac": 1.0 - n_gated / self.inp.n_docs,
            "functions.dedup.minhash_lsh_pairs_s": dur["functions.dedup.minhash_lsh_pairs"],
            "functions.dedup.shingle_s": dur["functions.dedup.shingle"],
            "functions.dedup.signature_s": dur["functions.dedup.signature"],
            "functions.dedup.band_join_s": dur["functions.dedup.band_join"],
            "functions.dedup.verify_s": dur["functions.dedup.verify"],
            "functions.dedup.components_s": dur["functions.dedup.connected_components"],
            "pipeline_spec.neardup_select_s": dur["pipeline_spec.neardup_select"],
            **split,
        }

    @staticmethod
    def _lsh_split(gated, tr: Tracer) -> dict:
        """``minhash_lsh_pairs``' body, one materialized step per span: the
        library's own parts (shingled, minhash_sig_arrow, minhash_bands,
        MAX_BAND_BUCKET, portable_hash64) joined as that function joins them."""
        from pyspark.sql import functions as F

        from mini_flink_spark.functions import dedup as D
        from mini_flink_spark.functions.hashing import portable_hash64

        with tr.span("functions.dedup.lsh_split"):
            with tr.span("functions.dedup.shingle"):
                base = (
                    D.shingled(gated, "doc_id", "text")
                    .withColumn("sh_h", F.array_distinct(F.transform("sh", lambda s: portable_hash64(s))))
                    .withColumn("n_sh", F.array_size("sh_h"))
                    .localCheckpoint(eager=True)
                )
            with tr.span("functions.dedup.signature"):
                sig = D.minhash_sig_arrow(base).localCheckpoint(eager=True)
            with tr.span("functions.dedup.band_join"):
                banded = sig.select(
                    "id", F.explode(D.minhash_bands(F.col("sig"))).alias("band_s")
                ).select("id", portable_hash64(F.col("band_s")).alias("band")).localCheckpoint(eager=True)
                hot = (
                    banded.groupBy("band").agg(F.count(F.lit(1)).alias("c"))
                    .filter(F.col("c") > D.MAX_BAND_BUCKET).select("band")
                )
                banded = banded.join(F.broadcast(hot), "band", "left_anti")
                cand = (
                    banded.alias("l").join(banded.alias("r"), "band")
                    .filter(F.col("l.id") < F.col("r.id"))
                    .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
                    .distinct()
                    .localCheckpoint(eager=True)
                )
                n_cand = cand.count()
            with tr.span("functions.dedup.verify"):
                lhs = base.select(F.col("id").alias("a"), F.col("sh_h").alias("sh_a"), F.col("n_sh").alias("na"))
                rhs = base.select(F.col("id").alias("b"), F.col("sh_h").alias("sh_b"), F.col("n_sh").alias("nb"))
                inter = F.array_size(F.array_intersect("sh_a", "sh_b"))
                pairs = (
                    cand.join(lhs, "a").join(rhs, "b")
                    .filter(F.round(inter / (F.col("na") + F.col("nb") - inter), 6) >= 0.5)
                    .select("a", "b")
                    .localCheckpoint(eager=True)
                )
                n_pairs = pairs.count()
        return {
            "_pairs": pairs,
            "functions.dedup.lsh_candidates": n_cand,
            "functions.dedup.verified_pairs": n_pairs,
            "functions.dedup.lsh_precision": n_pairs / n_cand if n_cand else 0.0,
        }


WORKLOADS = {w.name: w for w in (WordcountRunning, StreamRunningReduce, CurationNeardup)}
