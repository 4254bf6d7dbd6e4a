"""The three benchmark workloads.

Each workload is a closed loop on one driver: set up (session + seeded
inputs) several times, check outputs outside the timed region, then run
timed passes back to back until ``seconds`` have elapsed (at least one
pass), calling ``spark.catalog.clearCache()`` before every pass so plans
start cold on a warm JVM.  A workload returns a ``Result``: end-to-end
metrics, per-layer metrics (traced runs only), check counts and the host
stamp of its timed region.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from dataclasses import dataclass, field

import hostinfo
import measure
import metrics
from spans import ZERO, Tracer, add

T0 = time.perf_counter()
SETUPS = 4
SWEEP_SCALE = 0.01
WARM_QUERIES = ("transcripts", "feature_vector", "asof_backfill_pandas",
                "minhash", "q3_shipping_priority", "ann_ivf", "rolling_stream")
FV_CONVS, FV_WARM_PASSES, PREFIX_RUNS = 30_000, 2, 3
PIPE_CONVS, PIPE_HOT_TURNS, PIPE_BUCKETS = 2_000, 70_000, 16


@dataclass
class Result:
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=lambda: dict.fromkeys(metrics.PER_LAYER_NAMES, 0))
    attempted: int = 0
    failed: int = 0
    notes: list = field(default_factory=list)
    stamp: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)


class Bench:
    """Session management, set-up repetitions and span bookkeeping shared
    by the workloads."""

    def __init__(self, root: str, tmp: str, seed: int, seconds: float,
                 tracer: Tracer) -> None:
        self.root, self.tmp, self.seed, self.seconds = root, tmp, seed, seconds
        self.tracer = tracer
        self.cores = hostinfo.cores()
        self.conf = hostinfo.spark_conf(tmp)
        self.spark = None
        self.result = Result()

    def session(self, cores: int):
        from radarpipeline_spark import get_spark

        if self.spark is not None:
            self.tracer.release()
            self.spark.stop()
        with self.tracer.span("session.get_spark", cores=cores):
            self.spark = get_spark(
                app_name="perfbench", master=f"local[{cores}]",
                shuffle_partitions=2 * self.cores, extra_conf=self.conf,
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.bind(self.spark)
        return self.spark

    def log(self, what: str) -> None:
        print(f"perfbench: {time.perf_counter() - T0:7.2f}s {what}",
              file=sys.stderr, flush=True)

    def setup(self, gen) -> None:
        """``SETUPS`` times: fresh session, then ``gen()`` writes inputs.
        Reports the medians; the first set-up also starts the JVM.  The
        previous set-up's session is stopped off the clock."""
        totals, starts, gens = [], [], []
        for _ in range(SETUPS):
            self.stop()
            t0 = time.perf_counter()
            with self.tracer.span("setup"):
                self.session(self.cores)
                t1 = time.perf_counter()
                with self.tracer.span("sources.gen"):
                    gen()
            t2 = time.perf_counter()
            totals.append(t2 - t0)
            starts.append(t1 - t0)
            gens.append(t2 - t1)
        r = self.result
        r.e2e["setup_s"] = measure.median(totals)
        r.layers["session.start_s"] = measure.median(starts)
        r.layers["sources.gen_s"] = measure.median(gens)

    def timed(self, one_pass, seconds: float, **attrs) -> list[float]:
        """Run ``one_pass(n)`` until ``seconds`` have elapsed (at least
        once); returns each pass's time: its wall time, or the time the
        pass returns when it keeps some of its work off the clock."""
        times: list[float] = []
        t_end = time.perf_counter() + seconds
        while not times or time.perf_counter() < t_end:
            self.spark.catalog.clearCache()
            with self.tracer.span("pass", n=len(times), **attrs):
                t0 = time.perf_counter()
                spent = one_pass(len(times))
                wall = time.perf_counter() - t0
            times.append(wall if spent is None else spent)
        return times

    def passes(self, **attrs) -> list[dict]:
        return [
            s for s in self.tracer.named("pass")
            if all(s["attrs"].get(k) == v for k, v in attrs.items())
        ]

    def exec_layers(self, passes: list[dict], cores: int) -> dict:
        """Per-pass means of the status-store deltas under ``passes``; the
        wall time excludes the output checks (which run no Spark job)."""
        tot = dict(ZERO)
        wall = 0.0
        for p in passes:
            add(tot, self.tracer.subtree(p))
            wall += p["end"] - p["start"] - sum(
                c["end"] - c["start"] for c in self.tracer.children(p)
                if c["name"] == "check")
        n = max(len(passes), 1)
        wall /= n
        L = self.result.layers
        L["exec.run_s"] = tot["run_ms"] / 1e3 / n
        L["exec.cpu_s"] = tot["cpu_ns"] / 1e9 / n
        L["exec.gc_s"] = tot["gc_ms"] / 1e3 / n
        L["exec.busy_frac"] = L["exec.cpu_s"] / (wall * cores) if wall else 0
        L["exec.jobs"] = tot["jobs"] / n
        L["exec.stages"] = tot["stages"] / n
        L["exec.tasks"] = tot["tasks"] / n
        L["exec.peak_mem_bytes"] = tot["peak_mem_bytes"]
        L["exec.task_skew"] = tot["longest"][1] if tot.get("longest") else 0
        L["shuffle.write_bytes"] = tot["shuffle_write_bytes"] / n
        L["shuffle.read_bytes"] = tot["shuffle_read_bytes"] / n
        L["spill.bytes"] = tot["spill_bytes"] / n
        L["sources.scan_bytes"] = tot["scan_bytes"] / n
        L["python.worker_init_s"] = tot["py_init_ms"] / 1e3 / n
        L["python.bytes_sent"] = tot["py_sent_bytes"] / n
        L["python.bytes_recv"] = tot["py_recv_bytes"] / n
        return tot

    def self_times(self, n_passes: int) -> None:
        """``<layer>.self_s``: self time of the layer's spans inside timed
        passes, per pass."""
        by_id = {s["id"]: s for s in self.tracer.spans}

        def root(s):
            while s["parent"] is not None:
                s = by_id[s["parent"]]
            return s["name"]

        per: dict[str, float] = {}
        for s in self.tracer.spans:
            layer = metrics.layer_of(s["name"])
            if layer and root(s) == "pass":
                per[layer] = per.get(layer, 0.0) + measure.self_time(
                    s, self.tracer.children(s))
        for layer, v in per.items():
            self.result.layers[f"{layer}.self_s"] = v / max(n_passes, 1)

    def finish_e2e(self, pass_times: list[float], turns: int) -> None:
        """End-to-end figures of the timed passes; call right after them."""
        r = self.result
        r.e2e["pass_s"] = measure.median(pass_times)
        r.e2e["turns_per_s"] = turns / r.e2e["pass_s"]
        r.stamp["passes_s"] = pass_times
        if self.tracer.enabled:
            r.layers["exec.driver_rss_mb"] = hostinfo.jvm_peak_rss_mb(self.spark)
            r.layers["exec.heap_live_mb"] = hostinfo.jvm_live_heap_mb(self.spark)

    def stop(self) -> None:
        if self.spark is not None:
            self.tracer.release()
            self.spark.stop()
            self.spark = None


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


# ------------------------------------------------------------------ sweep


def sweep(b: Bench) -> Result:
    """All registry queries in registry order, each built and collected to
    the driver on the clock.  Collecting, not the noop sink, lets the
    first pass's own outputs be checked: a separate check pass would cost
    as much as a timed one and nearly double the run."""
    import duckdb

    import __spark_entry__ as entry
    from radarpipeline_spark.streaming import audit

    import inputs

    r, tr = b.result, b.tracer
    sf = os.path.join(b.tmp, "sf")

    def gen():
        shutil.rmtree(sf, ignore_errors=True)
        inputs.write_tables(sf, b.seed, SWEEP_SCALE)

    b.setup(gen)
    b.log(f"setup done {b.result.e2e['setup_s']:.2f}")
    spark = b.spark
    queries, oracles = entry.queries(), entry.oracle_sql()

    # untimed warm-up, one query per kind of code path (windows, as-of,
    # Arrow UDFs, text, joins, iterative build, streaming): the JIT
    # compiles the common paths before the clock starts
    for name in WARM_QUERIES:
        queries[name](spark, sf).toPandas()

    con = duckdb.connect()
    con.execute(f"SET threads TO {b.cores}")
    for t in inputs.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(sf, t + '.parquet')}'")
    rows: dict[str, int] = {}

    def verify(name: str, got) -> None:
        """A query's collected output against its DuckDB twin; a query
        without a twin is checked on rows against the query it
        approximates."""
        rows[name] = len(got)
        if name in oracles:
            want = con.execute(oracles[name]).fetchdf()
            r.check(measure.frame_digest(got) == measure.frame_digest(want),
                    f"sweep:{name} digest differs from its DuckDB twin")
        else:
            twin = oracles[name.removesuffix("_approx")]
            n_want = con.execute(f"SELECT count(*) FROM ({twin})").fetchone()[0]
            r.check(len(got) == n_want, f"sweep:{name} row count")

    per_query: dict[str, list[float]] = {n: [] for n in queries}
    held: list[int] = []

    def one_pass(n: int) -> float:
        """Each query built and collected to the driver on the clock; in
        the first pass the collected rows are then checked off the clock.
        Returns the time on the clock."""
        spent = 0.0
        for name, fn in queries.items():
            spark.catalog.clearCache()
            before = tr.storage_bytes()
            layer = "streaming" if name.endswith("_stream") else "entry"
            t0 = time.perf_counter()
            with tr.span(f"{layer}.build", query=name):
                df = fn(spark, sf)
            with tr.span("sinks.collect", query=name):
                got = df.toPandas()
            dt = time.perf_counter() - t0
            per_query[name].append(dt)
            spent += dt
            held.append(max(0, tr.storage_bytes() - before))
            if n == 0:
                with tr.span("check", query=name):
                    verify(name, got)
        return spent

    stamp = hostinfo.Stamp()
    times = b.timed(one_pass, b.seconds)
    r.stamp = stamp.close()
    b.log("timed done")
    con.close()
    b.finish_e2e(times, rows["transcripts"])
    r.attempted += len(queries) * len(times)

    if tr.enabled:
        L = r.layers
        passes = b.passes()
        b.exec_layers(passes, b.cores)
        disk = _dir_bytes(sf)
        L["sources.scan_amplification"] = L["sources.scan_bytes"] / disk
        builds = [s for s in tr.spans
                  if s["name"] in ("entry.build", "streaming.build")]
        L["entry.build_s"] = sum(s["end"] - s["start"] for s in builds) / len(times)
        cells = [measure.median(v) for v in per_query.values()]
        L["entry.query_p50_s"] = measure.median(cells)
        L["entry.query_tail_s"] = measure.tail_percentile(
            [t for v in per_query.values() for t in v])[1]
        for name, v in per_query.items():
            L[f"entry.q.{name}_s"] = measure.median(v)
        L["storage.held_after_cell_bytes"] = sum(held) / len(times)
        for cell in metrics.STREAM_CELLS:
            L.update(_stream_layers(cell, audit.LAST_QUERIES.get(cell)))
        b.self_times(len(times))
    return r


def _stream_layers(cell: str, query) -> dict:
    """Micro-batch timings and state-store figures of the last run of one
    streaming cell, from its ``recentProgress``."""
    prog = list(query.recentProgress) if query is not None else []
    dur = [p["durationMs"] for p in prog]
    ops = [o for p in prog for o in p.get("stateOperators", [])]
    last_ops = prog[-1].get("stateOperators", []) if prog else []
    k = f"streaming.{cell}."
    return {
        k + "batches": len(prog),
        k + "batch_p50_ms": measure.median([d.get("triggerExecution", 0) for d in dur]) if dur else 0,
        k + "planning_ms": sum(d.get("queryPlanning", 0) for d in dur),
        k + "add_batch_ms": sum(d.get("addBatch", 0) for d in dur),
        k + "commit_ms": sum(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur),
        k + "state_rows": sum(o.get("numRowsTotal", 0) for o in last_ops),
        k + "state_mem_bytes": max((o.get("memoryUsedBytes", 0) for o in ops), default=0),
        k + "state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
    }


# -------------------------------------------------------- transcript inputs


def _write_transcripts(b: Bench, out: str, **kw) -> None:
    """Seeded transcripts plus an as-of side table: one aux value 30 s
    after roughly every fifth turn."""
    import pyspark.sql.functions as F

    from radarpipeline_spark.sources import synthesize_transcripts

    t = synthesize_transcripts(b.spark, seed=b.seed, **kw)
    t.write.mode("overwrite").parquet(os.path.join(out, "turns"))
    t = b.spark.read.parquet(os.path.join(out, "turns"))
    draw = F.pmod(F.xxhash64(F.lit(b.seed), "conv_id", "turn_idx"), F.lit(1000))
    (
        t.filter(draw % 5 == 0)
        .select("conv_id", (F.col("ts") + F.expr("INTERVAL 30 SECONDS")).alias("ts"),
                (draw / 10.0).alias("aux_value"))
        .write.mode("overwrite").parquet(os.path.join(out, "aux"))
    )


# -------------------------------------------------------------- fv_sparse


def fv_sparse(b: Bench) -> Result:
    """feature_vector + as-of over skew-free transcripts, at local[nproc]
    and at local[1]."""
    from radarpipeline_spark.operators import (
        asof_join,
        feature_vector,
        lag_lead_features,
        rolling_features,
        sessionize,
    )

    r, tr = b.result, b.tracer
    d = os.path.join(b.tmp, "fv")
    b.setup(lambda: _write_transcripts(b, d, n_convs=FV_CONVS, skew_convs=0,
                                       skew_len=0))
    read = lambda: (  # noqa: E731
        b.spark.read.parquet(os.path.join(d, "turns")).drop("text"),
        b.spark.read.parquet(os.path.join(d, "aux")),
    )
    turns = read()[0].count()

    def job():
        with tr.span("operators.feature_vector"):
            t, aux = read()
            return asof_join(feature_vector(t), aux)

    def one_pass(n):
        df = job()
        with tr.span("sinks.noop"):
            df.write.format("noop").mode("overwrite").save()

    want = measure.spark_digest(job())
    for n in range(FV_WARM_PASSES):  # the JIT compiles the job's code paths
        one_pass(n)
    stamp = hostinfo.Stamp()
    # the local[1] leg feeds only exec.scaling_eff, a per-layer metric
    t_n = b.timed(one_pass, b.seconds / (2 if tr.enabled else 1), cores=b.cores)
    r.stamp = stamp.close()
    b.finish_e2e(t_n, turns)
    if tr.enabled:
        # prefix materializations: each stage's self time is the
        # difference between consecutive prefixes (medians of a few runs)
        t, aux = read()
        prefixes = [t, sessionize(t)]
        prefixes.append(lag_lead_features(prefixes[-1]))
        prefixes.append(rolling_features(prefixes[-1]))
        prefixes.append(asof_join(prefixes[-1], aux))
        walls = []
        for i, df in enumerate(prefixes):
            runs = []
            for _ in range(PREFIX_RUNS):
                b.spark.catalog.clearCache()
                with tr.span("operators.prefix", depth=i) as s:
                    df.write.format("noop").mode("overwrite").save()
                runs.append(s["end"] - s["start"])
            walls.append(measure.median(runs))
        for i, op in enumerate(("sessionize", "lag_lead", "rolling", "asof")):
            r.layers[f"operators.{op}.self_s"] = walls[i + 1] - walls[i]
    b.session(1)
    t_1 = b.timed(one_pass, b.seconds / 2, cores=1) if tr.enabled else []
    r.check(measure.spark_digest(job()) == want,
            "fv_sparse: local[1] digest differs from local[nproc]")
    r.attempted += len(t_n) + len(t_1)

    if tr.enabled:
        L = r.layers
        b.exec_layers(b.passes(cores=b.cores), b.cores)
        disk = _dir_bytes(d)
        L["sources.scan_amplification"] = L["sources.scan_bytes"] / disk
        tps_n, tps_1 = turns / measure.median(t_n), turns / measure.median(t_1)
        L["exec.scaling_eff"] = tps_n / (b.cores * tps_1)
        b.self_times(len(t_n) + len(t_1))
    return r


# --------------------------------------------------------------- pipeline


def pipeline(b: Bench) -> Result:
    """The CLI job: skew-routed features + as-of under a 16-bucket
    checkpointed run writing parquet and a manifest."""
    from radarpipeline_spark import cli
    from radarpipeline_spark.checkpoint import (
        CheckpointedFeatureRun,
        input_lineage_of,
    )
    from radarpipeline_spark.operators import asof_join, feature_vector

    r, tr = b.result, b.tracer
    d = os.path.join(b.tmp, "pipe")
    out = os.path.join(b.tmp, "pipe_out")
    b.setup(lambda: _write_transcripts(
        b, d, n_convs=PIPE_CONVS, skew_convs=2, skew_len=PIPE_HOT_TURNS,
        dense_skew=True))
    spark = b.spark
    src = os.path.join(d, "turns")
    cfg = {
        "input": {"path": src, "aux_path": os.path.join(d, "aux")},
        "output": {"path": out, "n_buckets": PIPE_BUCKETS},
    }
    cli.validate_config(cfg)
    turns = spark.read.parquet(src).count()

    # reference output: the plain, unbucketed feature vector on the same
    # input; "prefix" keeps the dense hot
    # conversations O(rows) and is value-identical to "sliding"
    want = measure.spark_digest(asof_join(
        feature_vector(spark.read.parquet(src), rolling_strategy="prefix"),
        spark.read.parquet(os.path.join(d, "aux")),
    ))

    run_box: dict = {}
    build_marks: list[tuple[float, float]] = []

    def one_pass(n):
        shutil.rmtree(out, ignore_errors=True)
        t, build = cli.build_features(spark, cfg)

        def traced_build(df):
            t0 = time.perf_counter()
            with tr.span("operators.skew.build"):
                res = build(df)
            build_marks.append((t0, time.perf_counter()))
            return res

        run = CheckpointedFeatureRun(out, n_buckets=PIPE_BUCKETS)
        with tr.span("checkpoint.run"):
            run_box["results"] = run.run(
                spark, traced_build, t, input_lineage=input_lineage_of([src]))
        run_box["run"], run_box["end"] = run, time.perf_counter()

    stamp = hostinfo.Stamp()
    times = b.timed(one_pass, b.seconds)
    r.stamp = stamp.close()
    r.attempted += len(times) * PIPE_BUCKETS

    run, results = run_box["run"], run_box["results"]
    with tr.span("checkpoint.read_output"):
        got = measure.spark_digest(run.read_output(spark))
    done = run.completed_buckets()
    rows_out = sum(x.rows_out for x in results)
    r.check(got == want, "pipeline: read_output digest differs from feature_vector")
    r.check(len(done) == PIPE_BUCKETS, f"pipeline: {len(done)} committed buckets")
    r.check(rows_out == turns, f"pipeline: rows_out {rows_out} != {turns} turns")
    b.finish_e2e(times, turns)

    if tr.enabled:
        L = r.layers
        tot = b.exec_layers(b.passes(), b.cores)
        disk = _dir_bytes(d)
        L["sources.scan_amplification"] = L["sources.scan_bytes"] / disk
        last = build_marks[-PIPE_BUCKETS:]
        starts = [m[0] for m in last] + [run_box["end"]]
        buckets = [starts[i + 1] - starts[i] for i in range(PIPE_BUCKETS)]
        L["checkpoint.bucket_p50_s"] = measure.median(buckets)
        L["checkpoint.bucket_max_s"] = max(buckets)
        L["checkpoint.build_s"] = sum(e - s for s, e in last)
        L["checkpoint.jobs_per_bucket"] = tot["jobs"] / len(times) / PIPE_BUCKETS
        L["sinks.bytes_out"] = sum(x.bytes_out for x in results)
        L["sinks.rows_out"] = rows_out
        L["sinks.files_out"] = sum(
            f.endswith(".parquet") for _, _, fs in os.walk(out) for f in fs)
        L["sinks.bytes_per_turn"] = L["sinks.bytes_out"] / turns
        b.self_times(len(times))
    return r


WORKLOADS = {"sweep": sweep, "fv_sparse": fv_sparse, "pipeline": pipeline}
