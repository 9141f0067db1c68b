"""The three workloads, each in an untraced form (end-to-end metrics)
and a traced form (per-layer metrics).

The package is reached only through public calls: resolve() and its
stage functions in plans.pipeline, IncrementalRunner, the Claude Code
reader and the query layer."""

from __future__ import annotations

import gc
import json
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F

from perfbench import checks, gen, host
from perfbench.trace import Tracer

SIZES = {
    "er_batch": {"n_convs": 3000},
    "er_longtail": {"n_words": 1000, "n_band": 4},
    "inc_serve": {"n_base": 60, "n_batches": 40, "n_new": 10, "n_changed": 2},
}
# timed operations per untraced run: at least MIN_OPS, then more while
# one more is expected to end within --seconds; the run reports their
# median. A run spends 30-50 s on JVM start and the cold warm-up before
# it times anything (see README.md, "Time budget")
MIN_OPS = 1
QUERIES = ("hub_entities", "co_occurrence", "two_hop_neighbors")
SIM_PAIRS = 20_000  # pair sample for the in-process similarity kernel rate

LAYER_METRICS = (
    "sources.wall_s", "sources.rows_out",
    "extract.wall_s", "extract.cpu_s", "extract.mentions_out",
    "labels.wall_s", "labels.shuffle_bytes", "labels.labels_out",
    "blocking.wall_s", "blocking.cpu_s", "blocking.pairs_out",
    "blocking.pairs_per_label", "blocking.recall",
    "scoring.wall_s", "scoring.cpu_s", "scoring.edge_yield",
    "similarity.pairs_per_s",
    "context.wall_s", "context.band_labels",
    "cc.wall_s", "cc.edges_in", "cc.clusters_out",
    "join_back.wall_s",
    "incremental.wall_s", "incremental.parts_rewritten",
    "incremental.bytes_written", "incremental.write_amp",
    *(f"queries.{q}.wall_s" for q in QUERIES), "queries.input_bytes",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.core_busy_frac",
    "spark.shuffle_bytes", "spark.spill_bytes",
    "trace.coverage", "trace.overhead_frac",
)
# spans whose self time is a layer's; the op span's own self time is the
# untraced gap that trace.coverage reports
_LAYER_SPANS = {"extract", "labels", "blocking", "scoring", "context", "cc",
                "join_back", "sources", "incremental", *(f"queries.{q}" for q in QUERIES)}


def size_key(workload: str) -> str:
    return ",".join(f"{k}={v}" for k, v in SIZES[workload].items())


class Run:
    """One benchmark invocation: session, seed, scratch dir, op counts."""

    def __init__(self, spark, workload: str, seed: int, seconds: float,
                 work: Path, inputs: Path, cores: int):
        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.inputs = inputs
        self.cores = cores
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.detail: dict = {}

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)
        print(what, file=sys.stderr)

    def op(self, fn):
        """Run one operation; an exception marks it failed. Returns fn's
        result, or None when it raised."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
            self._fail(traceback.format_exc(limit=3))
            return None

    def expect(self, ok: bool, what: str) -> None:
        """A standalone output check, counted as one operation."""
        self.attempted += 1
        if not ok:
            self._fail(f"output check failed: {what}")


def _median(xs):
    return statistics.median(xs) if xs else None


def _another(done: int, least: int, t0: float, seconds: float,
             last: float) -> bool:
    """Whether to start another timed operation: fewer than `least` ran,
    or one more as long as the last is expected to end within `seconds`
    of t0."""
    return done < least or time.perf_counter() - t0 + last <= seconds


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _settle(spark) -> None:
    """Collect the previous operation's garbage before the next timed one:
    Python proxies first, so the JVM's full GC can free what they held
    and Spark's cleaner can drop the old shuffle files and broadcasts.
    Otherwise that collection lands inside a timed operation, at a point
    that varies from run to run."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


# ---- traced resolve: resolve()'s stage order, one span per call ------------
def traced_resolve(spark, turns, tracer: Tracer, min_sessions=None):
    """The stage calls resolve() makes (its no-checkpoint path), in its
    order and with its arguments, each under its own span and
    materialized before the next call. Returns (ResolutionResult,
    counts)."""
    from session_graph_spark.operators.blocking import candidate_pairs
    from session_graph_spark.operators.cc import assign_clusters
    from session_graph_spark.operators.extract import explode_mention_arrays
    from session_graph_spark.operators.scoring import (band_labels,
                                                       match_edges,
                                                       score_pairs)
    from session_graph_spark.plans import pipeline as P

    min_sessions = P.MIN_SESSIONS if min_sessions is None else min_sessions
    counts: dict = {}
    caches: list = []
    with tracer.span("resolve") as top:
        aliases = P.alias_df(spark)
        turns = P.prepare_turns(turns)
        with tracer.span("extract"):
            m_arrays = P.mention_arrays_from_turns(turns).cache()
            caches.append(m_arrays)
            counts["mentions"] = int(m_arrays.agg(
                F.sum(F.size("norm_labels"))).collect()[0][0] or 0)
        mentions = explode_mention_arrays(m_arrays)
        with tracer.span("labels"):
            labels = P.normalized_labels_from_arrays(
                m_arrays, aliases, min_sessions).cache()
            counts["labels"] = labels.count()
        with tracer.span("blocking"):
            pairs = candidate_pairs(labels, label_col="canon_label",
                                    block_col="block_key").cache()
            caches.append(pairs)
            counts["pairs"] = pairs.count()
        ctx_frames: list = []

        def ctx_builder(scored_fresh):
            with tracer.span("context"):
                wanted = band_labels(scored_fresh).cache()
                counts["band_labels"] = wanted.count()
                ctx = P._mention_context(mentions, aliases, labels, wanted)
                if ctx is not None:
                    ctx.count()
            ctx_frames.extend([wanted] + ([ctx] if ctx is not None else []))
            return ctx

        with tracer.span("scoring"):
            scored = score_pairs(pairs, context_builder=ctx_builder).cache()
            scored.count()
        for df in ctx_frames:
            df.unpersist()
        edges = match_edges(scored)
        with tracer.span("cc"):
            clusters = assign_clusters(labels, edges,
                                       label_col="canon_label").cache()
            counts["clusters"] = clusters.select("cluster_id").distinct().count()
        with tracer.span("join_back"):
            # resolve()'s join back to mentions, verbatim
            cl = clusters.select(F.col("label").alias("canon_label"), "cluster_id")
            dim_alias = (
                aliases.select(F.col("surface").alias("norm_label"),
                               F.col("canonical").alias("canon_label"))
                .join(cl, "canon_label")
                .select("norm_label", "canon_label", "cluster_id"))
            dim_direct = (
                cl.withColumn("norm_label", F.col("canon_label"))
                .join(aliases.select(F.col("surface").alias("norm_label")),
                      "norm_label", "left_anti")
                .select("norm_label", "canon_label", "cluster_id"))
            mention_clusters = (
                mentions.join(F.broadcast(dim_alias.unionByName(dim_direct)),
                              "norm_label")
                .select("conv_id", "turn_idx", "platform", "ts", "mention",
                        "norm_label", "mention_id", "pos", "canon_label",
                        "cluster_id"))
            mention_clusters.count()
        with tracer.span("bench"):  # the benchmark's own reads, not a layer
            counts["edges"] = edges.count()
            counts["pairs_pdf"] = pairs.select("label_a", "label_b") \
                .orderBy("label_a", "label_b").toPandas()
            counts["label_set"] = {r[0] for r in labels.select("canon_label").collect()}
    counts["span"] = top["id"]
    res = P.ResolutionResult(
        mentions=mentions, labels=labels, pairs_scored=scored, edges=edges,
        clusters=clusters, mention_clusters=mention_clusters,
        extra_caches=caches)
    return res, counts


def _resolve_layer_values(tracer: Tracer, counts: dict, truth_pos: set) -> dict:
    """Per-layer values of one traced resolve (the span tree under
    counts['span'])."""
    top = tracer.spans[counts["span"]]
    by = {r["name"]: r for r in tracer.subtree(top)}
    pairs_set = set(zip(counts["pairs_pdf"].label_a, counts["pairs_pdf"].label_b))
    label_set = counts["label_set"]

    def self_s(name):
        return tracer.self_time(by[name])

    def cpu_s(name):
        return by[name]["spark"]["executorCpuTime"] / 1e9

    present = {p for p in truth_pos if p[0] in label_set and p[1] in label_set}
    return {
        "extract.wall_s": self_s("extract"), "extract.cpu_s": cpu_s("extract"),
        "extract.mentions_out": counts["mentions"],
        "labels.wall_s": self_s("labels"),
        "labels.shuffle_bytes": by["labels"]["spark"]["shuffleWriteBytes"],
        "labels.labels_out": counts["labels"],
        "blocking.wall_s": self_s("blocking"), "blocking.cpu_s": cpu_s("blocking"),
        "blocking.pairs_out": counts["pairs"],
        "blocking.pairs_per_label": counts["pairs"] / max(counts["labels"], 1),
        "blocking.recall": (len(present & pairs_set) / len(present)) if present else 1.0,
        "scoring.wall_s": self_s("scoring"), "scoring.cpu_s": cpu_s("scoring"),
        "scoring.edge_yield": counts["edges"] / max(counts["pairs"], 1),
        "context.wall_s": self_s("context") if "context" in by else 0.0,
        "context.band_labels": counts.get("band_labels", 0),
        "cc.wall_s": self_s("cc"), "cc.edges_in": counts["edges"],
        "cc.clusters_out": counts["clusters"],
        "join_back.wall_s": self_s("join_back"),
    }


def _spark_values(tracer: Tracer, span: dict, cores: int) -> dict:
    tot = tracer.spark_totals(span)
    wall = tracer.duration(span)
    return {
        "spark.jobs": tot.get("jobs", 0), "spark.stages": tot.get("stages", 0),
        "spark.tasks": tot.get("numTasks", 0),
        "spark.core_busy_frac": tot.get("executorRunTime", 0) / 1000.0 / (wall * cores),
        "spark.shuffle_bytes": tot.get("shuffleWriteBytes", 0),
        "spark.spill_bytes": tot.get("memoryBytesSpilled", 0) + tot.get("diskBytesSpilled", 0),
    }


def _traced_wall(tracer: Tracer, span: dict) -> float:
    """An op span's wall time without the benchmark's own reads."""
    return tracer.duration(span) - sum(
        tracer.duration(r) for r in tracer.subtree(span) if r["name"] == "bench")


def _coverage(tracer: Tracer, span: dict) -> float:
    """Share of an op span's traced wall time spent inside layer spans."""
    layer = sum(tracer.self_time(r) for r in tracer.subtree(span)
                if r["name"] in _LAYER_SPANS)
    return layer / _traced_wall(tracer, span)


def _similarity_rate(pairs_pdf: pd.DataFrame) -> float:
    """combined_score_batch in this process over a fixed pair sample."""
    from session_graph_spark.functions.similarity import combined_score_batch

    sample = pairs_pdf.head(SIM_PAIRS)
    if sample.empty:
        return 0.0
    n, t0 = 0, time.perf_counter()
    while True:
        combined_score_batch(sample["label_a"], sample["label_b"])
        n += len(sample)
        dt = time.perf_counter() - t0
        if dt >= 0.5:
            return n / dt


def _canon_pairs(pairs) -> set:
    """Truth pairs mapped through the alias dictionary, as resolve()
    compares labels; pairs that alias to one label are dropped."""
    from session_graph_spark.data import alias_rows

    amap = dict(alias_rows())
    out = set()
    for a, b in pairs:
        ca, cb = amap.get(a, a), amap.get(b, b)
        if ca != cb:
            out.add(tuple(sorted((ca, cb))))
    return out


# ---- batch workloads: er_batch, er_longtail --------------------------------
def _er_inputs(run: Run):
    if run.workload == "er_batch":
        from session_graph_spark import corpus

        path = gen.er_batch(run.spark, run.inputs, run.seed, **SIZES["er_batch"])
        truth = corpus.labeled_pairs_pdf()
    else:
        out = gen.er_longtail(run.inputs, run.seed, **SIZES["er_longtail"])
        path = out / "turns.parquet"
        truth = pd.read_parquet(out / "truth.parquet")
    return str(path), truth


def _er_setup(run: Run, path: str) -> tuple[float, int]:
    """Input read plus one warm-up resolve of the whole input (it starts
    every Python worker and compiles every stage); returns (seconds,
    turns)."""
    t0 = time.perf_counter()
    n_turns = run.spark.read.parquet(path).count()
    _plain_resolve(run.spark, path)
    return time.perf_counter() - t0, n_turns


def _query_set(spark, table) -> dict[str, float]:
    """Times each query of the set over one committed (conv_id,
    canon_label, cluster_id) table; the two-hop query starts at the top
    hub. Returns name -> seconds; raises if a query comes back empty."""
    from session_graph_spark import queries as Q

    out = {}
    t, hubs = _timed(lambda: Q.hub_entities(table).collect())
    out["hub_entities"] = t
    if not hubs:
        raise ValueError("hub_entities returned no rows")
    t, co = _timed(lambda: Q.co_occurrence(table).collect())
    out["co_occurrence"] = t
    t, hop = _timed(lambda: Q.two_hop_neighbors(table, hubs[0]["cluster_id"]).collect())
    out["two_hop_neighbors"] = t
    if not co or not hop:
        raise ValueError("co_occurrence/two_hop_neighbors returned no rows")
    return out


def run_er(run: Run, session_s: float) -> dict:
    from session_graph_spark.plans.pipeline import resolve

    spark = run.spark
    path, truth = _er_inputs(run)
    setup, n_turns = _er_setup(run, path)
    recorded = checks.recorded_fingerprint(run.workload, size_key(run.workload), run.seed)

    walls, steal, fps, last = [], [], [], None
    reps, t0 = 0, time.perf_counter()
    while _another(reps, MIN_OPS, t0, run.seconds, walls[-1] if walls else 0.0):
        reps += 1
        if last is not None:
            last.unpersist()
            spark.catalog.clearCache()
            last = None
        _settle(spark)
        cpu0 = host.cpu_ticks()

        def rep():
            t0 = time.perf_counter()
            res = resolve(spark, spark.read.parquet(path))
            res.clusters.count()
            res.mention_clusters.count()
            return time.perf_counter() - t0, res

        out = run.op(rep)
        if out is None:
            continue
        wall, last = out
        steal.append(host.steal_share(cpu0, host.cpu_ticks()))
        fp = checks.result_fingerprint(last)
        fps.append(fp)
        run.expect(fp == fps[0] and checks.fingerprint_ok(fp, recorded),
                   f"fingerprint {fp} (first rep {fps[0]}, recorded {recorded})")
        walls.append(wall)
    if last is None:
        return {}  # every rep failed: no metric to report

    f1 = checks.pairwise_f1(spark, last.clusters, truth)
    problems = checks.truth_problems(last.clusters, truth, f1,
                                     planted=run.workload == "er_longtail")
    run.expect(not problems, "; ".join(problems))
    last.unpersist()
    spark.catalog.clearCache()

    write = _median(walls)
    run.detail.update({
        "resolve_s": write, "resolve_reps": walls, "steal_share": steal,
        "turns": n_turns,
        "turns_per_s": n_turns / write, "session_start_s": session_s,
        "fingerprint": fps[0], "fingerprint_recorded": recorded,
    })
    return {
        "setup_s": session_s + setup,
        "write_p50_s": write,
        "match_f1": f1,
    }


def _dir_bytes(d: Path) -> int:
    return sum(f.stat().st_size for f in d.rglob("*") if f.is_file())


def _commit_result(res, out: Path) -> None:
    """Write a resolve's mention clusters as the committed table the
    query set reads, as a serving path would."""
    res.mention_clusters.select("conv_id", "canon_label", "cluster_id") \
        .write.mode("overwrite").parquet(str(out))


def _traced_queries(tracer: Tracer, table) -> None:
    from session_graph_spark import queries as Q

    with tracer.span("queries.hub_entities"):
        hubs = Q.hub_entities(table).collect()
    with tracer.span("queries.co_occurrence"):
        Q.co_occurrence(table).collect()
    with tracer.span("queries.two_hop_neighbors"):
        Q.two_hop_neighbors(table, hubs[0]["cluster_id"]).collect()


def _query_values(tracer: Tracer, span: dict) -> dict:
    by = {r["name"]: r for r in tracer.subtree(span)}
    # a query that raised has no span: its value is missing
    return {f"queries.{q}.wall_s": tracer.self_time(by[f"queries.{q}"])
            if f"queries.{q}" in by else None for q in QUERIES}


def _plain_resolve(spark, path: str) -> float:
    """One untraced resolve with both materializations; returns its wall."""
    from session_graph_spark.plans.pipeline import resolve

    _settle(spark)
    t0 = time.perf_counter()
    res = resolve(spark, spark.read.parquet(path))
    res.clusters.count()
    res.mention_clusters.count()
    dt = time.perf_counter() - t0
    res.unpersist()
    spark.catalog.clearCache()
    return dt


def _layer_medians(rows: list[dict]) -> dict:
    return {k: _median([r[k] for r in rows]) for k in rows[0]}


def trace_er(run: Run, session_s: float) -> dict:
    spark = run.spark
    path, truth = _er_inputs(run)
    _er_setup(run, path)
    tracer = Tracer(spark, run_id=f"{run.workload}-{run.seed}")
    truth_pos = _canon_pairs(
        (r.surface_a, r.surface_b) for r in truth.itertuples() if r.is_match)

    recorded = checks.recorded_fingerprint(run.workload, size_key(run.workload), run.seed)
    ops, plain = [], []
    reps, deadline = 0, time.perf_counter() + run.seconds
    while reps < 1 or time.perf_counter() < deadline:
        reps += 1
        _settle(spark)
        out = run.op(lambda: traced_resolve(spark, spark.read.parquet(path), tracer))
        if out is not None:
            res, counts = out
            fp = checks.result_fingerprint(res)
            run.expect(checks.fingerprint_ok(fp, recorded),
                       f"traced fingerprint {fp} (recorded {recorded})")
            if not ops:
                _commit_result(res, run.work / "result")
            res.unpersist()
            spark.catalog.clearCache()
            ops.append(counts)
        dt = run.op(lambda: _plain_resolve(spark, path))
        if dt is not None:
            plain.append(dt)
    if not ops or not plain:
        return {}
    result = spark.read.parquet(str(run.work / "result"))
    with tracer.span("query_set") as qtop:
        run.op(lambda: _traced_queries(tracer, result))

    tracer.collect_spark()
    rows = []
    for counts in ops:
        top = tracer.spans[counts["span"]]
        v = _resolve_layer_values(tracer, counts, truth_pos)
        v.update(_spark_values(tracer, top, run.cores))
        v["trace.coverage"] = _coverage(tracer, top)
        v["traced_s"] = _traced_wall(tracer, top)
        rows.append(v)
    vals = dict.fromkeys(LAYER_METRICS, 0.0)  # layers this workload skips
    vals.update(_layer_medians(rows))
    vals["trace.overhead_frac"] = vals.pop("traced_s") / _median(plain) - 1.0
    vals["similarity.pairs_per_s"] = _similarity_rate(ops[-1]["pairs_pdf"])
    vals.update(_query_values(tracer, qtop))
    vals["queries.input_bytes"] = _dir_bytes(run.work / "result")
    run.detail.update({"spans": tracer.export(), "untraced_resolve_s": plain})
    return vals


# ---- inc_serve ---------------------------------------------------------------
_STATE_TABLES = ("clusters", "processed_watermarks", "quarantine")


def _manifests(state_dir: Path) -> dict:
    out = {}
    for t in _STATE_TABLES:
        f = state_dir / t / "_MANIFEST.json"
        out[t] = json.loads(f.read_text()) if f.exists() else {"gen": 0, "parts": {}}
    return out


def _written(state_dir: Path, before: dict, after: dict) -> tuple[int, int]:
    """(partitions rewritten, bytes written) between two manifest sets."""
    parts = nbytes = 0
    for t in _STATE_TABLES:
        old, new = before[t]["parts"], after[t]["parts"]
        for p, g in new.items():
            if old.get(p) != g:
                parts += 1
                nbytes += _dir_bytes(state_dir / t / f"gen={g}" / f"part={p}")
    return parts, nbytes


def _state_bytes(state_dir: Path) -> int:
    man = _manifests(state_dir)["clusters"]
    return sum(_dir_bytes(state_dir / "clusters" / f"gen={g}" / f"part={p}")
               for p, g in man["parts"].items())


def _state_fingerprint(state) -> str:
    labels = state.select(F.col("canon_label").alias("label"), "cluster_id").distinct()
    return (f"R{state.count()}-V{state.select('conv_id').distinct().count()}-"
            f"L{labels.select('label').distinct().count()}-"
            f"{checks.cluster_hash(labels)}")


def _inc_setup(run: Run, data: Path):
    """Build the incremental state from the base corpus (the cold first
    run.run also warms the stages the loop runs); returns (seconds,
    base-state fingerprint, runner)."""
    from session_graph_spark.sources.readers import read_claude_code_jsonl
    from session_graph_spark.streaming.incremental import IncrementalRunner

    t0 = time.perf_counter()
    runner = IncrementalRunner(run.spark, str(run.work / "state"))
    runner.run(read_claude_code_jsonl(run.spark, str(data / "base")))
    return time.perf_counter() - t0, _state_fingerprint(runner.clusters()), runner


def _ingest(run: Run, runner, data: Path, b: int) -> float:
    """Batch b lands, is read and committed; returns the seconds from
    landing to commit."""
    from session_graph_spark.sources.readers import read_claude_code_jsonl

    landed, _ = _land(run, data, b)
    t_land = time.perf_counter()
    runner.run(read_claude_code_jsonl(run.spark, str(landed)))
    return time.perf_counter() - t_land


def _land(run: Run, data: Path, b: int) -> tuple[Path, int]:
    """Copy batch b's files into the landing dir; returns (dir, bytes)."""
    src = data / "batches" / f"{b:03d}"
    dst = run.work / "landing" / f"{b:03d}"
    shutil.copytree(src, dst)
    return dst, sum(f.stat().st_size for f in dst.iterdir())


def _inc_data(run: Run) -> tuple[Path, dict]:
    data = gen.inc_serve(run.inputs, run.seed, **SIZES["inc_serve"])
    return data, json.loads((data / "manifest.json").read_text())


def _inc_finish(run: Run, runner, manifest: dict, done: int) -> float:
    """Final state checks; returns match_f1 of the committed state."""
    state = runner.clusters()
    clusters = state.groupBy(F.col("canon_label").alias("label")) \
        .agg(F.min("cluster_id").alias("cluster_id"))
    truth = checks.inc_truth(manifest, done)
    f1 = checks.pairwise_f1(run.spark, clusters, truth)
    problems = checks.inc_state_problems(state, manifest, done) \
        + checks.truth_problems(clusters, truth, f1)
    run.expect(not problems, "; ".join(problems[:5]))
    return f1


def run_inc(run: Run, session_s: float) -> dict:
    data, manifest = _inc_data(run)
    setup, fp, runner = _inc_setup(run, data)
    done = 0
    recorded = checks.recorded_fingerprint("inc_serve", size_key("inc_serve"), run.seed)
    run.expect(checks.fingerprint_ok(fp, recorded),
               f"state fingerprint {fp} (recorded {recorded})")
    problems = checks.inc_state_problems(runner.clusters(), manifest, 0)
    run.expect(not problems, "base state: " + "; ".join(problems[:5]))

    # serve cycles: between two commits the query set reads the
    # committed state, so each batch after the first lands beside reads.
    # The pass after the last commit would time nothing the run reports
    # and is left out: the traced run times every query
    ingest, steal, passes = [], [], []
    t0, last = time.perf_counter(), 0.0
    while done < len(manifest["batches"]) and _another(
            done, MIN_OPS, t0, run.seconds, last):
        c0 = time.perf_counter()
        if done:
            q = run.op(lambda: sum(_query_set(run.spark, runner.clusters()).values()))
            if q is not None:
                passes.append(q)
        _settle(run.spark)
        cpu0 = host.cpu_ticks()
        dt = run.op(lambda: _ingest(run, runner, data, done))
        last = time.perf_counter() - c0
        done += 1
        if dt is not None:
            ingest.append(dt)
            steal.append(host.steal_share(cpu0, host.cpu_ticks()))

    f1 = _inc_finish(run, runner, manifest, done)
    run.detail.update({
        "ingest_p50_s": _median(ingest), "ingest_s": ingest,
        "steal_share": steal, "batches": done,
        "session_start_s": session_s,
        "fingerprint": fp, "fingerprint_recorded": recorded,
        # not a bounded metric, and only when a run commits two batches
        # or more: see README.md, "Query latency"
        "query_p50_s": _median(passes), "query_pass_s": passes,
    })
    return {
        "setup_s": session_s + setup,
        "write_p50_s": _median(ingest),
        "match_f1": f1,
    }


def trace_inc(run: Run, session_s: float) -> dict:
    from session_graph_spark.sources.readers import read_claude_code_jsonl
    from session_graph_spark.streaming.incremental import IncrementalRunner

    spark = run.spark
    data, manifest = _inc_data(run)
    tracer = Tracer(spark, run_id=f"inc_serve-{run.seed}")
    _, _, plain_runner = _inc_setup(run, data)
    b = 0
    state_dir = plain_runner.state_dir
    resolves: list[dict] = []

    def traced_fn(t):
        res, counts = traced_resolve(spark, t, tracer, min_sessions=1)
        resolves.append(counts)
        return res

    # a second runner over the same state, whose resolve is the traced one
    runner = IncrementalRunner(spark, str(state_dir), resolve_fn=traced_fn)
    truth_pos = {tuple(p) for vs in manifest["versions"].values()
                 for v in vs for p in v["pairs"]}

    def traced_cycle(b):
        landed, in_bytes = _land(run, data, b)
        before = _manifests(state_dir)
        _settle(spark)
        with tracer.span("batch") as top:
            with tracer.span("sources") as src:
                turns = read_claude_code_jsonl(spark, str(landed)).cache()
                src["counts"]["rows_out"] = turns.count()
            with tracer.span("incremental"):
                runner.run(turns)
            _traced_queries(tracer, runner.clusters())
        turns.unpersist()
        parts, nbytes = _written(state_dir, before, _manifests(state_dir))
        return {"top": top["id"], "resolve": resolves[-1], "parts": parts,
                "bytes": nbytes, "in_bytes": in_bytes,
                "state_bytes": _state_bytes(state_dir)}

    # traced and untraced batches alternate, for the overhead comparison
    ops, plain = [], []
    deadline = time.perf_counter() + run.seconds
    while b + 1 < len(manifest["batches"]) and (
            not ops or time.perf_counter() < deadline):
        op = run.op(lambda: traced_cycle(b))
        if op is not None:
            ops.append(op)
        _settle(spark)
        dt = run.op(lambda: _ingest(run, plain_runner, data, b + 1))
        if dt is not None:
            plain.append(dt)
        b += 2
    _inc_finish(run, plain_runner, manifest, b)
    if not ops or not plain:
        return {}

    tracer.collect_spark()
    rows = []
    for op in ops:
        top = tracer.spans[op["top"]]
        by = {r["name"]: r for r in tracer.subtree(top)}
        v = _resolve_layer_values(tracer, op["resolve"], truth_pos)
        v.update(_spark_values(tracer, top, run.cores))
        v.update({
            "sources.wall_s": tracer.self_time(by["sources"]),
            "sources.rows_out": by["sources"]["counts"]["rows_out"],
            "incremental.wall_s": tracer.self_time(by["incremental"]),
            "incremental.parts_rewritten": op["parts"],
            "incremental.bytes_written": op["bytes"],
            "incremental.write_amp": op["bytes"] / op["in_bytes"],
            "queries.input_bytes": op["state_bytes"],
            "trace.coverage": _coverage(tracer, top),
            "traced_s": _traced_wall(tracer, by["sources"]) + _traced_wall(tracer, by["incremental"]),
        })
        v.update(_query_values(tracer, top))
        rows.append(v)
    vals = _layer_medians(rows)
    vals["trace.overhead_frac"] = vals.pop("traced_s") / _median(plain) - 1.0
    vals["similarity.pairs_per_s"] = _similarity_rate(ops[-1]["resolve"]["pairs_pdf"])
    run.detail.update({"spans": tracer.export(), "untraced_ingest_s": plain})
    return vals
