"""The benchmark's workloads.

Each workload generates its inputs from the seed, sets up, runs timed
rounds of its operations for the requested seconds, checks every answer
and fills a ``Run``. The traced run (``--trace 1``) instead runs its
calls inside spans and collects the per-layer counters. See ``NOTES.md``.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import redirect_stdout
from io import StringIO
from pathlib import Path

from perfbench import gen
from perfbench.machine import ProcTree, cpu_sentinel, tree_cpu_s, wait_ended
from perfbench.spans import MB, Tracer, add_counters, event_log_counters

#: input sizes per scale; "tiny" is for the benchmark's own smoke tests
SIZES = {
    "full": {"cold_edges": 200_000, "powerlaw_edges": 80_000, "docs": 1500},
    "tiny": {"cold_edges": 20_000, "powerlaw_edges": 6_000, "docs": 200},
}
#: ingest batches the stream folds split the corpus into: compaction
#: never touches the newest batch and needs two sources, so three is the
#: fewest at which it merges anything
STREAM_BATCHES = 3

_COUNT = re.compile(r"COUNT:\s*(-?\d+)")


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def count_java_traces(stderr: str) -> int:
    """Java stack traces in a process's stderr: one per exception header
    line directly followed by a ``\\tat`` frame (``Caused by`` sections
    belong to the trace above them)."""
    lines = stderr.splitlines()
    n = 0
    for prev, line in zip(lines, lines[1:]):
        if line.startswith("\tat ") and not prev.startswith(("\tat ", "\t...", "Caused by")):
            n += 1
    return n


class Run:
    """State and results of one benchmark run."""

    def __init__(self, root: Path, workload: str, seed: int, seconds: float,
                 trace: bool, scale: str) -> None:
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.size = SIZES[scale]
        self.work = root / ".perfbench" / "runs" / f"{workload}-{seed}-{os.getpid()}"
        self.work.mkdir(parents=True, exist_ok=True)
        self.run_id = f"{workload}/{seed}/{os.getpid()}"
        self.tracer = Tracer(self.run_id)
        self.inputs: dict = {}
        self.e2e: dict = {}        # end-to-end metrics: name -> value
        self.named: dict = {}      # workload-specific end-to-end metrics
        self.layer: dict = {}      # per-layer metrics (traced run)
        self.layer_detail: dict = {}  # per-layer times of this workload's own layers
        self.session_info: dict = {}
        self.sentinels = [cpu_sentinel()]  # more are taken after set-up and at the end
        self.attempted = 0
        self.failed = 0
        self.op_cpu_s = 0.0
        self.problems: list[str] = []

    def env(self) -> dict:
        """Environment for every Spark process of the run: local dirs and
        temp files inside the run directory, ``local[nproc]`` unless set."""
        tmp = self.work / "tmp"
        tmp.mkdir(exist_ok=True)
        env = dict(os.environ)
        env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
        env["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        env["TMPDIR"] = str(tmp)
        env["PYTHONPATH"] = os.pathsep.join(
            [str(self.root), *filter(None, [os.environ.get("PYTHONPATH")])]
        )
        env["PYSPARK_SUBMIT_ARGS"] = (
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
        )
        return env

    def check(self, ok: bool, what: str) -> None:
        """A failed answer check counts as a failed operation."""
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def op(self, name: str, fn, expect=None):
        """Run one timed operation in this process; returns (wall_s, value)
        and adds its CPU time (this process and its JVM) to ``op_cpu_s``.
        A raised exception or a value other than ``expect`` counts as failed."""
        self.attempted += 1
        cpu0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            value, error = fn(), None
        except Exception:  # an operation failure is a benchmark result
            value, error = None, traceback.format_exc(limit=3)
        wall = time.perf_counter() - t0
        self.op_cpu_s += tree_cpu_s(os.getpid()) - cpu0
        if error is not None:
            self.check(False, f"{name}: {error}")
        elif expect is not None:
            self.check(value == expect, f"{name}: got {value!r}, expected {expect!r}")
        return wall, value


def repeat_for(seconds: float, round_fn) -> None:
    """Call ``round_fn`` once, then again while ``seconds`` have not passed."""
    t_end = time.perf_counter() + seconds
    round_fn()
    while time.perf_counter() < t_end:
        round_fn()


def start_session(run: Run):
    """Import the engine, start its session and run a first action,
    timing each phase; also records the session's effective config."""
    os.environ.update(run.env())
    t0 = time.perf_counter()
    from twitter_social_triangle_mapreduce_spark import operators, streaming  # noqa: F401
    from twitter_social_triangle_mapreduce_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    t3 = time.perf_counter()
    run.layer.update({
        "session.import_s": t1 - t0,
        "session.start_s": t2 - t1,
        "session.first_action_s": t3 - t2,
    })
    sc = spark.sparkContext
    run.session_info = {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "spark_version": spark.version,
        "java_version": sc._jvm.System.getProperty("java.version"),
    }
    run.tracer.attach(spark)
    return spark


def spark_layer(run: Run, counters: dict, wall_s: float) -> None:
    """The Spark-wide per-layer metrics over the traced round."""
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    run.layer.update({
        "spark.jobs": counters["jobs"],
        "spark.stages": counters["stages"],
        "spark.tasks": counters["tasks"],
        "spark.failed_tasks": counters["failed_tasks"],
        "spark.executor_run_s": counters["executor_run_s"],
        "spark.executor_cpu_s": counters["executor_cpu_s"],
        "spark.gc_s": counters["gc_s"],
        "spark.cpu_util": counters["executor_cpu_s"] / (wall_s * cores),
    })


# ---------------------------------------------------------------------------
# graph-core calls (warm-core's last stage)
# ---------------------------------------------------------------------------

GRAPH_OPS = ("triangle_shuffle", "triangle_broadcast", "triangle_ordered",
             "path2_cardinality")


def broadcast_joins(df) -> int:
    """Broadcast hash joins in the plan the last action executed (the
    final adaptive plan, so runtime join-strategy changes count)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return len(re.findall(r"BroadcastHashJoin", plan.toString()))


def graph_calls(edges, id_range: int) -> dict:
    """The timed graph-core calls: shuffle and broadcast triangles at a
    quarter-range cutoff (the reference programs' bounded subgraph),
    ordered triangles and path-2 cardinality over the whole graph."""
    from twitter_social_triangle_mapreduce_spark.operators import graph

    cut = id_range // 4
    return {
        "triangle_shuffle": lambda: graph.triangle_count(edges, max_id=cut, strategy="shuffle"),
        "triangle_broadcast": lambda: graph.triangle_count(edges, max_id=cut, strategy="broadcast"),
        "triangle_ordered": lambda: graph.triangle_count(edges, strategy="ordered"),
        "path2_cardinality": lambda: graph.path2_cardinality_total(edges),
    }


def graph_expectations(path: Path, id_range: int) -> dict:
    from perfbench.oracle import GraphOracle, parquet_edges_sql

    oracle = GraphOracle(parquet_edges_sql(str(path)))
    cut = id_range // 4
    try:
        # ordered runs uncut: a strict cutoff at the id range keeps every edge
        return {
            "triangle_shuffle": oracle.scalar("social_triangle_rs", cut),
            "triangle_broadcast": oracle.scalar("triangle_replicated", cut),
            "triangle_ordered": oracle.scalar("social_triangle_rs", id_range),
            "path2_cardinality": oracle.scalar("exact_cardinality", None),
        }
    finally:
        oracle.close()


# ---------------------------------------------------------------------------
# ref-cli-cold: the reference programs as a user runs them
# ---------------------------------------------------------------------------


def _cold(run: Run, args: list[str],
          env: dict) -> tuple[float, ProcTree, subprocess.CompletedProcess]:
    """One cold subprocess from the checkout root: its wall, and the
    peak RSS and CPU time of Python plus its JVM."""
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, *args], cwd=run.root, env=env,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    with ProcTree(proc.pid) as tree:
        try:
            out, err = proc.communicate(timeout=150)
        except subprocess.TimeoutExpired:
            proc.kill()
            out, err = proc.communicate()
    wall = time.perf_counter() - t0
    wait_ended(tree.cpu)  # the JVM it started exits after it: wait for that too
    return wall, tree, subprocess.CompletedProcess(proc.args, proc.returncode, out, err)


def _quiet(fn, *args):
    """Call ``fn`` with its stdout captured (the CLI prints its answer)."""
    with redirect_stdout(StringIO()):
        return fn(*args)


#: the program each round runs cold: no cutoff, a CSV read, the largest TSV
#: output and a second pass for the total, so session start, CSV parse and
#: TSV write all show. A cold run costs ~15 s, most of it JVM and session
#: start that the cold probe (``setup_s``) measures on its own; the other
#: three programs run warm through ``cli.run_program`` in the traced run.
COLD_PROGRAM = "exact_cardinality"


def ref_cli_cold(run: Run) -> None:
    from twitter_social_triangle_mapreduce_spark.cli import PROGRAMS, REFERENCE_MAX

    from perfbench.oracle import GraphOracle, csv_edges_sql

    in_dir = run.work / "in"
    csv = in_dir / "edges.csv"
    run.inputs["edge_csv"] = gen.edge_csv(csv, run.seed, run.size["cold_edges"])
    oracle = GraphOracle(csv_edges_sql(str(csv)))
    # the registry's oracles are named after the programs they check
    expect = {p: oracle.scalar(p, REFERENCE_MAX[p]) for p in PROGRAMS}
    env = run.env()
    k = itertools.count()
    tsv_checked = False

    def cold_program(env: dict) -> tuple[float, ProcTree, str]:
        """One cold CLI run, its answer checked (the per-node TSV once)."""
        nonlocal tsv_checked
        out_dir = run.work / f"out-{next(k)}"
        args = ["-m", "twitter_social_triangle_mapreduce_spark", COLD_PROGRAM,
                str(in_dir), str(out_dir)]
        run.attempted += 1
        wall, tree, proc = _cold(run, args, env)
        m = _COUNT.findall(proc.stdout)
        run.check(
            proc.returncode == 0 and bool(m) and int(m[-1]) == expect[COLD_PROGRAM],
            f"{COLD_PROGRAM}: exit {proc.returncode}, stdout {proc.stdout[-300:]!r},"
            f" expected COUNT {expect[COLD_PROGRAM]}; stderr tail {proc.stderr[-1500:]!r}")
        if proc.returncode == 0 and not tsv_checked:
            bad = oracle.per_node_mismatches(f"{COLD_PROGRAM}_per_node",
                                             REFERENCE_MAX[COLD_PROGRAM], f"{out_dir}/*.csv")
            run.check(bad == 0, f"{COLD_PROGRAM}: {bad} per-node rows differ from the oracle")
            tsv_checked = True
        return wall, tree, proc.stderr

    if not run.trace:
        # set-up: a cold subprocess that imports, starts the session and
        # runs one trivial action, doing no program work
        _, probe_tree, probe = _cold(run, ["perfbench/coldprobe.py"], env)
        run.check(probe.returncode == 0,
                  f"cold probe exited {probe.returncode}: {probe.stderr[-1500:]}")
        run.e2e["setup_s"] = probe_tree.total_cpu_s
        run.sentinels.append(cpu_sentinel())
        if probe.returncode == 0:
            phases = json.loads(probe.stdout.strip().splitlines()[-1])
            run.named["setup_wall_s"] = sum(phases.pop(p) for p in
                                            ("import_s", "start_s", "first_action_s"))
            run.session_info = phases
        walls, cpu, peak, traces = [], [], [], []

        def one_round() -> None:
            wall, tree, stderr = cold_program(env)
            walls.append(wall)
            cpu.append(tree.total_cpu_s)
            peak.append(tree.total_mb)
            traces.append(count_java_traces(stderr))

        repeat_for(run.seconds, one_round)
        oracle.close()
        run.e2e["cpu_s"] = statistics.median(cpu)
        run.named["round_s"] = statistics.median(walls)
        run.named[f"cold_s.{COLD_PROGRAM}"] = run.named["round_s"]
        run.named["peak_rss_mb"] = statistics.median(peak)
        run.layer_detail["cli.stderr_traces"] = traces
        return

    # traced: the cold run again, with a Spark event log parsed after exit
    log_dir = run.work / "eventlog"
    log_dir.mkdir(parents=True)
    tenv = dict(env)
    tenv["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file:{log_dir}"
        " --conf spark.eventLog.compress=false --conf spark.eventLog.rolling.enabled=false "
        + env["PYSPARK_SUBMIT_ARGS"])
    launched = time.time()
    cold_wall, _, stderr = cold_program(tenv)
    cold, timeline = event_log_counters(log_dir)
    run.layer["cli.stderr_traces"] = count_java_traces(stderr)
    run.layer_detail.update({
        f"cold_s.{COLD_PROGRAM}": cold_wall,
        f"cli.cold.{COLD_PROGRAM}": cold,
        f"cli.cold_launch_to_first_job_s.{COLD_PROGRAM}":
            timeline.get("first_job", launched) - launched,
    })

    # warm session: all four programs without JVM and session start. After
    # a first pass that compiles, each runs untraced and then traced; the
    # difference is the tracing overhead.
    spark = start_session(run)
    from twitter_social_triangle_mapreduce_spark import cli
    from twitter_social_triangle_mapreduce_spark.operators import graph
    from twitter_social_triangle_mapreduce_spark.sources.io import read_edges_csv, write_tsv

    def warm_program(program: str) -> float:
        out = str(run.work / f"out-{next(k)}")
        wall, _ = run.op(program, lambda: _quiet(
            cli.run_program, spark, program, str(in_dir), out), expect[program])
        return wall

    for program in PROGRAMS:
        warm_program(program)
    untraced = sum(warm_program(p) for p in PROGRAMS)
    tr = run.tracer
    tr.enable()
    t0 = time.perf_counter()
    for program in PROGRAMS:
        with tr.span("cli.run_program", program=program) as sp:
            warm_program(program)
        run.layer_detail[f"cli.run_program_s.{program}"] = sp["wall_s"]
    traced = time.perf_counter() - t0
    run.layer["trace.overhead_s"] = traced - untraced
    with tr.span("sources.io.read_edges_csv") as rd:
        rows = read_edges_csv(spark, f"{in_dir}/*.csv").count()
    tsv_dir = run.work / "out-io-tsv"
    with tr.span("sources.io.write_tsv") as wr:
        per_node = graph.path2_cardinality_per_node(read_edges_csv(spark, f"{in_dir}/*.csv"))
        write_tsv(per_node.select("node", "paths"), str(tsv_dir))
    oracle.close()
    run.layer.update({
        "io.input_read_s": rd["wall_s"],
        "io.input_rows": rows,
        "io.input_mb": run.inputs["edge_csv"]["bytes"] / MB,
        "io.output_mb": _dir_bytes(tsv_dir) / MB,
    })
    run.layer_detail.update({"io.csv_read_s": rd["wall_s"], "io.tsv_write_s": wr["wall_s"]})
    warm_wall = sum(sp["wall_s"] for sp in tr.spans if sp["parent"] is None)
    spark_layer(run, add_counters(tr.total(), cold), cold_wall + warm_wall)


# ---------------------------------------------------------------------------
# warm-core: one warm session runs the training-corpus capstone, streaming
# store folds with compaction and read-back, and the graph core's calls
# on a power-law multigraph
# ---------------------------------------------------------------------------

CAPSTONE_GATES = ("text.curate_corpus", "dedup.near_dup_clusters",
                  "corpus.decontaminate", "corpus.write_training_shards")


def warm_core(run: Run) -> None:
    import pyarrow.parquet as pq

    from perfbench.oracle import stream_mismatches

    n_docs = run.size["docs"]
    in_dir = run.work / "in"
    docs_path = in_dir / "documents.parquet"
    eval_path = in_dir / "eval.parquet"
    batch_dir = in_dir / "batches"
    edges_path = in_dir / "edges.parquet"
    run.inputs["documents"] = gen.documents_parquet(docs_path, eval_path, run.seed, n_docs)
    run.inputs["stream_batches"] = gen.stream_batches(docs_path, batch_dir, run.seed,
                                                      STREAM_BATCHES)
    graph_in = gen.powerlaw_parquet(edges_path, run.seed, run.size["powerlaw_edges"])
    run.inputs["powerlaw_edges"] = graph_in
    expect = graph_expectations(edges_path, graph_in["id_range"])

    t_setup, cpu_setup = time.perf_counter(), tree_cpu_s(os.getpid())
    spark = start_session(run)
    run.e2e["setup_s"] = tree_cpu_s(os.getpid()) - cpu_setup
    run.named["setup_wall_s"] = time.perf_counter() - t_setup
    run.sentinels.append(cpu_sentinel())
    from twitter_social_triangle_mapreduce_spark import streaming as S
    from twitter_social_triangle_mapreduce_spark.operators import corpus

    tr = run.tracer
    k = itertools.count()
    docs = spark.read.parquet(str(docs_path))
    ev = spark.read.parquet(str(eval_path))
    calls = graph_calls(spark.read.parquet(str(edges_path)), graph_in["id_range"])

    def capstone() -> tuple[Path, list]:
        out = run.work / f"shards-{next(k)}"
        with tr.span("corpus.prepare_training_corpus"):
            audit = corpus.prepare_training_corpus(docs, ev, str(out))
            rows = [tuple(r) for r in audit.select("doc_id", "verdict").collect()]
            audit.unpersist()
        return out, rows

    def fold() -> Path:
        snap = run.work / f"snap-{next(k)}"
        for b in range(STREAM_BATCHES):
            batch = spark.read.parquet(str(batch_dir / f"batch_{b}.parquet"))
            with tr.span("streaming.fold_cluster_batch", batch=b):
                S.fold_cluster_batch(batch, b, str(snap))
            with tr.span("streaming.fold_pack_batch", batch=b):
                S.fold_pack_batch(batch, b, str(snap))
        return snap

    def compact_read(snap: Path) -> int:
        with tr.span("streaming.compact_cluster_bands"):
            S.compact_cluster_bands(spark, str(snap))
        with tr.span("streaming.compact_pack_rows"):
            S.compact_pack_rows(spark, str(snap))
        with tr.span("streaming.read_packed_corpus"):
            return S.read_packed_corpus(spark, str(snap)).count()

    def graph_round() -> dict[str, float]:
        walls = {}
        for name in GRAPH_OPS:
            with tr.span("operators.graph", op=name) as sp:
                df = calls[name]()
                walls[name], _ = run.op(name, lambda: df.collect()[0][0], expect[name])
            if sp is not None:
                sp["attrs"]["broadcast_joins"] = broadcast_joins(df)
        return walls

    def check_capstone(out: Path, rows: list) -> None:
        """The audit covers every input document exactly once, and the
        shards hold exactly the audit's ``kept`` documents."""
        ids = sorted(r[0] for r in rows)
        run.check(ids == list(range(n_docs)), f"audit covers {len(set(ids))} distinct"
                  f" of {n_docs} docs in {len(ids)} rows")
        kept = sorted(r[0] for r in rows if r[1] == "kept")
        shard_ids = sorted(pq.read_table(out, columns=["doc_id"]).column("doc_id").to_pylist())
        run.check(shard_ids == kept, f"shards hold {len(shard_ids)} docs, audit kept {len(kept)}")

    walls: dict[str, list[float]] = {}
    verdicts: dict = {}
    outputs: dict[str, list[Path]] = {"shards": [], "snapshot": []}

    def one_round() -> None:
        wall, res = run.op("prepare_training_corpus", capstone)
        walls.setdefault("warm_s.prepare_training_corpus", []).append(wall)
        if res is not None:
            hist: dict[str, int] = {}
            for _, v in res[1]:
                hist[v] = hist.get(v, 0) + 1
            if not verdicts:  # the answer check runs once per input, untimed
                verdicts.update(hist)
                check_capstone(*res)
            run.check(hist == verdicts, f"capstone verdicts changed: {hist} != {verdicts}")
            outputs["shards"].append(res[0])
        wall, snap = run.op("stream_fold", fold)
        walls.setdefault("warm_s.stream_fold", []).append(wall)
        if snap is not None:
            wall, n = run.op("stream_compact", lambda: compact_read(snap))
            walls.setdefault("warm_s.stream_compact", []).append(wall)
            run.check(n == n_docs, f"stream read-back {n} rows != {n_docs} folded docs")
            if not outputs["snapshot"]:
                folded = pq.read_table(batch_dir, columns=["doc_id"]).column("doc_id")
                for p in stream_mismatches(spark, str(snap), folded.to_pylist()):
                    run.check(False, f"stream snapshot: {p}")
            outputs["snapshot"].append(snap)
        for name, wall in graph_round().items():
            walls.setdefault(f"warm_s.{name}", []).append(wall)

    if run.trace:
        return _trace_warm_core(run, spark, docs, ev, docs_path, one_round, graph_round, outputs)
    rounds, cpu = [], []

    def measured_round() -> None:
        n_before = {m: len(v) for m, v in walls.items()}
        cpu0 = run.op_cpu_s  # the answer checks inside a round are not counted
        one_round()
        cpu.append(run.op_cpu_s - cpu0)
        rounds.append(sum(v[-1] for m, v in walls.items() if len(v) > n_before.get(m, 0)))

    repeat_for(run.seconds, measured_round)
    run.inputs["documents"]["verdicts"] = verdicts
    run.e2e["cpu_s"] = statistics.median(cpu)
    run.named["round_s"] = statistics.median(rounds)
    for name, values in walls.items():
        run.named[name] = statistics.median(values)


def _trace_warm_core(run: Run, spark, docs, ev, docs_path: Path, one_round, graph_round,
                     outputs: dict[str, list[Path]]) -> None:
    """The traced run: one round with every call inside a span, each
    capstone gate called on its own, and the tracing overhead measured
    on the (by then compiled) graph calls, untraced and then traced."""
    from pyspark.sql import functions as F

    from twitter_social_triangle_mapreduce_spark.operators import components, corpus, dedup, text

    tr = run.tracer
    tr.enable()
    one_round()
    noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
    with tr.span("text.curate_corpus"):
        noop(text.curate_corpus(docs))
    with tr.span("dedup.near_dup_clusters"):
        noop(dedup.near_dup_clusters(docs))
    with tr.span("components.connected_components"):
        pairs = dedup.minhash_candidate_pairs(docs)
        noop(components.connected_components(
            pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))))
    with tr.span("corpus.decontaminate"):
        noop(corpus.decontaminate(docs, ev))
    shards = run.work / "shards-gate"
    kept = docs.join(spark.read.parquet(str(outputs["shards"][-1])).select("doc_id"), "doc_id")
    with tr.span("corpus.write_training_shards"):
        corpus.write_training_shards(kept, str(shards))
    with tr.span("sources.io.parquet_read") as rd:
        rows = spark.read.parquet(str(docs_path)).count()
    traced_wall = sum(sp["wall_s"] for sp in tr.spans if sp["parent"] is None)
    totals = tr.total()

    tr.enabled = False
    untraced = sum(graph_round().values())
    tr.enabled = True
    t0 = time.perf_counter()
    graph_round()
    run.layer["trace.overhead_s"] = time.perf_counter() - t0 - untraced

    for sp in tr.find("operators.graph"):  # the last traced call of each op wins
        c = tr.counters(sp)
        op = sp["attrs"]["op"]
        run.layer.update({
            f"graph.{op}.shuffle_write_mb": c["shuffle_write_mb"],
            f"graph.{op}.shuffle_read_mb": c["shuffle_read_mb"],
            f"graph.{op}.spill_mb": c["spill_mb"],
            f"graph.{op}.stages": c["stages"],
            f"graph.{op}.tasks": c["tasks"],
            f"graph.{op}.broadcast_joins": sp["attrs"]["broadcast_joins"],
        })
        run.layer_detail[f"graph.{op}.cpu_s"] = c["executor_cpu_s"]
        run.layer_detail[f"graph.{op}.wall_s"] = sp["wall_s"]
    for gate in CAPSTONE_GATES:
        sp = tr.find(gate)[0]
        c = tr.counters(sp)
        run.layer.update({
            f"{gate}.shuffle_mb": c["shuffle_write_mb"],
            f"{gate}.stages": c["stages"],
            f"{gate}.tasks": c["tasks"],
        })
        run.layer_detail[f"{gate}.wall_s"] = sp["wall_s"]
        run.layer_detail[f"{gate}.cpu_s"] = c["executor_cpu_s"]
    run.layer["components.connected_components.jobs"] = tr.counters(
        tr.find("components.connected_components")[0])["jobs"]

    def span_wall(*names: str) -> float:
        return sum(s["wall_s"] for n in names for s in tr.find(n))

    run.layer_detail.update({
        "corpus.prepare_training_corpus.wall_s": span_wall("corpus.prepare_training_corpus"),
        "streaming.fold_cluster_batch_s": span_wall("streaming.fold_cluster_batch"),
        "streaming.fold_pack_batch_s": span_wall("streaming.fold_pack_batch"),
        "streaming.compact_s": span_wall("streaming.compact_cluster_bands",
                                         "streaming.compact_pack_rows"),
        "streaming.read_s": span_wall("streaming.read_packed_corpus"),
        "io.parquet_read_s": rd["wall_s"],
    })
    files = [p for p in outputs["snapshot"][-1].rglob("*") if p.is_file()]
    run.layer.update({
        "streaming.snapshot_files": len(files),
        "streaming.stored_mb_per_input_mb":
            sum(p.stat().st_size for p in files) / run.inputs["documents"]["text_bytes"],
        "io.input_read_s": rd["wall_s"],
        "io.input_rows": rows,
        "io.input_mb": run.inputs["documents"]["bytes"] / MB,
        "io.output_mb": _dir_bytes(shards) / MB,
    })
    spark_layer(run, totals, traced_wall)


WORKLOADS = {
    "ref-cli-cold": ref_cli_cold,
    "warm-core": warm_core,
}
