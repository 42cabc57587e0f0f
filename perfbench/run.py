"""sparksync benchmark: fixed timed passes in a fresh process, checked, per workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload migrate_jdbc --seed 1 --seconds 20 --trace 0

Workloads:

- ``migrate_jdbc``: ``SyncJob`` with ``JdbcSink(dialect="ansi")`` moves
  the seven star tables into a fresh in-memory Derby database:
  plan -> ddl_phase -> data_phase -> objects_phase -> compare_phase.
- ``curate_10x``: build, then execute, each query of ``QUERY_LIST`` over
  the corpus replicated 10x.

A run makes its inputs from ``--seed`` (inputs.py), starts a
``local[4]`` session, runs a fixed warm-up on separate data, times the
workload's passes (three migrations, one curation; each pass has inputs
and a target of its own), checks the outputs untimed (checks.py) and
prints one JSON line: ``{"correct", "attempted", "failed", "metrics"}``.

End-to-end metrics: ``setup_s``, process start until the session is up
and the warm-up is done, input generation left out; ``wall_s``, the
median pass; ``time_to_data_s``, pass start until ``data_phase`` returns
(migration) or until the first query's rows are in hand (curation:
q199's build plus execution, so that the metric is never 0 there);
``peak_rss_mb``, VmHWM of the driver JVM plus this process after the passes.
Inputs are generated in a child process, so this process's VmHWM covers
the session, the warm-up and the passes, not the generator.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs traced
and reports the per-layer metrics (spans.py), with the tracing overhead
measured against an untraced run of the same seed in a child process
(``trace.untraced_wall_s``).

Operations counted in ``attempted``: table loads, DDL and object
statements, per-table verify verdicts and output checks (migration);
queries and output checks (curation). A failure listed in
``record.json`` is reported under ``ops.known_failed`` and the
per-layer metric named there, not under ``failed``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

T_PROCESS = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
sys.path[:0] = [HERE, ROOT]

#: the queries of a curation pass, each with the ext module it exercises:
#: one per module, q199 also running ext.graph's connected components.
#: The list is short so that every run fits the time the benchmark may take.
EXT_FAMILY = {
    "q199_dedup_report": "dedup",
    "q228_bpe_train": "textops",
    "q233_ivf_pq": "similarity",
}
QUERY_LIST = list(EXT_FAMILY)
#: timed passes per run, each over its own inputs and, when migrating,
#: into its own fresh Derby database, so no pass reads what another wrote.
#: A migration pass lasts a few seconds, so a short stretch of CPU steal
#: from other guests on the host can slow one pass by a third; the median
#: of three does not follow one such stretch. A traced run makes one pass.
WORKLOADS = {
    "migrate_jdbc": {"kind": "migrate", "passes": 3},
    "curate_10x": {"kind": "curate", "replicas": 10, "passes": 1},
}
#: star-schema scale factor of the migration input (78,630 rows)
STAR_SF = 0.01
#: base corpus per replica: documents, embeddings
BASE_DOCS, BASE_VECS = 500, 200
#: the warm-up's inputs are fixed and made by another generator seed than
#: the pass's, so the two share no data
WARMUP_SEED = 7
PARALLEL = 4
#: full-size migrations the migration warm-up makes. After one small
#: warm-up migration, eight passes in a row took 6.8, 5.1, 5.2, 4.8, 4.0,
#: 4.1, 4.2 and 3.5 s (4-core VM): the JIT keeps speeding a pass up for
#: several passes, and passes timed in that climb spread most between runs.
WARMUP_MIGRATIONS = 4
DRIVER_MEMORY = "4g"


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ session


def start_session(run_dir: str):
    os.environ["SPARK_GRAFT_CPUS"] = str(PARALLEL)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    from sparksync.session import get_spark

    java_opts = " ".join([
        # a fixed heap and young generation: with G1's adaptive sizing the
        # driver's peak RSS swung by a quarter between identical passes,
        # following GC timing rather than what the pass holds
        f"-Xms{DRIVER_MEMORY}",
        "-Xmn512m",
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
        "-Duser.timezone=UTC",
    ])
    spark = get_spark(
        "perfbench",
        master=f"local[{PARALLEL}]",
        shuffle_partitions=PARALLEL,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def descendants(pid: int) -> list[int]:
    """The pids of every living descendant of `pid`, read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM by closing its stdin (the gateway
    exits on EOF) and wait for it and for every process it started (the
    Python workers of pandas UDFs), killing what outlives a timeout."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if spark is not None:
            spark.stop()
        elif SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        started = descendants(proc.pid) if proc is not None else []
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 10
        while any(alive(p) for p in started) and time.time() < deadline:
            time.sleep(0.05)
        for p in started:
            if alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        deadline = time.time() + 10
        while any(alive(p) for p in started) and time.time() < deadline:
            time.sleep(0.05)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks since boot. Steal is time the hypervisor gave
    this machine's CPUs to other guests; loadavg does not show it."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return sum(ticks), ticks[7]


def generic_warmup(spark, corpus_dir: str) -> None:
    """Scan, tokenize, shuffle-aggregate, self-join, window and collect on
    the warm-up corpus, plus an Arrow round-trip and a grouped pandas UDF:
    exercises the JVM's code paths once, and starts the pool's Python
    workers, so the pass's queries do not pay for them."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from sparksync.source import load_table

    docs = load_table(spark, corpus_dir, "documents")
    toks = docs.select("doc_id", "source", F.explode(F.split("text", " ")).alias("tok"))
    counts = toks.groupBy("doc_id", "tok").count()
    pairs = counts.alias("a").join(counts.alias("b"), "tok").where("a.doc_id < b.doc_id")
    pairs.groupBy("a.doc_id").agg(F.sum(F.col("a.count") * F.col("b.count"))).collect()
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    docs.withColumn("r", F.row_number().over(w)).where("r <= 3").collect()
    emb = load_table(spark, corpus_dir, "embeddings")
    emb.select("vec_id", F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x)).collect()
    small = spark.createDataFrame(pd.DataFrame({"k": range(64), "v": [0.5] * 64}))
    small.groupBy().sum().collect()
    small.groupBy("k").applyInPandas(lambda p: p, schema=small.schema).collect()


# ------------------------------------------------------------------ runs


class Run:
    """What a pass hands back: timings, op tallies and check inputs."""

    def __init__(self):
        self.wall_s = 0.0
        self.time_to_data_s = 0.0
        self.attempted = 0
        self.failed: list[str] = []
        self.known_failed: list[str] = []
        self.info: dict = {}

    def op(self, ok: bool, what: str, known: bool = False) -> None:
        self.attempted += 1
        if not ok:
            (self.known_failed if known else self.failed).append(what)


def load_known_defects() -> dict:
    with open(os.path.join(HERE, "record.json"), encoding="utf-8") as fh:
        return json.load(fh)["known_defects"]


# ------------------------------------------------------------------ migrate


def migrate_warmup(spark, star_dir: str, run_id: str) -> None:
    from sparksync.sink import JdbcSink
    from sparksync.sync import SyncJob

    for i in range(WARMUP_MIGRATIONS):
        url = f"jdbc:derby:memory:warmup_{run_id}_{i};create=true"
        sink = JdbcSink(spark, url, "app", "app", dialect="ansi")
        job = SyncJob(spark, star_dir, None, max_parallel=PARALLEL, sink=sink,
                      dest_flavor="ansi")
        tables = job.plan()
        job.ddl_phase(tables)
        job.data_phase(tables)
        job.objects_phase(tables)
        job.compare_phase(tables, checksum=True)


def migrate_pass(spark, star_dir: str, run_id: str, tracer) -> Run:
    from sparksync.sink import JdbcSink
    from sparksync.sync import SyncJob
    from spans import TimingSink

    span = tracer.span if tracer else (lambda name: nullcontext())
    url = f"jdbc:derby:memory:pass_{run_id};create=true"
    inner = JdbcSink(spark, url, "app", "app", dialect="ansi")
    sink = TimingSink(inner, tracer)
    job = SyncJob(spark, star_dir, None, max_parallel=PARALLEL, sink=sink, dest_flavor="ansi")
    run = Run()
    t0 = time.time()
    with span("harness.pass"):
        with span("sync.plan"):
            tables = job.plan()
        with span("sync.ddl_phase"):
            ddl = job.ddl_phase(tables)
        t_data0 = time.time()
        with span("sync.data_phase"):
            data = job.data_phase(tables)
        t_data = time.time()
        with span("sync.objects_phase"):
            objects = job.objects_phase(tables)
        with span("sync.compare_phase"):
            verdicts = job.compare_phase(tables, checksum=True)
    t1 = time.time()
    run.wall_s, run.time_to_data_s = t1 - t0, t_data - t0
    run.info.update(
        tables=tables, sink=sink, inner_sink=inner, verdicts=verdicts,
        phases=[ddl, data, *objects], data_start=t_data0,
    )
    return run


def is_drop(sql: str) -> bool:
    """The DDL phase drops each table before creating it; on a fresh
    target the drop fails by design and the engine does not count it."""
    return sql.lower().startswith("drop table")


def migrate_account(spark, star_dir: str, run: Run, known: dict) -> None:
    """Tally the pass's operations and run the untimed output checks."""
    from checks import table_matches

    sink, tables = run.info["sink"], run.info["tables"]
    data_errors = {e.split(":", 1)[0] for e in run.info["phases"][1].errors}
    for t in tables:
        run.op(t not in data_errors, f"load {t}")
    rejected = tuple(p.lower() for p in known["ddl_rejected"])
    for sql, err in sink.ddl_log:
        if not is_drop(sql):
            run.op(err is None, f"ddl {sql[:80]}: {(err or '')[:160]}",
                   known=sql.lower().startswith(rejected))
    known_tables = set(known["compare_mismatch_tables"])
    for v in run.info["verdicts"]:
        run.op(v.is_ok, f"verify {v.table}", known=v.table in known_tables)
    for t in tables:
        run.op(table_matches(spark, star_dir, run.info["inner_sink"], t), f"output {t}")


# ------------------------------------------------------------------ curate


def curate_pass(spark, corpus_dir: str, tracer) -> Run:
    from sparksync.queries import QUERIES

    span = tracer.span if tracer else (lambda name: nullcontext())
    # the harness's own action is not one of the query's round-trips
    own = tracer.uncounted if tracer else nullcontext
    run = Run()
    outputs, first_done = {}, None
    t0 = time.time()
    with span("harness.pass"):
        for name in QUERY_LIST:
            with span(f"queries.{name}"):
                try:
                    with span(f"queries.{name}.build"):
                        df = QUERIES[name](spark, corpus_dir)
                    with span(f"queries.{name}.exec"), own():
                        rows = df.collect()
                    outputs[name] = (df.columns, [tuple(r) for r in rows])
                except Exception as e:  # noqa: BLE001 — a failed query is a failed op
                    log(f"{name} failed: {type(e).__name__}: {e}")
                    outputs[name] = None
            if first_done is None:
                first_done = time.time()
    t1 = time.time()
    run.wall_s, run.time_to_data_s = t1 - t0, first_done - t0
    run.info["outputs"] = outputs
    return run


def curate_account(run: Run, expected: dict[str, str]) -> None:
    from checks import value_hash

    for name in QUERY_LIST:
        out = run.info["outputs"][name]
        run.op(out is not None, f"query {name}")
        ok = out is not None and len(out[1]) >= 1 and value_hash(*out) == expected[name]
        if out is not None:
            log(f"{name}: {len(out[1])} rows, digest {value_hash(*out)} "
                f"vs oracle {expected[name]}")
        run.op(ok, f"output {name}")


# ------------------------------------------------------------------ per layer


def layer_metrics(spark, workload: str, run: Run, tracer, session_start_s: float) -> dict:
    from spans import status_records, totals_in

    jobs, stages = status_records(spark)
    m: dict[str, tuple[float, str]] = {}

    def put(name, value, unit):
        m[name] = (value, unit)

    def spans_s(name):
        return sum(s.duration for s in tracer.find(name))

    def window(name):
        sp = tracer.find(name)
        return (sp[0].start, sp[0].end) if sp else (0.0, -1.0)

    put("session.start_s", session_start_s, "s")

    # sync / sink / compare (zero on workloads that do not migrate)
    migrate = workload == "migrate_jdbc"
    sink = run.info.get("sink")
    phases = run.info.get("phases", [])
    for ph in ("ddl_phase", "data_phase", "objects_phase", "compare_phase"):
        put(f"sync.{ph}_s", spans_s(f"sync.{ph}"), "s")
    put("sync.failed", sum(p.failed for p in phases), "count")
    data_win = window("sync.data_phase")
    put("sink.write_calls", len(sink.write_starts) if sink else 0, "count")
    put("sink.rows_written", totals_in(data_win, jobs, stages).output_records if migrate else 0,
        "count")
    put("sink.write_s", spans_s("sink.write"), "s")
    put("sink.write_wait_s",
        sum(t - run.info["data_start"] for t in sink.write_starts) if sink else 0.0, "s")
    ddl_log = sink.ddl_log if sink else []
    put("sink.ddl_statements", len(ddl_log), "count")
    put("sink.ddl_failed", sum(1 for sql, err in ddl_log if err and not is_drop(sql)), "count")
    put("sink.ddl_s", spans_s("sink.ddl"), "s")
    put("sink.read_s", spans_s("sink.read"), "s")
    verdicts = run.info.get("verdicts", [])
    put("compare.tables", len(verdicts), "count")
    put("compare.checksum_s", spans_s("compare.checksum"), "s")
    put("compare.mismatched", sum(1 for v in verdicts if not v.is_ok), "count")
    for ph in ("data", "objects", "compare"):
        t = totals_in(window(f"sync.{ph}_phase"), jobs, stages)
        put(f"spark.{ph}.jobs", t.jobs, "count")
        put(f"spark.{ph}.failed_tasks", t.failed_tasks, "count")
        put(f"spark.{ph}.executor_run_s", t.executor_run_s, "s")
        put(f"spark.{ph}.input_bytes", t.input_bytes, "bytes")
        put(f"spark.{ph}.shuffle_bytes", t.shuffle_bytes, "bytes")

    # queries and their ext families (zero on the migration workload)
    fam: dict[str, list[float]] = {f: [0.0, 0.0] for f in EXT_FAMILY.values()}
    build_total = 0.0
    for q in QUERY_LIST:
        b, e = tracer.find(f"queries.{q}.build"), tracer.find(f"queries.{q}.exec")
        bt = totals_in((b[0].start, b[0].end), jobs, stages) if b else None
        et = totals_in((e[0].start, e[0].end), jobs, stages) if e else None
        build_s = b[0].duration if b else 0.0
        exec_s = e[0].duration if e else 0.0
        build_total += build_s
        put(f"queries.{q}.build_s", build_s, "s")
        put(f"queries.{q}.build_jobs", bt.jobs if bt else 0, "count")
        put(f"queries.{q}.build_py4j", b[0].py4j if b else 0, "count")
        put(f"queries.{q}.driver_roundtrips",
            (b[0].roundtrips if b else 0) + (e[0].roundtrips if e else 0), "count")
        put(f"queries.{q}.exec_s", exec_s, "s")
        put(f"queries.{q}.exec_jobs", et.jobs if et else 0, "count")
        put(f"queries.{q}.executor_run_s", et.executor_run_s if et else 0.0, "s")
        put(f"queries.{q}.shuffle_bytes", et.shuffle_bytes if et else 0, "bytes")
        fam[EXT_FAMILY[q]][0] += build_s
        fam[EXT_FAMILY[q]][1] += exec_s
    for f, (b, e) in fam.items():
        put(f"ext.{f}.build_s", b, "s")
        put(f"ext.{f}.exec_s", e, "s")
    put("queries.build_share", build_total / run.wall_s if not migrate else 0.0, "ratio")

    # pins left behind by the pass
    sc = spark.sparkContext
    put("pins.persisted_after", sc._jsc.getPersistentRDDs().size(), "count")
    infos = sc._jsc.sc().getRDDStorageInfo()
    put("pins.storage_bytes_after", sum(i.memSize() + i.diskSize() for i in infos), "bytes")

    # self time per layer, the harness's own share included
    selft = tracer.self_time_by_layer()
    for layer in ("harness", "sync", "sink", "compare", "queries"):
        put(f"self.{layer}_s", selft.get(layer, 0.0), "s")
    put("ops.known_failed", len(run.known_failed), "count")
    return m


def calibration_s(spark) -> float:
    """bench.py's fixed all-core reference: median of 3 range sums."""
    samples = []
    for _ in range(3):
        t0 = time.time()
        spark.range(500_000_000).selectExpr("sum(id) AS s").collect()
        samples.append(time.time() - t0)
    return statistics.median(samples)


# ------------------------------------------------------------------ main


def pass_seed(seed: int, i: int) -> int:
    """The input seed of pass `i` of a run with `seed`."""
    return seed * 100 + i


def make_inputs(spec: dict, seed: int, scale: float, passes: int, data_dir: str,
                warm_dir: str) -> None:
    """Each pass's inputs, from `seed`, in `data_dir`/<pass>, and the
    warm-up's fixed ones. Run in a child process: the generator's memory
    is not the program's."""
    import inputs

    for i in range(passes):
        out = os.path.join(data_dir, str(i))
        if spec["kind"] == "migrate":
            inputs.write_star(out, pass_seed(seed, i), STAR_SF * scale)
        else:
            n_docs = max(40, int(BASE_DOCS * scale))
            n_vecs = max(24, int(BASE_VECS * scale))
            inputs.write_corpus(out, pass_seed(seed, i), spec["replicas"], n_docs, n_vecs)
    if spec["kind"] == "migrate":
        inputs.write_star(warm_dir, WARMUP_SEED, STAR_SF * scale, WARMUP_SEED)
    else:
        inputs.write_corpus(warm_dir, WARMUP_SEED, 1, 60, 24, WARMUP_SEED)


def merge(runs: list[Run]) -> Run:
    """One run's figures from its passes: median times, summed ops."""
    run = Run()
    run.wall_s = statistics.median(r.wall_s for r in runs)
    run.time_to_data_s = statistics.median(r.time_to_data_s for r in runs)
    for r in runs:
        run.attempted += r.attempted
        run.failed += r.failed
        run.known_failed += r.known_failed
    run.info = runs[0].info
    return run


def untraced_wall_s(args) -> float:
    """The untraced pass time the tracing overhead is measured against:
    the same code and seed, run untraced now in a child process."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
           "--scale", str(args.scale), "--passes", "1"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, cwd=ROOT, timeout=170, check=True,
                         text=True)
    out = json.loads(res.stdout.strip().splitlines()[-1])
    if not out["correct"]:
        raise RuntimeError("the untraced twin run failed its output checks")
    return out["metrics"]["wall_s"]["value"]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20,
                    help="expected measured time; a run is a fixed number of passes")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the smoke test uses a small one)")
    ap.add_argument("--passes", type=int, default=None,
                    help="timed passes (default: the workload's; a traced run makes one)")
    args = ap.parse_args(argv)

    try:
        import sparksync  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the sparksync package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    spec = WORKLOADS[args.workload]
    passes = 1 if args.trace else args.passes or spec["passes"]
    run_id = f"{args.workload}_{args.seed}_{os.getpid()}"
    run_dir = os.path.join(WORK, run_id)
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()

    untraced_wall = untraced_wall_s(args) if args.trace else None

    t_gen = time.time()
    data_dir, warm_dir = os.path.join(run_dir, "data"), os.path.join(run_dir, "warmup")
    # a plain child process, waited for: multiprocessing would leave its
    # resource tracker running past this process's exit
    subprocess.run(
        [sys.executable, "-c",
         "import json, sys; sys.path.insert(0, sys.argv[1]); import run; "
         "run.make_inputs(*json.loads(sys.argv[2]))",
         HERE, json.dumps([spec, args.seed, args.scale, passes, data_dir, warm_dir])],
        stdout=sys.stderr, cwd=ROOT, timeout=170, check=True)
    gen_s = time.time() - t_gen

    spark = None
    try:
        t_session = time.time()
        spark = start_session(run_dir)
        session_start_s = time.time() - t_session
        t_w = time.time()
        if spec["kind"] == "migrate":
            migrate_warmup(spark, warm_dir, run_id)
        else:
            generic_warmup(spark, warm_dir)
        log(f"gen {gen_s:.2f} session {session_start_s:.2f} warm-up {time.time() - t_w:.2f}")
        setup_s = time.time() - T_PROCESS - gen_s

        tracer = None
        if args.trace:
            import sparksync.sync as sync_mod
            from spans import Tracer, patch_attr

            tracer = Tracer(run_id)
            tracer.install(spark)
            patch_attr(tracer, sync_mod, "compare_checksum", "compare.checksum")
        loadavg, ticks0 = os.getloadavg()[0], cpu_ticks()
        runs = []
        for i in range(passes):
            pass_dir = os.path.join(data_dir, str(i))
            if spec["kind"] == "migrate":
                runs.append(migrate_pass(spark, pass_dir, f"{run_id}_{i}", tracer))
            else:
                runs.append(curate_pass(spark, pass_dir, tracer))
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        jvm_mb, py_mb = vm_hwm_mb(jvm_pid), vm_hwm_mb("self")
        peak_rss_mb = jvm_mb + py_mb
        ticks1 = cpu_ticks()
        steal_frac = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])
        walls = [r.wall_s for r in runs]
        log(f"passes {' '.join(f'{w:.2f}' for w in walls)} s, CPU steal {100 * steal_frac:.1f}%, "
            f"peak RSS JVM {jvm_mb:.0f} MB + Python {py_mb:.0f} MB")
        if tracer:
            tracer.uninstall()
        if args.seconds and sum(walls) > 3 * args.seconds:
            log(f"passes took {sum(walls):.1f} s, over 3x --seconds {args.seconds}")

        known = load_known_defects()
        for i, r in enumerate(runs):
            pass_dir = os.path.join(data_dir, str(i))
            if spec["kind"] == "migrate":
                migrate_account(spark, pass_dir, r, known)
            else:
                from checks import oracle_digests

                expected = oracle_digests(
                    QUERY_LIST, pass_dir, os.path.join(WORK, "cache"),
                    os.path.join(run_dir, "tmp"),
                    f"{args.workload}-{pass_seed(args.seed, i)}-{args.scale}",
                )
                curate_account(r, expected)
        run = merge(runs)

        if args.trace:
            metrics = layer_metrics(spark, args.workload, run, tracer, session_start_s)
            metrics["host.calibration_s"] = (calibration_s(spark), "s")
            metrics["host.loadavg_1m"] = (loadavg, "load")
            metrics["host.steal_frac"] = (steal_frac, "ratio")
            metrics["trace.wall_s"] = (run.wall_s, "s")
            metrics["trace.untraced_wall_s"] = (untraced_wall, "s")
            metrics["trace.overhead_s"] = (run.wall_s - untraced_wall, "s")
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.write(os.path.join(WORK, "traces", f"{run_id}.jsonl"))
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "wall_s": (run.wall_s, "s"),
                "time_to_data_s": (run.time_to_data_s, "s"),
                "peak_rss_mb": (peak_rss_mb, "MB"),
            }
    finally:
        stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    for what in run.known_failed:
        log(f"known defect: {what}")
    for what in run.failed:
        log(f"FAILED: {what}")
    correct = not run.failed
    if not correct:
        log(f"{len(run.failed)} operation(s) failed; see FAILED lines above")
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": len(run.failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
