"""Feature-store benchmark for diseasystore_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload revision_cycle --seed 1 \
        --seconds 10 --trace 0

Workloads (closed loop, one client, one SparkSession on every core):

- ``revision_cycle``: daily revisions of a seeded line list. Each of a
  fixed number of cycles publishes one revision, runs one ``write`` op
  per feature at the new ``slice_ts``, then ``read`` ops at earlier or
  current ``slice_ts`` (time travel).
- ``stratified_reports``: features computed in set-up; the loop runs a
  fixed number of rounds of ``report`` ops (``key_join_features``), a
  quarter repeating the previous query, a quarter an older one.

The loop runs a fixed amount of work, not a fixed time, so that every
commit measures the same ops; ``--seconds`` is the nominal length of
that work on a 4-core host and is printed beside the measured time.

Every op result is checked after the timed loop: reads and writes
against the handler's own ``compute`` (oracle a), reports against a
per-day DuckDB formulation (b) and the marginal invariant (c).
Mismatching ops count as failed, and the first diff is printed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same seeded workload with span wrappers installed and prints the
per-layer metrics instead. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import datetime
import gc
import json
import os
import random
import resource
import shutil
import statistics
import sys
import time
import traceback
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

FEATURES = ["birth", "sex", "age", "n_positive", "n_hospital", "n_admission"]
OBSERVABLES = ["n_positive", "n_hospital", "n_admission"]
AGE_GROUP = "cast(floor(age/10)*10 as int)"
STRATA = {
    "none": {},
    "sex": {"sex": "sex"},
    "age_group": {"age_group": AGE_GROUP},
    "age_group+sex": {"age_group": AGE_GROUP, "sex": "sex"},
}
STRAT_FEATURES = {
    "none": [], "sex": ["sex"], "age_group": ["age"], "age_group+sex": ["age", "sex"],
}
WINDOWS = {"4-week": 28, "quarter": 91, "full-span": None}

# Set-up computes every feature at revision 0; each revision cycle
# publishes the next one.
WORKLOADS = {
    "revision_cycle": dict(
        persons=20000, cycles=2, reads_per_cycle=12,
        warmup_strata=["age_group+sex"],
    ),
    "stratified_reports": dict(
        persons=10000, rounds=3,
        # a sex report runs the same single-feature path as age_group
        warmup_strata=["none", "age_group", "age_group+sex"],
    ),
}
FIRST_AS_OF = datetime.date(2020, 3, 31)


@dataclass
class Op:
    kind: str  # write | read | report
    feature: str
    rev: int
    start: datetime.date
    end: datetime.date
    strat: str | None = None
    latency: float | None = None
    result: object = None
    error: str | None = None
    mismatch: str | None = None
    trace_id: int | None = None
    counts: tuple = ()
    extra_s: float = 0.0

    @property
    def ok(self) -> bool:
        return self.error is None and self.mismatch is None


@dataclass
class Run:
    spark: object
    ds: object
    revs: list
    tracer: object = None
    ops: list = field(default_factory=list)
    setup_ops: list = field(default_factory=list)
    next_trace_id: int = 1
    bytes_per_live_row: float | None = None
    clock: object = None
    gc_s: float = 0.0


def slice_ts(rev) -> datetime.datetime:
    """A revision is published at midnight after its as-of day."""
    return datetime.datetime.combine(rev.as_of, datetime.time()) + datetime.timedelta(days=1)


# ------------------------------------------------------------------ ops
def collect_garbage(run: Run) -> None:
    """Full Python and JVM GC, outside any op's timing and outside the
    loop clock: before a cycle's writes and before its reads, and before
    each report, so late ops do not pay for the garbage of earlier ones.
    (With a GC only before each block of four reports, peak_rss_mb on
    stratified_reports spread 0.11 over ten seeds instead of 0.02.)"""
    t = time.perf_counter()
    gc.collect()
    run.spark.sparkContext._jvm.System.gc()
    dt = time.perf_counter() - t
    run.gc_s += dt
    run.clock.paused_s += dt


def run_op(run: Run, op: Op, collect: bool = True) -> Op:
    rev = run.revs[op.rev]
    tr = run.tracer
    span = None
    if tr is not None:
        op.trace_id = tr.op_id = run.next_trace_id
        run.next_trace_id += 1
        extra0 = tr.extra_s
        span = tr.open(f"op.{op.kind}")
    t0 = time.perf_counter()
    try:
        if op.kind == "report":
            run.ds.slice_ts = slice_ts(rev)
            df = run.ds.key_join_features(
                op.feature, STRATA[op.strat] or None, op.start, op.end
            )
        else:
            df = run.ds.get_feature(op.feature, op.start, op.end, slice_ts(rev))
        if collect:
            op.result = df.toPandas()
    except Exception as e:  # an op that raises is a failed op
        op.error = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
        traceback.print_exc(file=sys.stderr)
    op.latency = time.perf_counter() - t0
    if tr is not None:
        tr.close(span)
        tr.op_id = None
        op.extra_s = tr.extra_s - extra0
        op.counts = tr.op_counts(op.trace_id)
    return op


def window(rng: random.Random, rev, start_min: datetime.date, kind: str):
    length = WINDOWS[kind]
    span_days = (rev.as_of - start_min).days + 1
    if length is None or length >= span_days:
        return start_min, rev.as_of
    end = start_min + datetime.timedelta(
        days=rng.randrange(length - 1, span_days)
    )
    return end - datetime.timedelta(days=length - 1), end


def publish(run: Run, k: int, target: list, collect: bool) -> None:
    """Point the store at revision k and write every feature at its slice."""
    from gen import OUTBREAK_START

    run.ds.source_conn = run.revs[k].path
    for f in FEATURES:
        target.append(run_op(
            run, Op("write", f, k, OUTBREAK_START, run.revs[k].as_of), collect
        ))


def revision_loop(run: Run, cfg: dict, rng: random.Random) -> float:
    """Cycles of one revision each: a write per feature, then reads. The
    read mix is fixed (every feature and window kind equally often, half
    at the current slice); the seed draws the older slices and windows."""
    from gen import OUTBREAK_START

    n, kinds = cfg["reads_per_cycle"], list(WINDOWS)
    clock = run.clock = Clock()
    for k in range(1, 1 + cfg["cycles"]):
        collect_garbage(run)
        publish(run, k, run.ops, collect=True)
        collect_garbage(run)
        # blocks of one read per feature, alternately at the current
        # and an older slice; each block shifts the window kinds by one
        for i in range((k - 1) * n, k * n):
            f, block = i % 6, i // 6
            r = k if block % 2 == 0 else rng.randrange(k)
            start, end = window(rng, run.revs[r], OUTBREAK_START, kinds[(f + block) % 3])
            run.ops.append(run_op(run, Op("read", FEATURES[f], r, start, end)))
    return clock.elapsed()


def new_query(n: int) -> tuple[str, str, str]:
    """The n-th new report query (observable, stratification, window
    kind). Every four in a row ask each stratification once, in an
    order that rotates by one per four, so each stratification falls
    on both new-query positions of a block (and so is repeated both as
    "previous" and as "older"). For a given stratification the nine
    blocks take the nine (observable, window kind) pairs, so the first
    36 queries are the 36 combinations."""
    block, strat = n // 4, (n + n // 4) % 4
    pair = (block + 2 * strat) % 9
    return OBSERVABLES[pair % 3], list(STRATA)[strat], list(WINDOWS)[pair // 3]


def report_loop(run: Run, cfg: dict, rng: random.Random) -> float:
    """Rounds of eight reports, in blocks of four: a new query, a repeat
    of the previous one (its plan is still cached), a new query, and a
    repeat of an older one (the previous block's second new query; its
    plan was evicted), all at revision 0. The seed draws the window
    position of each new query."""
    from gen import OUTBREAK_START

    pattern = ("new", "previous", "new", "older")
    history: list[tuple] = []
    clock = run.clock = Clock()
    n_new = 0
    for i in range(8 * cfg["rounds"]):
        collect_garbage(run)
        origin = pattern[i % 4]
        if origin == "previous":
            q = history[-1]
        elif origin == "older":
            # the previous block's second new query, else this block's first
            q = history[-5] if i >= 4 else history[0]
        else:
            obs, strat, kind = new_query(n_new)
            n_new += 1
            q = (obs, strat, *window(rng, run.revs[0], OUTBREAK_START, kind))
        history.append(q)
        obs, strat, start, end = q
        run.ops.append(run_op(run, Op("report", obs, 0, start, end, strat)))
    return clock.elapsed()


class Clock:
    """Wall clock of the timed loop, less the GC time between ops."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.paused_s = 0.0

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0 - self.paused_s


# ---------------------------------------------------------------- setup
def setup(run_args, cfg, revs, work):
    """Session start, store build at revision 0, and warm-up
    ops (a read, and a report per ``warmup_strata``) so JIT and codegen
    warm-up land here."""
    from diseasystore_spark.session import get_spark
    from diseasystore_spark.stores.simulist import SimulistDiseasystore
    from gen import OUTBREAK_START

    spark = get_spark(
        "perfbench",
        extra_conf={
            # A fixed young generation: G1's adaptive eden sizing made
            # peak_rss_mb range over 30% between runs of one
            # workload. The heap grows with what the program keeps
            # (old generation), so that still shows in peak_rss_mb.
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData -Xmn256m",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
        },
    )
    spark.range(1000).selectExpr("sum(id)").collect()
    tracer = None
    if run_args.trace:
        from tracing import Tracer

        tracer = Tracer(spark)
        tracer.install(SimulistDiseasystore)
    ds = SimulistDiseasystore(
        spark,
        target_conn=f"{work}/store",
        source_conn=revs[0].path,
        verbose=False,
    )
    run = Run(spark, ds, revs, tracer)
    publish(run, 0, run.setup_ops, collect=False)
    as_of = revs[0].as_of
    start = as_of - datetime.timedelta(days=27)
    run.setup_ops.append(run_op(run, Op("read", "age", 0, start, as_of)))
    for strat in cfg["warmup_strata"]:
        run.setup_ops.append(run_op(run, Op(
            "report", "n_hospital", 0, OUTBREAK_START, as_of, strat
        )))
    ds.release_cached_plans()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    return run


# --------------------------------------------------------------- checks
def check(run: Run) -> list[str]:
    """Apply the oracles to every op; return self-test failures."""
    import oracles
    from diseasystore_spark.stores.simulist import SimulistDiseasystore
    from gen import OUTBREAK_START

    fails = oracles.self_test()
    compute = oracles.ComputeOracle(run.spark, SimulistDiseasystore, OUTBREAK_START)
    # The expected frames are small Spark jobs, bound by per-job
    # overhead: build them a few at a time.
    wanted = sorted({(op.feature, op.rev) for op in run.ops if op.kind != "report"})
    with ThreadPoolExecutor(4) as pool:
        list(pool.map(
            lambda fr: compute.full(fr[0], run.revs[fr[1]], slice_ts(run.revs[fr[1]])),
            wanted,
        ))
    # Per-day reports: one per distinct query, plus its unstratified
    # total, over the features read back at its slice. DuckDB runs
    # outside the GIL, so they are built a few at a time.
    keys = {(op.feature, op.strat, op.rev, op.start, op.end)
            for op in run.ops if op.kind == "report" and op.error is None}
    keys |= {(obs, "none", *rest) for obs, _strat, *rest in keys}
    readback: dict = {}
    for feat, r in sorted({(f, k[2]) for k in keys for f in (k[0], *STRAT_FEATURES[k[1]])}):
        rev = run.revs[r]
        readback[feat, r] = run.ds.get_feature(
            feat, OUTBREAK_START, rev.as_of, slice_ts(rev)
        ).toPandas()

    def per_day_report(key):
        obs, strat, r, start, end = key
        return oracles.report_oracle(
            readback[obs, r],
            {f: readback[f, r] for f in STRAT_FEATURES[strat]},
            STRATA[strat], start, end,
        )

    keys = sorted(keys, key=repr)
    with ThreadPoolExecutor(4) as pool:
        reports = dict(zip(keys, pool.map(per_day_report, keys)))

    def per_day(*key):
        return reports[key]

    for op in run.ops:
        if op.error is not None:
            continue
        rev = run.revs[op.rev]
        if op.kind in ("read", "write"):
            want = compute.expected(op.feature, rev, slice_ts(rev), op.start, op.end)
            op.mismatch = oracles.diff(oracles.multiset(op.result), want)
            continue
        got = oracles.nonzero(op.result, op.feature)
        want = per_day(op.feature, op.strat, op.rev, op.start, op.end)
        bad = [("per-day", oracles.diff(oracles.multiset(got), oracles.multiset(want)))]
        if STRATA[op.strat]:
            total = per_day(op.feature, "none", op.rev, op.start, op.end)
            bad.append(("marginal", oracles.marginal_mismatch(
                got, list(STRATA[op.strat]), total
            )))
        op.mismatch = "; ".join(f"{name}: {d}" for name, d in bad if d) or None
    return fails


# -------------------------------------------------------------- metrics
def latency_summary(ops) -> dict:
    lat = sorted(op.latency for op in ops if op.error is None)
    out = {"n": len(lat)}
    if lat:
        out["p50"] = statistics.median(lat)
        # a p90 needs at least ten samples beyond it
        if len(lat) >= 100:
            out["p90"] = statistics.quantiles(lat, n=10, method="inclusive")[8]
    return out


def vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def untraced(run: Run, fn):
    return run.tracer.aux(fn) if run.tracer is not None else fn()


def store_bytes_per_live_row(run: Run, k: int) -> float:
    """Bytes under the store root / rows live at revision k's slice."""
    ts = slice_ts(run.revs[k])
    live = 0
    for f in FEATURES:
        table = f"{run.ds.target_schema}.{run.ds.ds_map[f]}"
        live += run.ds.backend.get_table(table, ts).count()
    size = 0
    for dirpath, _dirs, files in os.walk(run.ds.backend.root):
        size += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return size / live


def peak_rss_mb() -> float:
    """Peak resident memory so far: driver Python plus the JVM."""
    return (
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss + vm_hwm_kb(jvm_pid())
    ) / 1024


def end_to_end(run, setup_s, loop_s, rss_mb) -> tuple[dict, dict]:
    ops = run.ops
    # Throughput counts every op that returned; wrong answers are
    # reported through ``failed`` (per op), not folded into the rate.
    completed = sum(op.error is None for op in ops)
    metrics = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (completed / loop_s, "1/s"),
        "peak_rss_mb": (rss_mb, "MB"),
        "store_bytes_per_live_row": (run.bytes_per_live_row, "B/row"),
    }
    # Latencies, printed for people. Not every workload has every op
    # type, and a p50 of a few dozen 0.2 s reads swings with the host's
    # speed from run to run (quartile spread 0.07-0.25 over ten seeds),
    # so the JSON line carries throughput instead.
    detail = {"op_p50_s": (latency_summary(ops).get("p50"), len(ops))}
    for kind in ("write", "read", "report"):
        s = latency_summary([op for op in ops if op.kind == kind])
        detail[f"{kind}_p50_s"] = (s.get("p50"), s["n"])
        detail[f"{kind}_p90_s"] = (s.get("p90"), s["n"])
    detail["failed_ops_share"] = (sum(not op.ok for op in ops) / len(ops), len(ops))
    return metrics, detail


def per_layer(run: Run) -> dict:
    tr = run.tracer
    spans = tr.spans
    all_ops = run.setup_ops + run.ops

    def named(name):
        return [s for s in spans if s.name == name]

    def mean(values):
        values = list(values)
        return statistics.fmean(values) if values else 0.0

    def total(values):
        return float(sum(values))

    snaps = named("storage.scd2.update_snapshot")
    # churn of revisions; a workload that never revises has only first
    # writes, which open every row
    diffs = [s for s in snaps if s.attrs["revision"]] or snaps
    inter = named("operators.interlace")
    delta = named("operators.delta_count")
    computes = [s for s in spans if s.name.startswith("stores.simulist.compute.")]
    getf = named("plans.store.get_feature")
    missing = {
        s.parent: s.attrs["n_missing"]
        for s in reversed(named("plans.store.determine_missing_ranges"))
    }
    kjf = named("plans.store.key_join_features")
    cache = [s.attrs["plan_cache_hit"] for s in delta
             if s.attrs.get("plan_cache_hit") is not None]
    m = {
        "storage.scd2.update_snapshot_s": (mean(s.own for s in snaps), "s"),
        "storage.scd2.bytes_written": (total(s.attrs["bytes_written"] for s in snaps), "B"),
        "storage.scd2.files_written": (total(s.attrs["files_written"] for s in snaps), "count"),
        "storage.scd2.rows_changed_share": (
            total(s.attrs["rows_changed"] for s in diffs)
            / max(1.0, total(s.attrs["rows_live"] for s in diffs)), "ratio"),
        "storage.scd2.append_log_s": (mean(s.own for s in named("storage.scd2.append_log")), "s"),
        "storage.scd2.lock_wait_s": (mean(s.own for s in named("storage.scd2.lock_wait")), "s"),
        "storage.scd2.read_logs_s": (mean(s.own for s in named("storage.scd2.read_logs")), "s"),
        "storage.scd2.log_files": (
            mean(s.attrs["log_file_count"] for s in named("storage.scd2.read_logs")), "count"),
        "storage.scd2.get_table_s": (mean(s.own for s in named("storage.scd2.get_table")), "s"),
        "storage.scd2.files_per_read": (
            mean(s.attrs["files"] for s in named("storage.scd2.get_table")), "count"),
        "storage.scd2.table_stats_s": (mean(s.own for s in named("storage.scd2.table_stats")), "s"),
        "plans.store.determine_missing_ranges_s": (
            mean(s.own for s in named("plans.store.determine_missing_ranges")), "s"),
        "plans.store.memo_hit_ratio": (
            mean(float(missing.get(s.sid, 1) == 0) for s in getf), "ratio"),
        "plans.store.key_join_features_s": (
            mean(s.own for s in kjf), "s"),
        "plans.store.plan_cache_hit_share": (mean(cache), "ratio"),
        "operators.interlace.exec_s": (mean(s.attrs["exec_s"] for s in inter), "s"),
        "operators.interlace.rows_in": (mean(s.attrs["rows_in"] for s in inter), "count"),
        "operators.interlace.rows_out": (mean(s.attrs["rows_out"] for s in inter), "count"),
        "operators.interlace.bucket_days": (mean(s.attrs["bucket_days"] for s in inter), "days"),
        "operators.delta_count.exec_s": (mean(s.attrs["exec_s"] for s in delta), "s"),
        "operators.delta_count.rows_out": (mean(s.attrs["rows_out"] for s in delta), "count"),
        "stores.simulist.compute_exec_s": (mean(s.attrs["exec_s"] for s in computes), "s"),
    }
    for kind in ("write", "read", "report"):
        counts = [op.counts for op in all_ops if op.kind == kind and op.counts]
        for i, what in enumerate(("jobs", "stages", "tasks")):
            m[f"session.{what}_per_{kind}"] = (mean(c[i] for c in counts), "count")
    # wall latency with tracing on: minus op_p50_s of the untraced run
    # with the same seed, it is the tracing overhead
    m["trace.op_p50_s"] = (latency_summary(run.ops)["p50"], "s")
    m["trace.extra_s_per_op"] = (mean(op.extra_s for op in run.ops), "s")
    m["trace.spans_per_op"] = (
        mean(sum(1 for s in spans if s.op == op.trace_id) for op in run.ops), "count")
    return m


# ----------------------------------------------------------------- main
def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "diseasystore_spark")):
        print("perfbench: run from the repository root (no diseasystore_spark/ "
              "package here)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    cfg = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the launcher JVM that spark-submit starts would use /tmp otherwise
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    spark = None
    try:
        from gen import generate_revisions

        t = time.perf_counter()
        revs = generate_revisions(
            os.path.join(work, "data"), args.seed, cfg["persons"], FIRST_AS_OF,
            1 + cfg.get("cycles", 0),
        )
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        run = setup(args, cfg, revs, work)
        spark = run.spark
        setup_s = time.perf_counter() - t
        rng = random.Random(args.seed)
        loop = revision_loop if args.workload == "revision_cycle" else report_loop
        loop_s = loop(run, cfg, rng)
        # before the checks, whose oracles and kept results are not the
        # program's memory
        rss_mb = peak_rss_mb()
        run.bytes_per_live_row = untraced(
            run, lambda: store_bytes_per_live_row(run, len(revs) - 1)
        )
        if run.tracer is not None:
            layers = per_layer(run)
            run.tracer.uninstall()
        t = time.perf_counter()
        self_fails = check(run)
        check_s = time.perf_counter() - t
        metrics, detail = end_to_end(run, setup_s, loop_s, rss_mb)
        if run.tracer is not None:
            metrics = layers
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".perfbench_tmp"))
        except OSError:
            pass

    report(args, run, metrics, detail, self_fails, gen_s, loop_s, check_s)
    failed = sum(not op.ok for op in run.ops)
    print(json.dumps({
        "correct": not self_fails,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def report(args, run, metrics, detail, self_fails, gen_s, loop_s, check_s):
    """Human-readable summary (everything before the JSON line)."""
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{len(run.ops)} ops in {loop_s:.2f} s (nominal {args.seconds:g} s) "
          f"(generator {gen_s:.2f} s, checks {check_s:.2f} s, "
          f"GC between ops {run.gc_s:.2f} s)")
    for name, (value, n) in detail.items():
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"  {name:<26} {shown:>12}  (n={n})")
    for name, (value, unit) in metrics.items():
        print(f"  {name:<40} {value:>14.6g} {unit}")
    print(f"  oracle self-test: {'ok' if not self_fails else 'FAILED ' + ', '.join(self_fails)}")
    for kind in ("write", "read", "report"):
        ops = [op for op in run.ops if op.kind == kind]
        if not ops:
            continue
        groups: dict = {}
        for op in ops:
            groups.setdefault(op.strat, []).append(op)
        print(f"  oracle verdict {kind}: {sum(op.ok for op in ops)}/{len(ops)} ok")
        for strat, group in sorted(groups.items(), key=lambda g: str(g[0])):
            bad = [op for op in group if not op.ok]
            if strat is not None:
                print(f"    strat {strat:<14} {len(group) - len(bad)}/{len(group)} ok")
            if bad:
                op = bad[0]
                print(f"    first failure: {op.kind} {op.feature} strat={op.strat} "
                      f"rev={op.rev} window={op.start}..{op.end}: "
                      f"{op.error or op.mismatch}")


if __name__ == "__main__":
    sys.exit(main())
