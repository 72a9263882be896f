#!/usr/bin/env python3
"""kgbench: the repository's benchmark.  Three seeded workloads run
against the program's public entry points; every operation's output is
checked.

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 20 --trace 0
    python3 kgbench/run.py --workload all --seed 2       # all three in turn

Run it from the repository root.  The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  The line before it holds the run's details (deployment
settings, sample counts, tails, expected counts).  See kgbench/README.md.
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
import tempfile
import time
import traceback
from collections import Counter
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import checks  # noqa: E402
import gen  # noqa: E402
from spans import Tracer, find_event_log, read_event_log  # noqa: E402

WORKLOADS = ("kg_build", "shacl_validate", "cdc_stream")
KG_FILES = 100
PEOPLE = 2000
CDC_SEED_FILES = 100
CDC_FILES_PER_BATCH = 20
CDC_RETRACTS_PER_BATCH = 50
CDC_BREAKS_PER_BATCH = 3
CDC_MIN_BATCHES = 4
CDC_BATCH_S = 5.0  # nominal batch latency: --seconds buys one batch per 5 s
BATCH_TIMEOUT_S = 60.0
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "cpu_s",
    "triples_per_cpu_s": "triples/cpu_s",
    "peak_rss_mb": "MB",
    "stored_bytes_per_triple": "B",
}
_MODES = ("incremental", "incremental_local", "full_escape", "full_subclass", "full_entailment")
_EDGE_MODES = ("cached", "collected", "spark_hops")
PER_LAYER = {
    "kg.checkpoint.busy_s": "s",
    "kg.checkpoint.jobs": "count",
    "kg.checkpoint.files_written": "count",
    "kg.checkpoint.bytes_written": "B",
    "kg.checkpoint.scan_amplification": "ratio",
    "kg.extract.triples_out": "count",
    "kg.extract.udf_rows": "count",
    "kg.canon.busy_s": "s",
    "kg.canon.jobs": "count",
    "kg.canon.shuffle_mb": "MB",
    "kg.canon.cc_iterations": "count",
    "kg.canon.lsh_dropped_rows": "count",
    "kg.canon.entities_merged": "count",
    "kg.materialize.busy_s": "s",
    "kg.materialize.jobs": "count",
    "kg.materialize.files_written": "count",
    "kg.materialize.bytes_written": "B",
    "kg.materialize.edges": "count",
    "kg.materialize.nodes": "count",
    "shacl.engine.busy_s": "s",
    "shacl.engine.jobs": "count",
    "shacl.engine.tasks": "count",
    "shacl.engine.shuffle_mb": "MB",
    "shacl.engine.spill_mb": "MB",
    "shacl.engine.report_rows": "count",
    "sources.ntriples.read_s": "s",
    "sources.ntriples.rows": "count",
    "sources.ntriples.write_s": "s",
    "sources.ntriples.bytes_written": "B",
    "shacl.parser.parse_s": "s",
    "shacl.parser.shapes": "count",
    "shacl.incremental.busy_s": "s",
    "shacl.incremental.jobs": "count",
    **{f"shacl.incremental.mode.{m}": "count" for m in _MODES},
    **{f"shacl.incremental.edge_mode.{m}": "count" for m in _EDGE_MODES},
    "shacl.incremental.affected_nodes": "count",
    "shacl.incremental.context_rows": "count",
    "streaming.self_s": "s",
    "streaming.target_files": "count",
    "streaming.target_bytes": "B",
    "streaming.journal_bytes": "B",
    "streaming.report_bytes": "B",
    "session.gc_s": "s",
    "session.jobs_total": "count",
    "trace.overhead_s": "s",
}


# --- deployment ---------------------------------------------------------------


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def git_commit() -> str:
    """HEAD of the checkout, read from .git without running git."""
    head = ROOT / ".git" / "HEAD"
    if not head.is_file():
        return "unknown (not a git checkout)"
    ref = head.read_text().strip()
    if not ref.startswith("ref: "):
        return ref
    ref = ref[5:]
    loose = ROOT / ".git" / ref
    if loose.is_file():
        return loose.read_text().strip()
    packed = ROOT / ".git" / "packed-refs"
    for line in packed.read_text().splitlines() if packed.is_file() else []:
        if line.endswith(" " + ref):
            return line.split()[0]
    return "unknown"


def filesystem(path: Path) -> str:
    """Type and mount point of the filesystem holding ``path``."""
    best = ("", "unknown")
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, fstype, *_ = line.split()
            if str(path).startswith(mnt) and len(mnt) > len(best[0]):
                best = (mnt, fstype)
    return f"{best[1]} on {best[0]}"


def pin_deployment(work: Path, trace: bool) -> tuple[dict, dict]:
    """Environment and Spark settings every run uses; everything the
    program writes stays under ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    pypath = [str(ROOT)] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    env = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIR": str(work / "spark-local"),
        "PYTHONPATH": os.pathsep.join(pypath),
        "TMPDIR": str(tmp),
    }
    os.environ.update(env)
    tempfile.tempdir = str(tmp)
    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        (work / "events").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "events"),
            "spark.eventLog.compress": "false",
        })
    return env, conf


# --- measurement helpers -------------------------------------------------------


def du(*paths: Path) -> tuple[int, int]:
    """(files, bytes) under the given paths, checksum side files included."""
    n = b = 0
    for p in paths:
        for d, _, files in os.walk(p):
            for name in files:
                n += 1
                b += os.path.getsize(os.path.join(d, name))
    return n, b


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the machine so far, from /proc/stat:
    steal is time the hypervisor gave this VM's CPUs to someone else."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def _ppid(pid: str) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree() -> set[int]:
    """This process and its descendants: the JVM, the Python daemon and
    its workers."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            pp = _ppid(d)
            if pp is not None:
                children.setdefault(pp, []).append(int(d))
    todo, seen = [os.getpid()], set()
    while todo:
        p = todo.pop()
        if p not in seen:
            seen.add(p)
            todo += children.get(p, [])
    return seen


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants, reaped children included.  Time the hypervisor gives
    to other tenants (steal) is not in it, which is why the gated
    operation metrics are CPU seconds."""
    total = 0
    for p in _tree():
        try:
            with open(f"/proc/{p}/stat") as f:
                total += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return total / _TICK


def peak_rss_mb() -> dict[str, float]:
    """VmHWM of this process and of its descendants (the JVM and the
    Python workers), by command name, in MB."""
    out: dict[str, float] = {}
    for p in _tree():
        try:
            with open(f"/proc/{p}/comm") as f:
                name = f.read().strip()
        except OSError:
            continue
        out[name] = out.get(name, 0.0) + _vm_hwm_kb(p) / 1024.0
    return out


def tail(samples: list[float]) -> dict:
    """Median, plus the highest percentile with at least ten samples
    beyond it (none below eleven samples)."""
    s = sorted(samples)
    out = {"n": len(s), "p50": statistics.median(s) if s else None}
    for pct in (99.9, 99, 95, 90, 75, 50):
        if len(s) * (1 - pct / 100) >= 10:
            out[f"p{pct:g}"] = s[min(len(s) - 1, int(len(s) * pct / 100))]
            break
    return out


class Ctx:
    """One run: the session, the work dir, the optional tracer and the tally."""

    def __init__(self, args, work: Path, spark, tracer: Tracer | None):
        self.args = args
        self.work = work
        self.spark = spark
        self.tracer = tracer
        self.tally = checks.Tally()
        self.details: dict = {}
        self.window_ms = (0.0, 0.0)
        self.op_start = 0.0

    def force(self, name: str, layer: str, fn, *args):
        """Run an action the benchmark itself calls, charged to ``layer``."""
        if self.tracer is None:
            return fn(*args)
        return self.tracer.call(f"kgbench.{name}", layer, fn, *args)[0]

    def open_window(self) -> None:
        """Mark the start of the measured operations (set-up ends here)."""
        self.window_ms = (time.time() * 1000, 0.0)
        self.op_start = time.perf_counter()

    def close_window(self) -> None:
        self.window_ms = (self.window_ms[0], time.time() * 1000)


# --- workloads ------------------------------------------------------------------


def run_kg_build(ctx: Ctx) -> dict:
    """One ``build_kg`` as jobs/build_kg.py calls it (checkpointing on,
    the KG metamodel, 1024 partitions) into a fresh dir, then the report
    is materialized.  One build per process, as the spark-submit job runs."""
    from pyspark.sql import functions as F

    import shacl_spark.plans.kg_pipeline as kp
    from shacl_spark.shacl.kg_shapes import KG_METAMODEL

    corpus_dir = ctx.work / "corpus"
    corpus = gen.write_corpus(str(corpus_dir), KG_FILES, ctx.args.seed)
    ledger = checks.kg_report_ledger(corpus.bad_files)
    spark, out = ctx.spark, ctx.work / "kg"
    cc_stats: dict = {}
    if ctx.tracer:
        _trace_kg(ctx.tracer, cc_stats)

    ctx.open_window()
    c0, t0 = tree_cpu_s(), time.perf_counter()
    res = kp.build_kg(
        spark, spark.read.parquet(str(corpus_dir)), str(out),
        shapes_rows=KG_METAMODEL, n_parts=1024, ckpt=True, link_threshold=gen.LINK_THRESHOLD,
    )
    rows = ctx.force("report.collect", "shacl.engine",
                     res.report.select("focus", "component", "path").collect)
    op_s, op_cpu = time.perf_counter() - t0, tree_cpu_s() - c0
    ctx.close_window()

    nodes = spark.read.parquet(str(out / "nodes"))
    file_nodes = [r.iri for r in nodes.where(F.array_contains("types", gen.KG + "File")).select("iri").collect()]
    six = ["subj", "pred", "obj", "obj_kind", "obj_dt", "obj_lang"]
    edges = spark.read.parquet(str(out / "edges")).select(*six).collect()
    ok = (
        checks.report_equals(rows, ledger)
        and checks.files_complete(file_nodes, corpus.file_iris)
        and checks.edges_equal(edges, corpus.edges)
        and res.metrics["edges"] == len(corpus.edges)
    )
    ctx.tally.record(ok, f"kg_build output differs from the generator's model: {len(rows)} report rows, "
                         f"{len(file_nodes)} file nodes, {len(edges)} edges "
                         f"(expected {len(ledger)}, {len(corpus.file_iris)}, {len(corpus.edges)})")
    ctx.details.update(corpus_files=KG_FILES, planted_bad_lang=len(corpus.bad_files),
                       extracted_triples=corpus.extracted, expected_edges=len(corpus.edges),
                       expected_merged_entities=corpus.merged,
                       edges=res.metrics["edges"], nodes=res.metrics["nodes"],
                       cc_stats={k: v for k, v in cc_stats.items() if not k.startswith("_")})
    return {"ops": [op_s], "cpu": [op_cpu], "triples_per_op": corpus.extracted, "stored": du(out)[1],
            "live": len(corpus.edges),
            "layer_files": {"kg.checkpoint": du(out / "checkpoint"),
                            "kg.materialize": du(out / "edges", out / "nodes")},
            "corpus_rows": KG_FILES, "cc_stats": cc_stats, "report_rows": len(rows)}


def run_shacl_validate(ctx: Ctx) -> dict:
    """``read_ntriples`` → ``validate`` → report to N-Triples, as
    ``jobs/validate_graph.py --report-nt`` does.  One validation per
    process, as the spark-submit job runs."""
    import shacl_spark.shacl as shacl
    import shacl_spark.shacl.report as report_mod
    import shacl_spark.sources.ntriples as nt
    from shacl_spark.shacl.turtle import parse_turtle_file

    nt_path, ttl_path = ctx.work / "graph.nt", ctx.work / "shapes.ttl"
    graph = gen.write_people(str(nt_path), str(ttl_path), PEOPLE, ctx.args.seed)
    t = time.perf_counter()
    shapes_rows = parse_turtle_file(str(ttl_path))
    ctx.details["turtle_parse_s"] = time.perf_counter() - t
    if ctx.tracer:
        _trace_validate(ctx.tracer)
    out_nt = ctx.work / "report.nt"

    ctx.open_window()
    c0, t0 = tree_cpu_s(), time.perf_counter()
    triples = nt.read_ntriples(ctx.spark, str(nt_path))
    report = shacl.validate(ctx.spark, triples, shapes_rows)
    report = ctx.force("report.checkpoint", "shacl.engine", report.localCheckpoint, True)
    by_comp = ctx.force("report.summarize", "shacl.engine", shacl.summarize(report).collect)
    nt.write_ntriples(report_mod.report_to_triples(report), str(out_nt))
    op_s, op_cpu = time.perf_counter() - t0, tree_cpu_s() - c0
    ctx.close_window()

    rows = report.select("focus", "component", "path").collect()
    n_report = sum(r["n"] for r in by_comp)
    stored = du(out_nt)[1]
    ok = checks.report_equals(rows, graph.ledger) and n_report == len(rows) and stored > 0
    ctx.tally.record(ok, f"shacl_validate report mismatch: {len(rows)} rows vs "
                         f"{sum(graph.ledger.values())} planted")
    ctx.details.update(triples=graph.triples, people=PEOPLE,
                       planted_results=sum(graph.ledger.values()))
    return {"ops": [op_s], "cpu": [op_cpu], "triples_per_op": graph.triples, "stored": stored,
            "live": graph.triples, "report_rows": len(rows), "report_bytes": stored}


def _wait_versions(report_dir: Path, n: int, query, timeout: float) -> bool:
    """Poll until ``n`` report versions are committed (``v=*/_SUCCESS``)."""
    deadline = time.perf_counter() + timeout
    while time.perf_counter() < deadline:
        if report_dir.is_dir() and sum(
            1 for d in os.listdir(report_dir)
            if d.startswith("v=") and (report_dir / d / "_SUCCESS").is_file()
        ) >= n:
            return True
        if query.exception() is not None:
            raise query.exception()
        time.sleep(0.005)
    return False


def run_cdc_stream(ctx: Ctx) -> dict:
    """A closed loop of CDC micro-batches (one outstanding) through
    ``StreamingValidator(cdc=True).start(...)`` on a parquet file source,
    as ``jobs/validate_stream.py --cdc --follow`` runs it.  The seed KG is
    bulk-loaded as the first stream file, the warm-up.  Latency runs
    from the batch file's rename into the source dir to its committed
    report version."""
    from pyspark.sql import types as T

    import shacl_spark.shacl.report as report_mod
    import shacl_spark.sources.ntriples as nt
    from shacl_spark.functions.terms import TRIPLE_SCHEMA
    from shacl_spark.shacl.turtle import parse_turtle_file
    from shacl_spark.streaming.validate_stream import StreamingValidator

    spark, work = ctx.spark, ctx.work
    feed = gen.CdcFeed(ctx.args.seed, CDC_SEED_FILES, CDC_FILES_PER_BATCH,
                       CDC_RETRACTS_PER_BATCH, CDC_BREAKS_PER_BATCH)
    ttl = work / "kg_shapes.ttl"
    ttl.write_text(gen.KG_SHAPES_TTL)
    stream_dir, target, report_dir = work / "stream", work / "target", work / "report"
    stream_dir.mkdir()
    if ctx.tracer:
        _trace_stream(ctx.tracer)
    shapes_rows = parse_turtle_file(str(ttl))
    sv = StreamingValidator(spark, shapes_rows, str(target), str(report_dir), n_parts=16, cdc=True)
    schema = T.StructType(list(TRIPLE_SCHEMA.fields) + [T.StructField("op", T.StringType(), False)])
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(stream_dir))

    ctx.open_window()
    t0 = time.perf_counter()
    gen.write_cdc_file(str(stream_dir / "b000000.parquet"), feed.seed_rows, [])
    query = sv.start(stream, trigger_available_now=False)
    try:
        if not _wait_versions(report_dir, 1, query, 3 * BATCH_TIMEOUT_S):
            raise RuntimeError("the seed batch produced no report version")
        seed_s = time.perf_counter() - t0
        edges = getattr(sv._edges, "n_rows", None)
        lat, cpu, rows_in, traced = [], [], [], []
        committed: list[bool] = []
        # The batch count follows from --seconds alone, not from how fast
        # batches go: each batch runs warmer JIT code than the one before,
        # so a count that grew with speed would move the median by itself.
        # A traced run adds two, for two traced and two untraced batches
        # after the first one, whose JIT warm-up would skew the overhead.
        n_batches = max(CDC_MIN_BATCHES, round(ctx.args.seconds / CDC_BATCH_S)) + (2 if ctx.tracer else 0)
        for b in range(1, n_batches + 1):
            adds, rets = feed.next_batch()
            if ctx.tracer:
                # alternate traced and untraced batches: their difference
                # is the tracing overhead
                ctx.tracer.enabled = b % 2 == 0
            c, t = tree_cpu_s(), time.perf_counter()
            gen.write_cdc_file(str(stream_dir / f"b{b:06d}.parquet"), adds, rets)
            ok = _wait_versions(report_dir, b + 1, query, BATCH_TIMEOUT_S)
            dt, dc = time.perf_counter() - t, tree_cpu_s() - c
            committed.append(ok)
            if not ok:
                break
            lat.append(dt)
            cpu.append(dc)
            rows_in.append(len(adds) + len(rets))
            traced.append(bool(ctx.tracer and ctx.tracer.enabled))
    finally:
        if ctx.tracer:
            ctx.tracer.enabled = False
        query.stop()

    # the final check, outside the timed batches: the streamed report
    # and the live triple count against the generator's, and the report
    # serialized to N-Triples as validate_graph.py --report-nt does,
    # then read back
    t_check = time.perf_counter()
    cols = ["focus", "component", "path", "value"]
    current = sv.current_report().select(*cols).collect()
    if ctx.tracer:
        ctx.tracer.enabled = True
    report_nt = work / "report.nt"
    nt.write_ntriples(report_mod.report_to_triples(sv.current_report()), str(report_nt))
    read_back = ctx.force("report_nt.count", "sources.ntriples.read",
                          nt.read_ntriples(spark, str(report_nt)).count)
    if ctx.tracer:
        ctx.tracer.enabled = False
    ctx.close_window()
    nt_lines = [ln for part in sorted(report_nt.glob("part-*")) for ln in part.read_text().splitlines()]
    live = sv.sink.current().count()
    expected = feed.expected_report()
    final_ok = (checks.report_equals(current, expected) and live == feed.live
                and checks.focus_nodes_nt(nt_lines) == {r[0] for r in current}
                and read_back == len(nt_lines))
    for i, ok in enumerate(committed):
        last = i == len(committed) - 1
        ctx.tally.record(ok and (final_ok or not last),
                         "batch report version missing" if not ok else
                         "final streamed report, live triples or N-Triples report differ from "
                         f"the expected: {len(current)} rows vs {sum(expected.values())}, "
                         f"{live} live vs {feed.live}; unexpected "
                         f"{list(Counter(map(tuple, current)) - expected)[:3]}, missing "
                         f"{list(expected - Counter(map(tuple, current)))[:3]}")
    ctx.details.update(
        seed_s=seed_s, seed_triples=len(feed.seed_rows), final_check_s=time.perf_counter() - t_check,
        batches=len(lat), batch_latency=tail(lat), planted_min_count_breaks=sum(feed.breaks.values()),
        footprint_edges=edges, edge_cap=getattr(sv, "_edge_cap", None),
        final_report_rows=len(current), live_triples=live,
    )
    return {"ops": lat, "cpu": cpu, "triples_per_op": statistics.median(rows_in), "stored": du(target, report_dir)[1],
            "live": feed.live, "extra_setup_s": seed_s, "traced_mask": traced,
            "target": du(target), "report_rows": len(current), "report_bytes": du(report_nt)[1]}


# --- tracing --------------------------------------------------------------------


def _trace_kg(tr: Tracer, cc_stats: dict) -> None:
    import shacl_spark.plans.kg_pipeline as kp
    import shacl_spark.shacl.engine as engine

    def canon(fn):
        def with_stats(*a, **k):
            k.setdefault("cc_stats", cc_stats)
            return fn(*a, **k)
        return with_stats

    kp.canonicalize = canon(kp.canonicalize)
    tr.wrap(kp, "extract_triples", "kg.extract")
    tr.wrap(kp, "run_with_checkpoints", "kg.checkpoint")
    tr.wrap(kp, "canonicalize", "kg.canon")
    tr.wrap(kp, "validate", "shacl.engine")
    tr.wrap(kp, "write_graph", "kg.materialize")
    _trace_parser(tr, engine)


def _trace_parser(tr: Tracer, module) -> None:
    """Span the shapes parser where ``module`` calls it."""
    tr.wrap(module, "parse_shapes_graph", "shacl.parser",
            after=lambda s, a, k, r: s["attrs"].update(shapes=len(r.shapes)))


def _trace_validate(tr: Tracer) -> None:
    import shacl_spark.shacl as shacl
    import shacl_spark.shacl.engine as engine
    import shacl_spark.shacl.report as report_mod
    import shacl_spark.sources.ntriples as nt

    tr.wrap(nt, "read_ntriples", "sources.ntriples.read")
    tr.wrap(nt, "write_ntriples", "sources.ntriples.write")
    tr.wrap(report_mod, "report_to_triples", "sources.ntriples.write")
    tr.wrap(shacl, "validate", "shacl.engine")
    _trace_parser(tr, engine)


def _trace_stream(tr: Tracer) -> None:
    import shacl_spark.shacl as shacl
    import shacl_spark.shacl.incremental as inc
    import shacl_spark.shacl.report as report_mod
    import shacl_spark.sources.ntriples as nt
    import shacl_spark.streaming.validate_stream as vs
    from shacl_spark.streaming.upsert import TombstoneTripleSink

    def inc_stats(span, args, kwargs, res):
        st = kwargs.get("stats") or {}
        span["attrs"].update({k: v for k, v in st.items() if not k.startswith("_")})

    tr.wrap(nt, "read_ntriples", "sources.ntriples.read")
    tr.wrap(nt, "write_ntriples", "sources.ntriples.write")
    tr.wrap(report_mod, "report_to_triples", "sources.ntriples.write")
    _trace_parser(tr, vs)
    tr.wrap(vs, "incremental_revalidate", "shacl.incremental", after=inc_stats)
    tr.wrap(inc, "collect_local_edges", "shacl.incremental")
    tr.wrap(shacl, "validate", "shacl.engine")
    tr.wrap(vs.StreamingValidator, "_on_batch", "streaming.validate_stream")
    tr.wrap(vs.StreamingValidator, "_write_report", "streaming.report")
    tr.wrap(TombstoneTripleSink, "_compute_delta", "streaming.upsert")
    tr.wrap(TombstoneTripleSink, "_append", "streaming.upsert")


def layer_metrics(ctx: Ctx, res: dict, ev: dict) -> dict:
    """Every per-layer metric; 0 where the workload does not reach the layer."""
    tr = ctx.tracer
    groups = ev["groups"]
    span_of = {f"kgbench-{s['id']}": s for s in tr.spans}

    def agg(layers: tuple[str, ...], key: str, spans=None) -> float:
        ids = spans if spans is not None else {s["id"] for s in tr.spans if s["layer"] in layers}
        return sum(row.get(key, 0.0) for g, row in groups.items()
                   if g in span_of and span_of[g]["id"] in ids)

    m = {k: 0.0 for k in PER_LAYER}
    for layer in ("kg.checkpoint", "kg.canon", "kg.materialize", "shacl.engine"):
        m[f"{layer}.busy_s"] = tr.busy_s(layer)
        m[f"{layer}.jobs"] = agg((layer,), "jobs")
    for layer in ("kg.canon", "shacl.engine"):
        m[f"{layer}.shuffle_mb"] = agg((layer,), "shuffle_bytes") / 2**20
    m["shacl.engine.tasks"] = agg(("shacl.engine",), "tasks")
    m["shacl.engine.spill_mb"] = agg(("shacl.engine",), "spill_bytes") / 2**20
    m["shacl.engine.report_rows"] = res.get("report_rows", 0)

    if "layer_files" in res:  # kg_build
        for layer, (files, nbytes) in res["layer_files"].items():
            m[f"{layer}.files_written"], m[f"{layer}.bytes_written"] = files, nbytes
        m["kg.checkpoint.scan_amplification"] = agg(("kg.checkpoint",), "input_records") / res["corpus_rows"]
        m["kg.extract.triples_out"] = agg(("kg.checkpoint",), "output_records")
        m["kg.extract.udf_rows"] = agg(("kg.checkpoint",), "udf_rows")
        cc = res["cc_stats"]
        m["kg.canon.cc_iterations"] = cc.get("iterations", 0)
        m["kg.canon.lsh_dropped_rows"] = cc.get("lsh_dropped_rows", 0)
        m["kg.canon.entities_merged"] = cc.get("nodes", 0)
        m["kg.materialize.edges"] = ctx.details["edges"]
        m["kg.materialize.nodes"] = ctx.details["nodes"]

    m["sources.ntriples.read_s"] = tr.busy_s("sources.ntriples.read")
    m["sources.ntriples.write_s"] = tr.busy_s("sources.ntriples.write")
    m["sources.ntriples.rows"] = sum(row.get("text_rows", 0.0) for row in groups.values())
    m["sources.ntriples.bytes_written"] = res.get("report_bytes", 0)

    parses = tr.by_layer("shacl.parser")
    m["shacl.parser.parse_s"] = tr.busy_s("shacl.parser") + ctx.details.get("turtle_parse_s", 0.0)
    m["shacl.parser.shapes"] = max((s["attrs"].get("shapes", 0) for s in parses), default=0)

    if "traced_mask" in res:  # cdc_stream: medians over the traced batches
        batches = [s for s in tr.by_layer("streaming.validate_stream") if "end" in s]
        batches = batches[1:]  # the seed batch; the first incremental batch is untraced
        per_batch = []
        for bs in batches:
            kids = _descendants(tr, bs["id"])
            incs = [s for s in tr.spans if s["id"] in kids and s["layer"] == "shacl.incremental"]
            inc_s = sum(s["end"] - s["start"] for s in incs if s["name"].endswith("incremental_revalidate"))
            attrs = next((s["attrs"] for s in incs if s["name"].endswith("incremental_revalidate")), {})
            per_batch.append({
                "inc_s": inc_s,
                "jobs": agg((), "jobs", spans={s["id"] for s in incs}),
                "attrs": attrs,
                "journal": agg((), "output_bytes", spans={bs["id"]}),
                "report": agg(("streaming.report",), "output_bytes", spans=kids),
                "target": agg(("streaming.upsert",), "output_bytes",
                              spans={s["id"] for s in tr.spans if s["id"] in kids and s["layer"] == "streaming.upsert"}),
            })
        traced_lat = [x for x, t in zip(res["ops"], res["traced_mask"]) if t]
        untraced_lat = [x for x, t in list(zip(res["ops"], res["traced_mask"]))[1:] if not t]
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        m["shacl.incremental.busy_s"] = med([p["inc_s"] for p in per_batch])
        m["shacl.incremental.jobs"] = med([p["jobs"] for p in per_batch])
        for mode in _MODES:
            m[f"shacl.incremental.mode.{mode}"] = sum(p["attrs"].get("mode") == mode for p in per_batch)
        for mode in _EDGE_MODES:
            m[f"shacl.incremental.edge_mode.{mode}"] = sum(p["attrs"].get("edge_mode") == mode for p in per_batch)
        m["shacl.incremental.affected_nodes"] = med([p["attrs"].get("affected", 0) for p in per_batch])
        m["shacl.incremental.context_rows"] = med([p["attrs"].get("slice_rows", 0) for p in per_batch])
        m["streaming.self_s"] = med(traced_lat) - m["shacl.incremental.busy_s"]
        m["streaming.target_files"], _ = res["target"]
        m["streaming.target_bytes"] = med([p["target"] for p in per_batch])
        m["streaming.journal_bytes"] = med([p["journal"] for p in per_batch])
        m["streaming.report_bytes"] = med([p["report"] for p in per_batch])
        m["trace.overhead_s"] = med(traced_lat) - med(untraced_lat)
    else:
        # one operation per process: the overhead measurable in-run is the
        # tracer's own bookkeeping; the event log's cost shows as e2e.op_s
        # in the details of a --trace 1 run against a --trace 0 run
        m["trace.overhead_s"] = tr.cost_s

    m["session.gc_s"] = ev["total"].get("gc_ms", 0.0) / 1000
    m["session.jobs_total"] = ev["total"].get("jobs", 0.0)
    ctx.details["unattributed_jobs"] = groups.get("unattributed", {}).get("jobs", 0)
    ctx.details["laziness"] = (
        "Spark work is charged to the span whose call forces it: extraction "
        "runs inside kg.checkpoint, the canonical rewrite inside "
        "kg.materialize, validation inside the report actions charged to "
        "shacl.engine, and an incremental report inside streaming.report"
    )
    return m


def _descendants(tr: Tracer, root: int) -> set[int]:
    out, todo = set(), [root]
    while todo:
        p = todo.pop()
        out.add(p)
        todo += [s["id"] for s in tr.spans if s["parent"] == p]
    return out


# --- driver ------------------------------------------------------------------------

RUNNERS = {"kg_build": run_kg_build, "shacl_validate": run_shacl_validate, "cdc_stream": run_cdc_stream}


def stop_spark(spark) -> None:
    """Stop the session and the JVM the driver launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_one(args) -> int:
    try:
        import pyspark
        from shacl_spark.session import get_spark
    except ImportError as e:
        print(f"kgbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = ROOT / ".kgbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    spark = None
    try:
        env, conf = pin_deployment(work, bool(args.trace))
        steal0 = cpu_jiffies()
        t = time.perf_counter()
        spark = get_spark(f"kgbench-{args.workload}", extra_conf=conf)
        session_s = time.perf_counter() - t
        tracer = Tracer(spark.sparkContext) if args.trace else None
        ctx = Ctx(args, work, spark, tracer)
        t_start = time.perf_counter()
        try:
            res = RUNNERS[args.workload](ctx)
        except Exception:
            traceback.print_exc()
            return 1
        # set-up: the session start (JVM launch included), input generation
        # and the program's set-up up to the first measured operation, plus
        # the warm-up operations where the workload has them
        prep_s = ctx.op_start - t_start
        setup_s = session_s + prep_s + res.get("extra_setup_s", 0.0)
        rss = peak_rss_mb()
        steal1 = cpu_jiffies()
        app_id = spark.sparkContext.applicationId
        stop_spark(spark)
        spark = None

        op_s, op_cpu_s = statistics.median(res["ops"]), statistics.median(res["cpu"])
        e2e = {
            "setup_s": setup_s,
            "op_cpu_s": op_cpu_s,
            "triples_per_cpu_s": res["triples_per_op"] / op_cpu_s,
            "peak_rss_mb": sum(rss.values()),
            "stored_bytes_per_triple": res["stored"] / res["live"],
        }
        # wall-clock operation time, not gated: CPU steal by other tenants
        # of the host moves it by up to 2x between runs
        wall = {"op_s": op_s, "triples_per_s": res["triples_per_op"] / op_s}
        details = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "deployment": {**env, "nproc": nproc(), "spark.driver.memory": DRIVER_MEM,
                           "filesystem": filesystem(work), "pyspark": pyspark.__version__,
                           "git_commit": git_commit()},
            "session_start_s": session_s, "prep_s": prep_s,
            "host_steal_pct": 100 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "ops": tail(res["ops"]), "op_samples_s": res["ops"], "op_cpu_samples_s": res["cpu"],
            "rss_by_process_mb": rss,
            "error_rate": ctx.tally.error_rate, "problems": ctx.tally.problems,
            **{f"e2e.{k}": v for k, v in {**e2e, **wall}.items()},
        }
        if args.trace:
            ev = read_event_log(find_event_log(str(work / "events"), app_id), *ctx.window_ms)
            metrics, units = layer_metrics(ctx, res, ev), PER_LAYER
            details["spans"] = [{k: s.get(k) for k in ("name", "layer", "parent", "start", "end")}
                                for s in tracer.spans]
        else:
            metrics, units = e2e, END_TO_END
        details.update(ctx.details)
        print(json.dumps(details, default=str))
        print(json.dumps({
            "correct": ctx.tally.failed == 0,
            "attempted": ctx.tally.attempted,
            "failed": ctx.tally.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # when no other run is using it
        except OSError:
            pass


def run_all(args) -> int:
    """Each workload in its own process (each is a fresh-JVM job); the
    last line sums the three results."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"kgbench: workload {w} failed with exit code {p.returncode}", file=sys.stderr)
            return p.returncode or 1
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        print(json.dumps({"workload": w, **res}))
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        total["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(total))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
