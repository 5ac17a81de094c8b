"""The three workloads: index build, index serving and streaming ingest.

Each workload drives the program only through the public functions of
``insight_spark.pipelines``, ``insight_spark.sources`` (``load_table``
and ``sinks``) and, through ``pipelines.streaming_ingest``,
``insight_spark.streaming.core``.  Each returns a ``Result`` holding
operation counts, the end-to-end figures, and — when traced — the
per-layer figures derived from the spans.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime

from perfbench import inputs, oracle
from perfbench.spans import Tracer


@dataclass(frozen=True)
class Sizes:
    corpus: inputs.CorpusSpec
    warm_corpus: inputs.CorpusSpec
    events: inputs.EventSpec
    period_s: float
    burst_files: int
    warm_files: int = 2
    absent_share: float = 0.01
    warm_s: float = 3.0


FULL = Sizes(
    corpus=inputs.CorpusSpec(n_docs=2_000),
    warm_corpus=inputs.CorpusSpec(n_docs=300, vocab=3_000, absent_words=10),
    events=inputs.EventSpec(),
    period_s=3.0,
    burst_files=4,
)

SMOKE = Sizes(
    corpus=inputs.CorpusSpec(n_docs=300, vocab=2_000, absent_words=100),
    warm_corpus=inputs.CorpusSpec(n_docs=50, vocab=500, absent_words=10),
    events=inputs.EventSpec(events_per_file=200),
    period_s=1.5,
    burst_files=2,
    warm_files=1,
    warm_s=1.0,
)


@dataclass
class Ctx:
    """What every workload gets from the runner."""

    spark: object
    root: str  # this run's scratch directory
    seed: int
    seconds: float
    sizes: Sizes
    tracer: Tracer
    t_process: float  # perf_counter() at process start
    jvm_pid: int | None = None


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    setup_s: float = 0.0
    #: Spark jobs and completed tasks per operation of the workload
    op_jobs: float = 0.0
    op_tasks: float = 0.0
    #: named end-to-end figures: name -> (value, unit, samples)
    named: dict = field(default_factory=dict)
    #: named per-layer figures: name -> (value, unit)
    layers: dict = field(default_factory=dict)
    props: dict = field(default_factory=dict)


def pct(values: list[float], q: float) -> float:
    """The q-th percentile (inclusive method); the median for q=50."""
    if len(values) == 1:
        return values[0]
    if q == 50:
        return statistics.median(values)
    return statistics.quantiles(values, n=100, method="inclusive")[int(q) - 1]


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


class Meter:
    """CPU seconds used by this process and the JVM over an interval, and
    the share of the machine's CPU time stolen by the hypervisor (a
    co-tenant load the run cannot see otherwise)."""

    _TICK = os.sysconf("SC_CLK_TCK")

    def __init__(self, jvm_pid: int | None):
        self.jvm_pid = jvm_pid
        self.t0 = time.time()
        self._start = self._read()
        self._result: tuple[float, float] | None = None

    def _read(self) -> tuple[float, int, int]:
        t = os.times()
        cpu = t.user + t.system
        if self.jvm_pid is not None:
            try:
                with open(f"/proc/{self.jvm_pid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
                cpu += (int(f[11]) + int(f[12])) / self._TICK
            except OSError:
                pass
        steal = total = 0
        try:
            with open("/proc/stat") as fh:
                ticks = [int(x) for x in fh.readline().split()[1:]]
            steal, total = ticks[7], sum(ticks[:8])
        except (OSError, IndexError, ValueError):
            pass
        return cpu, steal, total

    def stop(self) -> tuple[float, float]:
        """(CPU seconds, stolen share) from construction to the first call."""
        if self._result is None:
            self.t1 = time.time()
            cpu, steal, total = self._read()
            c0, s0, t0 = self._start
            self._result = cpu - c0, (steal - s0) / max(1, total - t0)
        return self._result


def spark_work(spark, t0: float, t1: float) -> tuple[int, int]:
    """Spark jobs submitted between wall-clock times ``t0`` and ``t1``, and
    the tasks they completed, read from the application status store."""
    jobs = tasks = 0
    it = spark.sparkContext._jsc.sc().statusStore().jobsList(None).iterator()
    while it.hasNext():
        job = it.next()
        submitted = job.submissionTime()
        if submitted.isDefined() and t0 <= submitted.get().getTime() / 1000 <= t1:
            jobs += 1
            tasks += job.numCompletedTasks()
    return jobs, tasks


def _per_op(res: "Result", spark, meter: Meter, ops: int, t1: float | None = None) -> None:
    """Fill the per-operation contract figures for a measured window."""
    cpu_s, res.props["steal_share"] = meter.stop()
    jobs, tasks = spark_work(spark, meter.t0, t1 if t1 is not None else meter.t1)
    ops = max(1, ops)
    res.op_jobs, res.op_tasks = jobs / ops, tasks / ops
    res.props["op_cpu_ms"] = cpu_s * 1000 / ops


# ---------------------------------------------------------------- index_build


def _build(ctx: Ctx, docs, tag: str) -> tuple[str, dict]:
    """One index build; every output goes through a sink."""
    from insight_spark import pipelines
    from insight_spark.sources import sinks

    tr, spark = ctx.tracer, ctx.spark
    out = os.path.join(ctx.root, "builds", tag)
    with tr.span("build", trace=tag):
        with tr.span("pipelines.prepare_corpus"):
            prepared = pipelines.prepare_corpus(docs)
            with tr.span("sinks.write_jdbc_standin"):
                sinks.write_jdbc_standin(prepared, out, "corpus")
        corpus = spark.read.parquet(os.path.join(out, "corpus"))
        with tr.span("sinks.write_search_index", pool_jobs=True):
            names = sinks.write_search_index(
                spark, corpus, out, table_prefix=f"pb_{tag}"
            )
        with tr.span("pipelines.build_search_index"):
            for name, df in pipelines.build_search_index(corpus).items():
                with tr.span("sinks.write_jdbc_standin"):
                    sinks.write_jdbc_standin(df, out, name)
        with tr.span("pipelines.build_suggestions"):
            sugg = pipelines.build_suggestions(corpus)
            with tr.span("sinks.write_jdbc_standin"):
                sinks.write_jdbc_standin(sugg, out, "suggestions")
    return out, names


def index_build(ctx: Ctx) -> Result:
    from insight_spark.sources import load_table

    res = Result()
    corpus = inputs.make_corpus(ctx.seed, os.path.join(ctx.root, "gen"), ctx.sizes.corpus)
    warm = inputs.make_corpus(
        ctx.seed + 1_000_003, os.path.join(ctx.root, "gen_warm"), ctx.sizes.warm_corpus
    )
    res.props["corpus"] = corpus.props
    t = time.perf_counter()
    docs = load_table(ctx.spark, os.path.join(ctx.root, "gen"), "documents")
    load_s = time.perf_counter() - t
    warm_docs = load_table(ctx.spark, os.path.join(ctx.root, "gen_warm"), "documents")
    _build(ctx, warm_docs, "warmup")

    builds: list[tuple[str, str, dict, float]] = []
    meter = Meter(ctx.jvm_pid)
    t_start = time.perf_counter()
    res.setup_s = t_start - ctx.t_process
    while time.perf_counter() - t_start < ctx.seconds:
        tag = f"b{len(builds)}"
        res.attempted += 1
        t = time.perf_counter()
        try:
            out, names = _build(ctx, docs, tag)
        except Exception as e:  # one failed build must not end the run
            res.failed += 1
            res.problems.append(f"{tag}: {type(e).__name__}: {e}")
            continue
        builds.append((tag, out, names, time.perf_counter() - t))
    _per_op(res, ctx.spark, meter, res.attempted)

    ref = oracle.IndexOracle(oracle.survivors(corpus.doc_ids, corpus.texts))
    index_bytes = []
    for tag, out, names, _ in builds:
        bad = oracle.check_build(ref, len(corpus.doc_ids), out, names)
        if bad:
            res.failed += 1
            res.problems += [f"{tag}: {b}" for b in bad]
        index_bytes.append(
            sum(_dir_bytes(os.path.join(out, names[k])) for k in ("docs", "postings", "suggest"))
        )
        shutil.rmtree(out, ignore_errors=True)

    walls = [b[3] for b in builds]
    res.props["survivors"] = len(ref.docs)
    res.props["build_s"] = [round(w, 4) for w in walls]
    if walls:
        docs_per_s = len(corpus.doc_ids) / statistics.median(walls)
        res.named["index_build_docs_per_s"] = (docs_per_s, "docs/s", len(walls))
    res.layers["parquet.load_table_s"] = (load_s, "s")
    if index_bytes:
        res.layers["sinks.index_bytes_per_corpus_byte"] = (
            _med(index_bytes) / corpus.props["bytes"],
            "ratio",
        )
    if ctx.tracer.enabled:
        timed = {b[0] for b in builds}
        _stage_layers(ctx.tracer, res, timed)
    return res


def _stage_layers(tr: Tracer, res: Result, traces: set[str]) -> None:
    """Per-call medians of the pipeline stages and the index sink."""
    tr.collect_work()
    for stage in ("prepare_corpus", "build_search_index", "build_suggestions"):
        spans = [s for s in tr.named(f"pipelines.{stage}") if s.trace in traces]
        works = [tr.work(s) for s in spans]
        key = f"pipelines.{stage}"
        res.layers[f"{key}.s"] = (_med(s.seconds for s in spans), "s")
        res.layers[f"{key}.jobs"] = (_med(w.jobs for w in works), "count")
        res.layers[f"{key}.tasks"] = (_med(w.tasks for w in works), "count")
        res.layers[f"{key}.executor_run_s"] = (_med(w.executor_run_s for w in works), "s")
        res.layers[f"{key}.shuffle_write_mb"] = (_med(w.shuffle_write_mb for w in works), "MB")
    spans = [s for s in tr.named("sinks.write_search_index") if s.trace in traces]
    works = [tr.work(s) for s in spans]
    key = "sinks.write_search_index"
    res.layers[f"{key}.s"] = (_med(s.seconds for s in spans), "s")
    res.layers[f"{key}.jobs"] = (_med(w.jobs for w in works), "count")
    res.layers[f"{key}.tasks"] = (_med(w.tasks for w in works), "count")
    res.layers[f"{key}.shuffle_write_mb"] = (_med(w.shuffle_write_mb for w in works), "MB")


# ---------------------------------------------------------------------- serve


def _session_terms(corpus: inputs.Corpus, seed: int, absent_share: float):
    """Endless session targets: a Zipf draw over the vocabulary (words
    of 3+ letters), or with ``absent_share`` a word no document has."""
    rng = random.Random(seed)
    s = corpus.props["zipf_s"]
    cum = list(itertools.accumulate(1.0 / r**s for r in range(1, len(corpus.vocab) + 1)))
    while True:
        if rng.random() < absent_share:
            yield corpus.absent[rng.randrange(len(corpus.absent))]
            continue
        term = rng.choices(corpus.vocab, cum_weights=cum)[0]
        if len(term) >= 3:
            yield term


def _session(ctx: Ctx, names: dict, term: str, trace: str, record) -> None:
    """One user session: suggest on 2 and 3 typed chars, then search."""
    from insight_spark.sources import sinks

    tr, spark = ctx.tracer, ctx.spark
    with tr.span("session", trace=trace):
        for prefix in (term[:2], term[:3]):
            t0 = time.perf_counter()
            with tr.span("sinks.suggest_lookup"):
                df = sinks.suggest_lookup(spark, names["suggest"], prefix)
            t1 = time.perf_counter()
            with tr.span("serve.suggest.collect"):
                pdf = df.toPandas()
            record("suggest", prefix, pdf, t1 - t0, time.perf_counter() - t1)
        t0 = time.perf_counter()
        with tr.span("sinks.search_term_lookup"):
            df = sinks.search_term_lookup(spark, names["postings"], term)
        t1 = time.perf_counter()
        with tr.span("serve.search.collect"):
            pdf = df.toPandas()
        record("search", term, pdf, t1 - t0, time.perf_counter() - t1)


def serve(ctx: Ctx) -> Result:
    from insight_spark.sources import load_table

    res = Result()
    tr = ctx.tracer
    corpus = inputs.make_corpus(ctx.seed, os.path.join(ctx.root, "gen"), ctx.sizes.corpus)
    res.props["corpus"] = corpus.props
    t = time.perf_counter()
    docs = load_table(ctx.spark, os.path.join(ctx.root, "gen"), "documents")
    load_s = time.perf_counter() - t
    t = time.perf_counter()
    out, names = _build(ctx, docs, "index")
    res.props["index_build_s"] = time.perf_counter() - t
    index_bytes = sum(
        _dir_bytes(os.path.join(out, names[k])) for k in ("docs", "postings", "suggest")
    )

    lookups: list[tuple[str, str, object, float, float]] = []
    warm_terms = _session_terms(corpus, ctx.seed + 7, ctx.sizes.absent_share)
    warm_until = time.perf_counter() + ctx.sizes.warm_s
    while time.perf_counter() < warm_until:
        _session(ctx, names, next(warm_terms), "warm", lambda *a: None)

    terms = _session_terms(corpus, ctx.seed, ctx.sizes.absent_share)
    session_ms: list[float] = []
    meter = Meter(ctx.jvm_pid)
    t_start = time.perf_counter()
    res.setup_s = t_start - ctx.t_process
    while time.perf_counter() - t_start < ctx.seconds:
        term = next(terms)
        t = time.perf_counter()
        try:
            _session(ctx, names, term, f"s{len(session_ms)}", lambda *a: lookups.append(a))
        except Exception as e:
            res.attempted += 3
            res.failed += 3
            res.problems.append(f"session {term!r}: {type(e).__name__}: {e}")
        session_ms.append((time.perf_counter() - t) * 1000)
    wall = time.perf_counter() - t_start
    _per_op(res, ctx.spark, meter, len(session_ms))

    ref = oracle.IndexOracle(oracle.survivors(corpus.doc_ids, corpus.texts))
    absent = 0
    for kind, key, pdf, _, _ in lookups:
        res.attempted += 1
        check = oracle.check_suggest if kind == "suggest" else oracle.check_search
        bad = check(ref, key, pdf)
        if bad:
            res.failed += 1
            res.problems += bad
        if kind == "search" and ref.search(key) is None:
            absent += 1
    bad = oracle.check_build(ref, len(corpus.doc_ids), out, names)
    if bad:  # a wrong index fails every lookup served from it
        res.failed = res.attempted
        res.problems += bad

    lat = {k: [(c + x) * 1000 for kk, _, _, c, x in lookups if kk == k] for k in ("suggest", "search")}
    every = lat["suggest"] + lat["search"]
    res.props["sessions"] = len(session_ms)
    res.props["absent_term_share"] = absent / max(1, len(lat["search"]))
    if session_ms:
        res.props["session_p50_ms"] = statistics.median(session_ms)
    for k in ("suggest", "search"):
        if lat[k]:
            n = len(lat[k])
            res.named[f"{k}_p50_ms"] = (pct(lat[k], 50), "ms", n)
            res.named[f"{k}_p90_ms"] = (pct(lat[k], 90), "ms", n)
    res.named["serve_lookups_per_s"] = (len(every) / wall, "1/s", len(every))
    res.layers["parquet.load_table_s"] = (load_s, "s")
    res.layers["sinks.index_bytes_per_corpus_byte"] = (index_bytes / corpus.props["bytes"], "ratio")
    if tr.enabled:
        _stage_layers(tr, res, {"index"})
        for kind, call in (("suggest", "suggest_lookup"), ("search", "search_term_lookup")):
            calls = [s for s in tr.named(f"sinks.{call}") if s.trace.startswith("s")]
            colls = [s for s in tr.named(f"serve.{kind}.collect") if s.trace.startswith("s")]
            res.layers[f"sinks.{call}.call_ms"] = (_med(s.seconds * 1000 for s in calls), "ms")
            res.layers[f"serve.{kind}.collect_ms"] = (_med(s.seconds * 1000 for s in colls), "ms")
            works = [tr.work(a) + tr.work(b) for a, b in zip(calls, colls)]
            res.layers[f"serve.jobs_per_{kind}"] = (_med(w.jobs for w in works), "count")
            res.layers[f"serve.tasks_per_{kind}"] = (_med(w.tasks for w in works), "count")
    return res


# -------------------------------------------------------------- stream_ingest


def _checkpoint_batches(ckpt: str) -> tuple[dict[str, int], dict[int, float]]:
    """Read the checkpoint from outside: file name -> micro-batch id, and
    micro-batch id -> commit time (mtime of ``commits/<id>``).

    ``sources/0`` files map each file to the source's log offset, which
    advances only on batches that read data; ``offsets/<id>`` gives the
    log offset each micro-batch ran at, so the first micro-batch at a
    given log offset is the one that read that offset's files.
    """
    by_offset: dict[int, int] = {}
    for p in sorted(glob.glob(os.path.join(ckpt, "offsets", "[0-9]*")), key=lambda p: int(os.path.basename(p))):
        with open(p) as fh:
            lines = fh.read().splitlines()
        off = json.loads(lines[2])["logOffset"]
        by_offset.setdefault(off, int(os.path.basename(p)))
    file_batch: dict[str, int] = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(p).startswith("."):
            continue
        with open(p) as fh:
            for line in fh.read().splitlines()[1:]:
                e = json.loads(line)
                if e["batchId"] in by_offset:
                    file_batch[os.path.basename(e["path"])] = by_offset[e["batchId"]]
    commits = {
        int(os.path.basename(p)): os.stat(p).st_mtime_ns / 1e9
        for p in glob.glob(os.path.join(ckpt, "commits", "[0-9]*"))
    }
    return file_batch, commits


def _wait_idle(ckpt: str, timeout_s: float, settle_s: float = 0.3) -> None:
    """Wait until every planned micro-batch (``offsets/<id>``) has been
    committed (``commits/<id>``) and no new one is planned for
    ``settle_s``."""

    def last(sub: str) -> int:
        ids = [int(n) for n in os.listdir(os.path.join(ckpt, sub)) if n.isdigit()]
        return max(ids, default=-1)

    deadline = time.time() + timeout_s
    quiet_since = None
    while time.time() < deadline:
        if last("offsets") == last("commits"):
            quiet_since = quiet_since or time.time()
            if time.time() - quiet_since >= settle_s:
                return
        else:
            quiet_since = None
        time.sleep(0.05)


def _wait_committed(ckpt: str, names: list[str], timeout_s: float) -> bool:
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        fb, commits = _checkpoint_batches(ckpt)
        if all(n in fb and fb[n] in commits for n in names):
            return True
        time.sleep(0.2)
    return False


def stream_ingest(ctx: Ctx) -> Result:
    """Open loop: one event file lands every ``period_s`` while
    ``pipelines.streaming_ingest`` runs, then a burst lands at once.

    Freshness of a steady arrival is the commit time of the micro-batch
    that read it minus the time the file was due; catch-up is the burst's
    events over the time from landing to the last commit.
    """
    from insight_spark import pipelines

    res = Result()
    sz = ctx.sizes
    n_steady = max(1, int(ctx.seconds / sz.period_s))
    staging = os.path.join(ctx.root, "staging")
    in_dir = os.path.join(ctx.root, "in")
    out_dir = os.path.join(ctx.root, "serving")
    ckpt = os.path.join(ctx.root, "checkpoint")
    os.makedirs(in_dir)
    paths = inputs.make_event_files(
        ctx.seed, staging, sz.warm_files + n_steady + sz.burst_files, sz.events
    )
    names = [os.path.basename(p) for p in paths]
    warm = names[: sz.warm_files]
    steady = names[sz.warm_files : sz.warm_files + n_steady]
    burst = names[sz.warm_files + n_steady :]
    res.props["events"] = {
        "files": len(names),
        "events_per_file": sz.events.events_per_file,
        "file_span_minutes": sz.events.file_span_minutes,
        "period_s": sz.period_s,
        "steady_files": len(steady),
        "burst_files": len(burst),
    }

    def land(n: str) -> float:
        # atomic rename within one filesystem: the source never lists a
        # half-written file
        os.rename(os.path.join(staging, n), os.path.join(in_dir, n))
        return time.time()

    due: dict[str, float] = {}
    landed: dict[str, float] = {}
    landed[warm[0]] = land(warm[0])
    q = pipelines.streaming_ingest(ctx.spark, in_dir, out_dir, ckpt)
    try:
        for n in warm:
            if n not in landed:
                landed[n] = land(n)
            if not _wait_committed(ckpt, [n], 120):
                raise RuntimeError(f"warm-up file {n} was never committed")
        q.processAllAvailable()

        meter = Meter(ctx.jvm_pid)
        t_start = time.time()
        res.setup_s = time.perf_counter() - ctx.t_process
        for i, n in enumerate(steady):
            due[n] = t_start + i * sz.period_s
            while (left := due[n] - time.time()) > 0:
                time.sleep(min(left, 0.05))
            landed[n] = land(n)
        t_burst = t_start + n_steady * sz.period_s
        while (left := t_burst - time.time()) > 0:
            time.sleep(min(left, 0.05))
        steady_cpu, steady_steal = meter.stop()
        # the burst lands on an idle stream, so its window holds its own
        # micro-batches only
        _wait_idle(ckpt, 30)
        burst_meter = Meter(ctx.jvm_pid)
        t_burst = time.time()
        for n in burst:
            due[n] = t_burst
            landed[n] = land(n)
        _wait_committed(ckpt, names, 90)
        burst_meter.stop()
        _wait_idle(ckpt, 10)  # stop() then interrupts no batch
        progress = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()

    file_batch, commits = _checkpoint_batches(ckpt)
    in_paths = {n: os.path.join(in_dir, n) for n in names}
    wrong = oracle.check_rollup(
        os.path.join(out_dir, "serving"), oracle.hourly_rollup(list(in_paths.values()))
    )
    batch_start = {
        p["batchId"]: datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        for p in progress
    }
    off = time.time() - time.perf_counter()  # wall clock -> span clock
    fresh, waits, late, burst_commits = [], [], [], []
    for n in steady + burst:
        res.attempted += 1
        b = file_batch.get(n)
        if b is None or b not in commits:
            res.failed += 1
            res.problems.append(f"{n}: never committed")
            continue
        if wrong & oracle.file_keys(in_paths[n]):
            res.failed += 1
            res.problems.append(f"{n}: served rollup differs from batch rollup")
        late.append((landed[n] - due[n]) * 1000)
        if b in batch_start:
            waits.append((batch_start[b] - landed[n]) * 1000)
        if n in burst:
            burst_commits.append(commits[b])
        else:
            fresh.append((commits[b] - due[n]) * 1000)
        if ctx.tracer.enabled:
            a = ctx.tracer.add("arrival", n, due[n] - off, commits[b] - off)
            ctx.tracer.add("stream.generator", n, due[n] - off, landed[n] - off, a.sid)
            if b in batch_start:
                ctx.tracer.add("stream.wait", n, landed[n] - off, batch_start[b] - off, a.sid)
                ctx.tracer.add(
                    "stream.batch", n, batch_start[b] - off, commits[b] - off, a.sid, batch_id=b
                )
    if wrong and not res.problems:  # a differing key no arrival touched
        res.problems.append(f"{len(wrong)} rollup keys differ")
        res.failed = res.attempted

    if len(burst_commits) == len(burst):
        # the window closes at the last burst commit, before the trailing
        # no-data batch starts
        _per_op(res, ctx.spark, burst_meter, len(burst), max(burst_commits))
    res.props["cpu_ms_per_steady_arrival"] = steady_cpu * 1000 / len(steady)
    res.props["steal_share_steady"] = steady_steal
    res.props["freshness_ms"] = fresh
    if fresh:
        res.named["ingest_freshness_p50_ms"] = (pct(fresh, 50), "ms", len(fresh))
        res.named["ingest_freshness_p75_ms"] = (pct(fresh, 75), "ms", len(fresh))
    if burst_commits:
        events = len(burst_commits) * sz.events.events_per_file
        res.named["ingest_catchup_events_per_s"] = (
            events / (max(burst_commits) - t_burst), "events/s", len(burst_commits)
        )

    first = file_batch.get(steady[0], 0)
    timed = [p for p in progress if p["batchId"] >= first]
    data = [p for p in timed if p["numInputRows"] > 0]
    res.props["micro_batches"] = {"timed": len(timed), "with_data": len(data)}
    if ctx.tracer.enabled:
        for metric, key in (
            ("trigger", "triggerExecution"),
            ("add_batch", "addBatch"),
            ("query_planning", "queryPlanning"),
            ("wal_commit", "walCommit"),
            ("commit_offsets", "commitOffsets"),
            ("latest_offset", "latestOffset"),
        ):
            res.layers[f"stream.{metric}_ms"] = (
                _med(p["durationMs"].get(key, 0) for p in data), "ms"
            )
        res.layers["stream.state_commit_ms"] = (
            _med(p["stateOperators"][0]["commitTimeMs"] for p in data if p["stateOperators"]),
            "ms",
        )
        states = [p["stateOperators"][0]["numRowsTotal"] for p in timed if p["stateOperators"]]
        res.layers["stream.state_rows"] = (states[-1] if states else 0, "count")
        arrivals = len(steady) + len(burst)
        res.layers["stream.batches_per_arrival"] = (len(timed) / arrivals, "ratio")
        res.layers["stream.useful_batch_share"] = (len(data) / max(1, len(timed)), "ratio")
        res.layers["stream.arrival_wait_ms"] = (_med(waits), "ms")
        res.layers["stream.generator_late_ms"] = (_med(late), "ms")
    return res


WORKLOADS = {
    "index_build": index_build,
    "serve": serve,
    "stream_ingest": stream_ingest,
}
