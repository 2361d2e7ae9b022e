"""The two workloads: seeded inputs, the timed loops and their metrics.

Both are closed loops with one client. The engine is driven only through
its public API; every answer is kept and checked after the timed region
(``checks.py``), and failures count against ``failed_op_ratio``.

interactive -- a tiny-tier-sized corpus (4,000 turns) built once with positions.
    Set-up ends with a warm-up round of eight operations: the six
    single-query rows of the ROADMAP job table (``or``, ``or_pruned``,
    ``and``, ``phrase``, ``phrase_slop2``, ``span_near2``), ``filtered``
    (role = 'user') and ``batch`` (an 8-query ``search_batch``). Each
    measured round runs the seven single-query ops once and ``batch`` three
    times, in a seeded order. At this size latency follows Spark job count
    and driver planning.
lifecycle -- a 5,000-turn corpus in two conv_id slices. Set-up builds the
    first slice as segment 0 and runs one warm-up round of the probe ops
    (``or``, ``phrase``, ``batch``) on it, so that the measured probes do not
    pay the process's first query calls. The timed pass commits ~1 % of the
    live keys through ``delete_docs``, appends the second slice with
    ``build_segment``, commits another ~1 %, reopens a reader and runs probe
    rounds on the two-segment index with tombstones; then ``compact()`` runs
    and the probes repeat on the merged index. Probe rounds run their ops in
    a fixed order, so the first read of a new snapshot always falls on
    ``or``. Writes run beside reads on a changing multi-segment index.

``--seconds`` sets the amount of measured work as a number of whole rounds,
about that many seconds on the reference machine. The count depends on
``--seconds`` alone, so a slower host measures the same work, not less.

Single-query terms are drawn Zipf-weighted from the corpus dictionary, so
they repeat and hit the engine's term-stats cache. Phrase and span terms are
two-token runs of seeded corpus docs, so every positional query matches.
Every ``batch`` query holds a hot term (df > 10 % of docs) and every batch
call uses only terms not queried earlier in the run, so it misses the cache.
Hot terms are kept for batch calls alone, which keeps the cost of a single
query from swinging with whether a seed drew a hot term.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from cuvs_lucene_spark.analysis import tokenize_py
from cuvs_lucene_spark.fixtures import generate_transcripts

from checks import Snapshot, check_bow, check_positional
from probes import JobCounter, JvmMemory, RssSampler, cpu_by_class, dir_bytes

K = 10
BATCH_QUERIES = 8
# the tiny-index settings of tests/conftest.py
BUILD_KW = dict(buckets=8, salt_buckets=4, hot_df_ratio=0.10, positions=True)
# turns taken from the front of a 400-conversation corpus (~9,200 turns, so
# any seed has enough): about the tiny tier's size, and a quarter more
CORPUS_CONVS = 400
INTERACTIVE_TURNS = 4_000
LIFECYCLE_TURNS = 5_000
DELETE_SHARE = 0.01
ZIPF_S = 1.1
HOT_SHARE = 0.10
SINGLE_OPS = ("or", "or_pruned", "and", "filtered", "phrase", "phrase_slop2", "span_near2")
POSITIONAL_OPS = ("phrase", "phrase_slop2", "span_near2")
INTERACTIVE_OPS = SINGLE_OPS + ("batch",)
# a measured interactive round: batch runs three times, so that batch_qps
# rests on several calls per run (the fresh hot terms last for eight calls)
INTERACTIVE_ROUND = SINGLE_OPS + ("batch",) * 3
LIFECYCLE_OPS = ("or", "phrase", "batch")
# nominal seconds of one measured round on the reference machine (4 vCPUs):
# an interactive round, and one lifecycle probe round on each snapshot
INTERACTIVE_ROUND_S = 7.5
LIFECYCLE_ROUND_S = 12.0
# Spark task slots: two of the four vCPUs, which leaves the others to the JVM's
# JIT and GC threads, the driver and py4j; at this size a call takes as long
# on two slots as on four, and varies less from call to call
SPARK_SLOTS = 2
BUILD_PHASES = ("doc_ids", "hot_detect", "worker_warmup", "encode_write", "dictionary",
                "stats_lineage_cluster")
VOLUME_OPS = ("or", "batch")


def corpus(cache_dir: str, n_convs: int, n_turns: int, seed: int) -> str:
    """The first ``n_turns`` turns of the seed's ``n_convs``-conversation
    corpus as parquet, generated once and reused across runs. A fixed turn
    count keeps the work the same across seeds; the conversation count
    varies the turn total by up to a third."""
    path = os.path.join(cache_dir, f"transcripts-{n_convs}-{n_turns}-{seed}.parquet")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        table = generate_transcripts(n_convs, seed)
        if table.num_rows < n_turns:
            raise ValueError(f"seed {seed}: {table.num_rows} turns < {n_turns}")
        tmp = f"{path}.{os.getpid()}.tmp"
        pq.write_table(table.slice(0, n_turns), tmp, row_group_size=50_000)
        os.replace(tmp, path)
    return path


# -- seeded inputs ---------------------------------------------------------

class Inputs:
    """Query inputs drawn from one corpus. Draws depend only on the seed and
    on the draws before them, never on timing."""

    def __init__(self, pdf: pd.DataFrame, seed: int):
        pdf = pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
        self.tokens = [tokenize_py(t) for t in pdf["text"]]
        df = Counter(t for toks in self.tokens for t in set(toks))
        self.n_docs = n_docs = sum(1 for toks in self.tokens if toks)
        by_df = sorted(df, key=lambda t: (-df[t], t))
        rng = np.random.default_rng([seed, 0])
        hot = [t for t in by_df if df[t] > HOT_SHARE * n_docs]
        # hot terms are reserved for batch calls (8 per call, never reused);
        # single queries and phrases draw from the rest of the dictionary
        self.batch_hot = [str(t) for t in rng.permutation(hot)]
        reserved = set(self.batch_hot)
        self.batch_mid = [
            str(t) for t in rng.permutation([t for t in by_df if 20 <= df[t] <= HOT_SHARE * n_docs])
        ]
        self.zipf_terms = [t for t in by_df if t not in reserved]
        w = (np.arange(len(self.zipf_terms)) + 1.0) ** -ZIPF_S
        self.zipf_p = w / w.sum()
        self.reserved = reserved
        self.seen: set[str] = set()  # every term any call has used so far

    def zipf(self, rng, n: int) -> list[str]:
        idx = rng.choice(len(self.zipf_terms), size=n, replace=False, p=self.zipf_p)
        return [self.zipf_terms[i] for i in idx]

    def token_run(self, rng, live: np.ndarray, n: int = 2) -> list[str]:
        """n distinct consecutive tokens of a live doc, none reserved."""
        docs = np.flatnonzero(live)
        while True:
            toks = self.tokens[int(docs[rng.integers(len(docs))])]
            if len(toks) < n:
                continue
            s = int(rng.integers(len(toks) - n + 1))
            run = toks[s:s + n]
            if len(set(run)) == n and not self.reserved.intersection(run):
                return run

    def batches_left(self) -> int:
        return sum(1 for t in self.batch_hot if t not in self.seen) // BATCH_QUERIES

    def fresh_batch(self, rng) -> list[dict]:
        """8 mixed OR/AND queries of terms never queried before in the run."""
        hot = [t for t in self.batch_hot if t not in self.seen][:BATCH_QUERIES]
        mid = iter(t for t in self.batch_mid if t not in self.seen)
        out = []
        modes = rng.permutation(["or", "and"] * (BATCH_QUERIES // 2))
        for h, mode in zip(hot, modes):
            terms = [h, next(mid), next(mid)]
            self.seen.update(terms)
            out.append({"text": " ".join(terms), "mode": str(mode)})
        return out

    def params(self, op: str, rng, live: np.ndarray) -> dict:
        if op == "batch":
            return {"queries": self.fresh_batch(rng)}
        if op in POSITIONAL_OPS:
            terms = self.token_run(rng, live)
        else:
            terms = self.zipf(rng, 2 if op == "and" else 3)
        self.seen.update(terms)
        return {"terms": terms}


# -- one call --------------------------------------------------------------

@dataclass
class Call:
    op: str
    snapshot: int
    params: dict
    measured: bool
    traced: bool = False
    plan_s: float = 0.0
    exec_s: float = 0.0
    rows: list = field(default_factory=list)
    error: str | None = None
    trace: dict = field(default_factory=dict)

    @property
    def latency_s(self) -> float:
        return self.plan_s + self.exec_s

    @property
    def n_queries(self) -> int:
        return len(self.params["queries"]) if self.op == "batch" else 1

    def terms(self) -> set[str]:
        if self.op == "batch":
            return {t for q in self.params["queries"] for t in tokenize_py(q["text"])}
        return set(self.params["terms"])


def _plan(spark, index_dir: str, reader, op: str, p: dict):
    from pyspark.sql import functions as F

    from cuvs_lucene_spark.query import search, search_batch, search_phrase
    from cuvs_lucene_spark.spans import search_span_near

    if op == "batch":
        qs = p["queries"]
        return search_batch(spark, index_dir, [q["text"] for q in qs], k=K,
                            mode=[q["mode"] for q in qs], reader=reader)
    text = " ".join(p["terms"])
    if op in ("phrase", "phrase_slop2"):
        return search_phrase(spark, index_dir, text, k=K, reader=reader,
                             slop=2 if op == "phrase_slop2" else 0)
    if op == "span_near2":
        return search_span_near(spark, index_dir, p["terms"], slop=2, k=K, reader=reader)
    return search(
        spark, index_dir, text, k=K, mode="and" if op == "and" else "or",
        prune=op == "or_pruned", reader=reader,
        filter_cond=F.col("role") == "user" if op == "filtered" else None,
    )


def _rows(op: str, collected) -> list:
    if op == "batch":
        out: dict[int, list] = {}
        for r in collected:
            out.setdefault(int(r["qid"]), []).append(
                (r["conv_id"], int(r["turn_idx"]), float(r["score"])))
        return [out.get(i, []) for i in range(max(out, default=-1) + 1)]
    return [(r["conv_id"], int(r["turn_idx"]), float(r["score"])) for r in collected]


def check_call(call: Call, snap: Snapshot) -> str | None:
    if call.error is not None:
        return call.error
    p = call.params
    if call.op == "batch":
        rows = call.rows + [[]] * (len(p["queries"]) - len(call.rows))
        for q, got in zip(p["queries"], rows):
            if (why := check_bow(snap, q["text"], q["mode"], K, got)) is not None:
                return f"batch: {why}"
        return None
    if call.op in POSITIONAL_OPS:
        kind = "span" if call.op == "span_near2" else "phrase"
        slop = 0 if call.op == "phrase" else 2
        return check_positional(snap, kind, p["terms"], slop, K, call.rows)
    accept = (snap.oracle.meta["role"] == "user").to_numpy() if call.op == "filtered" else None
    mode = "and" if call.op == "and" else "or"
    return check_bow(snap, " ".join(p["terms"]), mode, K, call.rows, accept)


# -- the run ---------------------------------------------------------------

def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class Run:
    """State shared by both workloads: session, probes, the call log."""

    def __init__(self, workdir: str, cache_dir: str, seed: int, seconds: int, trace: bool):
        self.workdir, self.cache_dir = workdir, cache_dir
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.calls: list[Call] = []
        self.ops_attempted = 0  # writes and opens; query calls are counted from the log
        self.write_failures: list[str] = []  # writes that returned a wrong result
        self.layer: dict[str, list[float]] = {}
        self.props: dict = {}
        self.snapshots: dict[int, Snapshot] = {}
        # a traced run alternates traced and untraced calls, so it needs two
        # rounds to trace every op once and to compare the two halves
        self.min_rounds = 2 if trace else 1

    # session ---------------------------------------------------------------
    def start_session(self) -> float:
        from cuvs_lucene_spark.session import get_spark

        cpus = min(SPARK_SLOTS, len(os.sched_getaffinity(0)))
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=cpus, shuffle_partitions=2 * cpus)
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jobs = JobCounter(self.spark.sparkContext)
        self.jvm = JvmMemory(self.spark.sparkContext)
        self.note("session.start_s", dt)
        return dt

    def note(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(float(value))

    def _settle(self) -> None:
        """Let the status store catch up, so a traced call sees only its jobs."""
        st = self.jobs.st
        deadline = time.monotonic() + 5.0
        time.sleep(0.05)
        while st.getActiveJobsIds() and time.monotonic() < deadline:
            time.sleep(0.02)

    @contextmanager
    def spark_work(self, label: str, on: bool):
        """Tag the Spark jobs started inside the block and, when ``on``, count
        them into the dict it yields once the block ends."""
        work: dict[str, int] = {}
        token = None
        if on:
            self._settle()
            token = self.jobs.start(label)
        try:
            yield work
        finally:
            if token:
                work.update(self.jobs.finish(token))

    # writes ----------------------------------------------------------------
    def write(self, what: str, fn):
        """One write operation (build, delete commit, compaction), timed. A
        write that raises ends the run: nothing after it would be measured."""
        self.ops_attempted += 1
        with self.spark_work(what, self.trace and what == "build") as work:
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        if work:
            for k in ("jobs", "stages", "tasks"):
                self.note(f"build.{k}", work[k])
            self.note("spark.failed_tasks", work["failed_tasks"])
        return out, dt

    def build(self, df, index_dir: str, segment_id: int) -> tuple[dict, float]:
        from cuvs_lucene_spark.operators.build import build_segment

        meta, dt = self.write(
            "build", lambda: build_segment(self.spark, df, index_dir, segment_id, **BUILD_KW))
        for ph in BUILD_PHASES:
            self.note(f"build.{ph}_s", meta["timings"].get(ph, 0.0))
        return meta, dt

    def open_reader(self, index_dir: str):
        from cuvs_lucene_spark.query import IndexReader

        self.ops_attempted += 1
        t0 = time.perf_counter()
        reader = IndexReader(self.spark, index_dir)
        self.note("catalog.open_s", time.perf_counter() - t0)
        self.note("catalog.live_segments", len(reader.manifest["segments"]))
        return reader

    # queries ---------------------------------------------------------------
    def query(self, op: str, params: dict, snapshot: int, index_dir: str, reader,
              measured: bool, traced: bool) -> Call:
        call = Call(op, snapshot, params, measured, traced=self.trace and measured and traced)
        with self.spark_work(op, call.traced) as call.trace:
            try:
                t0 = time.perf_counter()
                df = _plan(self.spark, index_dir, reader, op, params)
                t1 = time.perf_counter()
                collected = df.collect()
                t2 = time.perf_counter()
                call.plan_s, call.exec_s = t1 - t0, t2 - t1
                call.rows = _rows(op, collected)
            except Exception as e:  # noqa: BLE001 -- a raising call is a failed op
                call.error = f"{op}: {type(e).__name__}: {str(e)[:200]}"
        if call.traced and op in VOLUME_OPS and call.error is None:
            call.trace.update(self._volume(reader, call.terms()))
        self.calls.append(call)
        return call

    def _volume(self, reader, terms: set[str]) -> dict:
        """Posting blocks and payload bytes stored for the query's terms."""
        from pyspark.sql import functions as F

        sc = self.spark.sparkContext
        sc.setJobGroup("perfbench-volume", "postings volume")
        try:
            r = (reader.cat.read_postings(self.spark)
                 .where((F.col("field") == reader.fields[0]) & F.col("term").isin(sorted(terms)))
                 .agg(F.count("*").alias("blocks"), F.sum("n_bytes").alias("bytes"))
                 .collect()[0])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return {"blocks": int(r["blocks"]), "block_bytes": int(r["bytes"] or 0)}

    def rounds(self, inputs: Inputs, ops: tuple, snapshot: int, index_dir: str, reader,
               live: np.ndarray, n_rounds: int, first_round: int, measured: bool = True,
               shuffle: bool = True) -> None:
        """``n_rounds`` whole rounds of ``ops``, in seeded order when
        ``shuffle``. A batch call is skipped once the fresh terms for batch
        calls run out."""
        for rnd in range(first_round, first_round + n_rounds):
            rng = np.random.default_rng([self.seed, snapshot + 1, rnd + 1])
            order = rng.permutation(len(ops)) if shuffle else range(len(ops))
            for j in order:
                op = ops[j]
                if op == "batch" and inputs.batches_left() == 0:
                    continue
                params = inputs.params(op, rng, live)
                self.query(op, params, snapshot, index_dir, reader, measured,
                           traced=(snapshot + rnd + int(j)) % 2 == 0)

    def n_rounds(self, round_s: float) -> int:
        """Measured rounds for ``--seconds``: whole rounds of nominal length
        ``round_s``, at least one (two in a traced run)."""
        return max(self.min_rounds, int(self.seconds / round_s + 0.5))

    # results ---------------------------------------------------------------
    def check(self) -> list[str]:
        """Check every answer; returns the failure reasons, one per failed op."""
        failures = list(self.write_failures)
        for c in self.calls:
            why = check_call(c, self.snapshots[c.snapshot])
            if why is not None:
                failures.append(why)
        return failures

    def attempted(self) -> int:
        return self.ops_attempted + len(self.calls)

    def query_metrics(self, calls: list[Call]) -> dict:
        single = [c.latency_s for c in calls if c.op != "batch" and c.error is None]
        pos = [c.latency_s for c in calls if c.op in POSITIONAL_OPS and c.error is None]
        batch = [c for c in calls if c.op == "batch" and c.error is None]
        # the gated latencies are means: every round runs each op once, and
        # the median of so few calls from ops this unequal jumps between ops
        out = {
            "query_mean_s": float(np.mean(single)) if single else 0.0,
            "positional_mean_s": float(np.mean(pos)) if pos else 0.0,
            "query_p50_s": _median(single),
            "positional_p50_s": _median(pos),
            "batch_qps": (sum(c.n_queries for c in batch) / sum(c.latency_s for c in batch)
                          if batch else 0.0),
        }
        out["op_p50_s"] = {op: _median(c.latency_s for c in calls if c.op == op and c.error is None)
                           for op in dict.fromkeys(c.op for c in calls)}
        n = len(single)
        if n > 10:  # highest percentile with at least ten samples above it
            pct = 100.0 * (n - 10) / n
            out["query_tail_s"] = float(np.percentile(single, pct, method="lower"))
            out["query_tail_pct"] = pct
        out["query_samples"] = n
        return out

    def term_repeat_share(self) -> dict:
        seen: dict[int, set] = {}
        rep = {"all": [0, 0], "batch": [0, 0]}
        for c in self.calls:
            s = seen.setdefault(c.snapshot, set())
            terms = c.terms()
            n_rep = len(terms & s)
            if c.measured:
                for key in ("all", "batch") if c.op == "batch" else ("all",):
                    rep[key][0] += n_rep
                    rep[key][1] += len(terms)
            s |= terms
        return {k: (a / b if b else 0.0) for k, (a, b) in rep.items()}

    def layer_metrics(self, pass_calls: list[Call], ps: "_Pass", rss: RssSampler,
                      index_dir: str) -> dict:
        m = {name: _median(v) for name, v in self.layer.items()}
        m["spark.failed_tasks"] = sum(self.layer.get("spark.failed_tasks", [])) + sum(
            c.trace.get("failed_tasks", 0) for c in pass_calls)
        m["catalog.live_segments"] = max(self.layer.get("catalog.live_segments", [0]))
        for op in INTERACTIVE_OPS:
            tr = [c for c in pass_calls if c.op == op and c.traced and c.error is None]
            m[f"query.plan_s.{op}"] = _median(c.plan_s for c in tr)
            m[f"query.exec_s.{op}"] = _median(c.exec_s for c in tr)
            for k in ("jobs", "stages", "tasks"):
                m[f"query.{k}.{op}"] = _median(c.trace[k] for c in tr)
        for op in VOLUME_OPS:
            tr = [c for c in pass_calls if c.op == op and "blocks" in c.trace]
            m[f"query.blocks.{op}"] = _median(c.trace["blocks"] for c in tr)
            m[f"query.block_bytes.{op}"] = _median(c.trace["block_bytes"] for c in tr)
        for k in ("py_workers", "jvm", "driver"):
            m[f"cpu.{k}_s"] = ps.cpu[k]
            m[f"rss.{k}_mb"] = rss.at_peak.get(k, 0) / 2**20
        m["jvm.gc_s"] = ps.gc_s
        m["jvm.heap_peak_mb"] = ps.heap_mb
        from cuvs_lucene_spark.sources.catalog import IndexCatalog

        usage = IndexCatalog(index_dir).disk_usage()
        tables = {t: sum(s[t]["bytes"] for s in usage["segments"].values())
                  for t in ("postings", "dictionary", "doc_dim")}
        for t, b in tables.items():
            m[f"catalog.bytes.{t}"] = b
        m["catalog.bytes.other"] = dir_bytes(index_dir) - sum(tables.values())
        traced = [c for c in pass_calls if c.traced]
        untraced = [c for c in pass_calls if not c.traced]
        on, off = self.query_metrics(traced), self.query_metrics(untraced)
        for k in ("query_mean_s", "positional_mean_s", "batch_qps"):
            m[f"overhead.{k}"] = on[k] - off[k]
        for name in ("deletes.commit_s", "merge.compact_s", "merge.bytes_rewritten"):
            m.setdefault(name, 0.0)
        return m

    def measure_pass(self):
        """Context for the measured pass: CPU, GC and heap deltas."""
        return _Pass(self)


class _Pass:
    def __init__(self, run: Run):
        self.run = run

    def __enter__(self) -> "_Pass":
        self.cpu0 = cpu_by_class()
        self.gc0 = self.run.jvm.gc_seconds()
        self.run.jvm.reset_peak()
        return self

    def __exit__(self, *exc) -> None:
        cpu1 = cpu_by_class()
        self.cpu = {k: cpu1[k] - self.cpu0[k] for k in cpu1}
        self.gc_s = self.run.jvm.gc_seconds() - self.gc0
        self.heap_mb = self.run.jvm.heap_peak_mb()


# -- workloads -------------------------------------------------------------

def interactive(run: Run) -> tuple[dict, dict]:
    path = corpus(run.cache_dir, CORPUS_CONVS, INTERACTIVE_TURNS, run.seed)
    pdf = pq.read_table(path).to_pandas()
    inputs = Inputs(pdf, run.seed)
    run.snapshots[0] = Snapshot.build(pdf)
    live = np.ones(len(pdf), dtype=bool)
    index_dir = os.path.join(run.workdir, "index")

    with RssSampler() as rss:
        session_s = run.start_session()
        corpus_df = run.spark.read.parquet(path)
        _, build_s = run.build(corpus_df, index_dir, 0)
        t0 = time.perf_counter()
        reader = run.open_reader(index_dir)
        # warm-up: one round of every op (first calls pay JIT and worker start)
        run.rounds(inputs, INTERACTIVE_OPS, 0, index_dir, reader, live, 1, 0, measured=False)
        setup_s = session_s + build_s + time.perf_counter() - t0
        with run.measure_pass() as ps:
            run.rounds(inputs, INTERACTIVE_ROUND, 0, index_dir, reader, live,
                       run.n_rounds(INTERACTIVE_ROUND_S), 1)
    measured = [c for c in run.calls if c.measured]
    e2e = {
        "setup_s": setup_s,
        **run.query_metrics(measured),
        "write_turns_per_s": len(pdf) / build_s,
        "index_bytes_per_input_byte": dir_bytes(index_dir) / os.path.getsize(path),
        "peak_rss_mb": rss.peak / 2**20,
    }
    layers = run.layer_metrics(measured, ps, rss, index_dir)
    run.props.update(
        docs=inputs.n_docs, turns=len(pdf),
        op_counts=dict(Counter(c.op for c in measured)),
        term_repeat_share=run.term_repeat_share(),
        probes=[{"snapshot": 0, "live_segments": 1, "tombstones": 0}],
    )
    return e2e, layers


def lifecycle(run: Run) -> tuple[dict, dict]:
    from pyspark.sql import functions as F

    from cuvs_lucene_spark.operators.deletes import delete_docs
    from cuvs_lucene_spark.operators.merge import compact
    from cuvs_lucene_spark.sources.catalog import IndexCatalog

    path = corpus(run.cache_dir, CORPUS_CONVS, LIFECYCLE_TURNS, run.seed)
    pdf = pq.read_table(path).to_pandas().sort_values(
        ["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
    inputs = Inputs(pdf, run.seed)
    index_dir = os.path.join(run.workdir, "index")
    # two slices of about equal turn counts, cut at a conversation start
    conv = pdf["conv_id"].to_numpy()
    starts = np.flatnonzero(np.r_[True, conv[1:] != conv[:-1]])
    half = int(starts[np.abs(starts - len(pdf) / 2).argmin()])
    keys = list(zip(conv, pdf["turn_idx"].astype(int)))
    deleted: set = set()
    probes = []

    def delete_some(ingested: int, tag: int) -> float:
        """Commit ~1 % of the live ingested keys; returns the commit time."""
        live_idx = [j for j in range(ingested) if keys[j] not in deleted]
        rng = np.random.default_rng([run.seed, 1000 + tag])
        n_del = max(1, round(DELETE_SHARE * len(live_idx)))
        batch = [keys[j] for j in sorted(rng.choice(live_idx, size=n_del, replace=False))]
        keys_df = run.spark.createDataFrame(pd.DataFrame(batch, columns=["conv_id", "turn_idx"]))
        n, dt = run.write("delete", lambda: delete_docs(run.spark, index_dir, keys_df))
        if n != len(batch):
            run.write_failures.append(f"delete_docs committed {n} of {len(batch)} keys")
        run.note("deletes.commit_s", dt)
        deleted.update(batch)
        return dt

    def probe(snapshot: int, snap_pdf: pd.DataFrame, ingested: int, n_rounds: int,
              measured: bool = True) -> None:
        """Reopen a reader on the index as it is and run probe rounds on it."""
        run.snapshots[snapshot] = Snapshot.build(snap_pdf, deleted)
        reader = run.open_reader(index_dir)
        if measured:
            probes.append({"snapshot": snapshot,
                           "live_segments": len(reader.manifest["segments"]),
                           "tombstones": len(deleted) if snapshot == 1 else 0})
        live = np.array([j < ingested and k not in deleted for j, k in enumerate(keys)])
        run.rounds(inputs, LIFECYCLE_OPS, snapshot, index_dir, reader, live, n_rounds, 0,
                   measured=measured, shuffle=False)

    with RssSampler() as rss:
        t0 = time.perf_counter()
        run.start_session()
        corpus_df = run.spark.read.parquet(path)
        # the first segment is the initial index, built cold as part of set-up,
        # and one untimed probe round on it warms the query paths
        run.build(corpus_df.where(F.col("conv_id") < conv[half]), index_dir, 0)
        probe(0, pdf.iloc[:half], half, 1, measured=False)
        setup_s = time.perf_counter() - t0
        n_rounds = run.n_rounds(LIFECYCLE_ROUND_S)
        with run.measure_pass() as ps:
            write_s = delete_some(half, 0)
            _, dt = run.build(corpus_df.where(F.col("conv_id") >= conv[half]), index_dir, 1)
            write_s += dt + delete_some(len(pdf), 1)
            probe(1, pdf, len(pdf), n_rounds)  # two segments, tombstones in both
            meta, dt = run.write("compact", lambda: compact(
                run.spark, index_dir, salt_buckets=BUILD_KW["salt_buckets"],
                hot_df_ratio=BUILD_KW["hot_df_ratio"]))
            write_s += dt
            run.note("merge.compact_s", dt)
            run.note("merge.bytes_rewritten",
                     dir_bytes(IndexCatalog(index_dir).seg_dir(meta["id"])) if meta else 0)
            # compaction purges the deleted docs, and with them their statistics
            probe(2, pdf[[k not in deleted for k in keys]], len(pdf), n_rounds)
    calls = [c for c in run.calls if c.measured]
    e2e = {
        "setup_s": setup_s,
        **run.query_metrics(calls),
        "write_turns_per_s": (len(pdf) - half) / write_s,
        "index_bytes_per_input_byte": dir_bytes(index_dir) / os.path.getsize(path),
        "peak_rss_mb": rss.peak / 2**20,
    }
    layers = run.layer_metrics(calls, ps, rss, index_dir)
    run.props.update(
        docs=inputs.n_docs, turns=len(pdf), turns_appended_in_pass=len(pdf) - half,
        op_counts=dict(Counter(c.op for c in calls)),
        term_repeat_share=run.term_repeat_share(),
        probes=probes,
    )
    return e2e, layers


WORKLOADS = {"interactive": interactive, "lifecycle": lifecycle}
