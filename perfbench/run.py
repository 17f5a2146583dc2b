#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the neural_search_spark engine.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 10 --trace 0

One single-threaded, closed-loop client drives the engine through its
public functions only and times the calls from outside. Workloads:

* ``serve_mixed``: a positional index over a seeded code corpus, opened
  with ``cache_hot=True``; a stream of single searches (match OR with a
  head keyword, match OR over tail terms, match AND, match_phrase, and an
  indexed hybrid of two ``bm25_topk_indexed`` sub-queries), with a
  32-body ``dsl.msearch`` batch after every second search.
* ``ingest_live``: a base index, then rounds of two 200-doc
  ``append_segment`` micro-batches, each followed by a refresh (a fresh
  ``IndexReader`` with ``cache_hot=False`` that loads its stats), then
  ``merge_segments`` into the live index, a refresh, and one read per
  query family plus two msearch batches on the merged index.

Set-up (session, cold build, reader, a warm-up search and batch) is
reported as ``setup_s``, the CPU seconds it costs.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records spans,
Spark job counts and the per-process CPU split per operation and prints
the per-layer metrics (and a per-layer table on stderr). After the timed
phase, one output per query family is checked against the DuckDB oracle
on the same corpus. The last stdout line is the JSON result; a fuller
record (host steal, load, digests, per-op samples, spans) is written to
``.perfbench_out/`` at the checkout root.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from collections import Counter  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import inputs  # noqa: E402
from probes import CpuMeter, JobCounter, Tracer, cpu_delta, host_sample  # noqa: E402

K = 10
SIZES = {
    "serve_mixed": {"docs": 1000},
    "ingest_live": {"docs": 200, "batch_docs": 200, "appends_per_merge": 2},
}
FAMILY_LAYER = {"or_head": "query.wand", "or_tail": "query.wand", "and": "query.wand",
                "phrase": "query.phrase", "hybrid": "query.hybrid"}


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def dir_bytes(path: str) -> int:
    """On-disk bytes of an index: data files and meta, not checksums."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.endswith(".crc") and f != "_SUCCESS":
                total += os.path.getsize(os.path.join(root, f))
    return total


class Bench:
    """One run: the Spark session, the probes and every timed sample."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, sizes: dict):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.sizes = sizes
        self.work = ROOT / ".perfbench_work" / f"{workload}-{os.getpid()}"
        self.cache = ROOT / ".perfbench_cache"
        self.tracer = Tracer(trace)
        self.spark = None
        self.ops: list[dict] = []  # timed-phase samples
        self.layer: dict[str, float] = {}
        self.checks: list[dict] = []
        self.host: dict[str, dict] = {}
        self.instrument_s = 0.0
        self.seen_terms: set[str] = set()
        self.setup: dict = {}

    # --- environment -----------------------------------------------------

    def start_session(self) -> None:
        """Point every scratch dir at the checkout, then start Spark with
        the engine's defaults and only the master set."""
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        os.environ["TMPDIR"] = str(tmp)
        # fixed JIT compiler threads, so CpuMeter sees each one for the
        # JVM's whole life and can count the JIT's CPU apart
        os.environ["SPARK_SUBMIT_OPTS"] = (
            os.environ.get("SPARK_SUBMIT_OPTS", "")
            + f" -Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads").strip()
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
        from neural_search_spark.session import get_spark

        nproc = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark", 0):
            self.spark = get_spark(master=f"local[{nproc}]")
        self.layer["session.start_s"] = time.perf_counter() - t0
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        self.jvm = sc._gateway.proc
        self.cpu = CpuMeter(self.jvm.pid)
        self.jobs = JobCounter(sc)

    def close(self) -> None:
        """Stop Spark, then make sure the JVM and its workers have exited."""
        if self.spark is not None:
            kids = _descendants(self.jvm.pid)
            self.spark.stop()
            try:
                self.jvm.stdin.close()
                self.jvm.wait(timeout=30)
            except Exception:
                self.jvm.kill()
                self.jvm.wait()
            _wait_gone(kids)
        shutil.rmtree(self.work, ignore_errors=True)

    # --- timing helpers --------------------------------------------------

    def phase(self, name: str, op_id: int, fn):
        """Run ``fn`` inside a span (and, traced, its own job group)."""
        group = self.jobs.begin(name) if self.trace else None
        t0 = time.perf_counter()
        with self.tracer.span(name, op_id):
            out = fn()
        wall = time.perf_counter() - t0
        counts = None
        if group is not None:
            t1 = time.perf_counter()
            counts = self.jobs.end(group)
            self.instrument_s += time.perf_counter() - t1
        return out, wall, counts

    def op(self, kind: str, name: str, fn, **extra) -> dict:
        """One timed operation: wall time, CPU by process class, and its
        Spark jobs, stages and tasks (phases of it, traced, count their own
        and are added in)."""
        op_id = len(self.ops) + 1
        rec = {"id": op_id, "kind": kind, **extra}
        group = self.jobs.begin(name)
        c0 = self.cpu.sample()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, op_id):
                rec["out"] = fn(rec, op_id)
            rec["ok"] = True
        except Exception as e:  # a failed op is counted, the loop goes on
            rec["ok"], rec["error"] = False, f"{type(e).__name__}: {e}"
            print(f"op {op_id} {name} failed: {rec['error']}", file=sys.stderr)
        rec["wall"] = time.perf_counter() - t0
        rec["cpu"] = cpu_delta(c0, self.cpu.sample())
        jobs = self.jobs.end(group)
        for key in ("plan_jobs", "exec_jobs"):
            for k, v in (rec.get(key) or {}).items():
                jobs[k] += v
        rec["jobs"] = jobs
        self.ops.append(rec)
        return rec

    # --- engine calls ----------------------------------------------------

    def build(self, corpus_df, index_dir: str) -> dict:
        from neural_search_spark.index.builder import build_index

        group = self.jobs.begin("index.builder.build_index")
        c0 = self.cpu.sample()
        t0 = time.perf_counter()
        with self.tracer.span("index.builder.build_index", 0):
            meta = build_index(self.spark, corpus_df, index_dir, key_cols=["doc_id"],
                               text_col="text", tokenizer="simple")
        wall = time.perf_counter() - t0
        cpu = cpu_delta(c0, self.cpu.sample())
        self.build_jobs = self.jobs.end(group)["jobs"]
        self.build_cpu, self.build_docs = cpu, meta["docs"]
        self.layer.update({
            "index.builder.build_s": wall,
            "index.builder.postings_write_s": meta["phase_sec"]["postings_write"],
            "index.builder.docmap_write_s": meta["phase_sec"]["docmap_write"],
            "index.builder.manifest_write_s": meta["phase_sec"]["manifest_write"],
            "index.builder.cpu_jvm_s": cpu["jvm"],
            "index.builder.cpu_jit_s": cpu["jit"],
            "index.builder.cpu_pyworker_s": cpu["pyworker"],
            "index.builder.tokens": meta["total_tokens"],
            "index.builder.postings": meta["postings"],
            "index.builder.bytes_compressed": meta["bytes_compressed"],
            "index.builder.bytes_positions": meta["bytes_positions"],
        })
        return meta

    def set_up(self, corpus_path: str, cache_hot: bool, warmup: list[dict]):
        """Session, corpus read, cold build, reader, then the untimed
        warm-up ops (so the timed phase starts on a warmed query path).
        Wall time and CPU by process class are recorded for the whole of
        it, engine import included."""
        self.mark_host("setup_start")
        t0, client0 = time.perf_counter(), time.process_time()
        self.start_session()
        self.docs_df = self.spark.read.parquet(corpus_path)
        index_dir = str(self.work / "index")
        self.build(self.docs_df, index_dir)
        ctx = self.new_reader(index_dir, cache_hot)
        t1 = time.perf_counter()
        with self.tracer.span("session.warm_up", 0):
            for op in warmup:
                self.run_op(ctx, op, {}, 0)
                self.layer.setdefault("session.first_query_s", time.perf_counter() - t1)
        self.layer["session.warm_up_s"] = time.perf_counter() - t1
        cpu = self.cpu.sample()
        cpu["client"] += self.import_cpu - client0
        self.setup = {"wall_s": time.perf_counter() - t0 + self.import_s, "cpu": cpu}
        self.mark_host("timed_start")
        return ctx, index_dir

    def run_op(self, ctx, op: dict, rec: dict, op_id: int) -> list[tuple[int, float]]:
        if op["family"] == "msearch":
            return self.msearch(ctx, op["batch"], rec, op_id)
        return self.query(ctx, op, rec, op_id)

    def read(self, ctx, op: dict) -> dict:
        """One timed read from the op stream: a single search or a batch."""
        fam = op["family"]
        if fam == "msearch":
            kind, name = "msearch", "query.dsl.msearch_batch"
        else:
            kind, name = "query", f"{FAMILY_LAYER[fam]}.{fam}"
        return self.op(kind, name, lambda r, i: self.run_op(ctx, op, r, i), **op)

    def query(self, ctx, op: dict, rec: dict, op_id: int) -> list[tuple[int, float]]:
        """One single search; records plan (search() up to the lazy frame,
        stats collects included) and exec (the collect) separately."""
        from neural_search_spark.query import dsl

        fam = op["family"]
        terms = sorted({t for g in op.get("groups", [op.get("terms")]) for t in g})
        rec["warm"] = set(terms) <= self.seen_terms
        if fam == "hybrid":
            from neural_search_spark.query.hybrid import hybrid_search
            from neural_search_spark.query.wand import bm25_topk_indexed

            def plan():
                subs = [bm25_topk_indexed(ctx.reader, g, k=inputs.HYBRID_SUBQ_K)
                        .select("doc_id", "score") for g in op["groups"]]
                return hybrid_search(subs, "min_max", "arithmetic_mean", k=K)
            plan_name = "query.hybrid.plan"
        else:
            text = " ".join(op["terms"])
            if fam == "phrase":
                q = {"match_phrase": {"text": text}}
            elif fam == "and":
                q = {"match": {"text": {"query": text, "operator": "and"}}}
            else:
                q = {"match": {"text": text}}

            def plan():
                return dsl.search(ctx, {"query": q, "size": K})
            plan_name = "query.dsl.plan"
        df, rec["plan_s"], rec["plan_jobs"] = self.phase(plan_name, op_id, plan)
        rows, rec["exec_s"], rec["exec_jobs"] = self.phase("query.exec", op_id, df.collect)
        self.seen_terms.update(terms)
        self.count_postings(ctx.reader, terms, rec)
        return [(int(r["doc_id"]), round(float(r["score"]), 4)) for r in rows]

    def msearch(self, ctx, batch: list[list[str]], rec: dict, op_id: int) -> list[tuple[int, float]]:
        from neural_search_spark.query import dsl

        bodies = [{"query": {"match": {"text": " ".join(t)}}, "size": K} for t in batch]
        terms = sorted({t for b in batch for t in b})
        df, rec["plan_s"], rec["plan_jobs"] = self.phase(
            "query.dsl.msearch", op_id, lambda: dsl.msearch(ctx, bodies))
        rows, rec["exec_s"], rec["exec_jobs"] = self.phase("query.exec", op_id, df.collect)
        self.seen_terms.update(terms)
        self.count_postings(ctx.reader, terms, rec)
        first = sorted((r for r in rows if r["query_idx"] == 0), key=lambda r: r["rank"])
        return [(int(r["doc_id"]), round(float(r["score"]), 4)) for r in first]

    def count_postings(self, reader, terms: list[str], rec: dict) -> None:
        """Traced runs: Σ df of the query terms, from the reader's df memo
        (already filled by the query itself, so no extra Spark job)."""
        if self.trace:
            t0 = time.perf_counter()
            rec["postings"] = sum(reader.term_dfs(terms).values())
            self.instrument_s += time.perf_counter() - t0

    def new_reader(self, index_dir: str, cache_hot: bool):
        from neural_search_spark.query import dsl
        from neural_search_spark.query.wand import IndexReader

        reader = IndexReader(self.spark, index_dir, cache_hot=cache_hot)
        self.seen_terms = set()
        return dsl.SearchContext(docs=self.docs_df, reader=reader, id_col="doc_id",
                                 text_col="text")

    def mark_host(self, label: str) -> None:
        self.host[label] = host_sample()


    def check(self, op: dict, got: list, corpus_paths: list[str], digest: str) -> None:
        """Untimed: compare one op's top-k against the DuckDB oracle."""
        want = inputs.oracle_rows(corpus_paths, digest, inputs.oracle_sql(op, K),
                                  str(self.cache))
        ok = inputs.matches_oracle(got, want, K)
        self.checks.append({"family": op["family"], "ok": ok, "got": got[:K], "want": want[:K]})
        if not ok:
            print(f"oracle mismatch on {op}: got {got[:K]} want {want[:K]}", file=sys.stderr)


def _descendants(pid: int) -> list[int]:
    from probes import _proc_table

    table = _proc_table()
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        kids = [c for c, (pp, _, _) in table.items() if pp == p]
        out.extend(kids)
        stack.extend(kids)
    return out


def _alive(pid: int) -> bool:
    """Running, as opposed to exited or a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def _wait_gone(pids: list[int], timeout: float = 20.0) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# --- workloads -------------------------------------------------------------


def serve_mixed(b: Bench) -> dict:
    n = b.sizes["docs"]
    path, docs, digest = inputs.cached_corpus(str(b.cache), b.seed, 0, n)
    stream = inputs.op_stream(docs, b.seed, inputs.SERVE_CYCLE, 600)
    text_bytes = int(docs["text"].map(lambda t: len(t.encode())).sum())
    b.inputs = {"corpus": digest, "ops": inputs.stream_digest(stream), "docs": n}

    ctx, index_dir = b.set_up(path, cache_hot=True, warmup=stream["warmup"])
    # the loop always gets as far as the first op of every family
    min_ops = max(inputs.SERVE_CYCLE.index(f) for f in inputs.SERVE_CYCLE) + 1
    deadline = time.perf_counter() + b.seconds
    for op in stream["ops"]:
        if time.perf_counter() >= deadline and len(b.ops) >= min_ops:
            break
        b.read(ctx, op)
    b.mark_host("timed_end")

    for fam in dict.fromkeys(inputs.SERVE_CYCLE):
        rec = next((r for r in b.ops if r.get("family") == fam and r["ok"]), None)
        if rec is not None:
            b.check(rec, rec["out"], [path], digest)
    b.index_wall, b.index_docs, b.index_cpu = (
        b.layer["index.builder.build_s"], b.build_docs, b.build_cpu)
    return {
        "index_bytes_per_input_byte": dir_bytes(index_dir) / text_bytes,
        "index_jobs": b.build_jobs,
    }


def ingest_live(b: Bench) -> dict:
    from neural_search_spark.index.builder import read_meta
    from neural_search_spark.index.live import append_segment
    from neural_search_spark.index.merge import merge_segments

    n, bsz = b.sizes["docs"], b.sizes["batch_docs"]
    path, docs, digest = inputs.cached_corpus(str(b.cache), b.seed, 0, n)
    stream = inputs.op_stream(docs, b.seed, inputs.INGEST_CYCLE, 200)
    b.inputs = {"corpus": digest, "ops": inputs.stream_digest(stream), "docs": n}
    corpus_paths, digests = [path], [digest]
    text_bytes = int(docs["text"].map(lambda t: len(t.encode())).sum())

    def batch_path(i: int) -> str:
        nonlocal text_bytes
        p, bdocs, d = inputs.cached_corpus(str(b.cache), b.seed, n + i * bsz, n + (i + 1) * bsz)
        corpus_paths.append(p)
        digests.append(d)
        text_bytes += int(bdocs["text"].map(lambda t: len(t.encode())).sum())
        return p

    ctx, index_dir = b.set_up(path, cache_hot=False, warmup=stream["warmup"])
    deadline = time.perf_counter() + b.seconds
    appended = final_from = 0
    reads = iter(stream["ops"])
    segments = int(read_meta(index_dir)["num_segments"])

    def refresh():
        nonlocal ctx
        ctx = b.new_reader(index_dir, cache_hot=False)
        ctx.reader.global_stats()

    while True:
        for _ in range(b.sizes["appends_per_merge"]):
            p = batch_path(appended // bsz)
            seg = segments
            rec = b.op("append", "index.live.append_segment", lambda r, i: append_segment(
                b.spark, b.spark.read.parquet(p), index_dir, seg), segment=seg)
            if not rec["ok"]:
                break
            segments += 1
            appended += bsz
            b.op("refresh", "index.live.refresh", lambda r, i: refresh())
        merged = index_dir + "-merged"
        rec = b.op("merge", "index.merge.merge_segments",
                   lambda r, i: merge_segments(b.spark, index_dir, merged, factor=2))
        if not rec["ok"]:
            break
        shutil.rmtree(index_dir)
        os.rename(merged, index_dir)
        segments = rec["out"]["segments_out"]
        b.op("refresh", "index.live.refresh", lambda r, i: refresh())
        final_from = len(b.ops)  # the last round's reads are checked
        for _ in inputs.INGEST_CYCLE:
            b.read(ctx, next(reads))
        if time.perf_counter() >= deadline:
            break
    b.mark_host("timed_end")

    grown = hashlib.sha256("".join(digests).encode()).hexdigest()
    for rec in b.ops[final_from:]:
        if rec["ok"] and rec["kind"] in ("query", "msearch"):
            b.check(rec, rec["out"], corpus_paths, grown)
    writes = [r for r in b.ops if r["kind"] in ("append", "merge")]
    b.index_wall, b.index_docs = sum(r["wall"] for r in writes), appended
    b.index_cpu = {k: sum(r["cpu"][k] for r in writes) for k in writes[0]["cpu"]}
    return {
        "index_bytes_per_input_byte": dir_bytes(index_dir) / text_bytes,
        "index_jobs": mean([r["jobs"]["jobs"] for r in writes]),
    }


# --- metrics ---------------------------------------------------------------


def cpu_s(cpu: dict) -> float:
    """CPU seconds of the JVM (its JIT compiler threads left out: their
    share moves with how warm the JVM is, not with the engine's work),
    of the Python workers and of the client."""
    return cpu["jvm"] + cpu["pyworker"] + cpu["client"]


def mix_mean(singles: list[dict], cycle: list[str], value) -> float:
    """Mean of ``value`` per family, weighted by the family's share of the
    cycle, so the figure does not move with how far a run got into it."""
    total = weight = 0.0
    for fam, share in Counter(f for f in cycle if f != "msearch").items():
        vals = [value(r) for r in singles if r["family"] == fam]
        if vals:
            total += share * mean(vals)
            weight += share
    return total / weight if weight else 0.0


def per_query(batches: list[dict], value) -> float:
    """Σ ``value`` over msearch batches ÷ the queries in them."""
    return sum(value(r) for r in batches) / max(1, sum(r["n"] for r in batches))


def ok_ops(b: Bench, kind: str) -> list[dict]:
    return [r for r in b.ops if r["kind"] == kind and r["ok"]]


def cycle_of(b: Bench) -> list[str]:
    return inputs.SERVE_CYCLE if b.workload == "serve_mixed" else inputs.INGEST_CYCLE


def e2e_metrics(b: Bench, workload_metrics: dict) -> dict:
    """The gated end-to-end metrics."""
    singles, batches = ok_ops(b, "query"), ok_ops(b, "msearch")
    cycle = cycle_of(b)
    # Spark work counts from the first op of each kind: a fixed prefix of
    # the seeded stream, so how far a run got does not move them
    firsts = list({r["family"]: r for r in reversed(singles)}.values())
    return {
        "setup_s": cpu_s(b.setup["cpu"]),
        **workload_metrics,
        "query_jobs": mix_mean(firsts, cycle, lambda r: r["jobs"]["jobs"]),
        "query_tasks": mix_mean(firsts, cycle, lambda r: r["jobs"]["tasks"]),
        "query_input_bytes": mix_mean(firsts, cycle, lambda r: r["jobs"]["input_bytes"]),
        "msearch_jobs": batches[0]["jobs"]["jobs"],
        "msearch_input_bytes": batches[0]["jobs"]["input_bytes"],
    }


def layer_metrics(b: Bench) -> dict:
    singles, batches = ok_ops(b, "query"), ok_ops(b, "msearch")
    appends, refreshes, merges = ok_ops(b, "append"), ok_ops(b, "refresh"), ok_ops(b, "merge")
    cycle = cycle_of(b)
    setup_cpu = b.setup["cpu"]
    out = dict(b.layer)

    def jobs(r: dict, key: str) -> int:
        return r["plan_jobs"][key] + r["exec_jobs"][key]

    out.update({
        "setup.wall_s": b.setup["wall_s"],
        "setup.cpu_jvm_s": setup_cpu["jvm"],
        "setup.cpu_jit_s": setup_cpu["jit"],
        "setup.cpu_pyworker_s": setup_cpu["pyworker"],
        "setup.cpu_client_s": setup_cpu["client"],
        "query.wall_p50_s": p50([r["wall"] for r in singles]),
        "query.samples": len(singles),
        "query.dsl.plan_s": p50([r["plan_s"] for r in singles]),
        "query.dsl.plan_jobs": mean([r["plan_jobs"]["jobs"] for r in singles]),
        "query.exec_s": p50([r["exec_s"] for r in singles]),
        "query.exec_jobs": mean([r["exec_jobs"]["jobs"] for r in singles]),
        "query.exec_stages": mean([r["exec_jobs"]["stages"] for r in singles]),
        "query.exec_tasks": mean([r["exec_jobs"]["tasks"] for r in singles]),
        "query.shuffle_bytes": mix_mean(singles, cycle, lambda r: r["jobs"]["shuffle_bytes"]),
    })
    for fam, layer in FAMILY_LAYER.items():
        recs = [r for r in singles if r["family"] == fam]
        out[f"{layer}.{fam}_s"] = p50([r["wall"] for r in recs])
        out[f"{layer}.{fam}_jobs"] = mean([jobs(r, "jobs") for r in recs])
    warm = [r["wall"] for r in singles if r["warm"]]
    cold = [r["wall"] for r in singles if not r["warm"]]
    batch_wall = sum(r["wall"] for r in batches)
    out.update({
        "query.wand.warm_term_s": p50(warm),
        "query.wand.cold_term_s": p50(cold),
        "query.wand.warm_term_share": len(warm) / len(singles) if singles else 0.0,
        "query.wand.postings_per_query": mean([r["postings"] for r in singles]),
        "cpu.query_s": mix_mean(singles, cycle, lambda r: cpu_s(r["cpu"])),
        "cpu.jvm_s_per_query": mix_mean(singles, cycle, lambda r: r["cpu"]["jvm"]),
        "cpu.jit_s_per_query": mix_mean(singles, cycle, lambda r: r["cpu"]["jit"]),
        "cpu.pyworker_s_per_query": mix_mean(singles, cycle, lambda r: r["cpu"]["pyworker"]),
        "cpu.client_s_per_query": mix_mean(singles, cycle, lambda r: r["cpu"]["client"]),
        "query.dsl.msearch_batches": len(batches),
        "query.dsl.msearch_qps": sum(r["n"] for r in batches) / batch_wall if batches else 0.0,
        "query.dsl.msearch_batch_s": p50([r["wall"] for r in batches]),
        "query.dsl.msearch_jobs": mean([jobs(r, "jobs") for r in batches]),
        "query.dsl.msearch_stages": mean([jobs(r, "stages") for r in batches]),
        "query.dsl.msearch_shuffle_bytes": mean([r["jobs"]["shuffle_bytes"] for r in batches]),
        "query.dsl.msearch_postings_per_query": per_query(batches, lambda r: r["postings"]),
        "cpu.msearch_s_per_query": per_query(batches, lambda r: cpu_s(r["cpu"])),
        "cpu.jvm_s_per_msearch_query": per_query(batches, lambda r: r["cpu"]["jvm"]),
        "cpu.jit_s_per_msearch_query": per_query(batches, lambda r: r["cpu"]["jit"]),
        "cpu.pyworker_s_per_msearch_query": per_query(batches, lambda r: r["cpu"]["pyworker"]),
        "index.docs_per_s": b.index_docs / b.index_wall,
        "index.live.appends": len(appends),
        "index.live.append_s": p50([r["wall"] for r in appends]),
        "index.live.append_max_s": max([r["wall"] for r in appends], default=0.0),
        "index.live.refresh_s": p50([r["wall"] for r in refreshes]),
        "index.live.segments": max([r["segment"] + 1 for r in appends], default=0),
        "index.merge.merge_s": sum(r["wall"] for r in merges),
        "index.merge.segments_in": sum(r["out"]["segments_in"] for r in merges),
        "index.merge.segments_out": sum(r["out"]["segments_out"] for r in merges),
    })
    for k in ("jvm", "jit", "pyworker", "client"):
        out[f"cpu.{k}_s_per_kdoc"] = b.index_cpu[k] / (b.index_docs / 1000)
    ts, te = b.host["timed_start"], b.host["timed_end"]
    out.update({
        "host.steal_s": te["steal_s"] - ts["steal_s"],
        "host.setup_steal_s": ts["steal_s"] - b.host["setup_start"]["steal_s"],
        "host.loadavg_1m": te["loadavg_1m"],
        "trace.overhead_s_per_op": b.instrument_s / max(1, len(b.ops)),
    })
    return out


def engine_id() -> str:
    """The commit if the checkout is a git work tree, else a digest of the
    engine sources (the benchmark's checkout is not a repository)."""
    head = ROOT / ".git" / "HEAD"
    if head.exists():
        ref = head.read_text().strip()
        if ref.startswith("ref: ") and (ROOT / ".git" / ref[5:]).exists():
            return (ROOT / ".git" / ref[5:]).read_text().strip()
        return ref
    h = hashlib.sha256()
    for p in sorted((ROOT / "neural_search_spark").rglob("*.py")):
        h.update(p.read_bytes())
    return "src-" + h.hexdigest()[:16]


def print_table(b: Bench, e2e: dict, layers: dict) -> None:
    out = sys.stderr
    print(f"\nper-layer spans ({b.workload}, seed {b.seed}):", file=out)
    print(f"{'span':40s} {'count':>5s} {'p50_s':>9s} {'total_s':>9s} {'self_s':>9s}", file=out)
    for row in b.tracer.table():
        print(f"{row['name']:40s} {row['count']:5d} {row['p50_s']:9.4f} "
              f"{row['total_s']:9.3f} {row['self_s']:9.3f}", file=out)
    print("\nper-layer metrics:", file=out)
    for k, v in layers.items():
        print(f"  {k:40s} {v:.6g}", file=out)
    prior = ROOT / ".perfbench_out" / f"{b.workload}-s{b.seed}-trace0.json"
    print("\nend-to-end (traced run):", file=out)
    base = json.loads(prior.read_text())["metrics"] if prior.exists() else {}
    for k, v in e2e.items():
        ref = base.get(k)
        over = f"  untraced {ref:.6g} ({v / ref - 1:+.1%} traced)" if ref else ""
        print(f"  {k:40s} {v:.6g}{over}", file=out)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "neural_search_spark" / "__init__.py").exists():
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    with open(HERE / "pins.json") as fh:
        pins = json.load(fh)
    now = inputs.pin_digests()
    if now != pins:
        print(f"input generator changed: pinned {pins}, now {now}", file=sys.stderr)
        return 3

    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace), SIZES[args.workload])
    t0, c0 = time.perf_counter(), time.process_time()
    import pyspark  # noqa: F401  (engine import belongs to set-up)
    import neural_search_spark.query.dsl  # noqa: F401
    b.import_s, b.import_cpu = time.perf_counter() - t0, time.process_time() - c0
    try:
        e2e = e2e_metrics(b, {"serve_mixed": serve_mixed,
                              "ingest_live": ingest_live}[args.workload](b))
        layers = layer_metrics(b) if args.trace else None
    finally:
        b.close()

    attempted = len(b.ops)
    failed = sum(not r["ok"] for r in b.ops)
    correct = bool(b.checks) and all(c["ok"] for c in b.checks)
    metrics = layers if args.trace else e2e
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = spec["per_layer" if args.trace else "end_to_end"]
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                          for m in names}}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": len(os.sched_getaffinity(0)), "engine": engine_id(),
        "wall_s": time.perf_counter() - T_PROCESS, "inputs": b.inputs, "host": b.host,
        "setup": b.setup, "metrics": e2e, "layers": layers or b.layer, "checks": b.checks,
        "ops": [{k: v for k, v in r.items() if k != "out"} for r in b.ops],
        "spans": b.tracer.spans,
    }
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    (out_dir / f"{args.workload}-s{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1, default=str))
    if args.trace:
        print_table(b, e2e, layers)
    steal = b.host["timed_end"]["steal_s"] - b.host["timed_start"]["steal_s"]
    print(f"host: nproc={record['nproc']} engine={record['engine']} "
          f"steal_s(timed)={steal:.2f} loadavg_1m={b.host['timed_end']['loadavg_1m']} "
          f"wall_s={record['wall_s']:.1f}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
