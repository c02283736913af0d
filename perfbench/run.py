"""RagPipeline product-path benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Each workload is a closed loop with one client that waits for every
call (plans/pipeline.py's public methods) before sending the next:

- ``ingest``: back-to-back ``ingest(mode="overwrite")`` of 300 multi-chunk
  docs (~1.1k chunks): the write path.
- ``chat``: ``query()`` with one distinct query per call over a 2,000-doc
  index: the reference app's user path, dominated by per-call fixed cost.

The program sees only the generated parquet inputs. A run generates its
inputs from ``--seed``, starts Spark, builds what the workload reads,
warms the calls up (set-up ends at the first timed call), then times calls
until their wall time adds up to ``--seconds``. Every output is checked
against a NumPy oracle outside the timed window. The last stdout line is
one JSON object; ``--trace 0`` reports the end-to-end metrics, ``--trace
1`` the per-layer metrics of BENCHMARK.json and writes the spans to
``.perfbench_out/``. perfbench/METRICS.md explains every metric.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import oracle  # noqa: E402
from spans import Tracer  # noqa: E402
from inputs import DIM, make_inputs  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench_out")
WORKLOADS = ("ingest", "chat")
# Calls made before timing starts (the first pays the cold plan, codegen
# and class-loading cost). On a 4-vCPU VM ingest calls fall from ~2.3 s to
# ~1.4 s and chat calls from ~3.4 s to ~2 s over 6 to 15 calls, as fast as
# the JIT compiler gets through its queue. Warming up until the calls
# flatten did not steady the runs (some settle ~30% above others), so the
# counts are fixed, and both stop short of the plateau to keep a run within
# its time budget. Each run reports its slope ratio.
WARMUP_CALLS = {"ingest": 8, "chat": 5}
LAYER_REPS = 2  # calls per layer in the traced layer pass
QUERY_POOL = 300  # distinct queries a run may use
QUERY_SCHEMA = "query_id long, query_text string"


def configure_env(work: str) -> None:
    """Fixed engine settings, and every scratch path inside ``work``.
    Spark inherits this environment when it starts its JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    paths = [ROOT] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        # two task threads leave the other cores to JIT, GC and the pandas
        # workers; on a 4-vCPU VM this made chat calls faster and their
        # spread within a run fell from about +-15% to +-3%
        SPARK_GRAFT_CPUS="2",
        SPARK_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(paths),  # pandas-UDF workers import the program
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={work}/warehouse"),
            "--driver-java-options", shlex.quote(java_opts), "pyspark-shell",
        ]),
    )


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit (it exits when its stdin
    closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


@dataclass
class Call:
    seconds: float
    traced: bool
    query: str | None = None
    rows: list | None = None
    errors: list[str] = field(default_factory=list)


def log(msg: str) -> None:
    print(f"perfbench {time.perf_counter() - T0:7.2f}s {msg}", file=sys.stderr, flush=True)


def med(xs) -> float:
    return float(statistics.median(xs))


class Bench:
    def __init__(self, args, work: str):
        from vectordb_agentic_rag_spark.plans import pipeline

        self.args = args
        self.work = work
        self.pl = pipeline
        self.index_dir = os.path.join(work, "index")
        self.own_s = 0.0  # the benchmark's own work before the first timed call
        self.tracer = None

    # ------------------------------------------------------------ inputs

    def make_inputs(self) -> None:
        t = time.perf_counter()
        self.inputs = make_inputs(self.args.workload, self.args.seed, QUERY_POOL)
        corpus = self.inputs.corpus
        self.docs_path = os.path.join(self.work, "docs.parquet")
        pq.write_table(pa.table({"doc_id": corpus.doc_ids, "text": corpus.texts}),
                       self.docs_path)
        self.input_bytes = os.path.getsize(self.docs_path)
        self._queries = iter(enumerate(self.inputs.queries))
        self.own_s += time.perf_counter() - t

    def next_query(self):
        qid, text = next(self._queries)
        return text, self.spark.createDataFrame([(qid, text)], QUERY_SCHEMA)

    # ------------------------------------------------------------ calls

    def span(self, name: str, traced: bool):
        return self.tracer.span(name) if traced else nullcontext()

    def ingest(self, traced: bool):
        with self.span("ingest", traced) as rec:
            stats = self.pipe.ingest(self.docs)
        return stats, rec

    def query(self, qdf, traced: bool):
        with self.span("query", traced) as rec:
            with self.span("query.build", traced):
                df = self.pipe.query(qdf)
            with self.span("query.exec", traced):
                rows = df.collect()
        return rows, rec

    def check_ingest(self, stats) -> list[str]:
        t = time.perf_counter()
        errs = oracle.check_ingest(self.index_dir, stats, *self.inputs.expected,
                                   n_docs=len(self.inputs.corpus.texts))
        self.own_s += time.perf_counter() - t
        return errs

    # ------------------------------------------------------------ run

    def run(self) -> dict:
        from vectordb_agentic_rag_spark.session import get_spark

        self.make_inputs()
        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.range(1).collect()
        self.session_start_s = time.perf_counter() - t
        log(f"spark up in {self.session_start_s:.2f}s")
        try:
            return self._run()
        finally:
            stop_spark(self.spark)

    def _run(self) -> dict:
        wl, trace = self.args.workload, bool(self.args.trace)
        if trace:
            self.tracer = Tracer(self.spark, f"{wl}-{self.args.seed}", T0)
        self.pipe = self.pl.RagPipeline(self.spark, self.index_dir, dim=DIM)
        self.docs = self.spark.read.parquet(self.docs_path)
        if wl == "chat":
            self.stats = self.pipe.ingest(self.docs)  # cold index build
            log("index built")
        for i in range(WARMUP_CALLS[wl]):
            t = time.perf_counter()
            if wl == "ingest":
                self.stats = self.ingest(False)[0]
            else:
                self.query(self.next_query()[1], False)
            log(f"warm-up call {i} {time.perf_counter() - t:.3f}s")
        setup_s = time.perf_counter() - T0 - self.own_s
        log(f"set-up done ({setup_s:.2f}s)")

        calls = self.timed_loop(wl, trace)
        index_bytes = oracle.parquet_bytes(self.index_dir)
        log(f"{len(calls)} timed calls done")
        if wl == "chat":
            self.check_chat(calls)
            log("checks done")
        layers = self.layer_pass(calls) if trace else {}
        with self.span("clear", trace) as rec:
            self.pipe.clear()
        if trace:
            layers["clear.call_s"] = rec["end"] - rec["start"]
            layers["spark.failed_tasks"] = self.tracer.failed_tasks()

        ok = [c.seconds for c in calls if not c.errors]
        third = max(1, len(calls) // 3)
        secs = [c.seconds for c in calls]
        self.summary = {
            "setup_s": setup_s,
            "call_p50_s": med(ok) if ok else 0.0,
            "index_bytes_per_input_byte": index_bytes / self.input_bytes,
            "slope_ratio": med(secs[:third]) / med(secs[-third:]),
        }
        self.calls = calls
        if trace:
            layers["loop.slope_ratio"] = self.summary["slope_ratio"]
            return layers
        return {k: self.summary[k] for k in ("setup_s", "call_p50_s",
                                             "index_bytes_per_input_byte")}

    def timed_loop(self, wl: str, trace: bool) -> list[Call]:
        """Calls until their summed wall time reaches ``--seconds``. In a
        traced run every other call is traced, so the untraced ones give
        the tracing overhead in the same process."""
        calls: list[Call] = []
        busy = 0.0
        while busy < self.args.seconds:
            traced = trace and len(calls) % 2 == 0
            text = qdf = None
            if wl == "chat":
                text, qdf = self.next_query()
            t = time.perf_counter()
            try:
                if wl == "ingest":
                    out, rec = self.ingest(traced)
                else:
                    out, rec = self.query(qdf, traced)
                err = []
            except Exception as e:  # a failed call is counted, not fatal
                out, rec, err = None, None, [f"{type(e).__name__}: {str(e)[:200]}"]
            call = Call(time.perf_counter() - t, traced, text, out, err)
            log(f"call {len(calls)} {call.seconds:.3f}s{' traced' if traced else ''}")
            busy += call.seconds
            calls.append(call)
            if traced and rec is not None:
                self.tracer.count(rec)
            if wl == "ingest" and out is not None:
                call.errors += self.check_ingest(out)
                self.stats = out
        return calls

    # ------------------------------------------------------------ checks

    def query_vectors(self, idx: oracle.Index, texts: list[str]) -> list[np.ndarray]:
        """TF from pyspark.ml ``HashingTF`` (the program's own hashing
        step, run here as a library call) times the stored idf."""
        from pyspark.ml.feature import HashingTF, Tokenizer
        from pyspark.ml.functions import vector_to_array

        df = self.spark.createDataFrame(list(enumerate(texts)), QUERY_SCHEMA)
        words = Tokenizer(inputCol="query_text", outputCol="w").transform(df)
        tf = HashingTF(inputCol="w", outputCol="tf", numFeatures=DIM).transform(words)
        rows = tf.select("query_id", vector_to_array("tf").alias("tf")).collect()
        by_id = {r.query_id: np.array(r.tf) for r in rows}
        return [by_id[i] * idx.idf for i in range(len(texts))]

    def check_chat(self, calls: list[Call]) -> None:
        """Every timed ``query()`` row against the oracle. (``retrieve`` is
        checked against brute force and MMR replay where it is timed, in
        the traced layer pass.)"""
        k, fetch_k, lam = self.pl.DEFAULT_K, self.pl.DEFAULT_FETCH_K, self.pl.DEFAULT_LAMBDA
        index_errs = self.check_ingest(self.stats)
        idx = oracle.Index(self.index_dir)
        texts = [c.query for c in calls]
        qvs = self.query_vectors(idx, texts)
        for c, qv in zip(calls, qvs):
            c.errors += index_errs
            if c.rows is None:
                continue
            if len(c.rows) != 1:
                c.errors.append(f"{len(c.rows)} rows for one query")
                continue
            c.errors += oracle.check_query(idx, qv, c.query, c.rows[0], k, fetch_k, lam)

    # ------------------------------------------------------------ layers

    def spans(self, name: str) -> list[dict]:
        return [s for s in self.tracer.spans if s["name"] == name and "end" in s]

    def layer_pass(self, calls: list[Call]) -> dict:
        """Per-layer metrics: each layer's public call, timed from here,
        LAYER_REPS times, with its Spark counts. Calls the workload's
        own loop already traced are taken from the loop."""
        from vectordb_agentic_rag_spark.operators.ml import mmr_select
        from vectordb_agentic_rag_spark.operators.text import chunk_documents

        tr, pipe, spark = self.tracer, self.pipe, self.spark
        k, fetch_k, lam = self.pl.DEFAULT_K, self.pl.DEFAULT_FETCH_K, self.pl.DEFAULT_LAMBDA

        def traced(name, fn):
            with tr.span(name) as rec:
                out = fn()
            tr.count(rec)
            return out

        for _ in range(5):
            traced("session.floor", lambda: spark.range(1).collect())
        for _ in range(LAYER_REPS):
            traced("text.chunk", lambda: chunk_documents(self.docs, "text")
                   .write.format("noop").mode("overwrite").save())
        if self.args.workload != "ingest":
            for _ in range(LAYER_REPS):
                self.stats = traced("ingest", lambda: pipe.ingest(self.docs))
        if self.args.workload != "chat":
            for _ in range(LAYER_REPS):
                self.query(self.next_query()[1], True)
                tr.count(self.spans("query")[-1])

        log("layer pass: write-side layers done")
        idx = oracle.Index(self.index_dir)
        reps = [self.next_query() for _ in range(LAYER_REPS)]
        qvs = self.query_vectors(idx, [t for t, _ in reps])
        returned, select_s, errors = [], [], []
        for (text, qdf), qv in zip(reps, qvs):
            for name, mmr in (("retrieve", False), ("retrieve.mmr", True)):
                with tr.span(name) as rec:
                    with tr.span(name + ".build"):
                        df = pipe.retrieve(qdf, mmr=mmr)
                    with tr.span(name + ".collect"):
                        rows = df.collect()
                tr.count(rec)
                if mmr:
                    errors += oracle.check_mmr(idx, qv, rows, k, fetch_k, lam)
                else:
                    errors += oracle.check_topk(idx, qv, rows, k)
                    returned.append(len(rows))
            sims = np.round(idx.sims(qv), 6)
            cand = [(int(idx.chunk_id[i]), idx.emb[i].tolist(), float(sims[i]))
                    for i in idx.ranked(sims, fetch_k)]
            t = time.perf_counter()
            mmr_select(cand, k, lam)
            select_s.append(time.perf_counter() - t)
            cached = pipe.retrieve(qdf).cache()
            cached.count()
            traced("route", lambda: pipe.route(
                qdf, pipe.assess_relevance(cached, qdf)).collect())
            cached.unpersist()
        self.layer_errors = errors
        log("layer pass: read-side layers done")

        def dur(s):
            return s["end"] - s["start"]

        def child(s, name):
            return next(self.tracer.spans[c] for c in s["children"]
                        if self.tracer.spans[c]["name"] == name)

        def stat(name, key):
            return med([s[key] for s in self.spans(name)])

        ing, qry = self.spans("ingest"), self.spans("query")
        ret, rmm = self.spans("retrieve"), self.spans("retrieve.mmr")
        m = {
            "session.start_s": self.session_start_s,
            "session.floor_s": med(dur(s) for s in self.spans("session.floor")),
            "text.chunk_s": med(dur(s) for s in self.spans("text.chunk")),
            "text.chunks_per_doc": self.stats.n_chunks / self.stats.n_docs,
            "ingest.call_s": med(dur(s) for s in ing),
        }
        for key in ("jobs", "stages", "tasks", "shuffle_write_bytes", "bytes_written", "cpu_s"):
            m[f"ingest.{key}"] = stat("ingest", key)
        # chunk rows the scan read (input records less the 1-row idf table),
        # each scored against the call's one query
        rows_scored = stat("retrieve", "input_records") - 1
        m.update({
            "retrieve.build_s": med(dur(child(s, "retrieve.build")) for s in ret),
            "retrieve.topk_s": med(dur(child(s, "retrieve.collect")) for s in ret),
            "retrieve.jobs": stat("retrieve", "jobs"),
            "retrieve.rows_scored": rows_scored,
            "retrieve.rows_per_result": rows_scored / med(returned),
            "retrieve.shuffle_write_bytes": stat("retrieve", "shuffle_write_bytes"),
            "retrieve.cpu_s": stat("retrieve", "cpu_s"),
            "mmr.rerank_s": med(dur(s) for s in rmm) - med(dur(s) for s in ret),
            "mmr.select_s": med(select_s),
            "mmr.shuffle_write_bytes": stat("retrieve.mmr", "shuffle_write_bytes")
            - stat("retrieve", "shuffle_write_bytes"),
            "route.call_s": med(dur(s) for s in self.spans("route")),
            "route.jobs": stat("route", "jobs"),
            "query.build_s": med(dur(child(s, "query.build")) for s in qry),
            "query.build_jobs": med(child(s, "query.build").get("jobs", 0) for s in qry),
            "query.exec_s": med(dur(child(s, "query.exec")) for s in qry),
        })
        for key in ("jobs", "stages", "tasks", "cpu_s"):
            m[f"query.{key}"] = stat("query", key)
        m["query.jobs_over_retrieve"] = m["query.jobs"] / m["retrieve.jobs"]
        traced_calls = [c.seconds for c in calls if c.traced]
        plain_calls = [c.seconds for c in calls if not c.traced]
        m["trace.overhead_s"] = med(traced_calls) - med(plain_calls) if plain_calls else 0.0
        return m


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


E2E_UNITS = {"setup_s": "s", "call_p50_s": "s", "index_bytes_per_input_byte": "B/B"}
LAYER_UNITS = {
    "session.start_s": "s", "session.floor_s": "s",
    "text.chunk_s": "s", "text.chunks_per_doc": "1",
    "ingest.call_s": "s", "ingest.jobs": "count", "ingest.stages": "count",
    "ingest.tasks": "count", "ingest.shuffle_write_bytes": "B",
    "ingest.bytes_written": "B", "ingest.cpu_s": "s",
    "retrieve.build_s": "s", "retrieve.topk_s": "s", "retrieve.jobs": "count",
    "retrieve.rows_scored": "count", "retrieve.rows_per_result": "1",
    "retrieve.shuffle_write_bytes": "B", "retrieve.cpu_s": "s",
    "mmr.rerank_s": "s", "mmr.select_s": "s", "mmr.shuffle_write_bytes": "B",
    "route.call_s": "s", "route.jobs": "count",
    "query.build_s": "s", "query.build_jobs": "count", "query.exec_s": "s",
    "query.jobs": "count", "query.stages": "count", "query.tasks": "count",
    "query.cpu_s": "s", "query.jobs_over_retrieve": "1",
    "clear.call_s": "s", "spark.failed_tasks": "count",
    "trace.overhead_s": "s", "loop.slope_ratio": "1",
}


def main(argv=None) -> int:
    args = parse_args(argv)
    os.makedirs(OUT, exist_ok=True)
    work = tempfile.mkdtemp(prefix="work-", dir=OUT)
    try:
        configure_env(work)
        sys.path.insert(0, ROOT)
        bench = Bench(args, work)
        metrics = bench.run()
        if args.trace:
            bench.tracer.write(os.path.join(
                OUT, f"spans-{args.workload}-seed{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    calls = bench.calls
    failed = sum(bool(c.errors) for c in calls)
    layer_errors = getattr(bench, "layer_errors", [])
    for e in [e for c in calls for e in c.errors][:5] + layer_errors[:5]:
        print(f"check failed: {e}", file=sys.stderr)
    if failed == len(calls):
        raise SystemExit("no timed call succeeded")
    s = bench.summary
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
          + ", ".join(f"{k}={s[k]:.4g} {u}" for k, u in E2E_UNITS.items())
          + f", failed_frac={failed / len(calls):.4g} 1 ({failed}/{len(calls)} calls)"
          + f", slope_ratio={s['slope_ratio']:.4g} (first third / last third of calls)")
    units = LAYER_UNITS if args.trace else E2E_UNITS
    print(json.dumps({
        "correct": failed == 0 and not layer_errors,
        "attempted": len(calls),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
