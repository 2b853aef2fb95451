#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source with sbt (perfbench/engine); later runs reuse the build
while the sources are unchanged. Inputs are generated from --seed, the engine
runs in its own JVM, every run applies the correctness gate, and the last
line of stdout is one JSON object: correct, attempted, failed and metrics
(the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1). Workloads, metrics and the layer map are described in
perfbench/NOTES.md.
"""

import argparse
import hashlib
import http.client
import json
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from stub import MARK as STUB_MARK, Stub  # noqa: E402

WORK = os.path.join(HERE, ".work")
ENGINE_DIR = os.path.join(HERE, "engine")
SOURCES = [os.path.join(ROOT, "src", "main"), os.path.join(ENGINE_DIR, "src"),
           os.path.join(ENGINE_DIR, "build.sbt"), os.path.join(ENGINE_DIR, "project", "build.properties")]
FIXTURES = os.path.join(ROOT, "src", "test", "resources")

# the heap the repository's own run configuration (build.sbt) gives Spark
HEAP = os.environ.get("SPARK_DRIVER_MEM", "8g")
# Spark on JDK 17 outside spark-submit needs these (the repository's build.sbt
# passes the same list to its forked runs)
OPENS = [f for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for f in ("--add-opens", p + "=ALL-UNNAMED")]

SERVE_POOL = 200         # distinct single-record bodies per run: no body repeats
SERVE_MIN_REQUESTS = 6   # per measured loop, however long requests take
SERVE_TRACED = 1         # bodies sent through the direct and traced paths
# Per-call time of the stub. No measured or cited figure for the reference's
# gpt-4o deployment (max_tokens=300) is at hand; 1 s is an estimate of a
# one-sentence rewrite: about 0.5 s to the first token plus 20-40 output
# tokens at 50-100 tokens/s. perfbench/NOTES.md gives the LLM share of a
# request that follows from it.
LLM_DELAY_S = 1.0
BATCH_RECORDS = 1000
BATCH_PER_BODY = 50
BATCH_SAMPLE = 4
CURATION_DOCS = 10000
TRACED_DOCS = 2000       # curation corpus traced in batch_jsonl's traced run
TRACED_PASSES = 1
# measured passes at least, however long they take: with --trace 1 the
# untimed passes only feed the per-op engine counters
MIN_PASSES = {"batch": (2, 1), "curation": (3, 1)}
RUN_LIMIT_S = 165         # a run gives up rather than overrun 180 s
LANG_DEFAULTS = {"本項無補充說明", "No additional information for this item.",
                 "この項目に関する追加情報はありません。", "本项无补充说明。"}
MOCK_MARK = "[LLM_OUTPUT]"

END_TO_END = {"setup_s": "s", "latency_p50_ms": "ms", "latency_tail_ms": "ms",
              "throughput_rps": "1/s", "records_per_s": "1/s", "docs_per_s": "1/s",
              "retained_heap_mb": "MB"}
PER_LAYER = {
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count", "spark.tasks_per_op": "count",
    "spark.task_busy_share": "ratio", "spark.shuffle_write_bytes": "bytes", "spark.gc_ms": "ms",
    "serve.shell_ms": "ms", "ingest.busy_ms": "ms", "ingest.rows_out": "count",
    "dims.busy_ms": "ms", "enrich.busy_ms": "ms", "enrich.fanout": "ratio",
    "clean.busy_ms": "ms", "clean.keep_ratio": "ratio", "llm.busy_ms": "ms",
    "llm.calls": "count", "llm.default_bypass": "count", "llm.retries": "count",
    "llm.failed": "count", "llm.max_in_flight": "count", "llm.wait_ms": "ms",
    "report.busy_ms": "ms", "sinks.busy_ms": "ms", "sinks.bytes_written": "bytes",
    "sinks.files_written": "count", "dedup.busy_ms": "ms", "dedup.pairs_out": "count",
    "clusters.busy_ms": "ms", "clusters.components": "count", "textops.busy_ms": "ms",
    "textops.keep_ratio": "ratio", "sampling.busy_ms": "ms",
    "pipeline.unattributed_ms": "ms", "trace.overhead_ms": "ms",
}
# traced stages per workload family; each span's duration is its layer's
# self time (stage spans have no children)
STAGES = {"serve": ["ingest", "dims", "enrich", "clean", "llm", "report"],
          "batch": ["ingest", "dims", "enrich", "clean", "llm", "report", "sinks"],
          "curation": ["read", "dedup", "clusters", "textops", "sampling", "write"]}


class BenchError(Exception):
    pass


# ------------------------------------------------------------------ build

def build():
    """Compile the engine and harness; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError("engine sources (src/main/scala/graft) not found next to perfbench/")
    if not os.environ.get("SPARK_HOME"):
        raise BenchError("SPARK_HOME is not set; the build takes Spark's jars from it")
    digest = hashlib.sha256()
    for src in SOURCES:
        paths = [src] if os.path.isfile(src) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(src) for f in fs)
        for p in paths:
            digest.update(p.encode())
            with open(p, "rb") as f:
                digest.update(f.read())
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest.hexdigest():
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS") or "-Dsbt.offline=true -Xmx2g") + \
        " -Dsbt.server.autostart=false"
    with open(os.path.join(WORK, "build.log"), "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=ENGINE_DIR, env=env, stdout=subprocess.PIPE, stderr=log, text=True, timeout=800)
        log.write(proc.stdout)
    lines = [ln for ln in proc.stdout.splitlines() if "scala-2.13/classes" in ln and "[" not in ln]
    if proc.returncode != 0 or not lines:
        raise BenchError("engine build failed; see perfbench/.work/build.log")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    with open(cp_file) as f:
        return f.read()


# ----------------------------------------------------------------- engine

class Engine:
    """The engine JVM. `t0` is taken just before launch, so set-up time
    covers JVM start, session start and the first unit of work."""

    def __init__(self, cp, mode, run_dir, env=None, **kv):
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cores = len(os.sched_getaffinity(0))
        self.cores = cores
        cmd = (["java", "-Xmx" + HEAP] + OPENS +
               ["-Dfile.encoding=UTF-8", "-Dspark.ui.enabled=false", "-Djava.io.tmpdir=" + tmp,
                "-cp", cp, "perfbench.Engine", mode, "cores=%d" % cores, "tmp=" + tmp] +
               ["%s=%s" % kv_ for kv_ in kv.items()])
        full_env = {k: v for k, v in os.environ.items()
                    if not k.startswith("AZURE_OPENAI_") and k != "GRAFT_DIMS_DIR"}
        full_env.update(env or {})
        full_env["SPARK_LOCAL_DIRS"] = tmp
        self.log = open(os.path.join(run_dir, "engine.log"), "w")
        self.lines = queue.Queue()
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(cmd, cwd=run_dir, env=full_env, stdout=subprocess.PIPE,
                                     stderr=self.log, text=True)
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self):
        for line in self.proc.stdout:
            self.lines.put((time.perf_counter(), line.strip()))
        self.lines.put((time.perf_counter(), None))

    def wait_for(self, prefix, timeout):
        """Block until the engine prints a line starting with `prefix`;
        return (seconds since launch, line)."""
        end = time.perf_counter() + timeout
        while True:
            try:
                t, line = self.lines.get(timeout=max(0.01, end - time.perf_counter()))
            except queue.Empty:
                raise BenchError("engine did not print %s in %ds" % (prefix, timeout))
            if line is None:
                raise BenchError("engine exited early; see %s" % self.log.name)
            if line.startswith(prefix):
                return t - self.t0, line

    def wait(self, timeout):
        try:
            code = self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise BenchError("engine did not finish in %ds" % timeout)
        if code != 0:
            raise BenchError("engine exited with %d; see %s" % (code, self.log.name))

    def stop(self):
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        self.reader.join(timeout=5)
        self.log.close()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    s = sorted(xs)
    k = (len(s) - 1) * p
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


# ------------------------------------------------------------------ serve

class Client:
    def __init__(self, port):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)

    def post(self, path, body):
        data = body.encode("utf-8")
        self.conn.request("POST", path, body=data,
                          headers={"Content-Type": "application/json",
                                   "Content-Length": str(len(data))})
        resp = self.conn.getresponse()
        return resp.status, json.loads(resp.read().decode("utf-8"))

    def close(self):
        self.conn.close()


def check_reports(reports, reported, known_lang, mark, texts):
    """The per-request gate: one report iff the record has a non-blank
    comment, and every summary line of a known-language record is either
    the language default or the client's rewrite of a catalog text."""
    if len(reports) != (1 if reported else 0):
        return False
    if not known_lang:
        return True
    for report in reports:
        for line in report.split("\n"):
            if line.startswith(" " * 12):
                s = line[12:]
                if s not in LANG_DEFAULTS and not (s.startswith(mark) and s[len(mark):] in texts):
                    return False
    return True


def golden(mark):
    with open(os.path.join(FIXTURES, "rich_request.json"), encoding="utf-8") as f:
        body = f.read()
    with open(os.path.join(FIXTURES, "rich_golden.jsonl"), encoding="utf-8") as f:
        rows = [json.loads(line) for line in f if line.strip()]
    return body, [r["report"].replace(MOCK_MARK, mark) for r in rows]


def run_serve(args, cp, run_dir, llm):
    texts = gen.write_dims(os.path.join(run_dir, "dims"), FIXTURES)
    text_set = set(texts)
    bodies = gen.serve_bodies(args.seed, SERVE_POOL)
    mark = STUB_MARK if llm else MOCK_MARK
    stub = Stub(texts, LLM_DELAY_S).start() if llm else None
    env = {"GRAFT_DIMS_DIR": os.path.join(run_dir, "dims")}
    if llm:
        env.update(AZURE_OPENAI_ENDPOINT=stub.endpoint, AZURE_OPENAI_API_KEY="benchmark")
    eng = Engine(cp, "serve", run_dir, env, spans=os.path.join(WORK, "spans-%s.jsonl" % args.workload))
    client = None
    counts = {"attempted": 0, "failed": 0}
    nxt = iter(bodies)

    def request(body, reported, known):
        if time.perf_counter() - eng.t0 > RUN_LIMIT_S:
            raise BenchError("run exceeded %ds" % RUN_LIMIT_S)
        counts["attempted"] += 1
        t = time.perf_counter()
        status, out = client.post("/process", body)
        dt = time.perf_counter() - t
        reports = [r["report"] for r in out.get("rows", [])]
        if status != 200 or not check_reports(reports, reported, known, mark, text_set):
            counts["failed"] += 1
        return dt, reports

    def loop(seconds, min_requests):
        """Closed loop; returns request times, reports returned, wall time."""
        lat, docs, start = [], 0, time.perf_counter()
        while time.perf_counter() - start < seconds or len(lat) < min_requests:
            dt, reports = request(*next(nxt))
            lat.append(dt)
            docs += len(reports)
        return lat, docs, time.perf_counter() - start

    try:
        _, line = eng.wait_for("PORT", 150)
        client = Client(int(line.split()[1]))
        # the cold first request is the golden replay
        g_body, g_reports = golden(mark)
        counts["attempted"] += 1
        status, out = client.post("/process", g_body)
        setup_s = time.perf_counter() - eng.t0
        if status != 200 or [r["report"] for r in out["rows"]] != g_reports:
            counts["failed"] += 1
        # one untimed warm-up request: requests keep getting faster while
        # the JIT compiles, and the earliest ones set the tail
        request(*next(nxt))

        if args.trace == 0:
            lat, docs, wall = loop(args.seconds, SERVE_MIN_REQUESTS)
            print("request latencies (s): %s" % " ".join("%.3f" % x for x in lat), file=sys.stderr)
            _, stats = client.post("/perfbench/stats", "gc")
            metrics = {
                "setup_s": setup_s,
                "latency_p50_ms": median(lat) * 1e3,
                "latency_tail_ms": percentile(lat, 0.9) * 1e3,
                "throughput_rps": len(lat) / wall,
                "records_per_s": len(lat) / wall,
                "docs_per_s": docs / wall,
                "retained_heap_mb": stats["heap_mb"],
            }
        else:
            _, s0 = client.post("/perfbench/stats", "")
            lat, _, wall = loop(args.seconds / 2.0, 2)
            _, s1 = client.post("/perfbench/stats", "")
            n = len(lat)
            d = {k: s1[k] - s0[k] for k in s0}
            shell, unattributed, overhead, traces = [], [], [], []
            for _ in range(SERVE_TRACED):
                body, reported, known = next(nxt)
                http_s, _ = request(body, reported, known)
                counts["attempted"] += 2
                status, direct = client.post("/perfbench/direct", body)
                if status != 200 or not check_reports(direct["reports"], reported, known, mark,
                                                      text_set):
                    counts["failed"] += 1
                status, tr = client.post("/perfbench/trace", body)
                if status != 200 or tr["reports"] != direct.get("reports"):
                    counts["failed"] += 1
                    continue
                traces.append(tr)
                spans = {s["name"]: s for s in tr["spans"]}
                shell.append(http_s * 1e3 - direct["ms"])
                unattributed.append(direct["ms"] - sum(spans[s]["ms"] for s in STAGES["serve"]))
                overhead.append(spans["op"]["ms"] - direct["ms"])
            metrics = layer_metrics(traces, "serve")
            metrics.update({
                "spark.jobs_per_op": d["jobs"] / n, "spark.stages_per_op": d["stages"] / n,
                "spark.tasks_per_op": d["tasks"] / n,
                "spark.task_busy_share": d["run_ms"] / (wall * 1e3 * eng.cores),
                "spark.shuffle_write_bytes": d["shuffle_bytes"] / n, "spark.gc_ms": d["gc_ms"] / n,
                "serve.shell_ms": median(shell),
                "pipeline.unattributed_ms": median(unattributed),
                "trace.overhead_ms": median(overhead),
            })
            if stub:
                c, ops = stub.counters(), counts["attempted"]
                metrics.update({"llm.retries": c["rate_limited"] / ops,
                                "llm.failed": c["errors"] + c["unanswered_429"],
                                "llm.max_in_flight": c["max_in_flight"],
                                "llm.wait_ms": c["wait_ms"] / ops})
        client.conn.request("POST", "/perfbench/quit", body=b"")
        client.conn.getresponse().read()
        eng.wait(60)
    finally:
        if client:
            client.close()
        eng.stop()
        if stub:
            stub.stop()
    if stub:
        c = stub.counters()
        counts["failed"] += c["errors"] + c["unanswered_429"]
    return metrics, counts


def layer_metrics(traces, family):
    """Per-layer medians over traced operations, each a dict with "spans"
    (name -> ms, rows, counters) and the LLM call counts."""
    def span_med(name, key="ms"):
        return median([next(s[key] for s in t["spans"] if s["name"] == name) for t in traces])

    def ratio(name):
        vals = [(s["rows_out"] / s["rows_in"]) for t in traces for s in t["spans"]
                if s["name"] == name and s["rows_in"]]
        return median(vals)

    m = {stage + ".busy_ms": span_med(stage) for stage in STAGES[family]
         if stage + ".busy_ms" in PER_LAYER}
    if family in ("serve", "batch"):
        m.update({"ingest.rows_out": span_med("ingest", "rows_out"),
                  "enrich.fanout": ratio("enrich"), "clean.keep_ratio": ratio("clean"),
                  "llm.calls": median([t["llm_calls"] for t in traces]),
                  "llm.default_bypass": median([t["llm_bypass"] for t in traces])})
    if family == "curation":
        m.update({"dedup.pairs_out": span_med("dedup", "rows_out"),
                  "textops.keep_ratio": ratio("textops"),
                  "clusters.components": median([t["components"] for t in traces])})
    return m


# ---------------------------------------------------- batch and curation

def run_passes(args, cp, run_dir, mode, n_in, **kv):
    """Launch a pass-loop engine; return its result and the end-to-end
    metrics common to the pass workloads."""
    result = os.path.join(run_dir, "result.json")
    eng = Engine(cp, mode, run_dir, seconds=args.seconds, trace=args.trace,
                 traced=TRACED_PASSES, passes=MIN_PASSES[mode][args.trace], result=result, out=os.path.join(run_dir, "out"),
                 spans=os.path.join(WORK, "spans-%s.jsonl" % args.workload), **kv)
    try:
        setup_s, _ = eng.wait_for("SETUP_DONE", 150)
        eng.wait(RUN_LIMIT_S - (time.perf_counter() - eng.t0))
    finally:
        eng.stop()
    with open(result) as f:
        res = json.load(f)
    passes = [ms / 1e3 for ms in res["pass_ms"]]
    p50 = median(passes)
    return res, {
        "setup_s": setup_s,
        "latency_p50_ms": p50 * 1e3,
        "latency_tail_ms": max(passes) * 1e3,
        "throughput_rps": len(passes) / (res["wall_ms"] / 1e3),
        "records_per_s": n_in / p50,
        "retained_heap_mb": res["heap_mb"],
    }


def pass_layer_metrics(res, family, n_ops):
    traces = res["traced"]
    c = res["counters"]
    p50 = median(res["pass_ms"])
    m = layer_metrics(traces, family)
    m.update({
        "spark.jobs_per_op": c["jobs"] / n_ops, "spark.stages_per_op": c["stages"] / n_ops,
        "spark.tasks_per_op": c["tasks"] / n_ops,
        "spark.task_busy_share": c["run_ms"] / (res["wall_ms"] * len(os.sched_getaffinity(0))),
        "spark.shuffle_write_bytes": c["shuffle_bytes"] / n_ops, "spark.gc_ms": c["gc_ms"] / n_ops,
        "sinks.bytes_written": res["sink_bytes"], "sinks.files_written": res["sink_files"],
        "pipeline.unattributed_ms": p50 - median(
            [sum(s["ms"] for s in t["spans"] if s["name"] in STAGES[family]) for t in traces]),
        "trace.overhead_ms": median([t["ms"] for t in traces]) - p50,
    })
    return m


def curation_ok(output, expected):
    """The curation gate: exactly the expected doc ids, each assigned a split."""
    import pyarrow.parquet as pq
    out = pq.read_table(output).to_pydict()
    return sorted(out["doc_id"]) == sorted(expected) and set(out["split"]) <= {"train", "val", "test"}


def run_batch(args, cp, run_dir):
    gen.write_dims(os.path.join(run_dir, "dims"), FIXTURES)
    inp, sample = os.path.join(run_dir, "bodies.jsonl"), os.path.join(run_dir, "sample.json")
    g_body, g_reports = golden(MOCK_MARK)
    expected = gen.batch_input(args.seed, BATCH_RECORDS, BATCH_PER_BODY, inp, sample, BATCH_SAMPLE,
                               g_body, len(g_reports))
    extra = {}
    if args.trace == 1:
        extra["docs"] = os.path.join(run_dir, "documents.parquet")
        expected_docs = gen.documents(args.seed, TRACED_DOCS, extra["docs"])
    res, metrics = run_passes(args, cp, run_dir, "batch", BATCH_RECORDS, input=inp,
                                       dims=os.path.join(run_dir, "dims"), sample=sample,
                                       fixtures=FIXTURES, **extra)
    g = res["gate"]
    n_pass = len(res["pass_ms"])
    counts = {"attempted": n_pass + 1 + g["sample_records"],
              "failed": (g["reports"] != expected) + (g["distinct_ids"] != expected) +
              (not g["golden_ok"]) + g["sample_failed"]}
    if args.trace == 0:
        metrics["docs_per_s"] = expected / (metrics["latency_p50_ms"] / 1e3)
        return metrics, counts
    counts["attempted"] += len(res["traced"]) + 1
    counts["failed"] += sum(not t["reports_match"] for t in res["traced"])
    counts["failed"] += not curation_ok(res["curation"]["output"], expected_docs)
    metrics = pass_layer_metrics(res, "batch", n_pass)
    metrics.update(layer_metrics([res["curation"]], "curation"))
    return metrics, counts


def run_curation(args, cp, run_dir):
    inp = os.path.join(run_dir, "documents.parquet")
    expected = gen.documents(args.seed, CURATION_DOCS, inp)
    res, metrics = run_passes(args, cp, run_dir, "curation", CURATION_DOCS, input=inp)
    n_pass = len(res["pass_ms"])
    counts = {"attempted": n_pass + 1, "failed": 0 if curation_ok(res["output"], expected) else 1}
    if args.trace == 0:
        metrics["docs_per_s"] = len(expected) / (metrics["latency_p50_ms"] / 1e3)
        return metrics, counts
    counts["attempted"] += len(res["traced"])
    counts["failed"] += sum(not curation_ok(t["output"], expected) for t in res["traced"])
    metrics = pass_layer_metrics(res, "curation", n_pass)
    metrics["sinks.busy_ms"] = median([s["ms"] for t in res["traced"] for s in t["spans"]
                                       if s["name"] == "write"])
    return metrics, counts


WORKLOADS = {
    "serve_mock": lambda a, cp, d: run_serve(a, cp, d, llm=False),
    "serve_llm": lambda a, cp, d: run_serve(a, cp, d, llm=True),
    "batch_jsonl": run_batch,
    "curation_docs": run_curation,
}


def main():
    # a terminated run still stops its engine and stub (finally blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        os.makedirs(WORK, exist_ok=True)
        cp = build()
        run_dir = os.path.join(WORK, "run-" + args.workload)
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        metrics, counts = WORKLOADS[args.workload](args, cp, run_dir)
    except (BenchError, OSError, ValueError, KeyError, subprocess.SubprocessError) as e:
        print("benchmark failed: %s" % e, file=sys.stderr)
        return 1
    units = END_TO_END if args.trace == 0 else PER_LAYER
    out = {name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
           for name, unit in units.items()}
    print(json.dumps({"correct": counts["failed"] == 0, "attempted": counts["attempted"],
                      "failed": counts["failed"], "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
