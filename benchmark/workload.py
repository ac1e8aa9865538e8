"""One workload run, in its own process (started by run.py).

Set-up (Spark session, seeded inputs written to parquet, oracle index,
and for refresh_zipf the initial build) is timed as ``setup_s``; the
session starts in a thread while the inputs and the oracle are made.
The timed phases follow; every output is then checked against the
pure-Python oracle, untimed. A mismatch exits non-zero without numbers.
The result goes to ``--out`` as JSON for run.py to print.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import concurrent.futures  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import gate  # noqa: E402
import inputs  # noqa: E402
from tracing import Tracer, install  # noqa: E402

N_SHARDS = 4
# corpus sizes: set by the run budget, so that a run with its Spark start
# and cold-JVM build stays near a minute on 4 CPUs; at these sizes the
# WAND driver's per-query cost, not the decode, is most of a query
# (README.md has the traced split)
SIZES = {"serve_zipf": 6_000, "refresh_zipf": 2_000}
TINY_SIZE = 600
# engine opens per run: the one that serves the stream, then one more
# after each of the OPENS - 1 equal slices of the stream, so the open
# samples are spread over the timed phase like the query samples
OPENS = 4


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, the fields after it) of a /proc stat file."""
    try:
        with open(path) as f:
            text = f.read()
    except OSError:
        return None  # exited meanwhile: its parent's cutime holds it
    head, rest = text.rsplit(")", 1)
    return head.split("(", 1)[1], rest.split()


def _tree_cpu_s() -> tuple[float, float]:
    """CPU seconds used so far by this process and its descendants (the
    Spark JVM, pyspark.daemon and its workers), the exited ones they
    reaped included; and the part of it the JVM's JIT compiler threads
    used. Steal and run-queue waits are not CPU time, so on a shared
    host this is far steadier than the wall time of an operation. JIT
    compilation is about a third of a write's CPU in a fresh JVM and
    varies from run to run with the compiler's timing, so the timed
    operations leave it out (the JVM runs with a fixed set of compiler
    threads, see start_spark, so none exits with its time uncounted)."""
    stats: dict[int, tuple[str, list[str]]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(f"/proc/{name}/stat")):
            stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, fields) in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    ticks = jit = 0
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            comm, fields = stats[pid]
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
            if comm == "java":
                for tid in os.listdir(f"/proc/{pid}/task"):
                    st = _stat(f"/proc/{pid}/task/{tid}/stat")
                    if st and st[0].startswith(("C1 CompilerThre", "C2 CompilerThre")):
                        jit += int(st[1][11]) + int(st[1][12])
        todo += children.get(pid, [])
    return ticks * _TICK_S, jit * _TICK_S


def _dir_bytes(path: str, suffix: str = ".parquet") -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(suffix))
    return total


def _p50_ms(xs: list[float]) -> float:
    return statistics.median(xs) * 1000.0


def _p90_ms(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10)[-1] * 1000.0


class Run:
    def __init__(self, args, session: concurrent.futures.Future):
        self.args = args
        self._session = session
        self._spark = None
        self.work = os.getcwd()
        self.tracer = Tracer()
        self.trace = args.trace == 1
        if self.trace:
            install(self.tracer)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.outcomes: dict[str, set] = {}
        # per timed query: (wall s, CPU s of this process)
        self.lat_warm: list[tuple[float, float]] = []
        self.lat_cold: list[tuple[float, float]] = []
        self.lat_traced_warm: list[float] = []  # CPU s
        self.lat_untraced_warm: list[float] = []
        self.open_s: list[tuple[float, float]] = []  # (wall s, tree CPU s)
        self.jit_cpu_s = 0.0  # JIT compilation during the timed operations
        self.n_traced = 0
        self.traced_queries: dict[int, tuple[bool, float]] = {}  # qid -> (warm, decode ms)
        self.groups: set[str] = set()
        self.phases: dict[str, float] = {}

    # ----------------------------------------------------------- helpers
    @property
    def spark(self):
        """The session, once its start (begun in main) has finished."""
        if self._spark is None:
            self._spark, ready = self._session.result()
            self.phases["spark_session"] = round(ready - PROCESS_START, 3)
        return self._spark

    @property
    def sc(self):
        return self.spark.sparkContext

    def size(self, workload: str) -> int:
        return TINY_SIZE if self.args.tiny else SIZES[workload]

    def group(self, name: str) -> None:
        """Attribute the Spark jobs that follow to ``name`` (traced run)."""
        if self.trace:
            self.groups.add(name)
            self.sc.setJobGroup(name, name)

    def load_corpus(self, pdf, name: str):
        """Write ``pdf`` to parquet; return its path, the oracle index
        over it and its input bytes (path + content). Needs no Spark."""
        from posik_engine_spark.oracle import build_oracle_index

        path = os.path.join(self.work, f"{name}.parquet")
        pdf.to_parquet(path, index=False)
        rows = [
            {"doc_id": inputs.doc_id(r, p, c), "repo": r, "path": p, "content": t}
            for r, p, c, t in zip(pdf["repo"], pdf["path"], pdf["commit"], pdf["content"])
        ]
        oracle = build_oracle_index(rows)
        in_bytes = sum(len(r["path"].encode()) + len(r["content"].encode()) for r in rows)
        self.mark(f"inputs_{name}")
        return path, oracle, in_bytes

    def mark(self, phase: str) -> None:
        """Record when a phase ended (seconds since process start)."""
        self.phases[phase] = round(time.time() - PROCESS_START, 3)

    def op(self, name: str, fn):
        """One timed non-query operation: returns (result, wall seconds,
        CPU seconds of the process tree but for JIT compilation)."""
        self.attempted += 1
        self.tracer.enabled = self.trace
        cpu0, jit0 = _tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                out = fn()
        except Exception:
            self.failed += 1
            traceback.print_exc()
            raise
        finally:
            self.tracer.enabled = False
        dt = time.perf_counter() - t0
        cpu1, jit1 = _tree_cpu_s()
        self.jit_cpu_s += jit1 - jit0
        self.mark(name)
        return out, dt, (cpu1 - cpu0) - (jit1 - jit0)

    def setup_done(self) -> None:
        self.mark("setup")
        self.jit_cpu_s = 0.0
        self.metrics["setup_s"] = (time.time() - PROCESS_START, "s")
        self.cpu0 = _cpu_times()

    def timed_done(self) -> None:
        self.mark("timed")
        cpu1 = _cpu_times()
        d = [b - a for a, b in zip(self.cpu0, cpu1)]
        total = sum(d[:8]) or 1
        idle = d[3] + d[4]
        self.layer["host.busy_pct"] = (100.0 * (total - idle) / total, "%")
        self.layer["host.steal_pct"] = (100.0 * d[7] / total, "%")

    def query(self, engine, q: str, seen: set, qid: int, timed: bool = True) -> None:
        warm = q in seen
        seen.add(q)
        # trace alternate blocks of COLD_EVERY queries, so that half the warm
        # and half the cold ones are traced and the rest time the overhead
        traced = self.trace and (qid // inputs.COLD_EVERY) % 2 == 0
        self.tracer.enabled = traced
        self.tracer.query_id = qid
        self.attempted += 1
        decode0 = self.tracer.counters["codec.decode_ms"]
        c0 = time.process_time()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("query"):
                out = gate.outcome_of(lambda: engine.search(q))
        except Exception as e:
            # the oracle never predicts this outcome, so the gate fails
            self.failed += 1
            traceback.print_exc()
            out = ("raised", f"{type(e).__name__}: {e}")
        dt = time.perf_counter() - t0
        cpu = time.process_time() - c0
        self.tracer.enabled = False
        self.outcomes.setdefault(q, set()).add(out)
        if not timed or out[0] == "raised":
            return
        self.n_traced += traced
        (self.lat_warm if warm else self.lat_cold).append((dt, cpu))
        if traced:
            self.traced_queries[qid] = (warm, self.tracer.counters["codec.decode_ms"] - decode0)
        if warm and self.trace:
            (self.lat_traced_warm if traced else self.lat_untraced_warm).append(cpu)

    def warm_up(self, engine, pool: list[str], seen: set) -> None:
        """One untimed pass over the hot pool, so that in the timed
        stream only the interleaved never-seen queries are cold."""
        self.group("warmup")
        for q in pool:
            self.query(engine, q, seen, -1, timed=False)

    def stream(self, engine, stream: inputs.QueryStream, seen: set, ix_dir: str, cs_dir: str) -> None:
        """``--seconds`` of queries in OPENS - 1 equal slices, each
        followed by the open (and close) of a second engine on the same
        index; the serving engine stays open throughout."""
        slice_s = self.args.seconds / (OPENS - 1)
        qid = 0
        other_cpu = 0.0  # CPU outside this process (the JVM) while queries run
        for _ in range(OPENS - 1):
            self.group("query")
            t_end = time.perf_counter() + slice_s
            tree0, own0 = _tree_cpu_s()[0], time.process_time()
            while time.perf_counter() < t_end:
                self.query(engine, stream.next(), seen, qid)
                qid += 1
            other_cpu += (_tree_cpu_s()[0] - tree0) - (time.process_time() - own0)
            self.open_engine(ix_dir, cs_dir).close()
        self.layer["jvm.cpu_ms_per_query"] = (max(0.0, other_cpu) * 1000.0 / qid, "ms/query")

    def open_engine(self, ix_dir: str, cs_dir: str):
        from posik_engine_spark.operators.search import SearchEngine

        self.group("open")
        engine, wall, cpu = self.op(
            "open",
            lambda: SearchEngine.from_index_dir(self.spark, ix_dir, content_dir=cs_dir),
        )
        self.open_s.append((wall, cpu))
        return engine

    def open_metrics(self) -> None:
        """Median open; the traced split is the mean wall time over the opens."""
        n = len(self.open_s)
        self.metrics["engine_open_cpu_s"] = (statistics.median(c for _, c in self.open_s), "s")
        wall = [w for w, _ in self.open_s]
        self.layer["wall.engine_open_s"] = (statistics.median(wall), "s")
        if self.trace:
            load_s = self.tracer.total_ms("index.load_index") / 1000.0 / n
            self.layer["index.load_index_s"] = (load_s, "s")
            self.layer["search.engine_init_s"] = (sum(wall) / n - load_s, "s")

    def write_metrics(self, wall: float, cpu: float) -> None:
        self.metrics["index_write_cpu_s"] = (cpu, "s")
        self.layer["wall.index_write_s"] = (wall, "s")
        self.layer["jvm.write_jit_cpu_s"] = (self.jit_cpu_s, "s")

    def save_store(self, docs, cs_dir: str) -> tuple[float, float]:
        from posik_engine_spark.operators.content_store import save_content_store

        _, wall, cpu = self.op("content_store.save", lambda: save_content_store(docs, cs_dir))
        self.layer["content_store.save_s"] = (wall, "s")
        self.layer["content_store.bytes"] = (_dir_bytes(cs_dir), "bytes")
        return wall, cpu

    # ------------------------------------------------------ measurements
    def build_layers(self, ix_dir: str, build_s: float, counters: dict) -> None:
        from posik_engine_spark.operators.lifecycle import read_lineage

        walls = {"prepare": 0.0, "stats": 0.0, "blocks": 0.0}
        for rec in read_lineage(ix_dir):
            stage = "blocks" if rec["stage"].startswith("blocks_batch_") else rec["stage"]
            if stage in walls and rec["state"] == "DONE":
                walls[stage] += rec["finished_at"] - rec["started_at"]
        for k, v in walls.items():
            self.layer[f"lifecycle.{k}_s"] = (v, "s")
        self.layer["lifecycle.outside_stages_s"] = (build_s - sum(walls.values()), "s")
        for k in ("docs_tokenized", "postings_emitted", "terms", "blocks_merged"):
            self.layer[f"lifecycle.{k}"] = (counters.get(k, 0), "count")

    def index_layers(self, ix_dir: str, postings: int, in_bytes: int) -> None:
        sizes = {t: _dir_bytes(os.path.join(ix_dir, t)) for t in ("blocks", "doc_stats", "term_stats")}
        self.metrics["index_bytes_per_input_byte"] = (sum(sizes.values()) / in_bytes, "ratio")
        for t, b in sizes.items():
            self.layer[f"index.{t}_bytes"] = (b, "bytes")
        self.layer["index.blocks_bytes_per_posting"] = (sizes["blocks"] / postings, "bytes/posting")

    def query_metrics(self) -> None:
        lat = self.lat_warm + self.lat_cold
        for i, out, key in ((1, self.metrics, "{}_cpu_ms"), (0, self.layer, "wall.{}_ms")):
            out[key.format("warm_query_p50")] = (_p50_ms([x[i] for x in self.lat_warm]), "ms")
            out[key.format("cold_query_p50")] = (_p50_ms([x[i] for x in self.lat_cold]), "ms")
            out[key.format("query_p90")] = (_p90_ms([x[i] for x in lat]), "ms")
        self.info = {
            "queries": len(lat),
            "warm": len(self.lat_warm),
            "cold": len(self.lat_cold),
            "distinct_queries": len(self.outcomes),
            "opens_wall_cpu_s": [[round(w, 3), round(c, 2)] for w, c in self.open_s],
            "tie_capped_queries": self.tie_capped,
            "phases_s": self.phases,
            "host_steal_pct": round(self.layer["host.steal_pct"][0], 2),
            "wall": {k: round(v, 4) for k, (v, _) in self.layer.items() if k.startswith("wall.")},
        }

    def spark_layers(self) -> None:
        st = self.sc.statusTracker()
        jobs: dict[str, int] = {}
        tasks = failed = 0
        for g in self.groups:
            ids = st.getJobIdsForGroup(g)
            jobs[g] = len(ids)
            for j in ids:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    si = st.getStageInfo(s)
                    if si is not None:
                        failed += si.numFailedTasks
                        if g == "build":
                            tasks += si.numCompletedTasks
        self.layer["spark.build_jobs"] = (jobs.get("build", 0), "count")
        self.layer["spark.build_tasks"] = (tasks, "count")
        self.layer["spark.failed_tasks"] = (failed, "count")
        self.layer["spark.update_jobs"] = (jobs.get("update", 0), "count")
        self.layer["spark.open_jobs"] = (jobs.get("open", 0) / len(self.open_s), "count")
        n_q = len(self.lat_warm) + len(self.lat_cold)
        self.layer["spark.jobs_per_query"] = (jobs.get("query", 0) / n_q, "count/query")

    def serving_layers(self) -> None:
        t, c, n = self.tracer, self.tracer.counters, max(1, self.n_traced)
        selfs = t.self_ms()
        per_q = {
            "wand.driver_self_ms": selfs.get("wand.driver", 0.0),
            "codec.decode_ms": c["codec.decode_ms"],
            "direct_io.blocks_ms": t.total_ms("direct_io.blocks"),
            "direct_io.resolve_ms": t.total_ms("direct_io.resolve"),
            "content_store.fetch_ms": t.total_ms("content_store.fetch"),
            "search.analyze_ms": t.total_ms("search.analyze"),
            "snippet.ms": t.total_ms("snippet"),
        }
        for k, v in per_q.items():
            self.layer[k] = (v / n, "ms/query")
        for k in (
            "codec.bytes_decoded", "wand.postings_total", "wand.postings_decoded",
            "wand.candidates_scored", "wand.tie_overflow", "direct_io.blocks_calls",
            "direct_io.blocks_rows", "direct_io.resolve_keys", "direct_io.dict_calls",
        ):
            self.layer[k] = (c[k] / n, "count/query")
        self.layer["wand.calls_per_query"] = (c["wand.calls"] / n, "count/query")
        total = c["wand.postings_total"]
        self.layer["wand.decode_ratio"] = (c["wand.postings_decoded"] / total if total else 0.0, "ratio")
        req = c["search.block_cache_requests"]
        hit = 1.0 - c["search.block_cache_misses"] / req if req else 0.0
        self.layer["search.block_cache_hit_ratio"] = (hit, "ratio")
        self.info["layer_split"] = self.layer_split()
        over = 0.0
        if self.lat_traced_warm and self.lat_untraced_warm:
            over = _p50_ms(self.lat_traced_warm) - _p50_ms(self.lat_untraced_warm)
        self.layer["trace.warm_cpu_overhead_ms"] = (over, "ms")

    def layer_split(self) -> dict:
        """For warm and for cold traced queries apart: the mean latency
        and the share of it spent in the WAND driver's own code (which
        includes the codec decodes), in the decodes alone, in the direct
        reads (blocks, ordinal resolve, dictionary) and in content fetch."""
        per_q = self.tracer.per_query_ms()
        out = {}
        for kind, warm in (("warm", True), ("cold", False)):
            qs = [q for q, (w, _) in self.traced_queries.items() if w == warm]
            total = sum(per_q[q]["query"][0] for q in qs)
            if not total:
                continue

            def share(*names, self_time=False):
                i = 1 if self_time else 0
                return round(sum(per_q[q][n][i] for q in qs for n in names) / total, 3)

            out[kind] = {
                "queries": len(qs),
                "mean_ms": round(total / len(qs), 2),
                "wand_driver_self": share("wand.driver", self_time=True),
                "codec_decode": round(sum(self.traced_queries[q][1] for q in qs) / total, 3),
                "direct_io": share("direct_io.blocks", "direct_io.resolve", "direct_io.dict"),
                "content_fetch": share("content_store.fetch"),
                "snippet": share("snippet"),
            }
        return out

    # ------------------------------------------------------------ checks
    def check_queries(self, oracle) -> None:
        bad, capped = gate.query_mismatches(self.outcomes, oracle, perturb=self.args.corrupt)
        self.problems += bad
        self.tie_capped = capped

    def check_counts(self, got: dict, want: dict) -> None:
        if self.args.corrupt:
            want = {k: v + 1 for k, v in want.items()}
        self.problems += gate.count_mismatches(got, want)


def _tail_terms(oracle) -> list[str]:
    """The corpus' Zipf-tail vocabulary, most frequent first."""
    tail = [t for t in oracle.postings if t.startswith("w") and t[1:].isdigit()]
    return sorted(tail, key=lambda t: (-len(oracle.postings[t]), t))


def serve_zipf(run: Run) -> None:
    """Build, open, then a query stream against the warmed hot pool."""
    from posik_engine_spark.operators.lifecycle import IndexBuilder

    seed = run.args.seed
    pdf = inputs.zipf_corpus(run.size("serve_zipf"), seed)
    path, oracle, in_bytes = run.load_corpus(pdf, "corpus")
    stream = inputs.QueryStream(_tail_terms(oracle))
    ix_dir, cs_dir = os.path.join(run.work, "index"), os.path.join(run.work, "content")
    docs = run.spark.read.parquet(path)
    run.setup_done()

    run.group("build")
    builder = IndexBuilder(run.spark, ix_dir, n_shards=N_SHARDS)
    _, build_s, build_cpu = run.op("build", lambda: builder.build(docs))
    cs_s, cs_cpu = run.save_store(docs, cs_dir)
    run.write_metrics(build_s + cs_s, build_cpu + cs_cpu)
    engine = run.open_engine(ix_dir, cs_dir)
    seen: set = set()
    run.warm_up(engine, stream.pool, seen)
    run.stream(engine, stream, seen, ix_dir, cs_dir)
    run.timed_done()
    engine.close()

    counters = builder.counters()
    run.check_counts(counters, gate.oracle_counts(oracle))
    run.check_queries(oracle)
    run.build_layers(ix_dir, build_s, counters)
    run.index_layers(ix_dir, counters.get("postings_emitted", 0) or 1, in_bytes)
    for k in ("incremental_s", "shards_rewritten", "docs_deleted"):
        run.layer[f"lifecycle.{k}"] = (0, "s" if k.endswith("_s") else "count")


def refresh_zipf(run: Run) -> None:
    """Set-up builds the corpus; timed: one incremental update to a new
    snapshot plus its content store, a fresh engine, and, after an
    untimed pass over the hot pool, a query stream on it."""
    from posik_engine_spark.operators.lifecycle import IndexBuilder, read_lineage

    seed = run.args.seed
    pdf0 = inputs.zipf_corpus(run.size("refresh_zipf"), seed)
    snap, changes = inputs.refresh_snapshot(pdf0, seed)
    path0, oracle0, _ = run.load_corpus(pdf0, "corpus")
    path1, oracle1, in_bytes = run.load_corpus(snap, "snapshot")
    stream = inputs.QueryStream(_tail_terms(oracle1), extra=("refreshed", "refreshed common1"))
    ix_dir, cs_dir = os.path.join(run.work, "index"), os.path.join(run.work, "content")
    docs0, docs1 = run.spark.read.parquet(path0), run.spark.read.parquet(path1)
    run.group("build")
    builder = IndexBuilder(run.spark, ix_dir, n_shards=N_SHARDS)
    _, build_s, _ = run.op("build", lambda: builder.build(docs0))
    build_counters = builder.counters()
    run.build_layers(ix_dir, build_s, build_counters)
    run.setup_done()

    run.group("update")
    _, update_s, update_cpu = run.op("update", lambda: builder.incremental_update(docs1))
    cs_s, cs_cpu = run.save_store(docs1, cs_dir)
    run.write_metrics(update_s + cs_s, update_cpu + cs_cpu)
    engine = run.open_engine(ix_dir, cs_dir)
    seen: set = set()
    run.warm_up(engine, stream.pool, seen)
    run.stream(engine, stream, seen, ix_dir, cs_dir)
    run.timed_done()
    n_docs = engine.ix.meta.n_docs
    engine.close()

    incr = [r for r in read_lineage(ix_dir) if "shards_rewritten" in r["counters"]]
    got = dict(build_counters)
    got.update({f"update_{k}": v for k, v in incr[-1]["counters"].items()} if incr else {})
    got["n_docs_after_update"] = n_docs
    want = gate.oracle_counts(oracle0)
    want.update(
        {
            "update_docs_tokenized": changes["modified"] + changes["added"],
            "update_docs_deleted": changes["modified"] + changes["deleted"],
            "n_docs_after_update": oracle1.n_docs,
        }
    )
    run.check_counts(got, want)
    run.check_queries(oracle1)
    postings = sum(len(p) for p in oracle1.postings.values())
    run.index_layers(ix_dir, postings, in_bytes)
    run.layer["lifecycle.incremental_s"] = (update_s, "s")
    run.layer["lifecycle.shards_rewritten"] = (got.get("update_shards_rewritten", 0), "count")
    run.layer["lifecycle.docs_deleted"] = (got.get("update_docs_deleted", 0), "count")


WORKLOADS = {"serve_zipf": serve_zipf, "refresh_zipf": refresh_zipf}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def start_spark(workload: str):
    """The run's Spark session, and the time it was ready."""
    from posik_engine_spark.session import get_spark

    work = os.getcwd()
    spark = get_spark(
        app_name=f"benchmark-{workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
                # compiler threads start with the JVM and never exit, so
                # _tree_cpu_s can count all of their time
                " -XX:-UseDynamicNumberOfCompilerThreads"
            ),
        },
    )
    return spark, time.time()


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", required=True)
    p.add_argument("--spans", default=None)
    p.add_argument("--tiny", action="store_true")
    p.add_argument("--corrupt", action="store_true")
    args = p.parse_args()

    import posik_engine_spark.session  # noqa: F401  (imported here, not in the thread)

    # the JVM starts while this thread makes the inputs and the oracle
    starter = concurrent.futures.ThreadPoolExecutor(max_workers=1)
    run = Run(args, starter.submit(start_spark, args.workload))
    starter.shutdown(wait=False)
    try:
        WORKLOADS[args.workload](run)
        if not run.problems:
            run.open_metrics()
            run.query_metrics()
            if run.trace:
                run.spark_layers()
                run.serving_layers()
    finally:
        run.tracer.enabled = False
        stop_spark(run.spark)
    if run.problems:
        print("correctness gate FAILED:", file=sys.stderr)
        for line in run.problems[:50]:
            print("  " + line, file=sys.stderr)
        return 1
    if args.spans and run.trace:
        run.tracer.write(args.spans)
    chosen = run.layer if run.trace else run.metrics
    result = {
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in chosen.items()},
        "info": run.info,
    }
    if any(not math.isfinite(m["value"]) for m in result["metrics"].values()):
        print(f"non-finite metric in {result['metrics']}", file=sys.stderr)
        return 1
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
