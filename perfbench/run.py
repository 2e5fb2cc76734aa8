"""Serving-and-ingest benchmark for agni-spark over HTTP.

    python3 perfbench/run.py --workload serve|ingest --seed N --seconds S --trace 0|1

Run from the repository root. One run:

1. generates the seeded base store (gen.Dataset) and the workload's
   requests, each with its expected answer;
2. starts the engine as its own server process (perfbench/server.py)
   and sends warm-up requests; start-up through warm-up is `setup_s`;
3. drives the server for S seconds from closed-loop callers (one
   thread each, one connection per request) and times each request up
   to the last byte of its response;
4. checks every response against its expected answer, reads the
   appended data back (ingest), collects store size and the server's
   peak RSS, and stops the server.

The last stdout line is one JSON object {"correct", "attempted",
"failed", "metrics"}: the end-to-end metrics with --trace 0, and with
--trace 1 the per-layer metrics of a run that traces half the requests
of each caller.
A wrong answer makes the run exit with status 1; a missing engine or a
server that fails to start exits with status 2 and prints no result.
"""

from __future__ import annotations

import argparse
import ctypes
import http.client
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import urllib.parse
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

WORKLOADS = ("serve", "ingest")
# The latency and throughput figures come from each caller's first N
# requests, a count every run completes: the same requests in every
# run, whatever else the window holds. N per caller, in caller order:
# serve's two mixed callers; ingest's writer, then its side reader.
MEASURED = {"serve": (6, 6), "ingest": (4, 8)}
# the requests p50_ms is the median of
MAIN_KINDS = {"serve": ("query_range",), "ingest": ("write", "ship")}
READY_TIMEOUT_S = 120
REQUEST_TIMEOUT_S = 120
STOP_GRACE_S = 20
PR_SET_CHILD_SUBREAPER = 36


def steal_s() -> float:
    """CPU time the host has taken from this machine since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


class Server:
    """The engine's server process and an HTTP client for it."""

    def __init__(self, work: Path, trace: bool) -> None:
        env = dict(os.environ)
        tmp = work / "tmp"
        tmp.mkdir(parents=True)
        env.update(
            PYTHONPATH=str(ROOT),
            TMPDIR=str(tmp),
            SPARK_LOCAL_DIRS=str(work / "spark-local"),
            SPARK_DRIVER_MEM="2g",
            # every JVM (spark-submit's launcher too) keeps its temp
            # files in the run's directory and writes no /tmp/hsperfdata.
            # C1 only: with the default tiered JIT, C2 compiles on more
            # than a core all through a run this short, so latencies
            # track how much CPU the host leaves the compiler
            JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}",
            PYSPARK_SUBMIT_ARGS=shlex.join(
                [
                    "--conf", "spark.ui.showConsoleProgress=false",
                    "--conf", "spark.ui.retainedJobs=100000",
                    "--conf", "spark.ui.retainedStages=100000",
                    "--conf", f"spark.sql.warehouse.dir={work / 'warehouse'}",
                    # the whole 2 GB heap is touched at start, so the
                    # server's peak RSS does not depend on when the heap
                    # happened to grow
                    "--conf", "spark.driver.extraJavaOptions=-Xms2g -XX:+AlwaysPreTouch",
                    "pyspark-shell",
                ]
            ),
        )
        cmd = [sys.executable, str(HERE / "server.py"), "--work", str(work)]
        self.work = work
        self.log = open(work / "server.log", "wb")
        # the server exits when its stdin closes, so it cannot outlive us
        self.proc = subprocess.Popen(
            cmd + (["--trace"] if trace else []),
            cwd=work, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
        )
        self._ready: dict = {}
        self._reader = threading.Thread(
            target=lambda: self._ready.update(json.loads(self.proc.stdout.readline() or "{}")),
            daemon=True,
        )
        self._reader.start()

    def wait_ready(self) -> None:
        """Block until the server has its store open and listens."""
        self._reader.join(READY_TIMEOUT_S)
        if "port" not in self._ready:
            self.stop()
            fail(f"server did not start:\n{self.log_tail()}")
        self.port = self._ready["port"]
        self.ingest_s = self._ready["ingest_s"]

    def call(self, method: str, path: str, body: bytes | None = None, headers=None) -> tuple[int, bytes]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=REQUEST_TIMEOUT_S)
        try:
            conn.request(method, path, body=body, headers=headers or {})
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()

    def log_tail(self) -> str:
        return (self.work / "server.log").read_text(errors="replace")[-3000:]

    def bench(self, op: str, **req) -> dict:
        try:
            status, body = self.call("POST", f"/bench/{op}", json.dumps(req).encode())
        except (OSError, http.client.HTTPException) as e:
            raise RuntimeError(f"/bench/{op}: {e!r}; server log:\n{self.log_tail()}") from e
        if status != 200:
            raise RuntimeError(f"/bench/{op} -> {status}")
        return json.loads(body)

    def peak_rss_mb(self) -> float:
        """VmHWM summed over the server process and its descendants."""
        parent = ppids()
        tree, todo = set(), [self.proc.pid]
        while todo:
            p = todo.pop()
            tree.add(p)
            todo += [c for c, pp in parent.items() if pp == p and c not in tree]
        kb = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/status") as f:
                    kb += next((int(l.split()[1]) for l in f if l.startswith("VmHWM:")), 0)
            except OSError:
                pass
        return kb / 1024.0

    def stop(self) -> None:
        """Stop the server and wait until every process under it (the
        JVM, Spark's Python workers) has ended."""
        # a second TERM must not cut the wait short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        if self.proc.poll() is None:
            try:
                self.bench("shutdown")
            except (OSError, RuntimeError, AttributeError):
                pass
            try:
                self.proc.wait(60)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdin.close()
        reap_children(STOP_GRACE_S)
        self.proc.stdout.close()
        self.log.close()


def adopt_orphans() -> None:
    """Become the reaper of orphaned descendants (Linux): the JVM the
    server starts outlives it briefly, and Spark's Python workers sit in
    a process group of their own; once their parents exit they become
    children of this process, which can then wait for them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def ppids() -> dict[int, int]:
    """Parent pid of every process, from /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                pass
    return out


def child_pids() -> list[int]:
    me = os.getpid()
    return [p for p, pp in ppids().items() if pp == me]


def reap_children(grace_s: float) -> None:
    """Wait until this process has no child left, killing the ones that
    still run after `grace_s` seconds. A descendant whose parents have
    all exited is re-parented here, so no child left means no
    descendant left."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for c in child_pids():
                try:
                    os.kill(c, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


# -- operations ---------------------------------------------------------------
def encode_read(req: dict) -> bytes:
    from agni_spark.protocol import remote_pb as pb
    from agni_spark.protocol import snappy_codec as snappy

    q = pb.Query(
        req["start"], req["end"],
        [pb.LabelMatcher(pb.MATCHER_TYPES[op], n, v) for op, n, v in req["matchers"]],
    )
    types = [pb.RESPONSE_STREAMED_XOR_CHUNKS] if req["streamed"] else []
    return snappy.compress(pb.encode_read_request(pb.ReadRequest([q], types)))


def send(server: Server, op: dict, traced: bool = False) -> tuple[int, bytes]:
    """Issue one prepared operation; returns (status, body)."""
    headers = {"X-Perfbench-Trace": "1"} if traced else {}
    if op["kind"] == "read":
        return server.call("POST", "/read", op["body"], {"Content-Type": "application/x-protobuf", **headers})
    if op["kind"] == "query_range":
        qs = urllib.parse.urlencode(
            {"query": op["query"], "start": op["start"] / 1000, "end": op["end"] / 1000, "step": op["step"]}
        )
        return server.call("GET", f"/api/v1/query_range?{qs}", headers=headers)
    if op["kind"] == "write":
        return server.call("POST", "/write", op["body"], {"Content-Type": "application/x-protobuf", **headers})
    return server.call("POST", "/bench/ship", json.dumps({"root": op["root"]}).encode(), headers)


class Ingest:
    """Builds write batches and ship blocks one at a time, in order;
    remembers what was acknowledged, for the read-back check."""

    def __init__(self, ds, work: Path) -> None:
        self.ds = ds
        self.root = work / "ship"
        self.shipped = work / "shipped"
        self.root.mkdir()
        self.shipped.mkdir()
        self.writes = 0
        self.ships = 0
        self.acked = {"write": {"samples": 0, "sum": 0.0}, "ship": {"samples": 0, "sum": 0.0}}
        # a level-2 block in the ship root: the shipper must skip it
        self._cut(-1, level=2)

    def _cut(self, n: int, level: int = 1) -> tuple[str, dict]:
        from agni_spark.sources import converter

        series, expect, mint = self.ds.ship_block(n)
        ulid = f"BLK{mint:023d}"
        converter.write_block(str(self.root / ulid), series, ulid, level=level)
        return ulid, expect

    def next_write(self) -> dict:
        from agni_spark.protocol import remote_pb as pb
        from agni_spark.protocol import snappy_codec as snappy

        series, expect = self.ds.write_batch(self.writes)
        self.writes += 1
        body = snappy.compress(
            pb.encode_write_request(pb.WriteRequest([pb.TimeSeries(l, s) for l, s in series]))
        )
        return {"kind": "write", "body": body, "expect": expect}

    def next_ship(self) -> dict:
        ulid, expect = self._cut(self.ships)
        self.ships += 1
        return {"kind": "ship", "root": str(self.root), "ulid": ulid, "expect": expect}

    def acknowledge(self, op: dict) -> None:
        got = self.acked[op["kind"]]
        got["samples"] += op["expect"]["samples"]
        got["sum"] += op["expect"]["sum"]
        if op["kind"] == "ship":
            os.rename(self.root / op["ulid"], self.shipped / op["ulid"])


# -- checks --------------------------------------------------------------------
def close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(abs(a), abs(b)) + 1e-6


def check_read(op: dict, body: bytes) -> str | None:
    """None when the response holds exactly the expected samples."""
    from agni_spark.protocol import remote_pb as pb
    from agni_spark.protocol import server as srv
    from agni_spark.protocol import snappy_codec as snappy
    from agni_spark.sources import tsdb_format
    from gen import label_matches

    series: list[tuple[list, list]] = []  # (labels, [(t, v)])
    if op["streamed"]:
        for frame in srv.read_chunked_frames(body):
            for cs in pb.decode_chunked_read_response(snappy.decompress(frame)).chunked_series:
                pts = [p for ch in cs.chunks for p in tsdb_format.decode_xor_chunk(ch.data)]
                series.append((cs.labels, pts))
    else:
        (result,) = pb.decode_read_response(snappy.decompress(body)).results
        series = [(ts.labels, [(t, v) for v, t in ts.samples]) for ts in result]
    exp = op["expect"]
    pts = [p for _, s in series for p in s]
    got = {
        "series": len(series),
        "samples": len(pts),
        "sum": float(sum(v for _, v in pts)),
        "mint": min((t for t, _ in pts), default=None),
        "maxt": max((t for t, _ in pts), default=None),
    }
    if got != exp:
        return f"read: got {got}, want {exp}"
    for labels, _ in series:
        d = dict(labels)
        if not all(label_matches(d, *m) for m in op["matchers"]):
            return f"read: series {d} does not match {op['matchers']}"
    return None


def check_query_range(op: dict, body: bytes) -> str | None:
    doc = json.loads(body)
    if doc.get("status") != "success":
        return f"query_range: {doc.get('error')}"
    result = doc["data"]["result"]
    pts = sorted((float(t), float(v)) for r in result for t, v in r["values"])
    exp = op["expect"]
    if len(result) != exp["series"] or len(pts) != len(exp["points"]):
        return f"query_range {op['query']}: {len(result)} series/{len(pts)} points, want {exp['series']}/{len(exp['points'])}"
    for (t, v), (et, ev) in zip(pts, exp["points"]):
        if t != et or not close(v, ev):
            return f"query_range {op['query']}: point ({t}, {v}), want ({et}, {ev})"
    return None


def check(op: dict, status: int, body: bytes) -> str | None:
    """None when the reply is the expected answer, else what is wrong."""
    if status != 200:
        return f"{op['kind']}: HTTP {status}"
    try:
        if op["kind"] == "read":
            return check_read(op, body)
        if op["kind"] == "query_range":
            return check_query_range(op, body)
        n = int(body) if op["kind"] == "write" else json.loads(body)["samples"]
    except Exception as e:  # noqa: BLE001 — a reply that does not decode is a wrong answer
        return f"{op['kind']}: undecodable reply: {e!r}"
    return None if n == op["expect"]["samples"] else f"{op['kind']}: {n} samples, want {op['expect']['samples']}"


# -- load ----------------------------------------------------------------------
@dataclass
class Record:
    op: dict
    status: int
    body: bytes
    ms: float  # send to last byte of the reply
    caller: int
    traced: bool


def closed_loop(server: Server, streams: list, seconds: float, trace: bool) -> list[Record]:
    """Run one thread per stream until `seconds` pass; each thread
    sends its next op when the previous reply is in, and the ops in
    flight at the deadline finish. A stream is a callable returning the
    next op. With `trace`, each caller traces two ops, then leaves two
    untraced, and so on, the second caller two ops out of step: callers
    alternate request kinds, so both sets hold every kind, and each
    list position is traced on one of the callers."""
    records: list[Record] = []
    lock = threading.Lock()
    deadline = time.perf_counter() + seconds
    stop = threading.Event()

    def caller(idx: int, next_op) -> None:
        n = 0
        while time.perf_counter() < deadline and not stop.is_set():
            op = next_op()
            traced = trace and (n + 2 * idx) % 4 < 2
            n += 1
            start = time.perf_counter()
            try:
                status, body = send(server, op, traced)
            except OSError as e:
                status, body = 0, str(e).encode()
            ms = (time.perf_counter() - start) * 1000
            with lock:
                records.append(Record(op, status, body, ms, idx, traced))
            if status == 200 and "on_ack" in op:
                op["on_ack"](op)

    threads = [threading.Thread(target=caller, args=(i, s)) for i, s in enumerate(streams)]
    for t in threads:
        t.start()
    try:
        for t in threads:
            t.join()
    finally:
        # cut short (a TERM): no caller sends or cuts anything more once
        # its request in flight is answered
        stop.set()
        for t in threads:
            t.join()
    return records


def per_busy_second(records: list[Record], amount) -> float:
    """Closed-loop throughput: per caller, the summed `amount(op)` over
    the caller's summed latency, added over callers. It leaves out the
    load generator's own work between ops."""
    out = 0.0
    for c in {r.caller for r in records}:
        mine = [r for r in records if r.caller == c]
        out += sum(amount(r.op) for r in mine) / (sum(r.ms for r in mine) / 1000)
    return out


def measured(records: list[Record], counts: tuple) -> list[Record]:
    """Each caller's first `counts[caller]` requests."""
    return [r for c, n in enumerate(counts) for r in [x for x in records if x.caller == c][:n]]


def cycle(ops: list):
    state = {"i": 0}

    def next_op():
        op = ops[state["i"] % len(ops)]
        state["i"] += 1
        return op

    return next_op


def interleave(a: list, b: list) -> list:
    return [x for pair in zip(a, b) for x in pair]


# -- per-layer metrics ---------------------------------------------------------
def layer_metrics(dump: dict, reads: list, untraced_ms: list, traced_ms: list, stats: dict, ingest: dict) -> dict:
    """Per-layer figures of the traced requests, per request unless
    named otherwise; the overhead compares the remote-read medians of
    the traced and the untraced requests."""
    names = dump["report"]["names"]
    edges = dump["report"]["edges"]
    layers = dump["report"]["layers"]
    reqs = list(dump["requests"].values())
    n = max(1, len(reqs))
    n_read = max(1, sum(r["kind"] == "/read" for r in reqs))
    n_write = max(1, sum(r["kind"] in ("/write", "/bench/ship") for r in reqs))

    def ms(name, field="ms"):
        return names.get(name, {}).get(field, 0.0)

    def val(name):
        return names.get(name, {}).get("value", 0.0)

    samples_returned = sum(op["expect"]["samples"] for op in reads)
    read_input = sum(r["input_records"] for r in reqs if r["kind"] == "/read")
    total_ms = ms("server.request")
    encoded = val("remote_pb.encode_read_response") + val("remote_pb.encode_chunked_read_response")
    m = {
        "server.request_ms": total_ms / n,
        "server.assemble_ms": (ms("server.evaluate_query", "self_ms") + ms("server.evaluate_query_chunked", "self_ms")) / n,
        "server.promql_shape_ms": ms("server.eval_promql", "self_ms") / n,
        "server.decode_write_ms": ms("server.decode_write", "self_ms") / n,
        "remote_pb.decode_ms": (ms("remote_pb.decode_read_request") + ms("remote_pb.decode_write_request")) / n,
        "remote_pb.encode_ms": (ms("remote_pb.encode_read_response") + ms("remote_pb.encode_chunked_read_response")) / n,
        "remote_pb.resp_bytes": encoded / n_read,
        "snappy_codec.compress_ms": ms("snappy_codec.compress") / n,
        "snappy_codec.decompress_ms": ms("snappy_codec.decompress") / n,
        "snappy_codec.ratio": encoded / val("snappy_codec.compress") if val("snappy_codec.compress") else 0.0,
        "tsdb_format.xor_encode_ms": ms("tsdb_format.encode_xor_chunk") / n,
        "tsdb_format.xor_decode_ms": dump["udf"]["xor_decode_s"] * 1000 / n,
        "converter.read_blocks_ms": (ms("converter.spark_read_tsdb_blocks") + dump["udf"]["converter_s"] * 1000) / n,
        "querier.plan_ms": (ms("querier.select", "self_ms") + ms("querier.select_series", "self_ms")) / n,
        "querier.collect_ms": (
            edges.get("server.evaluate_query>spark.collect", 0.0)
            + edges.get("server.evaluate_query_chunked>spark.collect", 0.0)
        ) / n_read,
        "querier.samples_returned": samples_returned / n_read,
        "querier.rows_examined_per_sample": read_input / samples_returned if samples_returned else 0.0,
        "promql_parser.parse_ms": ms("promql_parser.parse") / n,
        "promql_parser.compile_ms": ms("promql_parser.compile_expr") / n,
        "layout.append_ms": (
            edges.get("server.handle_write>spark.write_parquet", 0.0)
            + ms("layout.write_blocks")
            - edges.get("layout.write_blocks>layout.refresh_registry", 0.0)
        ) / n_write,
        "layout.refresh_registry_ms": ms("layout.refresh_registry") / n_write,
        "layout.registry_versions_ms": ms("layout.registry_versions") / n_write,
        "layout.store_files": float(stats["files"]),
        "layout.bytes_written_per_sample": ingest["bytes"] / ingest["samples"],
    }
    for key in ("jobs", "stages", "tasks", "executor_run_ms", "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes"):
        m[f"spark.{key}"] = sum(r[key] for r in reqs) / n
    for layer in ("server", "remote_pb", "snappy_codec", "tsdb_format", "querier", "promql_parser", "spark", "layout", "converter"):
        m[f"{layer}.self_ms"] = layers.get(layer, 0.0) / n
    m["trace.self_sum_pct"] = 100.0 * sum(layers.values()) / total_ms if total_ms else 0.0
    m["trace.requests"] = float(len(reqs))
    m["trace.overhead_pct"] = 100.0 * (statistics.median(traced_ms) / statistics.median(untraced_ms) - 1)
    return m


# -- main ----------------------------------------------------------------------
def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a TERM (a timeout, say) still runs the `finally` that stops the server
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    adopt_orphans()
    if not (ROOT / "agni_spark" / "protocol" / "server.py").is_file():
        fail(f"engine sources not found under {ROOT}")
    sys.path.insert(0, str(ROOT))

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    import gen

    load_start = os.getloadavg()
    steal_start = steal_s()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "input").mkdir(parents=True)
    server = None
    try:
        # 1. the base store's samples and series
        ds = gen.Dataset(args.seed)
        ids, labels = ds.series_dim()
        pq.write_table(
            pa.table({"series_id": np.repeat(ids, ds.ts.shape[1]), "ts_ms": ds.ts.ravel(), "value": ds.values.ravel()}),
            work / "input" / "samples.parquet",
        )
        pq.write_table(
            pa.table({"series_id": ids, "labels": pa.array(labels, pa.map_(pa.string(), pa.string()))}),
            work / "input" / "series.parquet",
        )
        # 2. start-up (requests are generated while the server starts)
        t_setup = time.perf_counter()
        server = Server(work, bool(args.trace))
        rng = np.random.default_rng(args.seed + 10)
        if args.workload == "serve":
            # two callers, each alternating remote reads and range
            # queries; the second caller's range queries start half a
            # cycle later
            mixes = []
            for phase in (0, 3):
                reads, queries = ds.read_requests(rng, 8), ds.promql_requests(rng, 8, phase)
                # the second caller starts with a query, so one caller
                # queries while the other reads: two large reads never
                # encode in the server's one Python process at once
                mixes.append(interleave(queries, reads) if phase else interleave(reads, queries))
        else:
            # the side reader's small remote reads
            mixes = [ds.probe_reads(rng, 16)]
        for op in (op for mix in mixes for op in mix):
            if op["kind"] == "read":
                op["body"] = encode_read(op)

        ingest = Ingest(ds, work) if args.workload == "ingest" else None
        server.wait_ready()
        # warm-up: first use of each request path — a read, a range
        # query and, on ingest, a remote write and a shipped block
        warm = mixes[0][-2:] if not ingest else mixes[0][-1:]
        if ingest:
            warm += [ingest.next_write(), ingest.next_ship()]
        errors = []
        for op in warm:
            status, body = send(server, op)
            if status != 200:
                fail(f"warm-up {op['kind']} failed: HTTP {status} {body[:200]!r}")
            errors.append(check(op, status, body))
            if ingest and op["kind"] in ("write", "ship"):
                ingest.acknowledge(op)
        errors = [e for e in errors if e]
        setup_s = time.perf_counter() - t_setup
        stats0 = server.bench("stats")

        # 3. load
        def next_write():
            # one shipped block after every three remote-write batches
            op = ingest.next_ship() if (ingest.writes + ingest.ships) % 4 == 3 else ingest.next_write()
            op["on_ack"] = ingest.acknowledge
            return op

        streams = [next_write, cycle(mixes[0])] if ingest else [cycle(mix) for mix in mixes]
        records = closed_loop(server, streams, args.seconds, bool(args.trace))
        if args.trace:
            dump = server.bench("trace")

        # 4. checks and final state
        for r in records:
            err = check(r.op, r.status, r.body)
            if err:
                errors.append(err)
        if ingest:
            w, s = ingest.acked["write"], ingest.acked["ship"]
            ranges = [
                [gen.WRITE_T0_MS, gen.SHIP_T0_MS - gen.BLOCK_MS - 1],
                [gen.SHIP_T0_MS - gen.BLOCK_MS, gen.SHIP_T0_MS + ingest.ships * gen.BLOCK_MS],
            ]
            got = server.bench("readback", ranges=ranges)["ranges"]
            for want, have in zip((w, s), got):
                if have["samples"] != want["samples"] or not close(have["sum"], want["sum"]):
                    errors.append(f"readback: got {have}, want {want}")
        stats = server.bench("stats")
        rss_mb = server.peak_rss_mb()
    finally:
        if server is not None:
            server.stop()
        shutil.rmtree(work, ignore_errors=True)

    # 5. metrics
    # p50_ms: the workload's main request — range queries on serve,
    # writes (remote write or shipped block) on ingest
    main_kinds = MAIN_KINDS[args.workload]
    timed = measured(records, MEASURED[args.workload])
    main_ms = [r.ms for r in timed if r.op["kind"] in main_kinds]
    read_ms = [r.ms for r in timed if r.op["kind"] == "read"]
    if not main_ms or not read_ms:
        fail("no request completed in the measured window")
    # throughput: every request on serve, the writer's on ingest
    counted = [r for r in timed if not ingest or r.op["kind"] in main_kinds]
    if args.trace:
        grown = {"bytes": stats["bytes"] - stats0["bytes"], "samples": stats["samples"] - stats0["samples"]}
        if not grown["samples"]:
            grown = {"bytes": stats["bytes"], "samples": stats["samples"]}
        reads = [r for r in records if r.op["kind"] == "read"]
        metrics = layer_metrics(
            dump,
            [r.op for r in reads if r.traced],
            [r.ms for r in reads if not r.traced],
            [r.ms for r in reads if r.traced],
            stats,
            grown,
        )
        units = {k: ("ms" if k.endswith("_ms") else "%" if k.endswith("_pct") else "B" if k.endswith("bytes") else "count") for k in metrics}
        units.update({"snappy_codec.ratio": "x", "querier.rows_examined_per_sample": "x", "layout.bytes_written_per_sample": "B"})
    else:
        metrics = {
            "setup_s": setup_s,
            "p50_ms": statistics.median(main_ms),
            "ops_per_s": per_busy_second(counted, lambda op: 1),
            # samples returned by remote reads on serve, ingested on ingest
            "samples_per_s": per_busy_second(
                counted, lambda op: op["expect"]["samples"] if op["kind"] in ("read", "write", "ship") else 0
            ),
            "read_p50_ms": statistics.median(read_ms),
            "store_bytes_per_sample": stats["bytes"] / stats["samples"],
            "server_peak_rss_mb": rss_mb,
        }
        units = {"setup_s": "s", "ops_per_s": "1/s", "samples_per_s": "1/s", "store_bytes_per_sample": "B", "server_peak_rss_mb": "MB"}
    info = {
        "workload": args.workload, "seed": args.seed, "ops": len(records), "server_ingest_s": server.ingest_s,
        "per_kind": {
            k: [len(v), statistics.median(v)]
            for k in ("read", "query_range", "write", "ship")
            if (v := [r.ms for r in records if r.op["kind"] == k])
        },
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "steal_s": steal_s() - steal_start, "errors": errors[:5],
    }
    print("# " + json.dumps(info))
    print(
        json.dumps(
            {
                "correct": not errors,
                "attempted": len(records),
                "failed": len(errors),
                "metrics": {k: {"value": v, "unit": units.get(k, "ms")} for k, v in metrics.items()},
            }
        )
    )
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
