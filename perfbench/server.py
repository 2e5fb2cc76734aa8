"""Benchmark server process: ingest the generated base store, open it
and serve it over HTTP with the engine's RemoteReadServer.

    python3 perfbench/server.py --work DIR [--trace]

Reads DIR/input/{samples,series}.parquet (written by run.py), lands
them with layout.write_blocks plus a map-form series dim in DIR/store,
opens that store with querier_from_store and serves /read, /write and
/api/v1/* on a free localhost port, with Spark on up to 4 cores. When
ready it prints one JSON line {"port", "ingest_s"} on stdout.

Besides the engine's endpoints the benchmark adds POST /bench/*:
  ship      ship the level-1 TSDB block dirs under a root into the store
  readback  count/sum samples per time range through a freshly opened store
  stats     store bytes, files and samples
  trace     the span report and per-request Spark stats (--trace only)

With --trace, requests sent with the header `X-Perfbench-Trace: 1` are
traced and the others are not.
  shutdown  stop serving and exit

The server also exits when its stdin reaches end of file.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))


def ship_blocks(spark, root: str, store: str) -> int:
    """The shipper: decode level-1 TSDB blocks under `root`, append
    them to the store, then append their series to the series dim."""
    from pyspark.sql import functions as F

    from agni_spark.datamodel import label_set_id
    from agni_spark.sources import converter, layout

    labels = F.from_json("labels_json", "map<string,string>")
    decoded = (
        converter.spark_read_tsdb_blocks(spark, root)
        .select(label_set_id(labels).alias("series_id"), "ts_ms", "value", labels.alias("labels"))
        .persist()
    )
    try:
        layout.write_blocks(decoded.select("series_id", "ts_ms", "value"), store, mode="append")
        decoded.select("series_id", "labels").dropDuplicates(["series_id"]).write.mode(
            "append"
        ).parquet(os.path.join(store, "series"))
        return decoded.count()
    finally:
        decoded.unpersist()


def readback(spark, store: str, ranges: list[list[int]]) -> list[dict]:
    """Samples, value sum and series per [lo, hi] range, read through a
    store opened now (the serving querier predates the appends)."""
    from pyspark.sql import functions as F

    from agni_spark.querier import querier_from_store

    q = querier_from_store(spark, store)
    out = []
    for lo, hi in ranges:
        r = (
            q.select(mint_ms=lo, maxt_ms=hi, sort=False)
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"), F.countDistinct("series_id").alias("k"))
            .first()
        )
        out.append({"samples": r.n, "sum": r.s or 0.0, "series": r.k})
    return out


def store_stats(spark, store: str) -> dict:
    from pyspark.sql import functions as F

    from agni_spark.sources import layout

    n_bytes = n_files = 0
    for d, _, files in os.walk(store):
        for f in files:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(d, f))
    samples = layout.read_registry(spark, store).agg(F.sum("num_samples")).first()[0]
    return {"bytes": n_bytes, "files": n_files, "samples": int(samples)}


def install_tracing(tracer, spark) -> None:
    """Wrap the public functions of each layer on the serving path."""
    from pyspark.sql import readwriter, session
    from pyspark.sql.classic import dataframe

    from agni_spark import promql_parser, querier
    from agni_spark.protocol import remote_pb, server, snappy_codec
    from agni_spark.sources import converter, layout, tsdb_format

    size = lambda out, args: len(out)  # noqa: E731
    for fn in ("handle_read_negotiated", "handle_query_range", "handle_write",
               "evaluate_query", "evaluate_query_chunked", "eval_promql", "decode_write"):
        tracer.wrap(server, fn, f"server.{fn}")
    for fn in ("decode_read_request", "decode_write_request"):
        tracer.wrap(remote_pb, fn, f"remote_pb.{fn}")
    for fn in ("encode_read_response", "encode_chunked_read_response"):
        tracer.wrap(remote_pb, fn, f"remote_pb.{fn}", size)
    tracer.wrap(snappy_codec, "compress", "snappy_codec.compress", size)
    tracer.wrap(snappy_codec, "decompress", "snappy_codec.decompress", size)
    tracer.wrap(tsdb_format, "encode_xor_chunk", "tsdb_format.encode_xor_chunk")
    tracer.wrap(querier.Querier, "select", "querier.select")
    tracer.wrap(querier.Querier, "select_series", "querier.select_series")
    tracer.wrap(promql_parser, "parse", "promql_parser.parse")
    tracer.wrap(promql_parser, "compile_expr", "promql_parser.compile_expr")
    tracer.wrap(dataframe.DataFrame, "collect", "spark.collect", size)
    tracer.wrap(dataframe.DataFrame, "count", "spark.count")
    tracer.wrap(dataframe.DataFrame, "first", "spark.first")
    tracer.wrap(readwriter.DataFrameWriter, "parquet", "spark.write_parquet")
    tracer.wrap(readwriter.DataFrameReader, "parquet", "spark.read_parquet")
    tracer.wrap(session.SparkSession, "createDataFrame", "spark.createDataFrame")
    for fn in ("write_blocks", "refresh_registry", "registry_versions", "read_samples"):
        tracer.wrap(layout, fn, f"layout.{fn}")
    for fn in ("spark_read_tsdb_blocks", "discover_blocks"):
        tracer.wrap(converter, fn, f"converter.{fn}")
    # the block decode runs in Python workers, out of the wrappers'
    # reach: the session's UDF profiler times it there
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")


def spark_request_stats(sc, rid: int) -> dict:
    """Jobs, stages, tasks and stage metrics of one request's job group."""
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(
        ("jobs", "stages", "tasks", "executor_run_ms", "input_bytes", "input_records",
         "shuffle_read_bytes", "shuffle_write_bytes"), 0
    )
    for job in st.getJobIdsForGroup(f"perfbench-{rid}"):
        info = st.getJobInfo(job)
        out["jobs"] += 1
        for sid in info.stageIds if info else []:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — evicted or never submitted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["executor_run_ms"] += sd.executorRunTime()
            out["input_bytes"] += sd.inputBytes()
            out["input_records"] += sd.inputRecords()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
    return out


def udf_profile(spark, work: str) -> dict:
    """Worker-side seconds (cProfile, so inflated by call overhead):
    the converter's block-decode generator and the XOR decode in it."""
    import glob
    import pstats

    out = {"converter_s": 0.0, "xor_decode_s": 0.0}
    dump = os.path.join(work, "udf_profile")
    try:
        spark.profile.dump(dump, type="perf")
    except Exception:  # noqa: BLE001 — nothing profiled
        return out
    for path in glob.glob(os.path.join(dump, "*")):
        for (file, _, fn), (_, _, _, ct, _) in pstats.Stats(path).stats.items():
            if fn == "gen":
                out["converter_s"] += ct
            elif fn == "decode_xor_chunk" and "_tsdb_codec" in file:
                out["xor_decode_s"] += ct
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    from agni_spark.session import get_spark

    spark = get_spark("perfbench", cpus=min(4, os.cpu_count() or 1))
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    from agni_spark.protocol.server import RemoteReadServer
    from agni_spark.querier import querier_from_store
    from agni_spark.sources import layout
    from spans import Tracer, layer_report

    work = os.path.abspath(args.work)
    store = os.path.join(work, "store")
    t0 = time.perf_counter()
    layout.write_blocks(spark.read.parquet(os.path.join(work, "input", "samples.parquet")), store)
    spark.read.parquet(os.path.join(work, "input", "series.parquet")).write.parquet(
        os.path.join(store, "series")
    )
    querier = querier_from_store(spark, store)
    ingest_s = time.perf_counter() - t0

    tracer = Tracer()
    if args.trace:
        install_tracing(tracer, spark)
    srv = RemoteReadServer(querier, write_store=store, spark=spark)
    done = threading.Event()
    base = srv.httpd.RequestHandlerClass

    def serve(handler, kind, fn, *fn_args):
        """Run one request, traced under its own Spark job group when
        the client asks for it."""

        def run():
            rid = tracer.request_id()
            if rid is not None:
                sc.setJobGroup(f"perfbench-{rid}", kind)
            return fn(*fn_args)

        traced = args.trace and handler.headers.get("X-Perfbench-Trace") == "1"
        return tracer.request(kind, traced, run)

    class BenchHandler(base):
        def do_GET(self):  # noqa: N802
            serve(self, self.path.split("?")[0], base.do_GET, self)

        def do_POST(self):  # noqa: N802
            if not self.path.startswith("/bench/"):
                serve(self, self.path, base.do_POST, self)
                return
            req = json.loads(self.rfile.read(int(self.headers.get("Content-Length", "0"))) or b"{}")
            op = self.path[len("/bench/"):]
            if op == "ship":
                resp = {"samples": serve(self, "/bench/ship", ship_blocks, spark, req["root"], store)}
            elif op == "readback":
                resp = {"ranges": readback(spark, store, req["ranges"])}
            elif op == "stats":
                resp = store_stats(spark, store)
            elif op == "trace":
                time.sleep(1.0)  # let the listener bus post the last stage metrics
                resp = {
                    "report": layer_report(tracer.spans),
                    "requests": {
                        rid: {"kind": kind, **spark_request_stats(sc, rid)}
                        for rid, kind in tracer.requests.items()
                    },
                    "udf": udf_profile(spark, work),
                }
            elif op == "shutdown":
                resp = {}
                done.set()
            else:
                self.send_error(404)
                return
            payload = json.dumps(resp).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

    srv.httpd.RequestHandlerClass = BenchHandler
    # stdin closes when the benchmark process ends, however it ends
    threading.Thread(target=lambda: (sys.stdin.read(), done.set()), daemon=True).start()
    srv.start()
    print(json.dumps({"port": srv.port, "ingest_s": ingest_s}), flush=True)
    done.wait()
    srv.stop()
    spark.stop()


if __name__ == "__main__":
    main()
