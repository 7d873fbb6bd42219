#!/usr/bin/env python3
"""graft benchmark: one command, two workloads, end to end and per layer.

    python3 perfbench/run.py --workload headline_batch --seed 1 \
        --seconds 6 --trace 0

builds the engine (perfbench/build.py), runs one workload in one JVM at
local[nproc], checks its outputs, and prints one JSON line: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The full
record of the run is written to perfbench/.work/<workload>/record.json.

    python3 perfbench/run.py --record [--seed N] [--seconds S]

runs every workload three ways (untraced, traced, untraced at local[1]) and
writes the committed trace records to perfbench/records/.
See perfbench/README.md for the workloads and every metric's definition.
"""
import argparse
import glob
import hashlib
import json
import os
import pickle
import shutil
import subprocess
import sys
import threading
import time

import duckdb
import numpy as np

import build
import harness
import stage

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["headline_batch", "reference_stream"]
NPROC = len(os.sched_getaffinity(0))
# a run must end within 180 s; an invalid run is repeated only if a second
# attempt of the same length still fits. The 1-core baseline of --record
# gets longer.
RUN_LIMIT_S = 170
SERIAL_LIMIT_S = 900

HEADLINE = stage.HEADLINE
END_TO_END = [
    ("setup_s", "s"), ("latency_p50_s", "s"), ("latency_tail_s", "s"),
    ("work_s", "s"), ("peak_rss_mb", "MiB")]

NEARDUP_PHASES = ["sigs", "store_probe", "pairs", "greedy_probe",
                  "greedy_rounds", "probe", "sig_write", "compact"]
PER_LAYER = (
    [("core.scan_input_mb", "MiB", "lower"), ("core.scan_rows", "count", "lower"),
     ("core.barrier_release_s", "s", "lower"),
     ("operators.build_s", "s", "lower"),
     ("spark.execute_s", "s", "lower"), ("spark.jobs", "count", "lower"),
     ("spark.stages", "count", "lower"), ("spark.tasks", "count", "lower"),
     ("spark.job_busy_s", "s", "lower"), ("spark.driver_gap_s", "s", "lower"),
     ("spark.executor_run_s", "s", "lower"),
     ("spark.executor_cpu_s", "s", "lower"),
     ("spark.scheduler_delay_s", "s", "lower"),
     ("exchange.shuffle_write_mb", "MiB", "lower"),
     ("exchange.shuffle_read_mb", "MiB", "lower"),
     ("exchange.spill_mb", "MiB", "lower")]
    + [(f"query.{q}_{k}", u, "lower") for q in HEADLINE
       for k, u in (("s", "s"), ("jobs", "count"))]
    + [("stream.batches", "count", "lower"),
       ("stream.addbatch_p50_s", "s", "lower"),
       ("stream.overhead_p50_s", "s", "lower"),
       ("stream.state_rows", "count", "lower"),
       ("stream.state_mb", "MiB", "lower"),
       ("ods.gen_late_max_s", "s", "lower"),
       ("ods.queue_wait_p50_s", "s", "lower"),
       ("dwd.split_write_p50_s", "s", "lower"),
       ("dim.scd2_upsert_p50_s", "s", "lower"),
       ("dws.wait_p50_s", "s", "lower"), ("dws.upsert_p50_s", "s", "lower"),
       ("dws.batch_p50_s", "s", "lower"),
       ("sinks.store_files", "count", "lower"),
       ("sinks.store_mb", "MiB", "lower"),
       ("streaming.gate_classifier_s", "s", "lower"),
       ("streaming.gate_bloom_s", "s", "lower"),
       ("streaming.gate_ngram_s", "s", "lower"),
       ("streaming.neardup_s", "s", "lower")]
    + [(f"streaming.neardup.{p}_s", "s", "lower") for p in NEARDUP_PHASES]
    + [("streaming.pack_s", "s", "lower"), ("sinks.admit_write_s", "s", "lower"),
       ("streaming.probe_growth", "ratio", "lower"),
       ("corpus.attempted", "count", "higher"),
       ("corpus.admitted", "count", "higher"),
       ("corpus.admit_ratio", "ratio", "higher"),
       ("gate.classifier_rejected", "count", "lower"),
       ("gate.bloom_rejected", "count", "lower"),
       ("gate.ngram_rejected", "count", "lower"),
       ("dedup.neardup_rejected", "count", "lower"),
       ("sinks.sig_store_files", "count", "lower"),
       ("sinks.sig_store_generations", "count", "lower"),
       ("trace.span_gap", "ratio", "lower")])

JVM_OPTS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")] + [
    # a fixed, pre-touched heap: resident memory then does not depend on
    # when the collector chose to grow the heap
    "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch",
    # no hsperfdata file: the run writes nothing outside its checkout
    "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC"]


def du_mb(paths):
    total = 0
    for p in paths:
        for d, _, fs in os.walk(p):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in fs)
    return total / 1048576.0


def data_files(path):
    return sum(1 for d, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


def launch(classes, workload, seed, seconds, trace, cores, work, limit,
           poll=None):
    """Runs one JVM over the staged inputs, calling `poll` while it runs;
    returns its raw record."""
    out = os.path.join(work, "raw.json")
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    cmd = (["java"] + JVM_OPTS +
           [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
            "-cp", cp, "graft.perfbench.Main", workload, str(seed),
            str(seconds), "1" if trace else "0", str(cores),
            os.path.join(HERE, "fixtures"), work, out])
    t0 = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log)
        try:
            while p.poll() is None and time.time() - t0 < limit:
                if poll:
                    poll()
                time.sleep(0.2)
        finally:
            if p.poll() is None:
                p.kill()
            p.wait()
    if p.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise RuntimeError(f"engine run failed (exit {p.returncode})")
    with open(out) as f:
        return json.load(f)


class Feed:
    """The gmall phase's open-loop generator: a thread of this process, apart
    from the engine, so an engine pause cannot delay it. Once the engine
    announces the phase's base time, file i is moved into the ODS directory
    at base + i / rate, whatever the engine is doing."""

    def __init__(self, work):
        with open(os.path.join(work, "manifest.json")) as f:
            m = json.load(f)
        self.files, self.rate = m["files"], m["files_per_second"]
        self.marker = os.path.join(work, "feed_base.json")
        self.released = []
        self.stop = threading.Event()
        self.thread = threading.Thread(target=self._run, daemon=True)
        self.thread.start()

    def _run(self):
        while not os.path.exists(self.marker):
            if self.stop.wait(0.005):
                return
        with open(self.marker) as f:
            b = json.load(f)
        base = b["base_epoch_ms"] / 1e3
        for i, f in enumerate(self.files):
            due = base + i / self.rate
            if self.stop.wait(max(0.0, due - time.time())):
                return
            at = time.time()
            name = f"ods-{i:05d}.parquet"
            os.rename(f["path"], os.path.join(b["ods"], name))
            self.released.append({"file": name, "rows": f["rows"],
                                  "due_s": due - base,
                                  "released_s": at - base})

    def close(self):
        self.stop.set()
        self.thread.join()
        return self.released


class OracleCheck:
    """Headline outputs against their DuckDB oracles, compared with the
    repo's tools/localcheck.py dtype and row canonicalisation.

    Each query is compared as soon as the engine has written its output
    (after the timed pass), while the engine writes the rest. Oracle
    results are cached per SQL text under .work: the fixtures are fixed, so
    an oracle's result changes only with its SQL.
    """

    def __init__(self, work):
        self.dir = os.path.join(work, "verify")
        self.pending = list(HEADLINE)
        self.failures = []
        self.con = None

    def poll(self, final=False):
        for q in list(self.pending):
            if final or os.path.exists(os.path.join(self.dir, q, "_SUCCESS")):
                self.pending.remove(q)
                self.failures += self.check(q)

    def check(self, name):
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        import localcheck
        if self.con is None:
            sf = os.path.join(HERE, "fixtures", "sf0.1")
            self.con = duckdb.connect()
            for t in localcheck.TABLES:
                self.con.sql(
                    f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
            with open(os.path.join(self.dir, "oracle_sql.json")) as f:
                self.oracle = json.load(f)
        files = glob.glob(os.path.join(self.dir, name, "*.parquet"))
        if not files:
            return [f"{name}: no output"]
        spark_tbl = self.con.sql(
            f"SELECT * FROM read_parquet({files!r})").arrow()
        if name not in self.oracle:
            return [] if spark_tbl.num_rows else [f"{name}: no rows"]
        cache = os.path.join(HERE, ".work", "oracle_cache")
        os.makedirs(cache, exist_ok=True)
        key = os.path.join(cache, hashlib.sha256(
            self.oracle[name].encode()).hexdigest()[:16] + ".pkl")
        if os.path.exists(key):
            with open(key, "rb") as f:
                ora_schema, b = pickle.load(f)
        else:
            ora_tbl = self.con.sql(self.oracle[name]).arrow()
            ora_schema = ora_tbl.schema
            b = localcheck.canon(ora_tbl.to_pandas())
            with open(key, "wb") as f:
                pickle.dump((ora_schema, b), f)
        bad = localcheck.dtype_mismatches(spark_tbl, ora_schema.empty_table())
        if bad:
            return [f"{name}: dtype mismatch {bad}"]
        a = localcheck.canon(spark_tbl.to_pandas())
        if list(a.columns) != list(b.columns) or len(a) != len(b):
            return [f"{name}: shape {a.shape} vs oracle {b.shape}"]
        for c in a.columns:
            av, bv = a[c], b[c]
            if av.dtype.kind == "f" or bv.dtype.kind == "f":
                same = np.allclose(av.fillna(-9e99), bv.fillna(-9e99),
                                   rtol=1e-9, atol=1e-12)
            else:
                same = (av.fillna("\0N").astype(str)
                        .equals(bv.fillna("\0N").astype(str)))
            if not same:
                return [f"{name}: column {c} differs from the oracle"]
        return []


def end_to_end(workload, raw, t_setup):
    """The end-to-end metrics plus the workload-specific record."""
    rec = {}
    if workload == "headline_batch":
        lat = [e["latency_s"] for e in raw["executions"] if e["ok"]]
        work = harness.median(raw["passes_s"])
        rec["pass_s"] = raw["passes_s"]
        rec["latency"] = "query latency (build + execute)"
        rec["work_unit"] = "one 23-query pass"
    else:
        g = raw["gmall"]
        logs = {s: harness.source_log(os.path.join(g["root"], f"_chk_{s}"))
                for s in ("dwd", "dim", "dws_page", "dws_err")}
        fresh, queue, dws_wait = harness.freshness(g["files"], g["commits"],
                                                   logs)
        lat = list(fresh.values())
        b = raw["corpus"]["batches"]
        docs = sum(x["docs"] for x in b)
        drain = sum(x["committed_s"] - x["offered_s"] for x in b)
        work = drain / (docs / 1000.0)
        rec.update(
            freshness=fresh, queue_wait=queue, dws_wait=dws_wait,
            rate_files_per_s=g["rate_files_per_s"],
            events=sum(f["rows"] for f in g["files"]),
            files_released=len(g["files"]), files_fresh=len(fresh),
            gen_late_max_s=max(f["released_s"] - f["due_s"]
                               for f in g["files"]),
            gmall_stage_busy_s=sum(c["end_s"] - c["start_s"]
                                   for c in g["commits"]),
            docs=docs, docs_per_s=docs / drain, corpus_batches=len(b),
            corpus_batch_latency_s=[x["committed_s"] - x["offered_s"]
                                    for x in b])
        rec["latency"] = ("gmall freshness: ODS file due -> every DIM and "
                          "DWS store that consumes it has committed it")
        rec["work_unit"] = "1000 corpus documents drained"
    t, pct, n = harness.tail(lat)
    rec["tail"] = {"percentile": pct, "samples": n,
                   "beyond": harness.TAIL_BEYOND}
    m = {"setup_s": raw["first_op_epoch_ms"] / 1e3 - t_setup,
         "latency_p50_s": harness.median(lat), "latency_tail_s": t,
         "work_s": work, "peak_rss_mb": raw["peak_rss_mb"]}
    return m, rec


def per_layer(workload, raw, rec):
    """Every per-layer metric; 0 where the workload does not use the layer."""
    m = {name: 0.0 for name, _, _ in PER_LAYER}
    sp = raw.get("spark", {})
    spans = raw.get("spans", [])

    def total(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    for k in ("scan_input_mb", "scan_rows"):
        m[f"core.{k}"] = sp.get(k, 0.0)
    for k in ("jobs", "stages", "tasks", "job_busy_s", "executor_run_s",
              "executor_cpu_s", "scheduler_delay_s"):
        m[f"spark.{k}"] = sp.get(k, 0.0)
    for k in ("shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
        m[f"exchange.{k}"] = sp.get(k, 0.0)
    m["spark.driver_gap_s"] = raw["wall_s"] - sp.get("job_busy_s", 0.0)
    m["core.barrier_release_s"] = total("core.barrier_release")
    m["operators.build_s"] = total("operators.build")
    prog = [p for p in sp.get("progress", []) if p["rows"] > 0]
    m["spark.execute_s"] = (total("spark.execute") +
                            sum(p["addbatch_ms"] for p in prog) / 1e3)
    m["trace.span_gap"] = harness.span_check(spans, raw["wall_s"])["rel_gap"]
    if workload == "headline_batch":
        jobs = sp.get("jobs_by_label", {})
        passes = len(raw["passes_s"])
        for q in HEADLINE:
            m[f"query.{q}_s"] = harness.median(
                [e["latency_s"] for e in raw["executions"] if e["query"] == q])
            m[f"query.{q}_jobs"] = jobs.get(q, 0) / passes
        return m

    m["stream.batches"] = len(prog)
    m["stream.addbatch_p50_s"] = harness.median(
        [p["addbatch_ms"] / 1e3 for p in prog])
    m["stream.overhead_p50_s"] = harness.median(
        [(p["trigger_ms"] - p["addbatch_ms"]) / 1e3 for p in prog])
    last = {}
    for p in sp.get("progress", []):
        last[p["name"]] = p
    m["stream.state_rows"] = sum(p["state_rows"] for p in last.values())
    m["stream.state_mb"] = sum(p["state_bytes"]
                               for p in last.values()) / 1048576.0

    g = raw["gmall"]
    root = g["root"]

    def stage_s(s):
        return [c["end_s"] - c["start_s"] for c in g["commits"]
                if c["stage"] == s]
    m["ods.gen_late_max_s"] = rec["gen_late_max_s"]
    m["ods.queue_wait_p50_s"] = harness.median(rec["queue_wait"])
    m["dwd.split_write_p50_s"] = harness.median(stage_s("dwd"))
    m["dim.scd2_upsert_p50_s"] = harness.median(stage_s("dim"))
    m["dws.wait_p50_s"] = harness.median(rec["dws_wait"])
    m["dws.upsert_p50_s"] = harness.median(
        stage_s("dws_page") + stage_s("dws_err"))
    m["dws.batch_p50_s"] = harness.median(
        [p["trigger_ms"] / 1e3 for p in prog if p["name"].startswith("dws")])
    m["sinks.store_files"] = sum(
        data_files(os.path.join(root, s))
        for s in ("dim_scd2", "dws_page", "dws_err"))

    c = raw.get("corpus_counts", {})
    croot = raw["corpus"]["root"]
    m["sinks.store_mb"] = du_mb(
        [os.path.join(root, d) for d in os.listdir(root) if d != "ods"] +
        [os.path.join(croot, d) for d in ("sig_store", "admitted",
                                          "pack_stream", "_chk")])
    m["streaming.gate_classifier_s"] = total("streaming.gate_classifier")
    m["streaming.gate_bloom_s"] = total("streaming.gate_bloom")
    # the 13-gram gate is lazy: it executes at near-dup's first barrier
    m["streaming.gate_ngram_s"] = total("streaming.neardup.gates")
    m["streaming.neardup_s"] = (total("streaming.neardup") -
                                m["streaming.gate_ngram_s"])
    for p in NEARDUP_PHASES:
        m[f"streaming.neardup.{p}_s"] = total(f"streaming.neardup.{p}")
    m["streaming.neardup.greedy_rounds_s"] = sum(
        s["end"] - s["start"] for s in spans
        if s["name"].startswith("streaming.neardup.greedy_r"))
    m["streaming.pack_s"] = total("streaming.pack")
    m["sinks.admit_write_s"] = total("sinks.admit_write")
    # the first batch probes an empty store, so the quarters start after it
    probe = [s["end"] - s["start"] for s in spans
             if s["name"] == "streaming.neardup.store_probe"][1:]
    q = max(1, len(probe) // 4)
    m["streaming.probe_growth"] = sum(probe[-q:]) / max(sum(probe[:q]), 1e-3)
    m["corpus.attempted"] = c.get("attempted", 0)
    m["corpus.admitted"] = c.get("admitted", 0)
    m["corpus.admit_ratio"] = c.get("admitted", 0) / max(c.get("attempted", 0), 1)
    for k in ("classifier", "bloom", "ngram"):
        m[f"gate.{k}_rejected"] = c.get(f"{k}_rejected", 0)
    m["dedup.neardup_rejected"] = c.get("neardup_rejected", 0)
    m["sinks.sig_store_files"] = data_files(os.path.join(croot, "sig_store"))
    m["sinks.sig_store_generations"] = c.get("sig_store_generations", 0)
    return m


def run_once(workload, seed, seconds, trace, cores=NPROC,
             limit=RUN_LIMIT_S):
    """One valid-or-retried run; returns (result line, full record)."""
    work = os.path.join(HERE, ".work", workload)
    attempts = []
    t_begin = time.time()
    while True:
        classes = build.ensure()
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        before = harness.sample_machine()
        t0 = t_setup = time.time()
        stage.stage(workload, os.path.join(HERE, "fixtures"), work, seed,
                    seconds)
        feed = Feed(work) if workload == "reference_stream" else None
        oracle = OracleCheck(work) if workload == "headline_batch" else None
        try:
            raw = launch(classes, workload, seed, seconds, trace, cores, work,
                         limit, oracle and oracle.poll)
        finally:
            if feed:
                released = feed.close()
        if feed:
            raw["gmall"]["files"] = released
            raw["attempted"] += len(released)
        after = harness.sample_machine()
        e2e, rec = end_to_end(workload, raw, t_setup)
        tick = (1.0 / rec["rate_files_per_s"]
                if workload == "reference_stream" else None)
        v = harness.validity(before, after, NPROC, rec.get("gen_late_max_s"),
                             tick)
        attempts.append(v)
        took = time.time() - t0
        if not v["invalid"] or time.time() - t_begin + took > limit:
            break
        print(f"[perfbench] run invalid ({'; '.join(v['reasons'])}); "
              "running it again", file=sys.stderr)
    failures = list(raw["failures"])
    t_check = time.time()
    if oracle:
        oracle.poll(final=True)
        failures += oracle.failures
    if workload == "reference_stream" and \
            rec["files_fresh"] < rec["files_released"]:
        failures.append(f"{rec['files_released'] - rec['files_fresh']} "
                        "released files never reached every store")
    attempted = raw["attempted"]
    record = {"workload": workload, "seed": seed, "seconds": seconds,
              "trace": trace, "cores": cores, "end_to_end": e2e, **rec,
              "validity": attempts[-1], "invalid": attempts[-1]["invalid"],
              "attempts": attempts, "attempted": attempted,
              "failed": len(failures), "failures": failures,
              "error_rate": len(failures) / max(attempted, 1),
              "setup_parts_s": {k: v for k, v in raw.items()
                                if k.startswith("setup_")},
              # where a run's wall time goes
              "timeline_s": {
                  "setup": e2e["setup_s"], "timed": raw["wall_s"],
                  "engine_check": (raw["end_epoch_ms"] -
                                   raw["first_op_epoch_ms"]) / 1e3 -
                                  raw["wall_s"],
                  "harness_check": time.time() - t_check}}
    if trace:
        record["per_layer"] = per_layer(workload, raw, rec)
        record["span_check"] = harness.span_check(raw["spans"], raw["wall_s"])
        record["self_time_s"] = harness.self_time_by_name(raw["spans"])
        record["spans"] = raw["spans"]
    metrics = record["per_layer"] if trace else e2e
    units = ({n: u for n, u, _ in PER_LAYER} if trace else dict(END_TO_END))
    line = {"correct": not failures, "attempted": attempted,
            "failed": len(failures),
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in metrics.items()}}
    record["run_total_s"] = time.time() - t_begin
    with open(os.path.join(work, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    return line, record


def record_all(seed, seconds):
    """The committed trace records: untraced, traced, and 1-core runs of
    every workload."""
    out_dir = os.path.join(HERE, "records")
    os.makedirs(out_dir, exist_ok=True)
    for w in WORKLOADS:
        _, plain = run_once(w, seed, seconds, False)
        _, traced = run_once(w, seed, seconds, True)
        _, serial = run_once(w, seed, seconds, False, 1, SERIAL_LIMIT_S)
        spans = traced.pop("spans")
        with open(os.path.join(out_dir, f"{w}.spans.json"), "w") as f:
            json.dump(spans, f)
        traced["span_file"] = f"{w}.spans.json"
        traced["untraced"] = plain
        traced["serial_baseline_local1"] = serial
        traced["tracing_overhead"] = {
            k: traced["end_to_end"][k] / plain["end_to_end"][k] - 1.0
            for k in plain["end_to_end"] if plain["end_to_end"][k]}
        with open(os.path.join(out_dir, f"{w}.json"), "w") as f:
            json.dump(traced, f, indent=1)
        print(f"[perfbench] wrote records/{w}.json", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    try:
        if a.record:
            record_all(a.seed, a.seconds)
            return 0
        if not a.workload:
            ap.error("--workload is required")
        line, _ = run_once(a.workload, a.seed, a.seconds, bool(a.trace))
    except (build.BuildError, RuntimeError, OSError) as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 1
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
