"""Benchmark of the HL7 data plane and of a sample of the analytics registry.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 7 --trace 0

Workloads:
  ingest  the write path: repeated batch allEvents -> writeLake jobs, then one
          streaming drain (messagesStream -> ingestStream -> stage -> withZone
          -> lakeSink) of a second inbox;
  serve   the read path: set-up writes a lake, then Zipf-skewed point
          lookups (retrieve) from closed-loop clients, then a fixed analytic
          sequence: three Views aggregates and a registry sample.

Builds the engine with the harness (perfbench/build.py), generates the
workload's inputs from --seed, runs the harness JVM, checks the outputs
against the generators' truth (the registry against DuckDB), and prints one
JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Everything it writes goes under .bench_build/ at the repository root.
"""

import argparse
import json
import os
import random
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_er7  # noqa: E402
import gen_tables  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
ARCHIVE = os.path.join(build.OUT, "app.jsa")
CORES = 2
JVM_TIMEOUT_S = 150
TRAIN_TIMEOUT_S = 600

# Inputs. Sizes are fixed, so every run of a workload does the same work.
INGEST = dict(messages=2000, files=8, blob_bytes=1 << 20, min_ops=3)
STREAM = dict(messages=600, files=6, files_per_trigger=1, blob_bytes=1 << 19, n_blobs=1)
WARM = dict(messages=20, files=1)
SERVE = dict(messages=3000, files=12, blob_bytes=1 << 20, clients=2, requests=2000,
             absent=0.10, qualified=0.20, zipf_s=1.1)
REGISTRY_SF = 0.02
# (query, layer): one layer per registry module
REGISTRY = [
    ("q03_join_agg", "queries"), ("q12_window_rank", "queries"),
    ("q17_date_funcs", "queries"),
    ("q114_dedup_pipeline", "llm"),
    ("q41_asof_join", "operators"), ("q150_salted_join", "operators"),
    ("q227_bloom_semijoin", "operators"),
    ("q35b_stream_dedup", "streaming.twins"),
]

END_TO_END = [("setup_s", "s"), ("items_per_s", "1/s"), ("op_p50_ms", "ms"),
              ("op_p90_ms", "ms"), ("aux_items_per_s", "1/s"), ("aux_op_p50_ms", "ms")]
PER_LAYER = [
    ("sources.er7_scan.s", "s"), ("hl7.read_split.s", "s"), ("hl7.ingest.s", "s"),
    ("hl7.ingest.shuffle_bytes", "bytes"), ("hl7.ingest.dedup_drop_frac", "frac"),
    ("hl7.stage.s", "s"), ("hl7.stage.error_frac", "frac"),
    ("hl7.er7parser.msgs_per_s", "1/s"), ("hl7.route.s", "s"), ("hl7.write_lake.s", "s"),
    ("hl7.write_lake.input_read_ratio", "ratio"), ("hl7.write_lake.files", "count"),
    ("hl7.write_lake.bytes_per_file", "bytes"), ("hl7.lake.bytes_per_msg_byte", "ratio"),
    ("hl7.busy_frac", "frac"),
    ("streaming.latest_offset_ms", "ms"), ("streaming.add_batch_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"), ("streaming.state.rows", "count"),
    ("streaming.state.memory_bytes", "bytes"), ("streaming.state.commit_ms", "ms"),
    ("streaming.lake.files_per_batch", "count"),
    ("hl7.retrieve.call_ms", "ms"), ("hl7.retrieve.collect_ms", "ms"),
    ("hl7.retrieve.tasks_per_lookup", "count"), ("hl7.retrieve.bytes_per_lookup", "bytes"),
    ("hl7.retrieve.files_per_lookup", "count"),
    ("hl7.views.patients_ms", "ms"), ("hl7.views.observations_ms", "ms"),
    ("hl7.views.diagnoses_ms", "ms"), ("hl7.views.bytes_read", "bytes"),
    ("queries.s", "s"), ("llm.s", "s"), ("operators.s", "s"), ("streaming.twins.s", "s"),
    ("registry.tasks", "count"), ("registry.shuffle_bytes", "bytes"),
    ("registry.spill_bytes", "bytes"), ("registry.gc_s", "s"), ("registry.busy_frac", "frac"),
    ("tracing.overhead_frac", "frac"), ("host.steal_frac", "frac"),
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- inputs

def lookup_requests(truth, seed, n, cfg):
    """Zipf-skewed lookups over the lake's ids, some absent, some qualified
    with a format. Each line is `id<TAB>format`; returns (lines, expected
    row count per lookup)."""
    rng = random.Random(seed * 7919 + 1)
    ids = [(i, "json") for i in truth["ok_ids"]] + [(i, "txt") for i in truth["error_ids"]]
    rng.shuffle(ids)  # rank order of the popularity
    cum, acc = [], 0.0
    for r in range(1, len(ids) + 1):
        acc += 1.0 / r ** cfg["zipf_s"]
        cum.append(acc)
    lines, expected = [], []
    for k in range(n):
        if rng.random() < cfg["absent"]:
            mid, zone_fmt, rows = gen_er7.msg_id("absent-%d-%d" % (seed, k)), "er7", 0
        else:
            (mid, zone_fmt), = rng.choices(ids, cum_weights=cum)
            rows = 1
        fmt = rng.choice(["er7", zone_fmt]) if rng.random() < cfg["qualified"] else "-"
        lines.append("%s\t%s" % (mid, fmt))
        expected.append(rows)
    return lines, expected


def prepare(workload, seed, work, scale=1.0):
    """Writes the workload's inputs under `work`; returns (harness args, truth).
    `scale` shrinks every input (the class-archive training run uses it)."""
    def n(x):
        return max(20, int(x * scale))
    args = {}
    if workload == "ingest":
        truth = gen_er7.generate(os.path.join(work, "inbox"), seed, n(INGEST["messages"]),
                                 INGEST["files"], blob_bytes=INGEST["blob_bytes"])
        truth["stream"] = gen_er7.generate(
            os.path.join(work, "stream_inbox"), seed + 1, n(STREAM["messages"]), STREAM["files"],
            n_blobs=STREAM["n_blobs"], blob_bytes=STREAM["blob_bytes"])
        gen_er7.generate(os.path.join(work, "warm_inbox"), seed + 2, WARM["messages"],
                         WARM["files"], n_blobs=0)
        for k in ("inbox", "stream_inbox", "warm_inbox"):
            args[k] = os.path.join(work, k)
        args["files_per_trigger"] = STREAM["files_per_trigger"]
        args["min_ops"] = INGEST["min_ops"]
        return args, truth
    truth = gen_er7.generate(os.path.join(work, "inbox"), seed, n(SERVE["messages"]),
                             SERVE["files"], n_blobs=1, blob_bytes=SERVE["blob_bytes"])
    lines, truth["expected_rows"] = lookup_requests(truth, seed, SERVE["requests"], SERVE)
    with open(os.path.join(work, "requests.tsv"), "w") as f:
        f.write("\n".join(lines))
    gen_tables.generate(os.path.join(work, "data"), seed, REGISTRY_SF * scale)
    args.update(inbox=os.path.join(work, "inbox"), requests=os.path.join(work, "requests.tsv"),
                clients=SERVE["clients"], data=os.path.join(work, "data"),
                queries=",".join("%s:%s" % q for q in REGISTRY))
    return args, truth


# ---------------------------------------------------------------- checks

def check_lake(res, tag, truth, zones, failures):
    """The lake holds exactly the planted messages: per-zone id counts, no
    doubled row, the same message_id set, one catalog row per lake row."""
    got_zones = res["%s_zones" % tag]
    want = {z: truth["zones"][z] for z in zones}
    got = {z: v["ids"] for z, v in got_zones.items()}
    if got != want:
        failures.append("%s zones %s != planted %s" % (tag, got, want))
    doubled = {z: v for z, v in got_zones.items() if v["rows"] != v["ids"]}
    if doubled:
        failures.append("%s rows doubled: %s" % (tag, doubled))
    with open(os.path.join(res["work"], "%s_ids.txt" % tag)) as f:
        ids = set(f.read().split())
    if ids != set(truth["ok_ids"]) | set(truth["error_ids"]):
        failures.append("%s message_id set differs from the planted set" % tag)
    n_rows = sum(v["rows"] for v in got_zones.values())
    if res["%s_catalog_rows" % tag] != n_rows:
        failures.append("%s catalog rows %d != lake rows %d"
                        % (tag, res["%s_catalog_rows" % tag], n_rows))


def oracle_counts(data, sqls):
    """Row counts of the registry's oracle SQL under DuckDB, same parquet."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET temp_directory='%s'" % os.path.join(data, "duckdb_tmp"))
    for f in os.listdir(data):
        if f.endswith(".parquet"):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                        % (f[:-len(".parquet")], os.path.join(data, f)))
    return {q: con.execute("SELECT count(*) FROM (%s)" % sql).fetchone()[0]
            for q, sql in sqls.items()}


def check(workload, res, truth, args):
    """Marks wrong results as failed operations; returns the failure list."""
    failures = ["%s failed: %s" % (o.get("name", o["kind"]), o.get("error"))
                for o in res["ops"] if not o["ok"]]

    def fail(o, why):
        o["ok"] = False
        failures.append(why)

    if workload == "ingest":
        check_lake(res, "lake", truth, ["ingestion/er7", "staging/json", "error/txt"], failures)
        # the streaming chain lands the staged population only
        check_lake(res, "stream", truth["stream"], ["staging/json", "error/txt"], failures)
        return failures
    check_lake(res, "lake", truth, ["ingestion/er7", "staging/json", "error/txt"], failures)
    oracle = oracle_counts(args["data"], res["oracle_sql"])
    for name, _ in REGISTRY:
        if name not in oracle:
            failures.append("no oracle SQL for %s" % name)
    for o in res["ops"]:
        if not o["ok"]:
            continue
        if o["kind"] == "lookup":
            want = truth["expected_rows"][o["idx"]]
            if o["rows"] != want or not o["payload_ok"]:
                fail(o, "lookup %d: %d rows (want %d), payload ok %s"
                     % (o["idx"], o["rows"], want, o["payload_ok"]))
        elif o["module"] == "views":
            want = truth["views"][o["name"].rsplit(".", 1)[1]]
            if o["rows"] != want:
                fail(o, "%s: %d rows (want %d)" % (o["name"], o["rows"], want))
        elif o["name"] in oracle and o["rows"] != oracle[o["name"]]:
            fail(o, "%s: %d rows, oracle %d" % (o["name"], o["rows"], oracle[o["name"]]))
    return failures


# ---------------------------------------------------------------- metrics

def end_to_end(workload, res, truth):
    """The end-to-end metrics from the untraced samples. Failed operations
    are counted by the caller and never contribute a time."""
    ops = res["ops"]
    if workload == "ingest":
        lat = stats.latencies([o for o in ops if o["kind"] == "ingest"])
        items_per_s = truth["n_messages"] * len(lat) / (sum(lat) / 1000)
        drains = stats.latencies([o for o in ops if o["kind"] == "drain"])
        aux_lat = [stats.unstolen(b, o["steal"]) for o in ops
                   if o["kind"] == "drain" and o["ok"] for b in o["batch_ms"]]
        aux_items_per_s = truth["stream"]["n_messages"] * len(drains) / (sum(drains) / 1000)
    else:
        lat = stats.latencies([o for o in ops if o["kind"] == "lookup"])
        items_per_s = len(lat) / stats.unstolen(res["window_s"], res["window_steal"])
        aux_lat = stats.latencies([o for o in ops if o["kind"] == "query"])
        aux_items_per_s = len(aux_lat) / (sum(aux_lat) / 1000)
    p90, q, n = stats.tail(lat, 0.9)
    steal = [o["steal"] for o in ops if "steal" in o] or [0.0]
    log("%d operations, tail quantile q=%.2f; %d auxiliary operations; median steal %.3f"
        % (n, q, len(aux_lat), stats.median(steal)))
    setup = [stats.unstolen(w, s) for w, s in zip(res["setup_reps_s"], res["setup_reps_steal"])]
    return {
        "setup_s": stats.unstolen(res["session_s"], res["session_steal"]) + stats.median(setup),
        "items_per_s": items_per_s,
        "op_p50_ms": stats.median(lat),
        "op_p90_ms": p90,
        "aux_items_per_s": aux_items_per_s,
        "aux_op_p50_ms": stats.median(aux_lat),
    }


def per_layer(workload, res, truth):
    """The per-layer metrics of a traced run; 0 for a layer the workload
    does not exercise."""
    layers = dict(res.get("layers", {}))
    ops = res["ops"]
    if workload == "ingest":
        z = res["lake_zones"]
        ingested = z["ingestion/er7"]["rows"]
        staged = sum(v["rows"] for k, v in z.items() if k != "ingestion/er7")
        layers["hl7.ingest.dedup_drop_frac"] = 1 - ingested / truth["n_messages"]
        layers["hl7.stage.error_frac"] = z.get("error/txt", {}).get("rows", 0) / staged
        layers["hl7.lake.bytes_per_msg_byte"] = res["lake_parquet_bytes"] / truth["input_bytes"]
        untraced = [o["ms"] for o in ops if o["kind"] == "ingest" and o["ok"]]
    else:
        untraced = [o["ms"] for o in ops if o["kind"] == "lookup" and o["ok"]]
    layers["host.steal_frac"] = stats.median([o["steal"] for o in ops if "steal" in o])
    if untraced and res.get("traced_op_ms"):
        layers["tracing.overhead_frac"] = (stats.median(res["traced_op_ms"])
                                           / stats.median(untraced) - 1)
    return {name: layers.get(name, 0.0) for name, _ in PER_LAYER}


# ---------------------------------------------------------------- JVM

def jvm(work, extra=()):
    """The harness command line (module opens as spark-submit adds them)."""
    cmd = ["java"]
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return cmd + list(extra) + [
        "-Xmx2g", "-XX:ReservedCodeCacheSize=256m", "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", build.classpath(), "perfbench.Harness", "work=" + work, "cores=%d" % CORES]


def launch(cmd, work, timeout=JVM_TIMEOUT_S):
    """Runs the harness to completion; returns its result document."""
    with open(os.path.join(work, "harness.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = -1
    if code != 0:
        with open(os.path.join(work, "harness.log")) as f:
            log(f.read()[-4000:])
        raise SystemExit("harness exited with code %d" % code)
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    res["work"] = work
    return res


def train_archive():
    """Writes the JVM class archive (AppCDS) from one small traced run of both
    workloads, so every measured run starts from the same archived classes
    instead of reading thousands of classes out of the Spark jars."""
    work = os.path.join(ROOT, ".bench_build", "work", "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = {}
    for w in ("ingest", "serve"):
        args.update(prepare(w, 0, work, scale=0.1)[0])
    cmd = jvm(work, ["-XX:ArchiveClassesAtExit=" + ARCHIVE]) + [
        "workload=ingest,serve", "seconds=0", "trace=1"]
    launch(cmd + ["%s=%s" % kv for kv in args.items()], work, TRAIN_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if build.build() or not os.path.exists(ARCHIVE):
        train_archive()
    work = os.path.join(ROOT, ".bench_build", "work", "%s-%d" % (a.workload, a.seed))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args, truth = prepare(a.workload, a.seed, work)
    cmd = jvm(work, ["-XX:SharedArchiveFile=" + ARCHIVE]) + [
        "workload=" + a.workload, "seconds=%g" % a.seconds, "trace=%d" % a.trace]
    res = launch(cmd + ["%s=%s" % kv for kv in args.items()], work)
    log("session %.2f s, set-up reps %s s"
        % (res["session_s"], " ".join("%.2f" % x for x in res["setup_reps_s"])))
    for o in res["ops"]:
        if o["kind"] == "query":
            log("  %-32s %-16s %8.0f ms" % (o["name"], o["module"], o.get("ms", -1)))

    failures = check(a.workload, res, truth, args)
    for f in failures:
        log("CHECK FAILED:", f)
    if a.trace:
        metrics, units = per_layer(a.workload, res, truth), dict(PER_LAYER)
        traces = os.path.join(ROOT, ".bench_build", "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(work, "spans.json"),
                    os.path.join(traces, "%s-%d-spans.json" % (a.workload, a.seed)))
    else:
        metrics, units = end_to_end(a.workload, res, truth), dict(END_TO_END)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not failures,
        "attempted": len(res["ops"]),
        "failed": stats.failed(res["ops"]),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
