"""The repository's benchmark: one workload pass, one closed-loop client.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. It builds the engine and harness
(`perfbench/build.py`), runs the workload in a fresh JVM on
`local[<cores>]` with the engine's default session tuning over copies
of the repository's test tables (`perfbench/data/`), checks every
output against its DuckDB oracle outside the timed interval, and prints
as its last line one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the gated end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`). The lines before it give the workload's own
figures, wall times among them, and the host covariates of the run.

Workloads (`perfbench/layers.json` maps every metric to its meaning):
  crm_triggers    the five HTTP-triggered exports fired once each, in
                  turn: paged source leg, transforms, one-file render,
                  upsert publish
  curation_power  cold power run of the curation tier: six artifact
                  builds, one line per query family, three near-dup
                  ingest batches and a compaction

Each pass is fixed work, so its figures compare across runs and hosts;
`--seconds` is recorded with the run and does not change the pass.
With `--workload all` it runs every workload in turn (one process each)
and prints their metrics keyed `<workload>.<metric>`.

Every run leaves its record (raw op timings, host covariates: nproc,
loadavg at start and end, whole-run steal) in `.bench_build/results/`.
A traced run also writes its spans and per-layer split to
`.bench_build/traces/<run id>.json`; `perfbench/layer_diff.py` compares
two sets of such artifacts.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402

WORKLOADS = ["crm_triggers", "curation_power"]
# the workload metric that is the wall time of its measured pass
JOB_WALL = {"crm_triggers": "cycle_s", "curation_power": "curation_job_s"}
# Copies of the repository's test tables: crm_triggers reads sf0.001
# (150 customers, 1.5k orders, 6k line items, 1k events), the smoke
# scale; curation_power reads sf0.01 (500 documents, 500 embeddings,
# 10k events), the scale the DuckDB oracle gate certifies.
DATA = {"crm_triggers": os.path.join("perfbench", "data", "sf0.001"),
        "curation_power": os.path.join("perfbench", "data", "sf0.01")}
JVM_HEAP = "2g"
# Median seconds of the harness's single-core probe on a quiet 4-core
# x86-64 cloud VM; CPU times are reported at this core speed.
PROBE_REF_S = 0.035
RUN_TIMEOUT_S = 170
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
LAYERS = ["session", "sources", "tables", "pipelines", "upsert", "llm", "operators",
          "streaming"]
BUILD_LINES = ["index_build", "pairs_build", "cc_build", "knn_build_b4", "bpe_build",
               "tok_build"]
FAMILIES = [("llm", "dedup"), ("llm", "similarity"), ("llm", "text"), ("llm", "curation"),
            ("llm", "multimodal"), ("pipelines", "analytics"), ("pipelines", "profile")]


# ---------------------------------------------------------------- host

def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_jiffies():
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


# ---------------------------------------------------------------- stats

def median(xs):
    return statistics.median(xs) if xs else 0.0


def gmean(xs):
    return statistics.geometric_mean(xs) if xs else 0.0


def tail(xs):
    """Highest of p99/p95/p90/p75 with at least ten samples beyond it;
    the maximum when there are too few samples for any of them."""
    xs = sorted(xs)
    n = len(xs)
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            return xs[min(n - 1, int(n * p / 100))], p, n
    return (xs[-1] if xs else 0.0), 100, n


# ---------------------------------------------------------------- checks

def canon(df):
    """Column- and row-order-free form of a result, as the repository's
    oracle gate (`tools/check_oracle.py`) compares them."""
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True,
                            key=lambda s: s.astype(str))
    return df.reset_index(drop=True)


class Oracle:
    """DuckDB over the input tables; answers cached per (SQL, data)."""

    def __init__(self, data_dir, cache_dir):
        import duckdb
        self.con = duckdb.connect()
        self.con.sql("SET threads TO 2")
        for t in TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        self.cache_dir = cache_dir
        self.data_key = data_dir

    def answer(self, sql):
        key = hashlib.sha256((self.data_key + "\0" + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".parquet")
        if os.path.exists(path):
            return self.con.sql(f"SELECT * FROM '{path}'").df()
        df = self.con.sql(sql).df()
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        self.con.from_df(df).write_parquet(tmp)
        os.replace(tmp, path)
        return df

    def mismatch(self, got_glob, sql):
        """None when the Spark output equals the oracle, else why not."""
        try:
            got = canon(self.con.sql(f"SELECT * FROM '{got_glob}'").df())
            want = canon(self.answer(sql))
        except Exception as e:  # unreadable output counts as a mismatch
            return f"{type(e).__name__}: {e}"[:300]
        if list(got.columns) != list(want.columns):
            return f"columns {list(got.columns)} vs {list(want.columns)}"
        if len(got) != len(want):
            return f"rows {len(got)} vs {len(want)}"
        bad = (got.astype(str) != want.astype(str)).any(axis=1)
        return f"{int(bad.sum())}/{len(got)} rows differ" if bad.any() else None


def check_crm(rec, oracle):
    """Each published report against its oracle; a mismatch fails the
    last fire of the report's trigger."""
    bad = {}
    for r in rec["checks"]["reports"]:
        why = oracle.mismatch(r["path"], r["oracle"])
        if why:
            bad.setdefault(r["trigger"], []).append(f"{r['report']}: {why}")
    return bad


def check_curation(rec, oracle, results_dir):
    bad = {}
    for line in rec["checks"]["lines"]:
        why = oracle.mismatch(os.path.join(line["path"], "*.parquet"), line["oracle"])
        if why:
            bad[line["query"]] = [why]
    # the write path: novel docs admitted, exact repeats not, and the
    # same admitted ids as the last run of this seed
    batches = rec["checks"]["batches"]
    ids = {str(b["batch"]): b["admitted_ids"] for b in batches}
    prev_file = os.path.join(results_dir, f"admitted-seed{rec['seed']}.json")
    prev = None
    if os.path.exists(prev_file):
        with open(prev_file) as f:
            prev = json.load(f)
    for b in batches:
        name = f"ingest_batch:{b['batch']}"
        if b["novel_missing"]:
            bad.setdefault(name, []).append(f"{b['novel_missing']} novel docs not admitted")
        if b["exact_admitted"]:
            bad.setdefault(name, []).append(f"{b['exact_admitted']} exact repeats admitted")
        if prev is not None and str(b["batch"]) in prev and prev[str(b["batch"])] != ids[str(b["batch"])]:
            bad.setdefault(name, []).append("admitted set differs from the last run of this seed")
    os.makedirs(results_dir, exist_ok=True)
    with open(prev_file, "w") as f:
        json.dump(ids, f)
    return bad


# ---------------------------------------------------------------- metrics

def end_to_end(rec):
    """The gated end-to-end metrics, and the workload's own figures
    (printed, not gated; see layers.json)."""
    ops = rec["ops"]
    wall = lambda pred: sum(o["seconds"] for o in ops if pred(o))  # noqa: E731
    cpu = lambda pred: sum(o["cpu_s"] for o in ops if pred(o))  # noqa: E731
    # CPU seconds at the reference core speed: neighbour load slows this
    # host's cores, and the probes taken between ops, by the same factor
    ref = lambda x: x["cpu_s"] * PROBE_REF_S / x["probe_s"]  # noqa: E731
    ref_cpu = lambda pred: sum(ref(o) for o in ops if pred(o))  # noqa: E731
    every = lambda o: True  # noqa: E731
    writes = [w["seconds"] for w in rec["writes"]]
    if rec["workload"] == "crm_triggers":
        fires = [o["seconds"] for o in ops]
        t, p, n = tail(fires)
        own = {"cycle_s": (wall(every), "s"), "trigger_s.p50": (median(fires), "s"),
               "trigger_s.tail": (t, "s"), "trigger_s.gmean": (gmean(fires), "s"),
               "publish_s": (sum(writes), "s"), "publish_s.p50": (median(writes), "s")}
        write_cpu = sum(ref(w) for w in rec["writes"])
    else:
        build = lambda o: o["kind"] == "build"  # noqa: E731
        ingest = lambda o: o["kind"] in ("batch", "compaction")  # noqa: E731
        lines = [o["seconds"] for o in ops if o["kind"] == "line"]
        docs = sum(o.get("docs_in", 0) for o in ops if o["kind"] == "batch")
        t, p, n = tail(lines)
        own = {"curation_job_s": (wall(every), "s"), "artifact_build_s": (wall(build), "s"),
               "artifact_build_cpu_s": (cpu(build), "s"),
               "line_s.p50": (median(lines), "s"), "line_s.tail": (t, "s"),
               "line_s.gmean": (gmean(lines), "s"), "ingest_s": (wall(ingest), "s"),
               "ingest_batch_s.p50": (median(writes), "s"),
               "ingest_batch_s.tail": (tail(writes)[0], "s"),
               "ingest_docs_per_s": (docs / wall(ingest), "docs/s")}
        write_cpu = ref_cpu(ingest)
    own["tail_percentile"] = (p, "pct")
    own["tail_samples"] = (n, "count")
    own["setup_wall_s"] = (rec["setup"]["start_s"] + rec["setup"]["warmup_s"], "s")
    own["job_cpu_s.unscaled"] = (cpu(every), "s")
    own["probe_s"] = (median(rec["probe_s"]), "s")
    gated = {"setup_s": ref(rec["setup"]), "rss_peak_mb": rec["rss_peak_mb"],
             "job_cpu_s": ref_cpu(every), "write_cpu_s": write_cpu}
    return own, gated


def per_layer(rec):
    spans = rec["spans"]
    by_id = {s["id"]: s for s in spans}
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end_s"] - s["start_s"]
    for s in spans:
        s["self_s"] = max(0.0, s["end_s"] - s["start_s"] - child.get(s["id"], 0.0))
        s["residue_s"] = max(0.0, s["self_s"] - s["stage_busy_s"])

    def top(s):
        while s["parent"] >= 0:
            s = by_id[s["parent"]]
        return s

    def total(key, pred):
        return sum(s[key] for s in spans if pred(s))

    summ = rec["summary"]
    # the table loaders run inside pipeline calls, so `tables` has
    # counters but no spans of its own
    m = {f"{layer}.self_s": total("self_s", lambda s, l=layer: s["layer"] == l)
         for layer in LAYERS if layer != "tables"}
    m["session.start_s"] = rec["setup"]["start_s"]
    m["session.warmup_s"] = rec["setup"]["warmup_s"]
    m["session.self_s"] = m["session.start_s"] + m["session.warmup_s"]
    src = lambda s: s["layer"] == "sources"  # noqa: E731
    requests, pages = summ.get("requests", 0), summ.get("pages", 0)
    m.update({"sources.scan_s": total("self_s", src), "sources.pages": pages,
              "sources.requests": requests, "sources.retries": requests - pages,
              "sources.tasks": total("tasks", src)})
    m["tables.records_read"] = total("input_records", lambda s: not src(s))
    m["tables.bytes_read"] = total("input_bytes", lambda s: not src(s))
    pipe = lambda s: s["layer"] == "pipelines"  # noqa: E731
    for k in range(1, 6):
        m[f"pipelines.trigger{k}_s"] = total(
            "self_s", lambda s, k=k: pipe(s) and top(s)["name"] == f"trigger{k}")
    m.update({"pipelines.rows_out": summ.get("rows_out", 0),
              "pipelines.shuffle_bytes": total("shuffle_write_bytes", pipe),
              "pipelines.stages": total("stages", pipe),
              "pipelines.tasks": total("tasks", pipe),
              "pipelines.codegen_ms": total("codegen_ms", pipe),
              "pipelines.sched_residue_s": total("residue_s", pipe)})
    m.update({"pipelines.render_s": total("self_s", lambda s: s["name"].startswith("render:")),
              "upsert.commit_s": total("self_s", lambda s: s["name"].startswith("publish:")),
              "upsert.bytes": summ.get("published_bytes", 0),
              "upsert.created": summ.get("created", 0),
              "upsert.replaced": summ.get("replaced", 0)})
    build = lambda s: s["group"] == "build"  # noqa: E731
    for line in BUILD_LINES:
        m[f"llm.build.{line}_s"] = total("self_s", lambda s, n=line: s["name"] == f"build:{n}")
    m["llm.build.shuffle_bytes"] = total("shuffle_write_bytes", build)
    m["llm.build.codegen_ms"] = total("codegen_ms", build)
    for layer, fam in FAMILIES:
        f = lambda s, l=layer, g=fam: s["layer"] == l and s["group"] == g  # noqa: E731
        key = f"{layer}.{fam}"
        m.update({f"{key}_s": total("self_s", f),
                  f"{key}.shuffle_bytes": total("shuffle_write_bytes", f),
                  f"{key}.spill_bytes": total("spill_bytes", f),
                  f"{key}.stages": total("stages", f),
                  f"{key}.codegen_ms": total("codegen_ms", f),
                  f"{key}.sched_residue_s": total("residue_s", f)})
    m.update({"operators.compaction_s": total("self_s", lambda s: s["layer"] == "operators"),
              "operators.files_in": summ.get("compaction_files_in", 0),
              "operators.bytes_rewritten": summ.get("compaction_bytes_rewritten", 0)})
    strm = lambda s: s["layer"] == "streaming"  # noqa: E731
    docs_in, admitted = summ.get("docs_in", 0), summ.get("docs_admitted", 0)
    text_bytes = summ.get("admitted_text_bytes", 0)
    m.update({"streaming.ingest_s": total("self_s", strm),
              "streaming.docs_in": docs_in, "streaming.docs_admitted": admitted,
              "streaming.admit_ratio": admitted / docs_in if docs_in else 0.0,
              "streaming.store_files": summ.get("store_files", 0),
              "streaming.bytes_per_user_byte":
                  summ.get("bytes_written", 0) / text_bytes if text_bytes else 0.0,
              "streaming.shuffle_bytes": total("shuffle_write_bytes", strm),
              "streaming.jobs": total("jobs", strm)})
    m["trace.overhead_s"] = rec["trace_overhead_s"]
    return m


# ---------------------------------------------------------------- run

def java_cmd(classpath, jars, args, work):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # the heap starts small and grows, so the peak resident set follows
    # what the run keeps live rather than a preset heap size
    return (["java", *opens, "-XX:+UseParallelGC", f"-Xmx{JVM_HEAP}",
             f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", f"{classpath}{os.pathsep}{os.path.join(jars, '*')}",
             "graft.perfbench.Harness"] + args)


def harness(classpath, jars, args, work, log):
    """Run the harness JVM to completion; raise if it fails."""
    with open(log, "w") as lf:
        proc = subprocess.Popen(java_cmd(classpath, jars, args, work), stdout=lf,
                                stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    out = args[args.index("--out") + 1]
    if rc != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-3000:])
        raise RuntimeError(f"harness exited with {rc}")
    with open(out) as f:
        return json.load(f)


def run_one(root, workload, seed, seconds, trace):
    bdir = os.path.join(root, build.BUILD_DIR)
    classpath = build.build(root)
    jars = build.spark_jars(root)
    data = os.path.join(root, DATA[workload])

    work = os.path.join(bdir, "runs", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    host = {"nproc": os.cpu_count(), "loadavg_start": loadavg()}
    j0 = cpu_jiffies()
    args = ["--workload", workload, "--data", data, "--work", work, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace)]
    try:
        rec = harness(classpath, jars, args + ["--out", os.path.join(work, "result.json")],
                      work, os.path.join(work, "harness.log"))
        j1 = cpu_jiffies()
        host["loadavg_end"] = loadavg()
        host["steal_pct"] = 100.0 * (j1[0] - j0[0]) / max(1, j1[1] - j0[1])
        rec["host"] = host

        oracle = Oracle(data, os.path.join(bdir, "oracle-cache"))
        results = os.path.join(bdir, "results")
        bad = (check_crm(rec, oracle) if workload == "crm_triggers"
               else check_curation(rec, oracle, results))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # an op fails when it threw, or when its output failed a check
    # (the check sees the output of the op's last run)
    last = {o["name"]: i for i, o in enumerate(rec["ops"])}
    failed_ops = {i for i, o in enumerate(rec["ops"]) if not o["ok"]}
    failed_ops |= {last.get(n, n) for n in bad}
    failed = len(failed_ops)
    attempted = len(rec["ops"])
    for o in rec["ops"]:
        if o["error"]:
            print(f"error {o['name']}: {o['error']}", file=sys.stderr)
    for n, whys in bad.items():
        for why in whys:
            print(f"mismatch {n}: {why}", file=sys.stderr)

    own, common = end_to_end(rec)
    figures = {k: v for k, (v, _) in own.items()}
    rec.update(attempted=attempted, failed=failed, mismatches=bad, end_to_end=common,
               workload_metrics=figures)
    results = os.path.join(bdir, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{rec['run_id']}.json"), "w") as f:
        json.dump({k: v for k, v in rec.items() if k != "spans"}, f)
    print(f"# {workload} seed={seed} trace={trace} run_id={rec['run_id']} "
          f"cores={rec['cores']} shuffle_partitions={rec['shuffle_partitions']} "
          f"attempted={attempted} failed={failed}")
    print("# host " + " ".join(f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}"
                               for k, v in host.items()))
    print(f"metric ops_failed_frac {failed / attempted:.6g} failed/attempted")
    for k, (v, unit) in own.items():
        print(f"metric {k} {v:.6g} {unit}")
    units = {"rss_peak_mb": "MB"}
    if trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in per_layer(rec).items()}
        # tracing overhead: this traced pass's wall time minus that of the
        # untraced run of the same seed, when this checkout has one
        untraced = os.path.join(results, f"{workload}-seed{seed}-e2e.json")
        job = JOB_WALL[workload]
        overhead = None
        if os.path.exists(untraced):
            with open(untraced) as f:
                overhead = figures[job] - json.load(f)["workload_metrics"][job]
            print(f"metric trace.traced_minus_untraced_s {overhead:.6g} s")
        artifact = {"workload": workload, "seed": seed, "run_id": rec["run_id"],
                    "host": host, "cores": rec["cores"], "end_to_end": common,
                    "workload_metrics": figures,
                    "tracing_overhead": {"bookkeeping_s": rec["trace_overhead_s"],
                                         f"traced_minus_untraced_{job}": overhead},
                    "layer_metrics": {k: v["value"] for k, v in metrics.items()},
                    "spans": rec["spans"], "summary": rec["summary"]}
        path = os.path.join(bdir, "traces", f"{rec['run_id']}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(artifact, f)
        print(f"# trace written to {path}")
    else:
        metrics = {k: {"value": v, "unit": units.get(k, "s")} for k, v in common.items()}
        with open(os.path.join(results, f"{workload}-seed{seed}-e2e.json"), "w") as f:
            json.dump({"end_to_end": common, "workload_metrics": figures, "host": host}, f)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def unit_of(name):
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_ms"):
        return "ms"
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("ratio") or leaf == "bytes_per_user_byte":
        return "ratio"
    return "bytes" if "bytes" in leaf else "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        sys.exit("run.py: run from the repository root (no src/main/scala here)")
    started = time.time()
    try:
        if a.workload == "all":
            res = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
            for w in WORKLOADS:
                r = run_one(root, w, a.seed, a.seconds, a.trace)
                res["correct"] &= r["correct"]
                res["attempted"] += r["attempted"]
                res["failed"] += r["failed"]
                res["metrics"].update({f"{w}.{k}": v for k, v in r["metrics"].items()})
        else:
            res = run_one(root, a.workload, a.seed, a.seconds, a.trace)
    except (build.BuildError, RuntimeError) as e:
        sys.exit(f"run.py: {e}")
    print(f"# wall {time.time() - started:.1f}s")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
