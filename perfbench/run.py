"""Benchmark runner: one workload per invocation.

    python3 perfbench/run.py --workload api_mixed --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the program if needed
(`build.py`), makes the workload's inputs from `--seed` (`gen.py`),
runs one JVM (`src/Main.scala`), checks every output (`checks.py`) and
prints one JSON line last: `correct`, `attempted`, `failed`, `metrics`.
With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the per-layer ones, and the spans go to `.bench_out/`.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

# Fixed load shape (README: "Workloads"). local[CPUS] and the client
# count stay at or below the 4 cores of the reference machine.
CPUS = 2
SHAPES = {
    "api_mixed": {"clients": 2, "length": 60},
    "stream_ingest": {"files": 2, "per_file": 200, "streams": 2, "redeliver": 0.10,
                      "malformed": 0.02, "compact_after": 2},
    "query_mix": {"sf": 0.01,
                  "short": ",".join(["q02_filter_project", "q13_topk_orders", "q20_revision_assign",
                                     "q22_stream_metadata", "q26_token_stats", "q75_redact_pii",
                                     "q120_extract_anchors", "q154_sign_project",
                                     "q38_embedding_stats", "q42_frame_sample"]),
                  "heavy": "q145_ppjoin_pairs,q159_edit_join"},
}
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def process_start():
    """Wall-clock start of this process, from /proc (covers interpreter
    start-up, which time.time() at import would miss)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks():
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    return t[7], sum(t)


def metric_names(trace):
    """(name, unit) of the metrics a run prints, from BENCHMARK.json."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer" if trace else "end_to_end"]]


def store_layout(store, events):
    """On-disk layer counters for one store root: per user stream, its
    files, head-manifest and all-manifest bytes, data and key bytes, and
    orphans (files no manifest on disk lists); bytes per committed event
    over everything under the root."""
    total = sum(os.path.getsize(p) for p in glob.glob(f"{store}/**", recursive=True)
                if os.path.isfile(p))
    dirs = [d for d in glob.glob(f"{store}/*/*") if os.path.isdir(d)
            and not os.path.basename(os.path.dirname(d)).startswith(".")]
    acc = {"files": 0, "head": 0, "manifests": 0, "data": 0, "keys": 0, "orphans": 0}
    for d in dirs:
        names = os.listdir(d)
        mans = sorted(n for n in names if n.startswith("manifest-") and n.endswith(".log"))
        listed = set()
        for m in mans:
            with open(os.path.join(d, m)) as f:
                listed |= {l[2:].strip() for l in f if l[:2] in ("f ", "k ")}
        size = lambda n: os.path.getsize(os.path.join(d, n))
        acc["files"] += len(names)
        acc["head"] += size(mans[-1]) if mans else 0
        acc["manifests"] += sum(size(m) for m in mans)
        acc["data"] += sum(size(n) for n in names if n.endswith(".parquet"))
        acc["keys"] += sum(size(n) for n in names if n.endswith(".keys"))
        acc["orphans"] += sum(1 for n in names if n not in listed and n not in mans)
    n = max(1, len(dirs))
    return {"store_bytes_per_event": total / max(1, events),
            "eventstore.files_per_stream": acc["files"] / n,
            "eventstore.head_manifest_bytes": acc["head"] / n,
            "eventstore.manifest_bytes": acc["manifests"] / n,
            "eventstore.data_bytes": acc["data"] / n,
            "eventstore.key_bytes": acc["keys"] / n,
            "eventstore.orphan_files": acc["orphans"] / n}


def run_checks(workload, work, res, expected):
    if workload == "api_mixed":
        errs = []
        for d in res["log_dirs"].split(os.pathsep):
            for p in sorted(glob.glob(f"{d}/client-*.jsonl")):
                with open(p) as f:
                    lines = [json.loads(l) for l in f]
                meta = [l for l in lines if l["kind"] == "meta"][-1]
                final = json.loads(meta["body"])["data"]["attributes"]["revision"]
                errs += [f"{p}: {e}" for e in checks.check_api(lines, final)]
        return errs
    if workload == "stream_ingest":
        import duckdb
        errs = []
        for d in res["round_dirs"].split(os.pathsep):
            committed = duckdb.sql(
                f"SELECT stream_id, revision, source, id FROM '{d}/committed/*.parquet'").fetchall()
            dead = 0
            for p in glob.glob(f"{d}/dead/*.txt"):
                with open(p) as f:
                    dead += sum(1 for _ in f)
            with open(f"{d}/replay.jsonl") as f:
                replay = {r["stream_id"]: (r["count"], r["amount"]) for r in map(json.loads, f)}
            errs += [f"{d}: {e}" for e in checks.check_ingest(expected, committed, dead, replay)]
        return errs
    with open(f"{work}/oracle_sql.json") as f:
        oracle = json.load(f)
    errs = checks.check_queries(f"{work}/tables", res["results_dir"], oracle)
    if res["mismatches"]:
        errs.append(f"{res['mismatches']} timed results differ from the checked first pass")
    return errs


def main():
    t_start = process_start()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()

    b0 = time.time()
    classes = build.build(root)
    build_s = time.time() - b0

    shape = SHAPES[a.workload]
    work = os.path.join(root, ".bench_work", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        expected = None
        if a.workload == "query_mix":
            gen.make_tables(os.path.join(work, "tables"), a.seed, shape["sf"])
        elif a.workload == "stream_ingest":
            expected = gen.make_ingest(os.path.join(work, "pool"), a.seed, shape["files"],
                                       shape["per_file"], shape["streams"],
                                       shape["redeliver"], shape["malformed"])
        spans = os.path.join(root, ".bench_out", f"spans-{a.workload}-seed{a.seed}.jsonl")
        # JIT and GC thread counts are capped so that the JVM leaves a core
        # of the 4 free: on a saturated machine its own compiler threads
        # would queue the measured work and make every figure noisy
        cmd = (["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-XX:CICompilerCount=2",
                "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1", f"-Djava.io.tmpdir={work}/tmp",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", build.classpath(root, classes), "perfbench.Main",
                  "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", str(a.trace), "--work", work, "--spans", spans, "--cpus", str(CPUS)]
               + [x for k, v in shape.items() for x in (f"--shape.{k}", str(v))])
        steal0, total0 = cpu_ticks()
        proc = subprocess.run(cmd, stdout=sys.stderr, timeout=JVM_TIMEOUT_S)
        steal1, total1 = cpu_ticks()
        if proc.returncode != 0:
            raise RuntimeError(f"benchmark JVM exited with {proc.returncode}")
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)

        errs = run_checks(a.workload, work, res, expected)
        for e in errs[:20]:
            print(f"CHECK FAILED: {e}", file=sys.stderr)
        m = dict(res)
        m["setup_s"] = res["first_op_ms"] / 1e3 - t_start - build_s
        # share of CPU time the hypervisor gave to other guests during the
        # JVM's life: the first thing to look at when a run reads slow
        m["host_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
        if a.workload != "query_mix":
            m.update(store_layout(res["store_dir"], res["events"]))
        if a.workload == "stream_ingest":
            m["eventstore.redelivered_sent"] = expected["redelivered_sent"]
            m["eventstore.redelivered_dropped"] = (
                expected["events"] + expected["redelivered_sent"] - res["events"])
        # the workload-specific breakdown of the untraced run, for the log
        print(json.dumps({k: v for k, v in m.items() if isinstance(v, (int, float))}))
        # a layer this workload does not use reads 0
        metrics = {n: {"value": float(m.get(n) or 0.0), "unit": u}
                   for n, u in metric_names(a.trace)}
        print(json.dumps({"correct": not errs, "attempted": int(res["attempted"]),
                          "failed": int(res["failed"]), "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
