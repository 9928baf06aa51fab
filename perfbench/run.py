#!/usr/bin/env python3
"""The repository's benchmark: one workload per run, end-to-end metrics
(or, with --trace 1, per-layer metrics) printed as one JSON line.

Usage, from the repository root:
  python3 perfbench/run.py --workload <etl|query_mix> \
      --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), makes the
workload's inputs from the seed (perfbench/corpus.py,
perfbench/tables.py), runs the JVM harness (perfbench/scala), checks
the outputs, and prints
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
as the last line of standard output. Everything it writes goes under
$CARGO_TARGET_DIR (default .bench_build); each run also appends a
compact record, keyed by workload and operation, to
<that dir>/perfbench/log.jsonl for perfbench/compare.py.
"""
import sys
sys.dont_write_bytecode = True  # imports below must leave nothing in the source tree
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import corpus  # noqa: E402
import tables  # noqa: E402

WORKLOADS = ("etl", "query_mix")
QUERY_SF = 0.002   # query_mix table scale: lineitem has 12,000 rows
# Two Spark task threads, and two JIT and two GC threads, on a 4-vCPU
# host: with a task thread per vCPU, the JVM's own threads oversubscribe
# the host, and any other load on it shows in every timing.
CORES = 2
# Only the C1 JIT compiler. Every query_mix pass loads about 450 newly
# generated classes, and C2 spent 14-20 s of CPU per 10 s pass compiling
# them, which kept the JVM near the host's four vCPUs: two busy-loop
# processes beside a run then slowed it by 60%. With C1 only, JIT time
# falls to about 2 s per pass, the same busy loops cost nothing
# measurable, and the passes start out warm.
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:CICompilerCount=2", "-XX:ParallelGCThreads=2"]
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cached(path, make):
    """Builds `path` with make(tmp_path) once; later runs reuse it."""
    if not os.path.isdir(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        os.rename(tmp, path)
    return path


def git_expectations(root):
    """Per analysed repo: non-merge commits and changed files as git lists
    them, plus every merge hash (which must not reach `logs`)."""
    rows, merges = [], []
    for repo in corpus.repo_dirs(root):
        n = int(corpus.git(repo, "rev-list", "--no-merges", "--count", "HEAD"))
        out = corpus.git(repo, "log", "--no-merges", "--name-only", "-z", "--format=%x01%H",
                         "--find-renames=100%", "--find-copies=100%")
        files = sum(len([p for p in chunk.split(b"\0")[1:] if p.strip(b"\n")])
                    for chunk in out.split(b"\x01")[1:])
        rows.append(f"{os.path.basename(repo)}\t{n}\t{files}")
        merges += corpus.git(repo, "rev-list", "--merges", "HEAD").decode().split()
    return rows, merges


def make_corpus(path, seed, shape):
    def make(tmp):
        corpus.make(tmp, seed, shape)
        rows, merges = git_expectations(tmp)
        with open(os.path.join(tmp, "expected.tsv"), "w") as f:
            f.write("\n".join(rows) + "\n")
        with open(os.path.join(tmp, "merges.txt"), "w") as f:
            f.write("\n".join(merges) + "\n")
    return cached(path, make)


def check_etl_outputs(work, cdir):
    """Merges and alias author names never reach the parquet `logs`."""
    import duckdb
    failures = []
    logs = os.path.join(work, "etl_full", "p1", "logs.parquet", "*.parquet")
    con = duckdb.connect()
    hashes = {r[0] for r in con.sql(f"SELECT commit_hash FROM '{logs}'").fetchall()}
    merges = [m for m in open(os.path.join(cdir, "merges.txt")).read().split() if m]
    if not merges:
        failures.append("corpus has no merge commits to exclude")
    leaked = [m for m in merges if m in hashes]
    if leaked:
        failures.append(f"{len(leaked)} merge commits in logs")
    aliases = [name for name, email in corpus.AUTHORS if email in corpus.AUTHOR_MAP]
    bad = con.sql(f"SELECT count(*) FROM '{logs}' WHERE author_name IN "
                  f"({','.join(repr(a) for a in aliases)})").fetchone()[0]
    if bad:
        failures.append(f"{bad} logs rows keep an unmapped alias author name")
    return 2, failures


def check_oracle(work, data, keys):
    """Every key's result matches its DuckDB oracle (tools/oracle_check.py)."""
    proc = subprocess.run([sys.executable, "tools/oracle_check.py", os.path.join(work, "verify"), data],
                          capture_output=True, text=True, timeout=120)
    ok = {line.split()[1] for line in proc.stdout.splitlines() if line.strip().startswith("ok ")}
    failures = [f"oracle: {k}" for k in keys if k not in ok]
    for line in proc.stdout.splitlines():
        if line.strip().startswith("X "):
            log(line.strip())
    return len(keys), failures


def e2e_metrics(r, workload):
    """End-to-end metrics from the harness result."""
    by_pass = {}
    for o in r["ops"]:
        by_pass.setdefault(o["pass"], []).append(o)

    def throughput(ops):
        if workload == "etl":  # commits per second of full load
            loads = [o for o in ops if o["name"] == "full_load"]
            return sum(o["items"] for o in loads) / sum(o["s"] for o in loads)
        keys = [o["s"] for o in ops if o["kind"] == "query"]
        return len(keys) / sum(keys)  # keys per second

    def geomean(ops):
        # the operations differ in cost by 10x, so a geometric mean
        # moves with all of them; their median jumps between neighbours
        return math.exp(statistics.fmean(math.log(o["s"]) for o in ops if o["kind"] == "query"))

    # each time metric is the median over the run's passes
    passes = list(by_pass.values())
    return {
        "setup_s": statistics.median(r["setup_s"]),
        "wall_s": statistics.median(sum(o["s"] for o in ops) for ops in passes),
        "throughput": statistics.median(throughput(ops) for ops in passes),
        "query_geomean_s": statistics.median(geomean(ops) for ops in passes),
        "heap_live_mb": statistics.median(r["heap_mb"]),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    spec = json.load(open("BENCHMARK.json"))
    base = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes = build.build(base)
    jars = build.spark_jars()
    keys = sorted(json.load(open(os.path.join(HERE, "keys.json"))))

    pb = os.path.join(base, "perfbench")
    t0 = time.time()
    harness = ["--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(CORES)]
    if args.workload == "query_mix":
        data = cached(os.path.join(pb, "inputs", f"tables-sf{QUERY_SF}-{args.seed}"),
                      lambda tmp: tables.generate(tmp, args.seed, QUERY_SF))
        harness += ["--input", data, "--keys", ",".join(keys)]
    else:
        cdir, rdir, warm = (make_corpus(os.path.join(pb, "inputs", f"corpus-{shape}-{seed}"), seed, shape)
                            for shape, seed in (("full", args.seed), ("refresh", args.seed), ("warmup", 0)))
        harness += ["--input", cdir, "--refresh", rdir, "--warmup", warm]

    log(f"build and inputs ready in {time.time() - t0:.1f}s")
    work = os.path.join(pb, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    env = {**os.environ, "LC_ALL": "C.UTF-8", "LANG": "C.UTF-8", "TMPDIR": os.path.join(work, "tmp"),
           "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local")}
    cmd = (["java", f"-Xmx{JVM_HEAP}"] + JVM_FLAGS + ["-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
            f"-Dderby.stream.error.file={work}/derby.log"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{jars}/*", "graft.perfbench.Harness"]
           + harness + ["--work", work, "--result", result])
    t0 = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"perfbench: harness exceeded {JVM_TIMEOUT_S}s; log in {work}/jvm.log")
    if code != 0 or not os.path.isfile(result):
        subprocess.run(["tail", "-40", os.path.join(work, "jvm.log")], stdout=sys.stderr)
        sys.exit(f"perfbench: harness exited with {code}; log in {work}/jvm.log")
    log(f"harness finished in {time.time() - t0:.1f}s")
    r = json.load(open(result))

    attempted, failures = r["attempted"], list(r["failures"])
    if args.workload == "etl":
        n, f = check_etl_outputs(work, cdir)
    else:
        n, f = check_oracle(work, data, keys)
    attempted += n
    failures += f
    log(f"output checks done in {time.time() - t0:.1f}s")
    for msg in failures:
        log(f"FAILED: {msg}")

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.trace:
        values = r["layers"]
    else:
        values = e2e_metrics(r, args.workload)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": units[m["name"]]} for m in wanted}

    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "metrics": {k: v["value"] for k, v in metrics.items()},
              "attempted": attempted, "failed": len(failures),
              "ops": [[o["pass"], o["name"], o["kind"], o["s"]] for o in r["ops"]],
              "spans_file": r.get("spans_file"), "pass_counters": r["pass_counters"]}
    with open(os.path.join(pb, "log.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    # keep the result and spans; drop the run's table outputs and scratch
    for name in os.listdir(work):
        if name not in ("result.json", "result.spans.jsonl", "jvm.log"):
            p = os.path.join(work, name)
            shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
