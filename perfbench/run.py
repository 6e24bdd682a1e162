#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload consolidate --seed 1 --seconds 20 --trace 0

Workloads: consolidate, query_mix (see perfbench/README.md).
With ``--trace 0`` the result carries the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` the per-layer metrics.

The engine is built from the checkout's sources on first use (sbt, offline),
into ``.bench_build/``; later runs reuse the build while the sources are
unchanged. Inputs are generated from the seed by ``gen.py``. The engine runs
in one JVM with ``local[<cores>]`` and is driven by a single client.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import gen  # noqa: E402
import tables as tablegen  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(ROOT, ".bench_build")
# a run must end within 180 s, or 900 s when it also builds
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 600

# Per-workload sizes. The measured phase is a fixed list of operations whose
# length follows --seconds at the nominal rate below, so that two versions of
# the engine do the same work.
NOMINAL_OPS_PER_S = {"consolidate": 0.1, "query_mix": 1.2}
CONSOLIDATE_ROWS_PER_FILE = 200
CONSOLIDATE_WARM_ROWS = 40
STREAM_FILES_PER_PASS = 2
STREAM_ROWS_PER_FILE = 200
STREAM_WARM_ROWS = 40
QUERY_MODULES = 8
HEAP = "2g"
# Table set each workload reads: the store seed for consolidate, the query
# tables for query_mix (pinned at this scale).
TABLE_SCALE = {"consolidate": "sf0.01", "query_mix": "sf0.001"}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false",
                "-Dsbt.server.autostart=false"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the engine and the benchmark; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise SystemExit("no engine sources beside the benchmark: "
                         "run from the root of a full checkout")
    os.makedirs(STATE, exist_ok=True)
    digest = source_digest()
    stamp = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as f:
                    return f.read().strip()
    log("building engine and benchmark (sbt) ...")
    t = time.time()
    with open(os.path.join(STATE, "build.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE,
            stderr=out, stdin=subprocess.DEVNULL, text=True,
            timeout=BUILD_TIMEOUT_S)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if not l.startswith("[")]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"build failed (see {STATE}/build.log)")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t:.0f} s")
    return cp


def tables(scale):
    """The table set is deterministic; it is generated once per checkout."""
    with open(os.path.join(BENCH, "tables.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(STATE, "data", f"{scale}-{tag}")
    if not os.path.isfile(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        tablegen.tables(d, scale)
        open(os.path.join(d, "_done"), "w").close()
    return d


def plan_for(workload, seed, seconds, plan_dir, data, tiny):
    n = max(2, round(seconds * NOMINAL_OPS_PER_S[workload])) if not tiny else 2
    opts = {}
    if workload == "consolidate":
        gen.consolidate(plan_dir, data, seed, n,
                        20 if tiny else CONSOLIDATE_ROWS_PER_FILE,
                        10 if tiny else CONSOLIDATE_WARM_ROWS)
        # one stream pass per cycle
        gen.stream(os.path.join(plan_dir, "stream"), seed, n,
                   STREAM_FILES_PER_PASS,
                   20 if tiny else STREAM_ROWS_PER_FILE,
                   10 if tiny else STREAM_WARM_ROWS)
    else:
        os.makedirs(plan_dir, exist_ok=True)
        # one query per module, repeated in rounds up to the operation count
        opts.update(seed=seed, sample=2 if tiny else QUERY_MODULES,
                    rounds=1 if tiny else max(1, round(n / QUERY_MODULES)))
    return opts


def run_jvm(cp, workload, work, data, plan_dir, trace, opts):
    out = os.path.join(work, "result.json")
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the serial collector: on few cores a concurrent collector's threads
    # compete with the task threads; the heap grows only as the run needs it
    cmd += ["--add-modules=jdk.incubator.vector", f"-Xmx{HEAP}",
            "-XX:+UseSerialGC",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main", workload, work, data, plan_dir,
            str(trace), out] + [f"{k}={v}" for k, v in opts.items()]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=logf,
                             stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"engine run exceeded {JVM_TIMEOUT_S} s")
    if not os.path.isfile(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"engine run exited {p.returncode} without a result")
    with open(out) as f:
        return json.load(f)


def result_line(res, trace, spec):
    """Selects the metrics BENCHMARK.json names for this kind of run."""
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {}
    correct = bool(res["correct"])
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None:
            if not trace:  # every end-to-end metric must be measured
                correct = False
                res["failures"].append(f"metric {m['name']} not measured")
            # a layer the workload bypasses does no work: it reads 0
            got = {"value": 0, "unit": m["unit"]}
        elif got["unit"] != m["unit"]:
            correct = False
            res["failures"].append(
                f"metric {m['name']} in {got['unit']}, declared {m['unit']}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    return {"correct": correct, "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["consolidate", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="two operations and sf0.001 tables (self-test)")
    ap.add_argument("--plan-hook", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build()
    scale = TABLE_SCALE[args.workload]
    if args.tiny and args.workload == "consolidate":
        scale = "sf0.001"
    data = tables(scale)
    work = os.path.join(STATE, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    plan_dir = os.path.join(work, "plan")
    os.makedirs(plan_dir)
    opts = plan_for(args.workload, args.seed, args.seconds, plan_dir, data,
                    args.tiny)
    if args.workload == "query_mix":
        opts["pins"] = os.path.join(BENCH, f"pins_{scale}.tsv")
    if args.plan_hook:  # self-test: plant a fault in the inputs or pins
        opts = _hook(args.plan_hook, plan_dir, opts, work)
    try:
        res = run_jvm(cp, args.workload, work, data, plan_dir, args.trace, opts)
    finally:
        keep = os.path.join(STATE, "last", f"{args.workload}-trace{args.trace}")
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        for f in ("result.json", "jvm.log", "spans.tsv"):
            if os.path.isfile(os.path.join(work, f)):
                shutil.copy(os.path.join(work, f), keep)
        shutil.rmtree(work, ignore_errors=True)
    line = result_line(res, args.trace, spec)
    att = max(line["attempted"], 1)
    for k, v in line["metrics"].items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(f"error_rate = {line['failed'] / att:.4g} ratio "
          f"({line['failed']} of {line['attempted']} operations)")
    for k, v in res.get("notes", {}).items():
        if k != "latencies_s":
            print(f"note {k} = {v}")
    for msg in res.get("failures", []):
        print(f"check failed: {msg}")
    print(json.dumps(line))
    return 0


def _hook(kind, plan_dir, opts, work):
    """Planted faults for the self-test."""
    if kind == "store-missing-row":
        p = os.path.join(plan_dir, "expect.tsv")
        with open(p) as f:
            kv = dict(l.split("\t") for l in f.read().split("\n") if l)
        kv["store_rows"] = str(int(kv["store_rows"]) + 1)
        with open(p, "w") as f:
            f.write("".join(f"{k}\t{v.strip()}\n" for k, v in kv.items()))
    elif kind == "bad-checksum":
        src = opts["pins"]
        dst = os.path.join(work, "pins_bad.tsv")
        with open(src) as f:
            rows = [l.rstrip("\n").split("\t") for l in f if l.strip()]
        for r in rows:
            if not r[0].startswith("#"):
                r[3] = str(int(r[3]) + 1)
        with open(dst, "w") as f:
            f.write("".join("\t".join(r) + "\n" for r in rows))
        opts["pins"] = dst
    else:
        raise SystemExit(f"unknown fault {kind}")
    return opts


if __name__ == "__main__":
    sys.exit(main())
