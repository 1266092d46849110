"""KG pipeline benchmark: one workload per call, outputs gated by the DuckDB
`kg_triples` oracle.

    python3 kgbench/run.py --workload fused_1k --seed 1 --seconds 6 --trace 0

Builds the program from source on first use (`build.py`), makes the inputs
from `--seed`, runs the workload in one JVM (`src/kgbench/Main.scala`), checks
every committed triple set and every serve response against the oracle, and
prints each metric with its unit; the last line is one JSON object with
`correct`, `attempted`, `failed` and `metrics`. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` runs the traced
composition once and reports the per-layer metrics. `--keep-trace FILE`
also saves the traced result (spans and per-layer table) to FILE.
Exits non-zero, without metrics, when an output differs from the oracle.
See README.md for the workloads.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import inputs  # noqa: E402
import oracle  # noqa: E402

ROOT = build.ROOT

# Docs generated from the seed; every other parameter of a workload is set
# in Main.scala's workload match.
WORKLOADS = ("fused_1k", "linking_1k_ont30k", "serve_40rps")
DOCS = 1000
BOOTS = 1

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cpu_ticks():
    """(busy, stolen) clock ticks of all CPUs, from /proc/stat; stolen time
    is CPU time the hypervisor gave to other guests."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
        return sum(t[:3]) + sum(t[5:7]), t[7]
    except (OSError, ValueError, IndexError):
        return 0, 0


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0]
    q = statistics.quantiles(values, n=4, method="inclusive")
    return q[0], q[2]


def java_cmd(work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "--add-modules=jdk.incubator.vector", "-Dfile.encoding=UTF-8", "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
        "-cp", build.classpath(), "kgbench.Main", "--work", work]


def boot_seconds(args, work, deadline):
    """Set-up of the workload in `BOOTS` fresh JVMs; each reports the
    seconds from JVM start until its set-up is done."""
    out = []
    for _ in range(BOOTS):
        p = subprocess.run(java_cmd(work) + args + ["--boot", "1"], capture_output=True,
                           text=True, cwd=work, timeout=max(1.0, deadline - time.time()))
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
            raise SystemExit("set-up in a fresh JVM failed")
        out.append(float(p.stdout.strip().splitlines()[-1]) / 1000)
    return out


def run_jvm(args, work, deadline):
    cmd = java_cmd(work) + args
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("workload timed out")
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as log:
            sys.stderr.write(log.read()[-4000:])
        raise SystemExit(f"workload failed with exit code {code}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def gate(result, data, work):
    """Oracle checks; returns a list of failures."""
    with open(os.path.join(work, "oracle_kg_triples.sql")) as f:
        orc = oracle.Oracle(os.path.join(data, "documents.parquet"), f.read())
    bad = []
    for d in result["triple_dirs"]:
        n = orc.mismatches(d)
        if n:
            bad.append(f"{os.path.relpath(d, work)}: {n} rows differ from the oracle")
    for a, b in result["digest_pairs"]:
        da, db = orc.digest(a), orc.digest(b)
        result["info"]["digest_untraced"], result["info"]["digest_traced"] = da, db
        if da != db:
            bad.append(f"traced digest {db} != untraced digest {da}")
    if result.get("serve_rows"):
        n = orc.serve_mismatches(result["serve_rows"])
        if n:
            bad.append(f"{n} serve responses differ from the oracle")
    result["info"]["oracle_rows"] = orc.rows()
    result["info"]["checked_triple_sets"] = len(result["triple_dirs"])
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep-trace")
    a = ap.parse_args()
    start = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build.ensure_built()
    # the first call builds; every call then has the usual 180 s budget
    deadline = time.time() + 170
    work = os.path.join(ROOT, ".bench_build", "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        inputs.write_documents(data, DOCS, a.seed)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", data]
        ticks0 = cpu_ticks()
        phases = [("inputs", time.time())]
        boots = [] if a.trace else boot_seconds(args, work, deadline)
        phases.append(("fresh-JVM set-up", time.time()))
        result = run_jvm(args, work, deadline)
        phases.append(("workload JVM", time.time()))
        ticks1 = cpu_ticks()
        if not a.trace:
            result["samples"]["setup_s"] += boots
        bad = gate(result, data, work)
        phases.append(("oracle gate", time.time()))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted, failed = result["attempted"], result["failed"]
    info = result["info"]
    print(f"workload {a.workload} seed {a.seed}: {DOCS} docs, "
          f"wall {time.time() - start:.1f} s (" + ", ".join(
              f"{name} {t1 - t0:.1f} s" for (_, t0), (name, t1)
              in zip([("", start)] + phases, phases)) + ")")
    hz = os.sysconf("SC_CLK_TCK")
    busy, stolen = ((ticks1[i] - ticks0[i]) / hz for i in (0, 1))
    print("machine " + json.dumps(result["machine"]) +
          f", cpu busy {busy:.1f} s, stolen by the hypervisor {stolen:.1f} s")
    if bad:
        for b in bad:
            print("ORACLE MISMATCH " + b, file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": attempted, "failed": failed,
                          "metrics": {}}))
        sys.exit(1)
    metrics = {}
    if a.trace:
        for m in spec["per_layer"]:
            v = result["per_layer"].get(m["name"], 0.0)
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
            print(f"  {m['name']:<44} {v:>14.4f} {m['unit']}")
        if a.keep_trace:
            with open(a.keep_trace, "w") as f:
                json.dump({k: result[k] for k in ("workload", "machine", "info", "per_layer",
                                                  "self_ms", "spans")}, f, indent=1)
    else:
        for m in spec["end_to_end"]:
            xs = result["samples"][m["name"]]
            med = statistics.median(xs)
            q1, q3 = quartiles(xs)
            metrics[m["name"]] = {"value": med, "unit": m["unit"]}
            print(f"  {m['name']:<18} {med:>12.4f} {m['unit']:<6} "
                  f"q1 {q1:.4f} q3 {q3:.4f} n={len(xs)}")
    print(f"  failed_frac        {failed / max(1, attempted):.6f} ({failed} of {attempted})")
    for k, v in info.items():
        print(f"  {k}: {v}")
    print(json.dumps({"correct": True, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
