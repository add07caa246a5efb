#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload train|corpus --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine and the harness from
source (once per source tree, under `.bench_build/`), generates the
workload's inputs from the seed, runs the workload as a closed loop with one
client for S seconds on local[<cores>], checks every output (DuckDB oracle
per query, references per kernel) in an untimed pass, and prints one line
per metric followed by the result as one JSON line. With `--trace 0` the
metrics are the end-to-end ones of BENCHMARK.json, with `--trace 1` the
per-layer ones. See perfbench/README.md.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the benchmark directory free of build output

import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
RUN_LIMIT_S = 170  # the whole command must end within 180 s
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME's, else those next to the
    first spark-submit on PATH that has them."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars", "*")
    fail("no Spark distribution found; set SPARK_HOME")


def scala_files(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile the engine's main sources plus the harness with scalac from
    the Spark distribution; skipped when the source tree is unchanged."""
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}; run from a full checkout")
    srcs = scala_files(ENGINE_SRC) + scala_files(BENCH_SRC)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "classes.sha256")
    classes = os.path.join(BUILD, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", spark_jars(),
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
                        "@" + argfile], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    print(f"[perfbench] built {len(srcs)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes


def inputs(workload, seed, tiny):
    """Generate (once per generator version) and return (dir, manifest)."""
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(BUILD, "data", f"{workload}-{seed}{'-tiny' if tiny else ''}-{version}")
    m = os.path.join(d, "manifest.json")
    if not os.path.exists(m):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(workload, seed, d, tiny)
    with open(m) as f:
        return d, json.load(f)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def end_to_end(res):
    """name -> (median over untraced passes, unit, sample count)."""
    passes = [p for p in res["passes"] if not p["traced"]]
    out = {"setup_s": (res["setup_s"], "s", 1)}
    for key, unit in (("wall_s", "s"), ("samples_per_s", "1/s")):
        if key in passes[0]:  # samples_per_s: workloads with kernels only
            out[key] = statistics.median(p[key] for p in passes), unit, len(passes)
    return out


def main():
    ap = argparse.ArgumentParser(description="graft benchmark (see perfbench/README.md)")
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()

    bench = spec()
    classes = build()
    import oracle  # reads tools/check_oracle.py, present once build() found a full checkout
    data, manifest = inputs(a.workload, a.seed, False)
    tiny, _ = inputs(a.workload, a.seed, True)
    out = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    cores = os.cpu_count() or 1
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Xms{JVM_HEAP}", "-XX:ReservedCodeCacheSize=1g",
            f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + spark_jars(), "graft.perfbench.Main",
              "--workload", a.workload, "--data", data, "--tiny", tiny,
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out,
              "--cores", str(cores)])
    log = os.path.join(out, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=out)
        try:
            rc = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_LIMIT_S}s; log: {log}")
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"JVM exited with {rc}; log: {log}")
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)

    verdict = oracle.compare(tiny, res["oracle"], os.path.join(out, "tmp"))
    attempted = sum(c["attempted"] for c in res["calls"].values())
    failed = 0
    for name, c in res["calls"].items():
        if verdict.get(name):  # a wrong result: every call that returned was wrong
            failed += c["attempted"]
            print(f"[perfbench] {name}: WRONG RESULT: {verdict[name]}", file=sys.stderr)
        else:
            failed += c["failed"]
        for e in c["errors"][:3]:
            print(f"[perfbench] {name}: {e}", file=sys.stderr)
    oracle_ok = sum(1 for v in verdict.values() if v is None)

    print(json.dumps({"inputs": manifest}, sort_keys=True))
    print(f"correctness: {oracle_ok}/{len(verdict)} queries oracle-equal over the set-up input, "
          f"failed_share {failed / attempted:.4f} ({failed}/{attempted} calls)")
    e2e = end_to_end(res)
    for name, (v, unit, n) in e2e.items():
        print(f"{name}: {v:.6g} {unit} (median of {n})")
    if a.trace:
        layers = res["per_layer"]
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in bench["per_layer"]}
        for m, v in metrics.items():
            print(f"{m}: {v['value']:.6g} {v['unit']}")
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
