#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. It compiles `src/main/scala` and the
harness in `perfbench/harness` with the Scala compiler shipped in the Spark
jars (cached per source hash under `perfbench/.build`), generates the
workload's seeded corpus (cached under `perfbench/.cache`), runs the harness
JVM, checks every output, and prints the report followed by one JSON line:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the metrics
are the end-to-end ones of BENCHMARK.json, with `--trace 1` the per-layer
ones. See perfbench/NOTES.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import gen_corpus  # noqa: E402

WORKLOADS = ("ingest_bulk", "ingest_small_query_mix")
TABLES = os.path.join(HERE, "data", "sf0.01")
BUILD = os.path.join(HERE, ".build")
CACHE = os.path.join(HERE, ".cache")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")
SETUP_SAMPLES = 2          # process start -> ready session, median of these
KEEP_CORPORA = 3           # seeded corpora kept on disk, most recent first
DEADLINE_S = 170           # whole run, build excluded
BUILD_DEADLINE_S = 700
# A fixed heap and young generation: with G1 sizing them adaptively, when the
# heap grows decides peak RSS, which then spreads by up to 0.28 between runs.
HEAP = "2g"
YOUNG = "512m"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The jars of the Spark install: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or ".", "jars", "*.jar")))
    if not jars:
        raise BenchError("no Spark jars: set SPARK_HOME")
    return jars


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def scalac(srcs, out, classpath):
    os.makedirs(out, exist_ok=True)
    cp = os.pathsep.join(classpath)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp] + srcs
    r = subprocess.run(cmd, capture_output=True, text=True,
                       timeout=BUILD_DEADLINE_S)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + (r.stdout + r.stderr)[-3000:])


def build():
    """Compile the program and the harness once per source hash."""
    prog = sources(os.path.join(ROOT, "src", "main", "scala"))
    harness = sources(os.path.join(HERE, "harness"))
    if not prog:
        raise BenchError("no program sources under src/main/scala")
    h = hashlib.sha256()
    for f in prog + harness:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    key = h.hexdigest()[:16]
    d = os.path.join(BUILD, key)
    classes, hclasses = os.path.join(d, "classes"), os.path.join(d, "harness")
    if not os.path.exists(os.path.join(d, "OK")):
        shutil.rmtree(BUILD, ignore_errors=True)
        jars = spark_jars()
        t0 = time.time()
        scalac(prog, classes, jars)
        scalac(harness, hclasses, jars + [classes])
        open(os.path.join(d, "OK"), "w").close()
        log(f"built {key} in {time.time() - t0:.1f}s")
    resources = os.path.join(ROOT, "src", "main", "resources")
    return key, [hclasses, classes] + ([resources] if os.path.isdir(resources) else [])


def corpus(workload, seed):
    d = os.path.join(CACHE, "corpus", f"{workload}-{seed}")
    gen_corpus.generate(workload, seed, d)
    expected = os.path.join(d, "expected.tsv")
    if not os.path.exists(expected):
        keep = gen_corpus.keep_for(workload)
        with open(os.path.join(d, "manifest.tsv")) as f, \
                open(expected + ".part", "w") as out:
            out.writelines(l for l in f if keep(l.split("\t")[1]))
        os.replace(expected + ".part", expected)
    os.utime(d)
    others = sorted(glob.glob(os.path.join(CACHE, "corpus", "*")),
                    key=os.path.getmtime, reverse=True)
    for old in others[KEEP_CORPORA:]:
        shutil.rmtree(old, ignore_errors=True)
    return d


def jvm(classpath, work, args, deadline):
    """Start the harness JVM; return (setup seconds, exit code)."""
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            "-cp", os.pathsep.join(classpath + spark_jars()),
            "perfbench.Harness"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local",
               TMPDIR=f"{work}/tmp")
    env.pop("SPARK_CONF_DIR", None)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    out = os.path.join(work, "jvm.out")
    with open(os.path.join(work, "jvm.log"), "ab") as err, open(out, "wb") as so:
        t0 = time.time()
        p = subprocess.Popen(cmd, stdout=so, stderr=err,
                             env=env, cwd=work, start_new_session=True)
        try:
            p.wait(timeout=max(1, deadline - time.time()))
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                raise BenchError("harness JVM exceeded the deadline")
    with open(out, "rb") as f:
        ready = [l for l in f if l.startswith(b"READY ")]
    setup = int(ready[0].split()[1]) / 1e3 - t0 if ready else None
    return setup, p.returncode


def oracle(key, res, work):
    """DuckDB oracle for query results not verified before; verified
    fingerprints are cached per program build."""
    names = res["needs_oracle"]
    if not names:
        return 0, 0, []
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "local_verify.py"),
                        TABLES, os.path.join(work, "oracle")],
                       capture_output=True, text=True, timeout=120, cwd=work)
    status = {}
    for line in r.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] in ("PASS", "FAIL"):
            status[parts[1]] = (parts[0], line)
    failed, failures = 0, []
    cache = os.path.join(CACHE, f"oracle-{key}.tsv")
    with open(cache, "a") as f:
        for q in names:
            st, line = status.get(q, ("FAIL", f"{q}: no oracle verdict"))
            if st == "PASS" and line.split()[2].startswith("OK"):
                n, h = res["results"][q]
                f.write(f"{q}\t{n}\t{h}\n")
            else:
                failed += res["executions"].get(q, 1)
                failures.append(f"oracle {q}: {line.strip()[:300]}")
    return len(names), failed, failures


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(a):
    spec = bench_spec()
    key, classpath = build()
    start = time.time()
    deadline = start + DEADLINE_S
    cdir = corpus(a.workload, a.seed)
    phases = [f"corpus {time.time() - start:.1f}s"]
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = os.path.join(work, "result.json")
        cpus = str(len(os.sched_getaffinity(0)))
        args = ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cpus", cpus, "--work", work,
                "--corpus", cdir, "--tables", TABLES, "--result", result,
                "--glob", gen_corpus.glob_for(a.workload) or "",
                "--verified", os.path.join(CACHE, f"oracle-{key}.tsv")]
        t0 = time.time()
        setup, code = jvm(classpath, work, args, deadline)
        phases.append(f"harness {time.time() - t0:.1f}s")
        if code != 0 or not os.path.exists(result):
            with open(os.path.join(work, "jvm.log"), "rb") as f:
                tail = f.read()[-4000:].decode(errors="replace")
            raise BenchError(f"harness exited with {code}:\n{tail}")
        with open(result) as f:
            res = json.load(f)
        t0 = time.time()
        n, bad, why = oracle(key, res, work)
        phases.append(f"oracle {time.time() - t0:.1f}s")
        res["attempted"] += n
        res["failed"] += bad
        res["failures"] += why
        metrics = res["metrics"]
        if a.trace:
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(OUT, f"trace-{a.workload}-{a.seed}.json"))
            wanted = spec["per_layer"]
        else:
            t0 = time.time()
            samples = [setup] + [jvm(classpath, work, ["--mode", "setup", "--cpus", cpus,
                                                       "--work", work],
                                     deadline)[0]
                                 for _ in range(SETUP_SAMPLES - 1)]
            if None in samples:
                raise BenchError("a setup JVM never reported READY")
            metrics["setup_s"] = statistics.median(samples)
            res["report"].append("setup_s samples: " +
                                 ", ".join(f"{s:.3f}" for s in samples))
            wanted = spec["end_to_end"]
            phases.append(f"setup samples {time.time() - t0:.1f}s")
        out = {}
        for m in wanted:
            v = metrics.get(m["name"])
            if not isinstance(v, (int, float)) or not math.isfinite(v):
                res["failed"] += 1
                res["attempted"] += 1
                res["failures"].append(f"metric {m['name']} not measured")
                continue
            out[m["name"]] = {"value": v, "unit": m["unit"]}
        for line in res["report"]:
            print(line)
        for line in res["failures"]:
            print("FAILED", line)
        print(f"failed_frac: {res['failed'] / max(1, res['attempted'])} "
              f"({res['failed']} of {res['attempted']} operations)")
        for k, v in out.items():
            print(f"{k:<28} {v['value']:.6g} {v['unit']}")
        print(f"wall: {time.time() - start:.1f}s ({', '.join(phases)})")
        return {"correct": res["failed"] == 0, "attempted": res["attempted"],
                "failed": res["failed"], "metrics": out}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    os.makedirs(OUT, exist_ok=True)
    try:
        line = run(a)
    except (BenchError, OSError, subprocess.SubprocessError) as e:
        log(f"error: {e}")
        sys.exit(2)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
