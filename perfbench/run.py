#!/usr/bin/env python3
"""graft's benchmark: one workload per call, in one JVM at local[nproc/2].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first call builds graft and
the harness in perfbench/ with sbt (offline) and keeps the classpath in
perfbench/target/; later calls reuse it while the sources are unchanged.

Workloads: crawl, analytics (see README.md).
The last line of stdout is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics of BENCHMARK.json with
--trace 0, the per-layer ones with --trace 1. Every operation's output
is checked against an oracle outside the timed region; a mismatch or an
exception counts in `failed`.

Extra flags, for the benchmark's own tests: --tiny (the sf0.001 tables,
a web of about 1000 pages) and --fault (perturbs one checked value, so
the check must fail).
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl", "analytics")
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
BUILD_TIMEOUT_S = 800
JVM_TIMEOUT_S = 165


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness; return the runtime classpath."""
    stamp_file = os.path.join(HERE, "target", "perfbench-classpath.json")
    stamp = source_stamp()
    if os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build did not finish: {e}")
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and os.pathsep in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(stamp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, fh)
    return lines[-1]


def run_jvm(classpath, args, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms4g", "-Xmx4g", "-Xmn1g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
        f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.Main"] + args
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line)
    if proc.returncode != 0 or result is None:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"benchmark JVM exited with {proc.returncode}")
    return result


def oracle_check(work, fault):
    """Compare each analytics result with graft's DuckDB oracle SQL, in
    scripts/oracle_compare.py's canonical form. Returns the problems."""
    import duckdb
    import pandas as pd
    spec = importlib.util.spec_from_file_location(
        "oracle_compare", os.path.join(ROOT, "scripts", "oracle_compare.py"))
    oc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oc)
    with open(os.path.join(work, "oracle.json")) as fh:
        job = json.load(fh)
    con = duckdb.connect()
    for t in oc.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"parquet_scan('{job['tables']}/{t}.parquet')")
    problems = []
    for i, (name, sql) in enumerate(sorted(job["sql"].items())):
        got = pd.read_parquet(os.path.join(job["results"], name))
        want = con.execute(sql).fetchdf()
        if sorted(got.columns) != sorted(c.lower() for c in want.columns) \
                and sorted(got.columns) != sorted(want.columns):
            problems.append(f"{name}: columns {sorted(got.columns)} vs {sorted(want.columns)}")
            continue
        a, b = oc.canon(got), oc.canon(want)
        if fault and i == 0:
            b = b[1:] + ["perturbed"]
        if a != b:
            problems.append(f"{name}: {len(a)} rows vs oracle {len(b)}, first diff "
                            f"{next(((x, y) for x, y in zip(a, b) if x != y), None)}")
    return problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--fault", action="store_true")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources next to {HERE}; run from a graft checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    data = os.path.join(HERE, "data", "sf0.001" if a.tiny else "sf0.01")

    classpath = build()
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--data", data]
        args += ["--tiny"] if a.tiny else []
        args += ["--fault"] if a.fault else []
        res = run_jvm(classpath, args, work)
        problems = list(res["notes"])
        failed = res["failed"]
        if a.workload == "analytics":
            bad = oracle_check(work, a.fault)
            problems += bad
            failed += len(bad)
        if a.trace:
            spans = os.path.join(ROOT, ".perfbench_work", "spans")
            os.makedirs(spans, exist_ok=True)
            shutil.move(os.path.join(work, "spans.json"),
                        os.path.join(spans, f"{a.workload}-seed{a.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    declared = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    got = res["metrics"]
    if a.trace:
        for m in spec["end_to_end"]:
            if m["name"] in got:
                got["trace." + m["name"]] = got[m["name"]]
    unknown = sorted(set(got) - set(declared))
    if unknown:
        fail(f"metrics missing from BENCHMARK.json: {unknown}")
    for name, m in got.items():
        if m["unit"] != declared[name]["unit"]:
            fail(f"{name}: unit {m['unit']} but BENCHMARK.json says {declared[name]['unit']}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] in got:
            value = got[m["name"]]["value"]
        elif a.trace:
            value = 0.0  # this workload does not exercise the layer
        else:
            fail(f"{a.workload} did not measure {m['name']}")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}

    for p in problems:
        print(f"[check] FAILED {p}")
    attempted = res["attempted"]
    print(f"[perfbench] {a.workload} seed={a.seed} attempted={attempted} failed={failed}")
    for k, v in metrics.items():
        print(f"[metric] {k} = {v['value']} {v['unit']}")
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
