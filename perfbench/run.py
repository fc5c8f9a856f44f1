#!/usr/bin/env python3
"""Benchmark runner: one run of one workload.

    python3 perfbench/run.py --workload serve_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the engine's sources together with
the benchmark harness (perfbench/build.sbt, offline sbt), makes the
workload's inputs from the seed, runs the workload in one JVM, checks the
outputs, and prints as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones (and writes the spans next to the run's record). All
files go under perfbench/.work/ and perfbench/target/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402

RUN_LIMIT_S = 170
BUILD_LIMIT_S = 400
CDS_ARCHIVE = "perfbench.jsa"
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group and wait
    for it if it outlives `timeout`. Returns (returncode, stdout)."""
    proc = subprocess.Popen(cmd, start_new_session=True, stdout=subprocess.PIPE,
                            text=True, **kw)
    try:
        out, _ = proc.communicate(timeout=max(1, timeout))
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        die(f"{cmd[0]} did not finish within {timeout:.0f} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise


def sources_digest():
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main" / "scala", HERE / "src", HERE / "build.sbt",
             HERE / "project" / "build.properties"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def jvm(cp, work, workload, seed, seconds, trace, extra=()):
    cmd = ["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}", *extra]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main", "--workload", workload,
                  "--seed", str(seed), "--seconds", str(seconds),
                  "--trace", str(trace), "--work", str(work),
                  "--out", str(work / "raw.json")]


def fresh_work(name):
    work = HERE / ".work" / name
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    return work


def store_env(work):
    # every store the engine resolves goes under the run's own directory
    return dict(os.environ, GRAFT_INDEX_DIR=str(work / "index"))


def build():
    """Compile engine + harness into a jar unless the sources are unchanged
    since the last build; returns the runtime classpath."""
    target = HERE / "target"
    stamp, cp_file = target / "perfbench.stamp", target / "classpath.txt"
    digest = sources_digest()
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={Path.home()}/.sbt/repositories",
        "-Dsbt.offline=true", "-Xmx2g"]))
    print("perfbench: building engine and harness", file=sys.stderr)
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "package",
         "export Runtime/fullClasspathAsJars"], BUILD_LIMIT_S, cwd=HERE, env=env)
    lines = [l for l in out.splitlines()
             if "perfbench_2.13" in l and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    (target / CDS_ARCHIVE).unlink(missing_ok=True)
    stamp.write_text(digest)
    return cp


def class_archive_flags():
    """Class-data sharing: the first run after a build records the classes
    it loads into an archive; every later JVM maps the archive instead of
    loading and verifying those classes from the jars. That takes seconds
    off each run's start and set-up and leaves the code the JIT compiles
    unchanged. Returns (JVM flags, archive file to publish after the run)."""
    archive = HERE / "target" / CDS_ARCHIVE
    if archive.is_file():
        return [f"-XX:SharedArchiveFile={archive}"], None
    tmp = archive.with_suffix(".tmp")
    tmp.unlink(missing_ok=True)
    return [f"-XX:ArchiveClassesAtExit={tmp}"], tmp


def oracle_check(data_dir, results_dir):
    """Each driver query's rows against its DuckDB oracle: columns sorted
    by name, rows sorted, values exact. Returns (checked, failures)."""
    import duckdb
    oracle = json.loads((results_dir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "orders", "lineitem",
              "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def table(sql):
        rows = con.execute(sql).fetchall()
        cols = [d[0] for d in con.description]
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = [tuple("NaN" if isinstance(r[i], float) and r[i] != r[i] else r[i]
                     for i in order) for r in rows]
        return sorted(cols), sorted(out, key=lambda r: tuple(str(x) for x in r))

    failures = []
    for name, sql in sorted(oracle.items()):
        try:
            gcols, got = table(f"SELECT * FROM '{results_dir}/{name}/*.parquet'")
            ecols, exp = table(sql)
        except Exception as e:  # an oracle that cannot run is a failure
            failures.append(f"{name}: {e}")
            continue
        if gcols != ecols:
            failures.append(f"{name}: columns {gcols} != {ecols}")
        elif got != exp:
            failures.append(f"{name}: {len(got)} rows differ from the oracle's {len(exp)}")
        elif not got:
            failures.append(f"{name}: empty result")
    return len(oracle), failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its build or JVM (see run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}")
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die("the engine sources (src/main/scala) are not in this checkout")

    cp = build()
    start = time.time()
    work = fresh_work(f"{a.workload}-s{a.seed}-t{a.trace}")
    extra, recorded = class_archive_flags()
    cmd = jvm(cp, work, a.workload, a.seed, a.seconds, a.trace, extra)
    if a.workload == "driver_mix":
        import driver_data
        driver_data.generate(work / "data", a.seed)
        cmd += ["--data", str(work / "data")]
    code, out = run_bounded(cmd, RUN_LIMIT_S - (time.time() - start),
                            cwd=work, env=store_env(work))
    sys.stderr.write(out)
    if code != 0 or not (work / "raw.json").is_file():
        die(f"workload {a.workload} exited with code {code}", 1)
    if recorded is not None and recorded.is_file():
        recorded.rename(HERE / "target" / CDS_ARCHIVE)
    raw = json.loads((work / "raw.json").read_text())

    attempted, failed = raw["attempted"], raw["failed"]
    failures = list(raw.get("failures", []))
    if a.workload == "driver_mix":
        n, bad = oracle_check(work / "data", work / "driver" / "results")
        attempted += n
        failed += len(bad)
        failures += [{"check": "driver.oracle", "detail": b} for b in bad]
    raw["scalars"]["failed_share"] = stats.failed_share(attempted, failed)

    e2e_values = {m["name"]: stats.metric_value(m["name"], raw)
                  for m in spec["end_to_end"]}
    missing = [k for k, v in e2e_values.items() if v is None or v <= 0]
    if missing:
        die(f"end-to-end metrics not measured: {missing}", 1)
    if a.trace:
        # a layer this workload never calls did no work: its count is 0
        chosen = spec["per_layer"]
        values = {m["name"]: stats.metric_value(m["name"], raw) or 0.0 for m in chosen}
    else:
        chosen, values = spec["end_to_end"], e2e_values
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in chosen}
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "nproc": raw.get("nproc"), "cpus": raw.get("cpus"),
        "load_start": raw.get("load_start"), "load_end": raw.get("load_end"),
        "end_to_end": e2e_values, "failures": failures,
        "checks_passed": raw.get("checks_passed", {}),
        "steps_s": {k[5:-2]: v for k, v in raw["scalars"].items()
                    if k.startswith("step.")},
        "startup_s": raw["scalars"].get("startup_s"),
        "wall_s": round(time.time() - start, 2),
    }
    (work / "result.json").write_text(json.dumps(record, indent=1))
    print(json.dumps(record), file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
