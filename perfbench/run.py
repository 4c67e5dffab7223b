#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload cdc_stream --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source with sbt when the sources
changed since the last build, runs the workload in a fresh JVM, prints
each workload figure as `<name> <value> <unit>` and, as the last line,
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are BENCHMARK.json's end_to_end metrics; with
--trace 1 its per_layer metrics, and the span file and per-layer summary
are written under .perfbench/trace/. Every run's full result is kept
under .perfbench/results/ for compare.py. A traced run also reports its
tracing overhead: its figures minus those of the latest untraced run of
the same workload, seed and --seconds kept there. Exits non-zero when a
check fails or the run cannot complete.
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
STATE = ROOT / ".perfbench"
WORKLOADS = ("graph_loops", "cdc_stream")
# a run must end within 180 s, or 900 s when it builds first
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
BUILD_AND_RUN_TIMEOUT_S = 880
JDK_OPENS = [
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


def sources():
    """Every file the build reads from this checkout, in a stable order."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def fingerprint():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_group(cmd, cwd, env, timeout, stdout, stderr):
    """Run `cmd` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                            stderr=stderr, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def build():
    """Compile engine + benchmark if the sources changed; return the
    runtime classpath and whether it compiled."""
    bdir = STATE / "build"
    stamp, cpfile = bdir / "fingerprint", bdir / "classpath"
    fp = fingerprint()
    if stamp.exists() and cpfile.exists() and stamp.read_text() == fp:
        return cpfile.read_text(), False
    bdir.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    with open(bdir / "sbt.log", "wb") as log:
        try:
            code, out = run_group(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                 "compile", "export Runtime/fullClasspath"],
                HERE, env, BUILD_TIMEOUT_S, subprocess.PIPE, log)
        except subprocess.TimeoutExpired:
            die("build timed out", 3)
    lines = out.decode(errors="replace").splitlines()
    (bdir / "sbt.out").write_text("\n".join(lines))
    cp = next((l.strip() for l in reversed(lines) if ".jar" in l and not l.startswith("[")), None)
    if code != 0 or not cp:
        die(f"build failed; see {bdir / 'sbt.out'}", 3)
    cpfile.write_text(cp)
    stamp.write_text(fp)
    return cp, True


def run_workload(cp, args, timeout):
    work = STATE / "work" / args.workload
    tmp = STATE / "tmp"
    for d in (work, tmp):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    logs = STATE / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    cmd = ["java"] + [a for p in JDK_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", str(work / "data"), "--out", str(STATE / "trace")]
    cpu0 = cpu_ticks()
    with open(logs / f"{args.workload}-seed{args.seed}-trace{args.trace}.log", "wb") as log:
        try:
            code, out = run_group(cmd, work, env, timeout, subprocess.PIPE, log)
        except subprocess.TimeoutExpired:
            die(f"{args.workload} did not finish in {timeout:.0f} s", 4)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            shutil.rmtree(tmp, ignore_errors=True)
    lines = out.decode(errors="replace").splitlines()
    result = next((json.loads(l[len("RESULT "):]) for l in reversed(lines)
                   if l.startswith("RESULT ")), None)
    if result is None:
        die(f"{args.workload} exited {code} without a result; see {log.name}", 4)
    cpu1 = cpu_ticks()
    if cpu0 and cpu1 and sum(cpu1) > sum(cpu0):
        # CPU time the hypervisor gave to other guests while this run was
        # on the box: it explains slow outliers, and is not gated
        steal = 100.0 * (cpu1[7] - cpu0[7]) / (sum(cpu1) - sum(cpu0))
        result["figures"]["host.steal_pct"] = {"value": steal, "unit": "%"}
        lines.append(f"figure host.steal_pct {steal} %")
    return code, lines, result


def tracing_overhead(args, traced):
    """Traced figures minus those of the latest untraced run of the same
    workload, seed and --seconds, or None when there is no such run. Set-up
    is untraced in both, so its difference is the run-to-run noise to read
    the others against."""
    runs = []
    for f in (STATE / "results").glob(f"{args.workload}-seed{args.seed}-trace0-*.json"):
        r = json.loads(f.read_text())
        if r.get("seconds") == args.seconds and r.get("correct"):
            runs.append((int(f.stem.rsplit("-", 1)[-1]), r))
    if not runs:
        return None
    base = max(runs, key=lambda x: x[0])[1]["figures"]
    out = {}
    for name, t in traced["figures"].items():
        u = base.get(name)
        if u is None or name.startswith("host."):
            continue
        d = t["value"] - u["value"]
        out[name] = {"untraced": u["value"], "traced": t["value"], "overhead": d,
                     "share": d / u["value"] if u["value"] else None, "unit": t["unit"]}
    return out


def cpu_ticks():
    """The aggregate `cpu` line of /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        die("--seconds must be at least 1")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die(f"{ROOT} holds no engine sources (build.sbt, src/main/scala/graft)")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    start = time.monotonic()
    cp, built = build()
    timeout = min(RUN_TIMEOUT_S, start + BUILD_AND_RUN_TIMEOUT_S - time.monotonic()) \
        if built else RUN_TIMEOUT_S
    code, lines, result = run_workload(cp, args, timeout)
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} trace {args.trace}")
    attempted, failed = max(1, int(result["attempted"])), int(result["failed"])
    print(f"failed_op_ratio {failed / attempted} ratio")
    for l in lines:
        if l.startswith("figure "):
            print(l[len("figure "):])
        elif l.startswith("trace "):
            print(l)

    if args.trace:
        overhead = tracing_overhead(args, result)
        summary = STATE / "trace" / f"{args.workload}-seed{args.seed}-trace-summary.json"
        if summary.is_file():
            s = json.loads(summary.read_text())
            s["tracing_overhead"] = overhead
            summary.write_text(json.dumps(s))
        if overhead is None:
            print(f"trace overhead unavailable: no untraced run of {args.workload} seed "
                  f"{args.seed} --seconds {args.seconds} in {STATE / 'results'}")
        for name, o in (overhead or {}).items():
            print(f"trace overhead {name} {json.dumps(o)}")
        metrics = {m["name"]: {"value": result["layer"].get(m["name"], 0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        figures = result["figures"]
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in figures]
        if missing and result["correct"]:
            die(f"{args.workload} reported no {', '.join(missing)}", 4)
        metrics = {m["name"]: figures[m["name"]] for m in spec["end_to_end"] if m["name"] in figures}

    results = STATE / "results"
    results.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.time_ns()}"
    (results / f"{stem}.json").write_text(json.dumps(result))

    correct = bool(result["correct"]) and code == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
