#!/usr/bin/env python3
"""End-to-end benchmark of the drift engine's public API.

One run:   python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
Every workload, untraced then traced, with a summary table:
           python3 perfbench/run.py --all [--seed <n>] [--seconds <s>]

Run from the root of a source checkout. The first run compiles the program
and the benchmark driver with sbt (offline) into perfbench/target; later
runs reuse the classes while the sources are unchanged. Inputs are
generated from the seed inside .perfbench_work/ and deleted after the run;
a traced run leaves its span dump in .perfbench_out/.

The last line of standard output is one JSON object: correct, attempted,
failed and the metrics BENCHMARK.json lists (end_to_end with --trace 0,
per_layer with --trace 1). perfbench/README.md describes the workloads,
the metrics and which layer figure should move which end-to-end figure.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SRC = ROOT / "src" / "main" / "scala"
SPEC = ROOT / "BENCHMARK.json"
CLASSES = HERE / "target" / "scala-2.13" / "classes"
STAMP = HERE / "target" / "perfbench.stamp"
WORK = ROOT / ".perfbench_work"
OUT = ROOT / ".perfbench_out"

BUILD_TIMEOUT_S = 840
# a workload BENCHMARK.json lists must finish well inside 180 s; the others
# (too slow for the repeated runs a regression check makes) get longer
RUN_TIMEOUT_S = 170
SLOW_RUN_TIMEOUT_S = 900
HEAP = "3g"
WORKLOADS = ["snapshot_report", "monitor_loop", "corpus_curation", "report_family"]
# the end-to-end figures BENCHMARK.json does not bound (they can be 0),
# printed beside the bound ones
EXTRA_UNITS = {"retained_mb": "MB", "leaked_rdds": "count",
               "written_mb_per_op": "MB", "failed_share": "ratio"}
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_stamp():
    h = hashlib.sha256()
    files = sorted(list(SRC.rglob("*.scala")) + list((HERE / "src").rglob("*.scala")) +
                   [HERE / "build.sbt", HERE / "project" / "build.properties"])
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile program + driver unless the classes match the sources."""
    if not SRC.is_dir() or not any(SRC.rglob("*.scala")):
        fail(f"no program sources under {SRC.relative_to(ROOT)}: run from a source checkout")
    stamp = source_stamp()
    STAMP.parent.mkdir(parents=True, exist_ok=True)
    with open(HERE / "target" / ".build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == stamp:
            return
        env = dict(os.environ, SPARK_HOME=str(spark_home()))
        env.setdefault("COURSIER_MODE", "offline")
        repos = Path.home() / ".sbt" / "repositories"
        env.setdefault("SBT_OPTS", " ".join(
            ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"] +
            ([f"-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
             if repos.is_file() else [])))
        log("compiling program and benchmark driver (sbt)")
        t0 = time.time()
        p = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                        cwd=HERE, env=env, timeout=BUILD_TIMEOUT_S)
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
            fail("build failed")
        STAMP.write_text(stamp)
        log(f"built in {time.time() - t0:.0f} s")


def run_bounded(cmd, cwd, env, timeout):
    """Run a child in its own process group; kill the whole group on timeout
    and wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} exceeded {timeout} s and was stopped")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return subprocess.CompletedProcess(cmd, p.returncode, out, err)


def spark_home():
    """$SPARK_HOME, else the install that `spark-submit` on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return Path(home)


def jvm(workload, seed, seconds, trace, work, out, plant, timeout):
    spark_jars = spark_home() / "jars"
    cmd = (["java"] + ADD_OPENS + [
        f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
        "-Dspark.ui.enabled=false", "-Dlog4j2.level=error",
        "-cp", f"{CLASSES}{os.pathsep}{spark_jars}/*", "graft.perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", "1" if trace else "0", "--cores", str(cores()),
        "--work", str(work), "--out", str(out)] +
        (["--plant-wrong", str(plant)] if plant else []))
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    out.mkdir(parents=True, exist_ok=True)
    p = run_bounded(cmd, cwd=ROOT, env=dict(os.environ), timeout=timeout)
    (out / "jvm.log").write_text(p.stderr)
    for line in p.stderr.splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        fail(f"benchmark JVM exited with {p.returncode}")
    return json.loads(lines[-1])


# ------------------------------------------------------------ oracle check

def close(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        if isinstance(a, float) or isinstance(b, float):
            return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
        return a == b
    return a == b


def norm_key(row):
    return tuple((0, round(float(v), 6)) if isinstance(v, (int, float)) and v is not None
                 else (1, str(v)) for v in row)


def oracle_check(oracle_dir):
    """Each output the JVM wrote to oracle_dir must equal the program's
    DuckDB mirror of the same query (the exact Report forms against
    Report.oracles, the corpus funnel against its SQL twin), run over
    views of the generated tables the output was computed from."""
    import duckdb
    failures = []
    files = sorted(oracle_dir.glob("*.json"))
    if not files:
        return ["no outputs to compare with the DuckDB oracle"]
    for f in files:
        spark = json.loads(f.read_text())
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in sorted(Path(spark["dir"]).glob("*.parquet")):
            con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}/*.parquet')")
        got = con.execute(spark["sql"])
        cols = [d[0] for d in got.description]
        want = [tuple(float(v) if hasattr(v, "as_tuple") else v for v in r) for r in got.fetchall()]
        have = [tuple(r) for r in spark["rows"]]
        if cols != spark["columns"]:
            failures.append(f"{f.stem}: columns {spark['columns']} vs oracle {cols}")
            continue
        if len(have) != len(want) or not all(
                all(close(a, b) for a, b in zip(x, y))
                for x, y in zip(sorted(have, key=norm_key), sorted(want, key=norm_key))):
            failures.append(f"{f.stem}: {len(have)} rows differ from the DuckDB oracle's {len(want)}")
        con.close()
    return failures


# ------------------------------------------------------------------- runs

def one_run(workload, seed, seconds, trace, s, plant=0):
    """Run the workload once; returns the JVM's record, with the oracle
    verdict folded in. Generated inputs are deleted whatever happens."""
    work = WORK / f"{workload}-{seed}-{os.getpid()}"
    out = OUT / f"{workload}-seed{seed}-trace{int(trace)}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        listed = workload in {w["name"] for w in s["workloads"]}
        rec = jvm(workload, seed, seconds, trace, work, out, plant,
                  RUN_TIMEOUT_S if listed else SLOW_RUN_TIMEOUT_S)
        if (work / "oracle").is_dir():
            bad = oracle_check(work / "oracle")
            for b in bad:
                log(f"oracle check failed: {b}")
            rec["failures"] += bad
            rec["correct"] = rec["correct"] and not bad
            rec["oracle_checked"] = len(list((work / "oracle").glob("*.json")))
        return rec
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            WORK.rmdir()
        except OSError:
            pass


def spec():
    if not SPEC.is_file():
        fail("BENCHMARK.json not found at the checkout root")
    return json.loads(SPEC.read_text())


def result_line(rec, trace, s):
    section = s["per_layer"] if trace else s["end_to_end"]
    source = rec["per_layer"] if trace else rec["end_to_end"]
    metrics = {}
    for m in section:
        v = source.get(m["name"])
        if v is None:
            fail(f"no value for {m['name']}: no op of the run passed its checks")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {"correct": bool(rec["correct"]), "attempted": int(rec["attempted"]),
            "failed": int(rec["failed"]), "metrics": metrics}


def probe_lines(rec):
    probes = rec["dirty_probes"]
    if not probes["attempted"]:
        return []
    return ([f"  {rec['workload']}  dirty-input probes: {len(probes['failures'])} of "
             f"{probes['attempted']} failed"] + [f"    {f}" for f in probes["failures"]])


def describe(rec, s):
    """Human-readable lines: every end-to-end figure with its unit, the
    check verdicts and the dirty-input probes."""
    units = {m["name"]: m["unit"] for m in s["end_to_end"]}
    units.update(EXTRA_UNITS)
    w = rec["workload"]
    walls = ", ".join(f"{x:.2f}" for x in rec["op_walls_s"] if x is not None)
    warm = (f"; the first {rec['warmup_ops']} a warm-up, left out of the timings"
            if int(rec["warmup_ops"]) else "")
    lines = [f"{w}: {rec['attempted']} ops (walls {walls} s{warm}), "
             f"{rec['failed']} failed its check; "
             f"checks {'PASS' if rec['correct'] else 'FAIL'}"
             + (f"; {rec['oracle_checked']} outputs match the DuckDB oracle"
                if rec.get("oracle_checked") and rec["correct"] else "")]
    for k, v in rec["end_to_end"].items():
        shown = "n/a" if v is None else round(v, 4)
        lines.append(f"  {w}  {k:<18} {shown:>12} {units.get(k, '')}")
    lines += probe_lines(rec)
    lines += [f"  failure: {f}" for f in rec["failures"]]
    h = rec["host"]
    lines.append(f"  host: {h['cores']} cores, {h['heap_max_mb']:.0f} MB heap, "
                 f"Spark {h['spark']}, Java {h['java']}")
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true",
                    help="every workload, untraced then traced, with a summary")
    ap.add_argument("--plant-wrong", type=int, default=0,
                    help="corrupt the k-th timed op's output before its check (self-test)")
    a = ap.parse_args()
    s = spec()
    seconds = a.seconds if a.seconds is not None else s["run_seconds"]
    build()
    if a.all:
        ok = True
        for w in WORKLOADS:
            plain = one_run(w, a.seed, seconds, False, s)
            traced = one_run(w, a.seed, seconds, True, s)
            ok = ok and plain["correct"] and traced["correct"]
            print("\n".join(describe(plain, s) + probe_lines(traced)))
            print(f"  {w}  traced run: checks {'PASS' if traced['correct'] else 'FAIL'}")
            for f in traced["failures"]:
                print(f"  traced failure: {f}")
            overhead = traced["per_layer"]["Session.op_p50_s"] - plain["end_to_end"]["op_p50_s"]
            print(f"  {w}  tracing overhead   {overhead:>12.4f} s (traced minus untraced op_p50_s)")
            for k in ("Orchestrator.replay_share", "CorpusPipeline.replay_share"):
                if traced["per_layer"][k]:
                    print(f"  {w}  {k} {traced['per_layer'][k]:.3f} of the composite's wall")
        sys.exit(0 if ok else 1)
    if not a.workload:
        ap.error("--workload or --all is required")
    rec = one_run(a.workload, a.seed, seconds, bool(a.trace), s, a.plant_wrong)
    print("\n".join(describe(rec, s)))
    print(json.dumps(result_line(rec, bool(a.trace), s)), flush=True)


if __name__ == "__main__":
    main()
