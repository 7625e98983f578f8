#!/usr/bin/env python3
"""Benchmark of the MIMIC pipeline and its `etl/Stages` gates.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program's classes from `src/main/scala` and the harness in
`perfbench/src` with the Scala compiler among the Spark jars (no sbt), makes
the workload's inputs from the seed, runs `perfbench.Harness` in a fresh
JVM, checks the last pass's output against a DuckDB recomputation (see
check.py), and prints one JSON line as the last line of stdout:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Everything it writes goes under `.bench_build/`.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import check  # noqa: E402
import gen  # noqa: E402

HERE = Path(__file__).resolve().parent
HEAP = "2g"
JVM_TIMEOUT_S = 160
SCALA = "2.13.17"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

# name -> (generator, its arguments, workload settings for the checker)
WORKLOADS = {
    "hourly_ffill_csv": (gen.mimic, dict(n_stays=60, rate_scale=1.0),
                         dict(step=3600, fill="ffill", sink="csv")),
    "daily_zero_parquet": (gen.mimic, dict(n_stays=40, rate_scale=8.0),
                           dict(step=86400, fill="zero", sink="long-parquet")),
    "ts_gates": (gen.events, dict(n_users=3, per_user=67), dict(gates=8)),
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The Spark jar directory the build declares (`unmanagedBase`)."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (root / "build.sbt").read_text())
    jars = Path(m.group(1)) if m else Path(os.environ.get("SPARK_HOME", "")) / "jars"
    if not (jars / f"scala-compiler-{SCALA}.jar").exists():
        fail(f"no Scala {SCALA} compiler in {jars}")
    return jars


def scalac(jars, classpath, out, sources, log):
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    comp = ":".join(str(jars / f"scala-{n}-{SCALA}.jar") for n in ("compiler", "library", "reflect"))
    with open(log, "w") as lf:
        rc = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", comp, "scala.tools.nsc.Main", "-nowarn",
             "-classpath", classpath, "-d", str(tmp)] + [str(s) for s in sources],
            stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        fail(f"compile failed, see {log}")
    tmp.rename(out)


def build(root, jars, bb):
    """Program classes and harness, rebuilt when any source changes."""
    prog_src = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    harness_src = sorted((HERE / "src").glob("*.scala"))
    if not prog_src:
        fail("no program sources under src/main/scala")
    h = hashlib.sha256()
    for p in prog_src + harness_src:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    key = h.hexdigest()[:16]
    prog, harness = bb / f"classes-{key}", bb / f"harness-{key}"
    spark_cp = ":".join(str(j) for j in sorted(jars.glob("*.jar")))
    if not prog.exists():
        for old in bb.glob("classes-*"):
            shutil.rmtree(old, ignore_errors=True)
        scalac(jars, spark_cp, prog, prog_src, bb / "build-program.log")
    if not harness.exists():
        for old in bb.glob("harness-*"):
            shutil.rmtree(old, ignore_errors=True)
        scalac(jars, f"{prog}:{spark_cp}", harness, harness_src, bb / "build-harness.log")
    return f"{harness}:{prog}:{jars}/*"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = Path.cwd()
    if not (root / "build.sbt").exists() or not (root / "src" / "main" / "scala").is_dir():
        fail("run from the repository root: build.sbt and src/main/scala are missing")
    jars = spark_jars(root)
    bb = root / ".bench_build"
    bb.mkdir(exist_ok=True)
    classpath = build(root, jars, bb)

    work = bb / "work" / f"{a.workload}-{a.seed}-{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    t0 = time.monotonic()
    generate, gen_args, settings = WORKLOADS[a.workload]
    rows = generate(work / "input", a.seed, **gen_args)
    t_gen = time.monotonic() - t0

    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep its files in the checkout
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Harness",
              "--workload", a.workload, "--input", str(work / "input"), "--work", str(work),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--result", str(work / "result.json")])
    log = bb / f"last-{a.workload}.log"
    with open(log, "w") as lf:
        try:
            rc = subprocess.run(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded {JVM_TIMEOUT_S} s, see {log}")
    if rc != 0 or not (work / "result.json").exists():
        fail(f"harness exited with {rc}, see {log}")
    r = json.loads((work / "result.json").read_text())
    t_jvm = time.monotonic() - t0 - t_gen

    # output checks, off the clock, on the last pass
    if "gates" in settings:
        bad, notes = check.check_gates(root, work / "input", work / "out",
                                       work / "oracle_sql.json", work / "tmp", a.seed)
    else:
        bad, notes = check.check_pipeline(work / "input", work / "out", work / "tmp",
                                          a.seed, **settings)
    for n in notes:
        print(f"perfbench: {n}", file=sys.stderr)
    print(f"perfbench: inputs {t_gen:.1f} s, harness {t_jvm:.1f} s, "
          f"checks {time.monotonic() - t0 - t_gen - t_jvm:.1f} s", file=sys.stderr)
    failed = r["failed"] + bad

    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(r["layers"].items())}
    else:
        pass_s = statistics.median(r["pass_s"])
        consumed = sum(v for k, v in rows.items() if k != "d_items.csv") * settings.get("gates", 1)
        metrics = {
            "setup_s": (statistics.median(r["setup_s"]), "s"),
            "cold_s": (r["cold_s"], "s"),
            "pass_s": (pass_s, "s"),
            "pass_cpu_s": (statistics.median(r["pass_cpu_s"]), "s"),
            "events_per_s": (consumed / pass_s, "1/s"),
            "output_bytes": (r["output_bytes"], "B"),
            "peak_rss_mb": (r["peak_rss_mb"], "MB"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        print(f"perfbench: {a.workload} seed {a.seed}: setup {r['setup_s']} cold {r['cold_s']:.3f} "
              f"(steal {r['cold_steal']:.3f}, jit {r['cold_jit_s']:.1f}, "
              f"{ {k: round(v, 2) for k, v in r['cold_ops_s'].items()} }) "
              f"warm-up {r['warmup_s']} passes {r['pass_s']} cpu {r['pass_cpu_s']} jit {r['pass_jit_s']} "
              f"codegen {r['pass_codegen_s']} "
              f"steal {r['steal_ratio']:.3f}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    correct = not any(n.startswith("FAIL") for n in notes)
    print(json.dumps({"correct": correct, "attempted": r["attempted"],
                      "failed": failed, "metrics": metrics}))


UNITS = [(".s", "s"), ("_s", "s"), ("_bytes", "B"), (".bytes", "B"), ("_ratio", "ratio")]


def unit_of(name):
    for suffix, unit in UNITS:
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    main()
