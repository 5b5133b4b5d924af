#!/usr/bin/env python3
"""Run one benchmark workload of the CSV query engine.

    python3 perfbench/run.py --workload qa_warm --seed 1 --seconds 10 --trace 0

Builds the engine together with the benchmark (sbt, `perfbench/build.sbt`)
the first time, or when a source changed, then runs `perfbench.Main` on the
JVM. Everything it writes stays under `perfbench/`: build output in
`target/`, per-run scratch data in `work/` (deleted after the run) and span
dumps of traced runs in `out/`. The last stdout line is the result JSON.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
TARGET = HERE / "target"
STAMP = TARGET / "perfbench-build.json"
# The per-layer metrics each workload's traced run reports itself.
COMMON_LAYERS = ["tracing.overhead_pct", "bench.self_ms_per_op", "failed_op_fraction",
                 "spark.session_start_s", "spark.storage_mb_after_run"]
LAYERS = {
    "qa_warm": [
        "sources.csv_read_ms_p50", "profiler.profile_ms_p50", "spark.jobs_per_upload",
        "sources.bytes_read_per_csv_byte", "rule_sql_generator.generate_us_p50",
        "sql_validator.validate_us_p50", "engine.execute_ms_p50", "engine.collect_ms_p50",
        "engine.jobs_per_answer", "engine.plan_ms_per_answer", "sources.input_bytes_per_answer",
        "engine.collapse_fired_share", "spark.task_ms_per_answer", "spark.stages_per_answer",
        "spark.codegen_compiles_per_answer", "qa.answer_p95_ms"] + COMMON_LAYERS,
    "curation_batch": [
        "dedup.minhash_lsh_ms", "dedup.connected_components_ms", "text_analysis.tfidf_ms",
        "similarity.batch_topk_ms", "spark.gc_ms_per_pass", "spark.shuffle_bytes_per_doc",
        "spark.task_ms_per_doc", "curation.docs_per_s", "dedup.candidate_pairs",
        "dedup.verified_pairs", "dedup.candidate_precision"] + COMMON_LAYERS,
}
WORKLOADS = tuple(LAYERS)
RUN_TIMEOUT_S = 170
HEAP = "3g"
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if home:
        return home
    submit = shutil.which("spark-submit")
    if not submit:
        fail("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
    return str(Path(submit).resolve().parent.parent)


def source_hash():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (HERE / "src", ENGINE_SRC):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(env):
    """Compile the engine and the benchmark; return the runtime classpath."""
    digest = source_hash()
    if STAMP.exists():
        stamp = json.loads(STAMP.read_text())
        if stamp.get("hash") == digest:
            return stamp["classpath"]
    print("perfbench: building engine + benchmark with sbt", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = proc.stdout.splitlines()
    cp = [l for l in lines if "perfbench" in l and "classes" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed", 3)
    TARGET.mkdir(exist_ok=True)
    STAMP.write_text(json.dumps({"hash": digest, "classpath": cp[-1].strip()}))
    return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not (ENGINE_SRC / "graft" / "Engine.scala").is_file():
        fail(f"engine sources not found under {ENGINE_SRC}")
    env = dict(os.environ, SPARK_HOME=spark_home())
    classpath = build(env)

    work = HERE / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", args.trace, "--work", str(work), "--out", str(HERE / "out")])
    proc = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    shutil.rmtree(work, ignore_errors=True)
    result = None
    for line in stdout.splitlines():
        if line.startswith('{"correct"'):
            result = json.loads(line)
        else:
            print(line)
    if proc.returncode != 0 or result is None:
        fail(f"benchmark process exited with {proc.returncode} and no result", 5)
    print(json.dumps(complete(result, args.workload, args.trace == "1")), flush=True)


def complete(result, workload, traced):
    """Check the metrics against BENCHMARK.json. A run must report each of
    its own metrics: every end-to-end metric, and in a traced run the
    workload's own per-layer metrics. The per-layer metrics of the other
    workload's layers read 0."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}
    if traced and set(units) != {n for names in LAYERS.values() for n in names}:
        fail("the per-layer metrics of BENCHMARK.json and LAYERS differ", 6)
    own = set(LAYERS[workload] if traced else units)
    got = result["metrics"]
    if set(got) != own:
        fail(f"metrics not as listed: unknown {sorted(set(got) - own)}, missing {sorted(own - set(got))}", 6)
    result["metrics"] = {n: got.get(n, {"value": 0.0, "unit": u}) for n, u in units.items()}
    return result


if __name__ == "__main__":
    main()
