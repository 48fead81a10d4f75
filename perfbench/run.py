#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload silver_sql --seed 1 --seconds 10 --trace 0

Builds the harness together with the checkout's graft sources (once per
source state), starts one JVM at local[nproc], and measures a closed loop
of catalog operations: the session set-up, a cold pass, then warm passes
(about --seconds of work). Every operation's written result is read back after
the run and fingerprinted against expected.json. The last stdout line is
the result object; the line before it carries the run's witnesses.

--trace 1 gives the per-layer metrics instead of the end-to-end ones and
writes the run's spans and layer record under .perfbench_out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

import metrics

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD_STAMP = HERE / "target" / "build.stamp"
CLASSPATH = HERE / "target" / "classpath.txt"
EXPECTED = HERE / "expected.json"

# The read-only sf0.1 fixtures (TESTDATA.md at the repository root).
FIXTURE = Path(os.environ.get("SPARK_GRAFT_SF_DIR", Path.home() / "testdata" / "sf0.1"))

# Catalog entry ids per workload (README.md says why each was chosen), and
# the seconds one warm pass of it takes at local[4]. A run makes
# max(1, round(--seconds / pass seconds)) warm passes: a fixed count,
# because the JIT still speeds up the first warm passes and a time-based
# stop would mix differently warm passes from run to run. At --seconds 10
# that is two for silver_sql and one for curation, which keeps a run under
# a minute including its ~14 s set-up and its cold pass.
WORKLOADS = {
    "silver_sql": (["q01", "q03", "q07", "q14", "q19", "q33", "q36", "q51"], 5.0),
    "curation": (["qc01"], 12.0),
}
# The stages Curation.lastStageSecs reports for a persist-mode run.
STAGES = ["input", "quality", "spans", "exact", "neardup", "clean", "split", "packed"]

HEAP = "4g"
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 700  # with the JVM timeout, a first run stays under 900 s

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_killable(cmd, timeout, **kw):
    """Run a child in its own process group; on timeout kill the whole
    group and wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:  # timeout, interrupt
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def source_digest():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (HERE / "src", ROOT / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if submit:
        return str(Path(submit).resolve().parent.parent)
    raise SystemExit("perfbench: SPARK_HOME is not set and spark-submit is not on PATH")


def build():
    """Compile harness + graft sources with sbt, once per source state."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit("perfbench: no graft sources next to the benchmark")
    digest = source_digest()
    if CLASSPATH.exists() and BUILD_STAMP.exists() and BUILD_STAMP.read_text() == digest:
        return
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if repos.exists() else ""))
    log("building harness and graft sources with sbt")
    with open(HERE / "target-build.log", "w") as out:
        rc = run_killable(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "clean", "compile", "writeClasspath"],
                          BUILD_TIMEOUT_S, cwd=HERE, env=env,
                          stdin=subprocess.DEVNULL, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0 or not CLASSPATH.exists():
        sys.stderr.write((HERE / "target-build.log").read_text()[-4000:])
        raise SystemExit(f"perfbench: build failed (sbt exit {rc})")
    BUILD_STAMP.write_text(digest)


# ---------------------------------------------------------------- outputs

def fingerprint(con, path):
    """Row count plus an order-independent hash of the rows, canonicalised
    as tools/diffcheck.py does: columns in name order, floats rounded to 6
    places, NULL spelled <NULL>, every value as text."""
    rel = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    parts = []
    for name, typ in sorted(zip(rel.columns, rel.types), key=lambda c: c[0]):
        q = '"' + name.replace('"', '""') + '"'
        if str(typ) in ("DOUBLE", "FLOAT"):
            v = f"(round({q}::DOUBLE, 6) + 0.0)::VARCHAR"  # + 0.0 folds -0.0
        else:
            v = f"{q}::VARCHAR"
        parts.append(f"coalesce({v}, '<NULL>')")
    row = "concat_ws(chr(31), " + ", ".join(parts) + ")" if parts else "''"
    n, h = con.sql(
        f"SELECT count(*), coalesce(sum(md5_number_lower({row})::HUGEINT), 0) "
        f"FROM read_parquet('{path}/*.parquet')").fetchone()
    return {"rows": int(n), "hash": "%016x" % (int(h) % (1 << 64))}


def check_outputs(ops, expected):
    """Fingerprints every written result; returns per-record verdicts."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    con.sql("SET threads=4")
    verdicts = []
    for r in ops:
        if not r["ok"]:
            verdicts.append((False, r["error"]))
            continue
        try:
            got = fingerprint(con, r["out"])
        except Exception as e:  # unreadable output counts as a failure
            verdicts.append((False, f"read-back failed: {e}"))
            continue
        want = expected.get(r["op"])
        if want is None:
            verdicts.append((False, f"no expected fingerprint; got {got}"))
        elif got != want:
            verdicts.append((False, f"fingerprint {got} != expected {want}"))
        else:
            verdicts.append((True, ""))
        r["fingerprint"] = got
        shutil.rmtree(r["out"], ignore_errors=True)
    con.close()
    return verdicts


# ---------------------------------------------------------------- metrics

def secs(ns):
    return ns / 1e9


def op_latency(r):
    return secs(r["end_ns"] - r["start_ns"])


def pass_seconds(raw):
    """Seconds of each pass: the sum of its operations' latencies, so the
    isolation between operations stays outside."""
    out = {}
    for r in raw["ops"]:
        out[r["pass"]] = out.get(r["pass"], 0.0) + op_latency(r)
    return out


def end_to_end(raw):
    passes = pass_seconds(raw)
    lat = [op_latency(r) for r in raw["ops"] if r["pass"] > 0]
    return {
        "setup_s": (sum(raw["setup"].values()), "s"),
        "wall_s": (metrics.median([v for k, v in passes.items() if k > 0]), "s"),
        "op_p50_s": (metrics.median(lat), "s"),
    }


def per_layer(raw):
    """Per-layer metrics of a traced run. Counts and sums are per warm
    traced pass (the median over those passes); peaks cover the run."""
    traced = sorted(p["pass"] for p in raw["passes"] if p["traced"] and p["pass"] > 0)
    # pass 1 only settles the JIT; the overhead compares passes 2-5
    untraced = sorted(p["pass"] for p in raw["passes"] if not p["traced"] and p["pass"] > 1)
    pass_s = pass_seconds(raw)
    ops = [r for r in raw["ops"] if r["pass"] in traced]
    counters = {}
    for c in raw["layer_counters"]:
        if c["key"] == "untagged":
            continue
        counters.setdefault(int(c["key"].split(":")[0]), []).append(c)
    jobs_by_key = {}
    for j in raw["jobs"]:
        jobs_by_key.setdefault(j["key"], []).append((j["start_ms"] / 1e3, j["end_ms"] / 1e3))

    def per_pass(f):
        return metrics.median([f(p) for p in traced])

    def csum(p, field):
        return sum(c[field] for c in counters.get(p, []))

    def gap(p):
        total = 0.0
        for r in (r for r in ops if r["pass"] == p):
            js = (jobs_by_key.get(f"{p}:{r['op']}:build", []) +
                  jobs_by_key.get(f"{p}:{r['op']}:action", []))
            total += metrics.driver_gap(r["start_ns"] / 1e9, r["end_ns"] / 1e9, js)
        return total

    sizes = {}

    def fixture_bytes(p):
        """On-disk bytes of the distinct fixture files each op of pass p read."""
        files = {(key.split(":")[1], f) for key, fs in raw["fixture_files"].items()
                 if key.startswith(f"{p}:") for f in fs}
        for _, f in files:
            sizes.setdefault(f, os.path.getsize(f))
        return sum(sizes[f] for _, f in files)

    cores = raw["cores"]
    m = {
        "session.jvm_s": (raw["setup"]["jvm_s"], "s"),
        "session.init_s": (raw["setup"]["init_s"], "s"),
        "session.warmup_s": (raw["setup"]["warmup_s"], "s"),
        "queries.cold_pass_s": (pass_s[0], "s"),
        "queries.build_s": (per_pass(lambda p: sum(secs(r["built_ns"] - r["start_ns"])
                                                 for r in ops if r["pass"] == p)), "s"),
        "queries.action_s": (per_pass(lambda p: sum(secs(r["end_ns"] - r["built_ns"])
                                                  for r in ops if r["pass"] == p)), "s"),
        "sources.scan_bytes": (per_pass(lambda p: csum(p, "scan_bytes")), "B"),
        "sources.scan_rows": (per_pass(lambda p: csum(p, "scan_rows")), "count"),
        "sources.rescan_ratio": (per_pass(
            lambda p: csum(p, "scan_bytes") / max(fixture_bytes(p), 1)), "ratio"),
        "spark.jobs": (per_pass(lambda p: csum(p, "jobs")), "count"),
        "spark.stages": (per_pass(lambda p: csum(p, "stages")), "count"),
        "spark.tasks": (per_pass(lambda p: csum(p, "tasks")), "count"),
        "spark.driver_gap_s": (per_pass(gap), "s"),
        "spark.task_s": (per_pass(lambda p: csum(p, "task_run_ms") / 1e3), "s"),
        "spark.task_cpu_s": (per_pass(lambda p: csum(p, "task_cpu_ns") / 1e9), "s"),
        "spark.slot_util": (per_pass(lambda p: csum(p, "task_run_ms") / 1e3 /
                                     (pass_s[p] * cores)), "ratio"),
        "spark.shuffle_write_bytes": (per_pass(lambda p: csum(p, "shuffle_write_bytes")), "B"),
        "spark.shuffle_read_bytes": (per_pass(lambda p: csum(p, "shuffle_read_bytes")), "B"),
        "spark.spill_bytes": (per_pass(lambda p: csum(p, "spill_bytes")), "B"),
        "spark.failed_tasks": (sum(c["failed_tasks"] for c in raw["layer_counters"]), "count"),
        "storage.output_bytes": (per_pass(lambda p: csum(p, "output_bytes")), "B"),
        "storage.cache_peak_mb": (raw["cache_peak_bytes"] / 1048576.0, "MB"),
        "jvm.gc_s": (per_pass(lambda p: sum(r["gc_s"] for r in ops if r["pass"] == p)), "s"),
        "jvm.heap_live_peak_mb": (raw["heap_live_peak_mb"], "MB"),
        "trace.wall_traced_s": (metrics.median([pass_s[p] for p in traced]), "s"),
        "trace.wall_untraced_s": (metrics.median([pass_s[p] for p in untraced]), "s"),
    }
    m["trace.overhead_s"] = (m["trace.wall_traced_s"][0] - m["trace.wall_untraced_s"][0], "s")
    for wl, _ in WORKLOADS.values():
        for op_id in wl:
            lat = [op_latency(r) for r in raw["ops"] if r["pass"] > 0 and r["op"] == op_id]
            m[f"op.{op_id}.s"] = (metrics.median(lat) if lat else 0.0, "s")
    # Curation's own stage seconds, read right after each qc01 def call
    qc01 = [r["stage_s"] for r in ops if r["op"] == "qc01"]
    for st in STAGES:
        m[f"pipeline.stage_s.qc01.{st}"] = (
            metrics.median([s[st] for s in qc01]) if qc01 else 0.0, "s")
    return m


def spans_of(raw):
    """run -> pass -> op -> {build, action} -> Spark job, with self times."""
    spans, stage_s = {}, {}
    first = min(p["start_ns"] for p in raw["passes"]) / 1e9
    last = max(p["end_ns"] for p in raw["passes"]) / 1e9
    spans["run"] = (None, first, last)
    for p in raw["passes"]:
        spans[f"pass{p['pass']}"] = ("run", p["start_ns"] / 1e9, p["end_ns"] / 1e9)
    for r in raw["ops"]:
        if not r["traced"]:
            continue
        oid = f"pass{r['pass']}/{r['op']}"
        spans[oid] = (f"pass{r['pass']}", r["start_ns"] / 1e9, r["end_ns"] / 1e9)
        if r["stage_s"]:
            stage_s[oid] = r["stage_s"]
        spans[oid + "/build"] = (oid, r["start_ns"] / 1e9, r["built_ns"] / 1e9)
        spans[oid + "/action"] = (oid, r["built_ns"] / 1e9, r["end_ns"] / 1e9)
    for j in raw["jobs"]:
        p, op, phase = j["key"].split(":") if j["key"].count(":") == 2 else (None, None, None)
        parent = f"pass{p}/{op}/{phase}" if p is not None else "run"
        if parent not in spans:
            parent = "run"
        spans[f"job{j['job']}"] = (parent, j["start_ms"] / 1e3, j["end_ms"] / 1e3)
    selfs = metrics.self_times(spans)
    out = [{"id": k, "parent": parent, "start_s": s, "end_s": e,
            "duration_s": e - s, "self_s": selfs[k]}
           for k, (parent, s, e) in spans.items()]
    for span in out:
        if span["id"] in stage_s:
            span["curation_stage_s"] = stage_s[span["id"]]
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not FIXTURE.is_dir():
        raise SystemExit(f"perfbench: fixture directory {FIXTURE} is missing")
    build()
    ids, pass_s = WORKLOADS[a.workload]
    ops = metrics.permuted(ids, a.seed)
    warm_passes = max(1, round(a.seconds / pass_s))
    cores = len(os.sched_getaffinity(0))  # nproc

    work = ROOT / ".perfbench_work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        cmd = (["java"] + [x for o in JDK17_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")] +
               [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
                "-cp", CLASSPATH.read_text().strip(), "perfbench.Harness",
                "--workload", a.workload, "--ops", ",".join(ops), "--sf", str(FIXTURE),
                "--work", str(work), "--passes", str(warm_passes), "--trace", str(a.trace),
                "--cores", str(cores)])
        with open(work / "jvm.log", "w") as jlog:
            rc = run_killable(cmd, JVM_TIMEOUT_S, cwd=work, stdin=subprocess.DEVNULL,
                              stdout=jlog, stderr=subprocess.STDOUT)
        if rc != 0 or not (work / "raw.json").exists():
            sys.stderr.write((work / "jvm.log").read_text()[-4000:])
            raise SystemExit(f"perfbench: harness JVM failed (exit {rc})")
        raw = json.loads((work / "raw.json").read_text())

        verdicts = check_outputs(raw["ops"], json.loads(EXPECTED.read_text()))
        bad = [(r["pass"], r["op"], why) for r, (ok, why) in zip(raw["ops"], verdicts) if not ok]
        for b in bad:
            log(f"operation failed: pass {b[0]} {b[1]}: {b[2]}")
        attempted = len(raw["ops"])
        e2e = end_to_end(raw)
        tail = metrics.tail([op_latency(r) for r in raw["ops"] if r["pass"] > 0])

        details = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace, "order": ops,
            "passes": len(raw["passes"]), "error_rate": len(bad) / attempted,
            "sentinel_before_s": raw["sentinel_before_s"], "sentinel_after_s": raw["sentinel_after_s"],
            "machine_before": raw["machine_before"], "machine_after": raw["machine_after"],
            "confs": {k: v for k, v in raw["confs"].items() if "extraJavaOptions" not in k},
            "op_tail": dict(zip(("value_s", "percentile", "samples"), tail)) if tail else None,
            "heap_live_peak_mb": raw["heap_live_peak_mb"],
            "op_s": {f"{r['pass']}:{r['op']}": round(op_latency(r), 3) for r in raw["ops"]},
        }
        if a.trace:
            layer = per_layer(raw)
            layer["ops.error_rate"] = (len(bad) / attempted, "ratio")
            layer["ops.tail_s"] = (tail[0] if tail else 0.0, "s")
            layer["ops.tail_pct"] = (tail[1] if tail else 0.0, "%")
            layer["ops.tail_samples"] = (tail[2] if tail else 0, "count")
            outdir = ROOT / ".perfbench_out"
            outdir.mkdir(exist_ok=True)
            stem = outdir / f"{a.workload}-seed{a.seed}"
            Path(f"{stem}-spans.json").write_text(json.dumps(spans_of(raw)))
            Path(f"{stem}-layers.json").write_text(json.dumps(
                {"details": details, "end_to_end_traced": {k: v[0] for k, v in e2e.items()},
                 "per_layer": {k: v[0] for k, v in layer.items()}}, indent=1))
            chosen = layer
        else:
            chosen = e2e
        print(json.dumps(details))
        print(json.dumps({
            "correct": not bad, "attempted": attempted, "failed": len(bad),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
