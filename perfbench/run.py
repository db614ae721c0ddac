"""Benchmark the graft engine on one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source (once per source state),
generates the workload's inputs from the seed, runs the workload's fixed
schedule of passes in a fresh JVM, checks every output, and prints one JSON object as the last line of
standard output. The schedule is fixed so the work measured never depends
on the program's speed; `--seconds` is accepted and does not change it.
See README.md for the workloads and metrics.
"""

import argparse
import csv
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, ".build")
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("finance_refresh", "drop_cadence")
OVERRIDES = ["SPARK_GRAFT_" + k for k in
             ("CODEGEN_CACHE", "FAN_BYTES", "FAN_DISABLE", "INITIAL_SHUFFLE", "MIN_PARTITION")]
HEAP = "4g"              # JVM heap for every run
DEADLINE_S = 170         # a run ends this long after its build; a hung JVM is killed
END_TO_END = [("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s"), ("job_p50_s", "s"),
              ("out_bytes_per_in_byte", "ratio")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build ----------------------------------------------------------------------

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, dirs, names in os.walk(r):
            dirs.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    return files


def build():
    """Compile program + harness with sbt once per source state; returns
    (classpath, java options)."""
    h = hashlib.sha256(HEAP.encode())
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cached = os.path.join(BUILD, "build.json")
    if os.path.exists(cached):
        with open(cached) as fh:
            b = json.load(fh)
        if b.get("stamp") == stamp and all(os.path.exists(p) for p in b["classpath"].split(":")):
            return b["classpath"], b["java_options"]
    os.makedirs(BUILD, exist_ok=True)
    log("building program and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export perfbench/Runtime/fullClasspath", "show perfbench/javaOptions"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    with open(os.path.join(BUILD, "sbt.log"), "w") as fh:
        fh.write(p.stdout)
    if p.returncode != 0:
        log("build failed:\n" + "\n".join(p.stdout.splitlines()[-30:]))
        raise SystemExit(2)
    lines = p.stdout.splitlines()
    cp = next(l for l in lines if "perfbench" in l and "classes" in l and ":" in l
              and not l.startswith("["))
    # the program's JVM options, with this benchmark's heap size
    opts = [o for o in (l[len("[info] * "):].strip() for l in lines if l.startswith("[info] * "))
            if not o.startswith("-Xmx")] + [f"-Xmx{HEAP}"]
    b = dict(stamp=stamp, classpath=cp.strip(), java_options=opts)
    with open(cached, "w") as fh:
        json.dump(b, fh)
    log(f"built in {time.time() - t0:.1f} s")
    return b["classpath"], b["java_options"]


# ---- inputs ---------------------------------------------------------------------

def inputs(workload, seed):
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        gen_digest = hashlib.sha256(fh.read()).hexdigest()[:16]
    d = os.path.join(WORK, "inputs", f"{workload}-{seed}-{gen_digest}")
    m = os.path.join(d, "manifest.json")
    t0 = time.time()
    if not os.path.exists(m):
        shutil.rmtree(d, ignore_errors=True)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, tmp)
        os.rename(tmp, d)
    with open(m) as fh:
        manifest = json.load(fh)
    return d, manifest, time.time() - t0


# ---- JVM runs -------------------------------------------------------------------

def jvm_env():
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    env["SPARK_LOCAL_DIRS"] = local
    return env


def run_jvm(cp, opts, args, deadline):
    """Start a fresh JVM, killed at `deadline` (epoch seconds) if still
    running; returns (seconds from spawn to ready, result path)."""
    rundir = os.path.join(WORK, "run")
    tmp = os.path.join(WORK, "tmp")
    for d in (rundir, tmp):
        os.makedirs(d, exist_ok=True)
    cmd = ["java", *opts, f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main", *args]
    logpath = os.path.join(WORK, "run.log")
    t0 = time.time()
    with open(logpath, "w") as err:
        p = subprocess.Popen(cmd, cwd=rundir, env=jvm_env(), stdin=subprocess.DEVNULL,
                             stdout=subprocess.PIPE, stderr=err, text=True)
        ready, result = None, None
        watchdog = threading.Timer(max(1.0, deadline - time.time()), p.kill)
        watchdog.start()
        try:
            for line in p.stdout:
                if line.startswith("PERFBENCH_READY "):
                    ready = int(line.split()[1]) / 1000.0 - t0
                elif line.startswith("PERFBENCH_RESULT "):
                    result = line.split(" ", 1)[1].strip()
            p.wait()
        finally:
            watchdog.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0 or ready is None:
        with open(logpath) as fh:
            tail = fh.read().splitlines()[-40:]
        log(f"JVM exited with {p.returncode}:\n" + "\n".join(tail))
        raise SystemExit(3)
    return ready, result


# ---- output checks ----------------------------------------------------------------

def read_csv_rows(path):
    with open(path, newline="", encoding="utf-8") as fh:
        return list(csv.DictReader(fh))


def xlsx_sheet_rows(path, sheet_index):
    with zipfile.ZipFile(path) as z:
        xml = z.read(f"xl/worksheets/sheet{sheet_index}.xml").decode("utf-8")
    return len(re.findall(r"<row[ >]", xml))


def cents(v):
    return round(float(v) * 100)


def check_finance(pass_dir, manifest, unit):
    """(name, ok) for every output check of a pass that refreshed month
    `unit`."""
    m = manifest["spec"]["months"][unit]
    t = m["truth"]
    name = os.path.basename(m["dir"])
    d = os.path.join(pass_dir, name)
    try:
        summ = {r["metric"]: r["value"] for r in read_csv_rows(os.path.join(d, "summary.csv"))}
        counts = {r["_merge"]: int(r["count"])
                  for r in read_csv_rows(os.path.join(d, "merge_counts.csv"))}
        dups = read_csv_rows(os.path.join(d, "duplicates.csv"))
        st = read_csv_rows(os.path.join(d, "study_startup.csv"))
        wb_matched = xlsx_sheet_rows(os.path.join(d, "reconciliation.xlsx"), 2) - 1
    except (OSError, KeyError, ValueError, zipfile.BadZipFile) as e:
        log(f"unreadable output of {name}: {e}")
        return [(f"{name}.outputs", False)]
    out = [(f"{name}.{k}", k in summ and cents(summ[k]) == t[k])
           for k in ("total_dor", "total_vp", "overlap_dor", "overlap_vp",
                     "matched_difference", "dor_only_effective", "vp_only")]
    out += [(f"{name}.matched", counts.get("both", 0) == t["matched"]),
            (f"{name}.left_only", counts.get("left_only", 0) == t["left_only"]),
            (f"{name}.right_only", counts.get("right_only", 0) == t["right_only"]),
            (f"{name}.duplicates", len(dups) == t["dup_report_rows"]),
            (f"{name}.startup_rows", len(st) == t["startup_rows"]),
            (f"{name}.startup_legacy",
             sum(r.get("isLegacy") == "1" for r in st) == t["startup_legacy_rows"]),
            (f"{name}.workbook_matched", wb_matched == t["workbook_matched_rows"])]
    return out


# ---- metrics --------------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


# per-layer metrics: (name, unit). Spans give `<span>_s` self times; the
# rest are counters. BENCHMARK.json lists the same names.
PER_LAYER = [
    ("engine.session_s", "s"), ("engine.codegen_compiles", "count"),
    ("engine.codegen_compile_s", "s"), ("engine.plan_s", "s"), ("engine.spark_jobs", "count"),
    ("engine.tasks", "count"), ("engine.cpu_util", "ratio"), ("engine.gc_s", "s"),
    ("engine.shuffle_write_bytes", "bytes"), ("engine.shuffle_read_bytes", "bytes"),
    ("engine.spill_bytes", "bytes"),
    ("sources.latest_file_s", "s"), ("sources.read_xlsx_s", "s"), ("sources.read_xlsx_rows", "count"),
    ("sources.read_csv_s", "s"), ("sources.read_csv_rows", "count"),
    ("sources.read_csv_utf16_s", "s"), ("sources.read_csv_utf16_rows", "count"),
    ("sources.read_ndjson_s", "s"), ("sources.read_ndjson_rows", "count"),
    ("sources.read_json_s", "s"), ("sources.read_json_rows", "count"),
    ("sources.write_csv_s", "s"), ("sources.write_xlsx_s", "s"), ("sources.write_bytes", "bytes"),
    ("sources.versioned_write_s", "s"), ("sources.versioned_read_s", "s"),
    ("sources.versioned_compact_s", "s"), ("sources.versioned_vacuum_s", "s"),
    ("sources.versioned_files", "count"), ("sources.versioned_bytes", "bytes"),
    ("pipelines.clean_s", "s"), ("pipelines.startup_merge_s", "s"),
    ("pipelines.bootstrap_s", "s"), ("pipelines.publish_drop_s", "s"),
    ("operators.reconcile_s", "s"), ("operators.dup_report_s", "s"),
    ("streaming.drain_s", "s"), ("streaming.batches", "count"),
    ("streaming.accepted_rows", "count"), ("streaming.rejected_rows", "count"),
    ("layer.sources_share", "ratio"), ("layer.pipelines_share", "ratio"),
    ("layer.operators_share", "ratio"), ("layer.streaming_share", "ratio"),
    ("layer.harness_share", "ratio"), ("trace.overhead_s", "s"),
]
LAYERS = ["sources", "pipelines", "operators", "streaming"]


def per_layer_metrics(res):
    """Per-layer figures of one traced run: the cold pass's codegen, and
    means per traced warm pass (each pass is one job). A span that only
    the cold pass makes (the cadence bootstrap) reports that pass."""
    tr = res["trace"]
    spans = tr["spans"]
    gc = tr["self_gc_s"]
    passes = res["passes"]
    warm_t = [p for p in passes[1:] if p["traced"]]
    warm_u = [p for p in passes[1:] if not p["traced"]]
    runs = {p["index"] for p in warm_t}
    n = max(1, len(warm_t))
    wall = max(1e-9, sum(p["wall_s"] for p in warm_t))
    warm = [s for s in spans if s["run"] in runs]
    cold = [s for s in spans if s["run"] == 0]
    counts = {}
    for p in warm_t:
        for k, v in p["counts"].items():
            counts[k] = counts.get(k, 0.0) + v / n
    v = {}
    session = [s for s in spans if s["name"] == "engine.session"]
    v["engine.session_s"] = sum(s["end_s"] - s["start_s"] for s in session)
    v["engine.codegen_compiles"] = sum(s["codegen_compiles"] for s in cold)
    v["engine.codegen_compile_s"] = sum(s["codegen_compile_s"] for s in cold)
    v["engine.plan_s"] = sum(s["plan_s"] for s in warm) / n
    v["engine.spark_jobs"] = sum(s["spark_jobs"] for s in warm) / n
    v["engine.tasks"] = sum(s["tasks"] for s in warm) / n
    v["engine.cpu_util"] = sum(s["cpu_s"] for s in warm) / (wall * res["cpus"])
    v["engine.gc_s"] = sum(gc.get(str(s["id"]), 0.0) for s in warm) / n
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        v[f"engine.{k}"] = sum(s[k] for s in warm) / n
    for name, _ in PER_LAYER:
        span = name[:-2]
        if name.endswith("_s") and not name.startswith(("engine.", "trace.")):
            own = [s for s in warm if s["name"] == span]
            v[name] = (sum(s["self_s"] for s in own) / n if own else
                       sum(s["self_s"] for s in cold if s["name"] == span))
        elif name not in v:
            v[name] = counts.get(name, 0.0)
    covered = 0.0
    for layer in LAYERS:
        t = sum(s["self_s"] for s in warm if s["name"].startswith(layer + ".")) / n
        covered += t
        v[f"layer.{layer}_share"] = t / (wall / n)
    v["layer.harness_share"] = max(0.0, 1 - covered / (wall / n))
    # the first untraced pass still compiles the untraced plans (the cold
    # pass compiled the traced ones), so leave it out when there is another
    base = warm_u[1:] if len(warm_u) > 1 else warm_u
    v["trace.overhead_s"] = (median([p["wall_s"] for p in warm_t]) -
                             median([p["wall_s"] for p in base]))
    return {name: dict(value=v[name], unit=unit) for name, unit in PER_LAYER}


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    set_overrides = [k for k in OVERRIDES if k in os.environ]
    if set_overrides:
        log("refusing to run with A/B overrides set: " + ", ".join(set_overrides))
        return 4
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Engine.scala"))):
        log(f"no program sources next to {HERE}; run from a full checkout")
        return 2

    cp, opts = build()
    deadline = time.time() + DEADLINE_S
    in_dir, manifest, gen_s = inputs(a.workload, a.seed)
    out_dir = os.path.join(WORK, "out", a.workload)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    cpus = len(os.sched_getaffinity(0))
    jvm_args = ["--workload", a.workload, "--in", in_dir, "--out", out_dir, "--cpus", str(cpus),
                "--trace", str(a.trace)]
    setup_s, result = run_jvm(cp, opts, jvm_args, deadline)
    if result is None:
        log("the run printed no result")
        return 3
    with open(result) as fh:
        res = json.load(fh)

    passes = res["passes"]
    for p in passes:
        if not p["ok"]:
            log(f"job {p['job']} failed: {p['error']}")
    checks = []
    for p in passes:
        if not p["ok"]:
            continue
        if a.workload == "finance_refresh":
            pd = os.path.join(out_dir, f"pass{p['index']}")
            checks += [(f"pass{p['index']}.{k}", ok)
                       for k, ok in check_finance(pd, manifest, p["unit"])]
        checks += [(f"pass{p['index']}.{k}", ok) for k, ok in p["checks"].items()]
    checks += [(f"run_end.{k}", ok) for k, ok in res["run_end_checks"].items()]
    if a.workload == "drop_cadence" and passes[-1]["ok"] and not res["run_end_checks"]:
        checks.append(("run_end.missing", False))
    bad = [k for k, ok in checks if not ok]
    for k in bad:
        log(f"output check failed: {k}")

    attempted = len(passes)
    # input bytes of the months or drops the passes processed (a cadence
    # unit u is drop u + 1; unit 0 also holds the base corpus)
    if a.workload == "finance_refresh":
        in_bytes = sum(manifest["spec"]["months"][u]["bytes"] for u in {p["unit"] for p in passes})
    else:
        drops = manifest["spec"]["drops"]
        in_bytes = sum(d["bytes"] for d in drops[:max(p["unit"] for p in passes) + 2])
    failed = sum(not p["ok"] for p in passes) + len(bad)
    warm = [p for p in passes[1:] if not p["traced"]]
    warm_jobs = [p["wall_s"] for p in warm]
    details = dict(
        workload=a.workload, seed=a.seed, cpus=cpus, gen_s=round(gen_s, 3),
        input_rows=manifest["input_rows"], input_bytes=manifest["input_bytes"],
        input_files=manifest["input_files"],
        job_latency_s=[(p["job"], round(p["wall_s"], 4)) for p in passes],
        job_n=len(warm_jobs), fail_frac=failed / attempted,
        checks=len(checks), checks_failed=len(bad))
    if len(warm_jobs) >= 100:
        details["job_p90_s"] = statistics.quantiles(warm_jobs, n=10)[-1]
    print(json.dumps(details))

    if a.trace:
        metrics = per_layer_metrics(res)
    else:
        values = dict(
            setup_s=setup_s,
            cold_s=passes[0]["wall_s"],
            warm_s=median([p["wall_s"] for p in warm]),
            job_p50_s=median(warm_jobs),
            out_bytes_per_in_byte=passes[-1]["out_bytes"] / in_bytes)
        metrics = {k: dict(value=values[k], unit=u) for k, u in END_TO_END}
    correct = failed == 0 and len(passes) >= 3
    print(json.dumps(dict(correct=correct, attempted=attempted, failed=failed,
                          metrics=metrics)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
