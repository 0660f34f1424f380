#!/usr/bin/env python3
"""graft's benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  The first run builds the harness and
the program from source (perfbench/scala, with sbt offline); later runs
reuse the build until a source file changes.  Inputs are generated from
the seed under .perfbench/, the harness JVM runs the workload, the
outputs are checked, and the last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}.  See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

SCALA = os.path.join(HERE, "scala")
CLASSES = os.path.join(SCALA, "target", "scala-2.13", "classes")
STATE = os.path.join(ROOT, ".perfbench")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    """The Spark install the program builds and runs against: SPARK_HOME,
    else the one whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found: set SPARK_HOME")
    return home


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(SCALA, "src")]
    files = [os.path.join(SCALA, "build.sbt")]
    for r in roots:
        for dp, _, fs in os.walk(r):
            files += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def build(spark):
    """Compile the harness with the program's sources, once per source
    state.  A checkout without the program's sources is refused."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources at src/main/scala/graft; run from a full checkout")
    h = hashlib.sha256()
    for f in sources():
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    stamp = os.path.join(STATE, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest() and \
            os.path.exists(os.path.join(CLASSES, "graft", "perfbench", "Main.class")):
        return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark)
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(STATE, exist_ok=True)
    with open(os.path.join(STATE, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=SCALA, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0:
        fail(f"build failed, see {os.path.join(STATE, 'build.log')}")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def run_jvm(cfg, work, spark):
    cfg_path = os.path.join(work, "config.json")
    out_path = os.path.join(work, "out.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-Xmn768m", "-XX:ReservedCodeCacheSize=512m",
        f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-cp", f"{CLASSES}:{spark}/jars/*", "graft.perfbench.Main", cfg_path, out_path]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness timed out, see {os.path.join(work, 'jvm.log')}")
    if p.returncode != 0 or not os.path.exists(out_path):
        fail(f"harness exited with {p.returncode}, see {os.path.join(work, 'jvm.log')}")
    with open(out_path) as f:
        return json.load(f)


def tail(xs):
    """The highest percentile with at least 10 samples beyond it, and
    that percentile.  Below 21 samples that percentile would not reach
    the median, so the maximum stands in."""
    s = sorted(xs)
    n = len(s)
    if n > 20:
        return s[n - 11], 100.0 * (n - 10) / n
    return s[-1], 100.0


def med(xs):
    return statistics.median(xs) if xs else 0.0


def closed_loop_metrics(out, checks, items_fn):
    samples = out["samples"]
    bad = {n for n, e in checks.items() if e}
    failed = sum(1 for s in samples if s["err"] or s["name"] in bad)
    ok = [s["s"] for s in samples if not s["err"]]
    untraced = [p["s"] for p in out["passes"] if not p["traced"]] or \
        [p["s"] for p in out["passes"]]
    t, pct = tail(ok)
    m = {"latency_p50_s": med(ok), "latency_tail_s": t, "pass_s": med(untraced),
         "items_per_s": items_fn(med(untraced))}
    extra = {"tail_percentile": pct, "samples": len(ok), "passes": len(out["passes"])}
    return m, len(samples), failed, extra


def stream_metrics(out, checks):
    st = out["stream"]
    lat = [f["latency_s"] for f in st["files"]]
    t, pct = tail(lat) if lat else (0.0, 0.0)
    span_s = (st["last_commit_ms"] - st["first_due_ms"]) / 1e3
    m = {"latency_p50_s": med(lat), "latency_tail_s": t,
         "pass_s": med([(b["end_ms"] - b["start_ms"]) / 1e3 for b in st["micro_batches"]]),
         "items_per_s": len(lat) / span_s if span_s > 0 else 0.0}
    failed = st["moved_files"] - len(lat)
    if any(checks.values()):
        failed = st["moved_files"]
    extra = {"tail_percentile": pct, "samples": len(lat),
             "micro_batches": len(st["micro_batches"]), "offered_batches": st["offered_batches"]}
    return m, st["moved_files"], failed, extra


def layer_metrics(names, out, wl, rows):
    """Every per-layer metric, 0 where the workload does not touch the layer."""
    layers = {n: 0.0 for n in names}
    layers["session.build_s"] = out["session_build_s"]
    layers["session.warmup_s"] = out["warmup_s"]
    layers.update(out.get("layers_operators", {}))
    layers.update(out.get("layers_probes", {}))
    c, u, i = check.etl_counts(rows)
    layers.update({"operators.etl_rows_classified": c, "operators.etl_rows_unknown": u,
                   "operators.etl_rows_invalid": i})
    if wl == "statement_stream":
        st = out["stream"]
        ap = [b["apply_s"] for b in st["micro_batches"]]
        layers.update({
            "streaming.apply_s": med(ap),
            "streaming.wait_s": med([f["latency_s"] - f["apply_s"] for f in st["files"]]),
            "streaming.backlog_max_files": st["backlog_max_files"],
            "streaming.batches": len(ap),
            "streaming.files_per_batch": (sum(b["rows"] for b in st["micro_batches"]) / len(ap)
                                          if ap else 0.0),
            "streaming.index_rows": out["stream_check"].get("ann_rows", 0) +
            out["stream_check"].get("dd_rows", 0),
            "streaming.gen_lag_s": st["gen_lag_s"]})
        half = st["first_due_ms"] + out["measure_s"] * 500
        a = [b["apply_s"] for b in st["micro_batches"] if b["start_ms"] < half]
        b = [b["apply_s"] for b in st["micro_batches"] if b["start_ms"] >= half]
    else:
        a = [p["s"] for p in out["passes"] if not p["traced"]]
        b = [p["s"] for p in out["passes"] if p["traced"]]
    layers["trace.overhead_frac"] = med(b) / med(a) - 1.0 if a and b else 0.0
    return {n: layers[n] for n in names}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec = json.load(open(os.path.join(HERE, "workloads.json")))
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload}")
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    spark = spark_home()
    build(spark)

    wl = args.workload
    wcfg = spec["workloads"][wl]
    work = os.path.join(STATE, wl)
    man = gen.generate(work, wl, args.seed, wcfg)
    cfg = {"workload": wl, "work": work, "seconds": args.seconds,
           "trace": bool(args.trace), "cores": len(os.sched_getaffinity(0)),
           "ops": wcfg.get("ops", []), "hot": spec["hot"], "stream": wcfg,
           "warm_s": wcfg.get("warm_s", 0), "probe_copies": wcfg.get("probe_copies", 1)}
    if wl == "statement_stream":
        cfg["stream_dates"] = gen.dates(wcfg["stream_batches"], start=(2025, 1, 1))
    out = run_jvm(cfg, work, spark)

    rows = None
    if wl in ("etl_files", "statement_stream"):
        rows = check.read(os.path.join(work, "check/etl_ingest" if wl == "etl_files"
                                        else "stream/extracted"))
    if wl == "etl_files":
        checks = {"etl_ingest": next((w["err"] for w in out["warm"] if w["err"]), None)
                  or check.statements(rows, man["truth"])}
        m, attempted, failed, extra = closed_loop_metrics(
            out, checks, lambda p: man["sizes"]["files"] / p)
    elif wl == "query_mix":
        warm_err = {w["name"]: w["err"] for w in out["warm"]}
        names = list(wcfg["ops"])
        checks = check.oracle(os.path.join(work, "tables"), os.path.join(work, "check"),
                              out["oracle_sql"], names)
        for a, e in out["aux_errors"].items():
            checks[f"aux:{a}"] = e
        checks["image_pipeline"] = check.image_pipeline(
            os.path.join(work, "check"), man["image_expected"])
        checks = {n: warm_err.get(n) or e for n, e in checks.items()}
        m, attempted, failed, extra = closed_loop_metrics(
            out, checks, lambda p: (len(names) + 1) / p)
        if any(n.startswith("aux:") and e for n, e in checks.items()):
            failed = attempted
    else:
        sc = out["stream_check"]
        checks = {"stream": out["stream"]["error"] or
                  (None if sc.get("ok") else f"stream check: {sc}"),
                  "manifest": check.statements(rows, [t for t in man["truth"]
                                                      if t["batch"] < out["stream"]["offered_batches"]])}
        m, attempted, failed, extra = stream_metrics(out, checks)

    m["setup_s"] = out["setup_s"]
    m["peak_rss_mb"] = out["peak_rss_mb"]
    errors = {n: e for n, e in checks.items() if e}
    for n, e in errors.items():
        print(f"perfbench: check failed: {n}: {e}", file=sys.stderr)
    report = {"workload": wl, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "sizes": man["sizes"], "checks_failed": errors, **extra}
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    if args.trace:
        names = [x["name"] for x in bench["per_layer"]]
        units = {x["name"]: x["unit"] for x in bench["per_layer"]}
        vals = layer_metrics(names, out, wl, rows)
    else:
        units = {x["name"]: x["unit"] for x in bench["end_to_end"]}
        vals = {n: m[n] for n in units}
    print(json.dumps(report))
    print(json.dumps({"correct": not errors and failed == 0, "attempted": attempted,
                      "failed": failed,
                      "metrics": {n: {"value": v, "unit": units[n]} for n, v in vals.items()}}))


if __name__ == "__main__":
    main()
