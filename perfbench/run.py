#!/usr/bin/env python3
"""graft benchmark: one command, two workloads, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds graft and the
harness from source (sbt, offline); later runs reuse the build while the
sources are unchanged. Inputs are generated from --seed (perfbench/gen.py),
the harness (perfbench/src) drives graft's public entry points on them,
and the outputs are checked against DuckDB. The last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. See perfbench/README.md.
"""
import argparse
import contextlib
import glob
import hashlib
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep imports from leaving caches in the checkout

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
ROOT = os.path.dirname(HERE)
SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
JAR = os.path.join(TARGET, "perfbench.jar")
# Class-data-sharing archive of the classes a run loads, made at build time
# by a training run. It roughly halves the JVM's cold start and first
# queries, which every run pays; timed passes are warm either way.
CDS = os.path.join(TARGET, "perfbench.jsa")
STAMP = os.path.join(TARGET, "perfbench.stamp")
HEAP = "2g"
RUN_LIMIT_S = 170  # the whole run, build excluded, ends within this

# Sizes are chosen so that each run fits the benchmark's time budget on a
# 4-core host; README.md records the measured per-step times behind them.
WORKLOADS = {
    "weekly_cycle": {"hospitals": 1000, "history_weeks": 8, "events_per_week": 10000,
                     "users": 2000},
    "registry_panel": {"sf": 0.01, "tables": ["region", "nation", "customer", "orders",
                                              "lineitem", "events", "documents"]},
}
# The training run behind the class-data-sharing archive: both workloads,
# small, one pass each.
TRAIN = {
    "weekly_cycle": dict(WORKLOADS["weekly_cycle"], hospitals=100, history_weeks=2,
                         events_per_week=1000),
    "registry_panel": dict(WORKLOADS["registry_panel"], sf=0.001),
}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

REPORT_PRELUDE = """hl AS MATERIALIZED (
  SELECT h.hospital_pk, h.hospital_name, l.city, l.state
  FROM read_parquet('{s}/hospital/*.parquet') h
  JOIN read_parquet('{s}/location/*.parquet') l ON h.location_id = l.location_id),
wkA AS MATERIALIZED (SELECT * FROM read_parquet('{s}/weekly_report/*.parquet')),
wkF AS MATERIALIZED (SELECT * FROM wkA WHERE collection_week <= DATE '{as_of}'),
lw AS MATERIALIZED (SELECT MAX(collection_week) AS latest_week FROM wkF),
qual AS MATERIALIZED (
  SELECT facility_id, quality_rating, rating_date
  FROM read_parquet('{s}/hospital_quality/*.parquet'))"""
# HealthSynth's oracle SQL derives its store from the TPC-H tables in a CTE
# prelude that ends here; its report queries follow.
SYNTH_PRELUDE_END = "FROM customer))"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    """The Spark installation: $SPARK_HOME, else the one spark-submit runs from."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if submit is None:
        fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(SRC, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness and make the class-data-sharing
    archive, unless the sources are unchanged since the last build."""
    stamp = source_stamp()
    if os.path.isfile(STAMP) and open(STAMP).read() == stamp and os.path.isfile(JAR):
        return 0.0
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "build.log"), "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"], HERE, env,
                         600, out)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {os.path.join(TARGET, 'build.log')}")
    train = os.path.join(TARGET, "cds-train")
    shutil.rmtree(train, ignore_errors=True)
    if os.path.exists(CDS):
        os.remove(CDS)
    runs = []
    for w, cfg in TRAIN.items():
        make_inputs(w, cfg, 1, os.path.join(train, w, "in"))
        runs += ["--then"] * bool(runs) + harness_args(w, cfg, 1, os.path.join(train, w), 0, 0)
    with open(os.path.join(TARGET, "cds-train.log"), "w") as out:
        rc = run_bounded(java_cmd(train, f"-XX:ArchiveClassesAtExit={CDS}") + runs, ROOT,
                         java_env(train), 240, out)
    if rc != 0 or not os.path.isfile(CDS):
        fail(f"training run failed (exit {rc}); see {os.path.join(TARGET, 'cds-train.log')}")
    with open(STAMP, "w") as f:
        f.write(stamp)
    return time.time() - t0


def run_bounded(cmd, cwd, env, timeout, out):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def make_inputs(workload, cfg, seed, in_dir):
    if workload == "weekly_cycle":
        return gen.weekly_inputs(seed, in_dir, cfg["hospitals"], cfg["history_weeks"],
                                 cfg["events_per_week"], cfg["users"])
    return gen.panel_tables(seed, in_dir, cfg["sf"], set(cfg["tables"]))


def harness_args(workload, cfg, seed, work, seconds, trace):
    """The harness's arguments for one run; `work` holds in/, out/ and store."""
    in_dir = os.path.join(work, "in")
    a = ["--workload", workload, "--in", in_dir, "--work", work,
         "--out", os.path.join(work, "out"), "--seconds", str(seconds), "--trace", str(trace),
         "--run-id", f"{workload}-{seed}-t{trace}"]
    if workload == "weekly_cycle":
        return a + ["--history-weeks", str(cfg["history_weeks"]),
                    "--first-week", gen.FIRST_WEEK.isoformat()]
    return a + ["--tables", in_dir]


def java_cmd(tmp, *jvm_opts):
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([JAR, os.path.join(spark_home(), "jars", "*")])
    return ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", *jvm_opts, *ADD_OPENS,
            "-cp", cp, "perfbench.Harness"]


def java_env(tmp):
    return dict(os.environ, SPARK_LOCAL_DIRS=tmp)


def oracle_compare(out_dir, tables_dir, tables):
    """tools/check_oracle.py's comparison over `out_dir`; (checked, failures)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle
    check_oracle.TABLES = tables
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check_oracle.main(out_dir, tables_dir)
    lines = [ln for ln in buf.getvalue().splitlines() if ln[:4] in ("OK  ", "NEAR", "FAIL")]
    return len(lines), [ln for ln in lines if not ln.startswith("OK")]


def latest_version_dir(store):
    with open(os.path.join(store, "_LATEST")) as f:
        return os.path.join(store, f"v={f.read().strip()}")


def weekly_checks(res, out_dir):
    """(name, passed, detail) for each correctness check of weekly_cycle."""
    import duckdb
    body = res["body"]
    store = body["store_dir"]
    checks = [("reload_leaves_store_hash", body["reload_ok"] and body["reload_hash_equal"],
               body["store_hash"][:120])]
    con = duckdb.connect()
    n, d = con.execute(
        f"SELECT count(*), count(DISTINCT (hospital_weekly_id, collection_week)) "
        f"FROM read_parquet('{store}/weekly_report/*.parquet')").fetchone()
    checks.append(("weekly_report_grain_unique", n == d and n > 0, f"{n} rows, {d} keys"))
    n, d = con.execute(
        f"SELECT count(*), count(DISTINCT (user_id, day)) "
        f"FROM read_parquet('{latest_version_dir(body['feed_store'])}/*.parquet')").fetchone()
    checks.append(("feed_grain_unique", n == d and n > 0, f"{n} rows, {d} keys"))
    synth = body["synth_oracle"]
    prelude = REPORT_PRELUDE.format(s=body["report_store"], as_of=body["report_as_of"])
    oracle = {}
    for name, sql in synth.items():
        cut = sql.index(SYNTH_PRELUDE_END) + len(SYNTH_PRELUDE_END)
        oracle[name] = "WITH " + prelude + sql[cut:]
    rep_dir = os.path.join(out_dir, "reports")
    with open(os.path.join(rep_dir, "oracle_sql.json"), "w") as f:
        json.dump(oracle, f)
    checked, bad = oracle_compare(rep_dir, store, [])
    checks.append(("reports_match_duckdb", checked == 8 and not bad,
                   f"{checked} compared; " + "; ".join(bad)[:300]))
    return checks


def panel_checks(res, out_dir, tables_dir, tables):
    body = res["body"]
    panel_dir = os.path.join(out_dir, "panel")
    os.makedirs(panel_dir, exist_ok=True)
    with open(os.path.join(panel_dir, "oracle_sql.json"), "w") as f:
        json.dump(body["oracle"], f)
    checked, bad = oracle_compare(panel_dir, tables_dir, tables)
    checks = [(f"oracle:{ln.split()[1].rstrip(':')}", False, ln) for ln in bad]
    checks += [("oracle_ok", True, "")] * (checked - len(bad))
    return checks


def med(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def end_to_end(res, trace):
    """(BENCHMARK.json end-to-end metrics, every metric the run reports)."""
    body = res["body"]
    detail = {"setup_s": (med(res["setup_s"]), "s", len(res["setup_s"])),
              "retained_heap_mb": (res["retained_heap_mb"], "MB", None),
              "peak_heap_mb": (res["peak_heap_mb"], "MB", None)}
    if res["workload"] == "weekly_cycle":
        weeks = [w for w in body["weeks"] if w["ok"] and (trace or not w["traced"])]
        for k in WEEKLY_STEPS:
            detail[k] = (med([w[k] for w in weeks]), "s", len(weeks))
        detail["cycle_s"] = (med([w["wall_s"] for w in weeks]), "s", len(weeks))
        detail["store_bytes_per_input_byte"] = (body["store_bytes"] / res["input_bytes"],
                                                "ratio", None)
    else:
        times = body["times"]
        total = sum(statistics.median(v) for v in times.values())
        n = min((len(v) for v in times.values()), default=0)
        detail["panel_s"] = (total, "s", n)
        detail["cycle_s"] = (total, "s", n)
    metrics = {k: {"value": detail[k][0], "unit": detail[k][1]}
               for k in ("setup_s", "cycle_s", "retained_heap_mb")}
    return metrics, detail


PER_LAYER = {
    "ingest.hhs": ("jobs", "task_s", "bytes_written", "write_amp", "shuffle_bytes"),
    "ingest.quality": ("jobs", "task_s", "bytes_written"),
    "streaming.feed": ("rows_in", "add_batch_s", "plan_s", "wal_s", "state_rows", "state_bytes"),
    "model": ("commit_bytes", "versions", "store_bytes"),
    "registry": ("construct_s", "construct_jobs", "checkpoint_bytes", "plan_s", "exec_s",
                 "shuffle_bytes", "spill_bytes", "task_skew"),
    "spark": ("jobs", "tasks", "task_s", "cpu_s", "gc_s", "scheduler_delay_s", "idle_core_share"),
}
WEEKLY_STEPS = ("hhs_load_s", "quality_load_s", "feed_batch_s", "report_s")
REPORTS = ["hospital_records_summary", "beds_summary", "beds_utilization", "weekly_beds_used",
           "covid_cases_by_state", "states_fewest_open_beds", "hospitals_not_reporting",
           "hospital_utilization_by_state_over_time"]


def per_layer_names():
    names = [f"{g}.{m}" for g, ms in PER_LAYER.items() for m in ms]
    names += [f"analytics.report.{r}_s" for r in REPORTS]
    names += [f"analytics.report.{m}" for m in
              ("plan_s", "exec_s", "jobs", "scan_bytes", "files_read")]
    names += [f"weekly.{k}" for k in WEEKLY_STEPS] + ["weekly.store_bytes_per_input_byte"]
    return names + ["run.failed_ratio", "tracing.overhead_share"]


def unit(name):
    if name.endswith(("write_amp", "share", "skew", "ratio", "per_input_byte")):
        return "ratio"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    return "count"


def per_layer(res, detail):
    """Per-layer metrics of a traced run, per traced pass (a week or a sweep),
    plus the weekly step medians over all its weeks."""
    body, tr = res["body"], res["trace"]
    cnt = tr["counters"]
    passes = body["weeks"] if res["workload"] == "weekly_cycle" else body["passes"]
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    n = max(1, len(traced))
    zero = {"jobs": 0, "tasks": 0, "task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "scheduler_delay_s": 0.0, "input_bytes": 0, "output_bytes": 0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            "plan_s": 0.0, "files_read": 0, "task_skew": 1.0}

    def total(pred, key):
        return sum(c[key] for g, c in cnt.items() if pred(g))

    def grp(g):
        return cnt.get(g, zero)

    m = {}
    hhs = grp("ingest.hhs")
    hhs_in = len(traced) * res["input_files"]["hhs"] if res["workload"] == "weekly_cycle" else 0
    m["ingest.hhs.jobs"] = hhs["jobs"] / n
    m["ingest.hhs.task_s"] = hhs["task_s"] / n
    m["ingest.hhs.bytes_written"] = hhs["output_bytes"] / n
    m["ingest.hhs.write_amp"] = hhs["output_bytes"] / hhs_in if hhs_in else 0.0
    m["ingest.hhs.shuffle_bytes"] = hhs["shuffle_write_bytes"] / n
    q = grp("ingest.quality")
    m["ingest.quality.jobs"] = q["jobs"] / n
    m["ingest.quality.task_s"] = q["task_s"] / n
    m["ingest.quality.bytes_written"] = q["output_bytes"] / n
    prog = tr["feed_progress"]
    for k in ("rows_in", "add_batch_s", "plan_s", "wal_s"):
        m[f"streaming.feed.{k}"] = sum(p[k] for p in prog) / n
    m["streaming.feed.state_rows"] = max((p["state_rows"] for p in prog), default=0)
    m["streaming.feed.state_bytes"] = max((p["state_bytes"] for p in prog), default=0)
    if res["workload"] == "weekly_cycle":
        m["model.commit_bytes"] = med(body["feed_commit_bytes"])
        m["model.versions"] = body["feed_versions"]
        m["model.store_bytes"] = body["feed_store_bytes"]
    else:
        m["model.commit_bytes"] = m["model.versions"] = m["model.store_bytes"] = 0
    for r in REPORTS:
        xs = [w["reports"][r] for w in traced if r in w.get("reports", {})]
        m[f"analytics.report.{r}_s"] = med(xs) or 0.0
    is_rep = lambda g: g.startswith("analytics.report")
    rep_plan = total(is_rep, "plan_s")
    m["analytics.report.plan_s"] = rep_plan / n
    m["analytics.report.exec_s"] = max(0.0, sum(w.get("report_s") or 0.0 for w in traced)
                                       - rep_plan) / n
    m["analytics.report.jobs"] = total(is_rep, "jobs") / n
    m["analytics.report.scan_bytes"] = total(is_rep, "input_bytes") / n
    m["analytics.report.files_read"] = total(is_rep, "files_read") / n
    spans = tr["layers"]
    is_reg = lambda g: g.startswith("registry.")
    m["registry.construct_s"] = spans.get("registry.construct", {}).get("total_s", 0.0) / n
    m["registry.construct_jobs"] = total(lambda g: is_reg(g) and g.endswith(".construct"),
                                         "jobs") / n
    ck = body.get("checkpoint_bytes", [])
    m["registry.checkpoint_bytes"] = sum(ck) / len(ck) if ck else 0.0
    reg_plan = total(lambda g: is_reg(g) and g.endswith(".exec"), "plan_s")
    m["registry.plan_s"] = reg_plan / n
    m["registry.exec_s"] = max(0.0, spans.get("registry.exec", {}).get("total_s", 0.0)
                               - reg_plan) / n
    m["registry.shuffle_bytes"] = total(is_reg, "shuffle_write_bytes") / n
    m["registry.spill_bytes"] = total(is_reg, "spill_bytes") / n
    skews = [c["task_skew"] for g, c in cnt.items() if is_reg(g) and c["tasks"] > 1]
    m["registry.task_skew"] = med(skews) or 1.0
    measured = lambda g: g not in ("fixture", "setup", "warmup", "check", "unlabelled")
    for k in ("jobs", "tasks", "task_s", "cpu_s", "gc_s", "scheduler_delay_s"):
        m[f"spark.{k}"] = total(measured, k) / n
    wall = sum(p["wall_s"] for p in traced)
    cores = res["host"]["nproc"]
    m["spark.idle_core_share"] = 1.0 - total(measured, "task_s") / (wall * cores) if wall else 0.0
    for k in (*WEEKLY_STEPS, "store_bytes_per_input_byte"):
        m[f"weekly.{k}"] = detail[k][0] if k in detail else 0.0
    m["run.failed_ratio"] = detail["failed_ratio"][0]
    tw, uw = med([p["wall_s"] for p in traced]), med([p["wall_s"] for p in untraced])
    m["tracing.overhead_share"] = tw / uw - 1.0 if tw and uw else 0.0
    return {name: {"value": m[name], "unit": unit(name)} for name in per_layer_names()}


def layer_table(res):
    """Self time and counters per layer, as printed by a traced run."""
    tr = res["trace"]
    lines = [f"per-layer table ({res['workload']}, traced passes only)",
             f"{'layer':44} {'spans':>6} {'total_s':>9} {'self_s':>9}"]
    for name, v in sorted(tr["layers"].items(), key=lambda kv: -kv[1]["self_s"]):
        lines.append(f"{name[:44]:44} {v['spans']:>6} {v['total_s']:>9.3f} {v['self_s']:>9.3f}")
    lines.append(f"{'label':44} {'jobs':>6} {'tasks':>6} {'task_s':>8} {'plan_s':>7} "
                 f"{'files':>6} {'in_MB':>7} {'out_MB':>7} {'shuf_MB':>7}")
    for g, c in sorted(tr["counters"].items(), key=lambda kv: -kv[1]["task_s"]):
        lines.append(f"{g[:44]:44} {c['jobs']:>6} {c['tasks']:>6} {c['task_s']:>8.2f} "
                     f"{c['plan_s']:>7.2f} {c['files_read']:>6} {c['input_bytes'] / 1e6:>7.2f} "
                     f"{c['output_bytes'] / 1e6:>7.2f} {c['shuffle_write_bytes'] / 1e6:>7.2f}")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(SRC, "graft")):
        fail(f"graft sources not found under {SRC}; run from the root of a checkout")
    build_s = build()
    t_start = time.time()
    work = os.path.join(HERE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    in_dir, out_dir, tmp = (os.path.join(work, d) for d in ("in", "out", "tmp"))
    os.makedirs(tmp)
    cfg = WORKLOADS[args.workload]
    manifest = make_inputs(args.workload, cfg, args.seed, in_dir)
    log(f"inputs ready at {time.time() - t_start:.1f}s")
    cmd = java_cmd(tmp, f"-XX:SharedArchiveFile={CDS}") + harness_args(
        args.workload, cfg, args.seed, work, args.seconds, args.trace)
    budget = RUN_LIMIT_S - (time.time() - t_start) - 15
    with open(os.path.join(work, "harness.log"), "w") as logf:
        rc = run_bounded(cmd, ROOT, java_env(tmp), budget, logf)
    log(f"harness done at {time.time() - t_start:.1f}s")
    if rc != 0:
        fail(f"harness exited {rc}; see {os.path.join(work, 'harness.log')}")
    with open(os.path.join(out_dir, "result.json")) as f:
        res = json.load(f)
    if args.workload == "weekly_cycle":
        res["input_files"] = {k: f["bytes"] for k, f in manifest["week"].items() if k != "week"}
        res["input_bytes"] = sum(f["bytes"] for f in manifest["history"].values()) + sum(
            res["input_files"].values())
        checks = weekly_checks(res, out_dir)
    else:
        checks = panel_checks(res, out_dir, in_dir, cfg["tables"])
    failed_ops = len(res["errors"])
    failed_checks = sum(1 for c in checks if not c[1])
    attempted = res["attempted"] + len(checks)
    failed = failed_ops + failed_checks
    metrics, detail = end_to_end(res, args.trace == 1)
    detail["failed_ratio"] = (failed / attempted, "ratio", attempted)
    print(json.dumps({"host": res["host"], "build_s": round(build_s, 3)}))
    print(json.dumps({"workload": args.workload, "seed": args.seed, "inputs": manifest,
                      "detail": {k: {"value": v, "unit": u, "n": n}
                                 for k, (v, u, n) in detail.items()}}))
    for name, ok, info in checks:
        if not ok:
            print(f"check FAILED {name}: {info}")
    for e in res["errors"]:
        print(f"operation FAILED {e}")
    if args.trace:
        print(layer_table(res))
        print(f"spans: {res['trace']['spans_file']}")
        metrics = per_layer(res, detail)
    correct = failed == 0 and all(v["value"] is not None for v in metrics.values())
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
