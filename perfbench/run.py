#!/usr/bin/env python3
"""One benchmark run of graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds graft and the harness from source
(`perfbench/build.py`), runs the workload in a fresh JVM on its own
scratch directory (`.bench_work/`, deleted afterwards), checks the
results, writes the full record to `.bench_out/`, and prints as its last
line one JSON object: `correct`, `attempted`, `failed` and `metrics`.
With `--trace 0` the metrics are the end-to-end metrics of
BENCHMARK.json; with `--trace 1` they are its per-layer metrics.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

DEADLINE_S = 170  # a run must end within 180 s once built
TRAIN_DEADLINE_S = 400  # the class-data training run, once per build
TRAIN_SEED = 987654321

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

# The planned per-workload names of each workload's figures, printed before the JSON line.
NAMED = {
    "sql_gateway": [("sql_p50_s", "op_p50_s", "s"), ("sql_p90_s", "op_p90_s", "s"),
                    ("sql_qps", "items_per_s", "1/s")],
    "lake_ingest": [("lake_read_p50_s", "op_p50_s", "s"), ("lake_read_p90_s", "lake.read_p90_s", "s"),
                    ("lake_commit_p50_s", "lake.commit_p50_s", "s"), ("lake_rows_per_s", "items_per_s", "1/s"),
                    ("lake_write_amp", "lake.write_amp", "ratio"), ("lake_space_amp", "lake.space_amp", "ratio")],
    "curation_stream": [("pipeline_verb_p50_s", "op_p50_s", "s"), ("pipeline_rows_per_s", "items_per_s", "1/s"),
                        ("curation_verb_p50_s", "ops.verb_p50_s", "s"), ("stream_query_p50_s", "stream.query_p50_s", "s")],
}


def oracle_checks(checks):
    """Compares each written result with its registry oracle run in DuckDB
    over the same input tables (column-name-sorted, row-sorted, exact)."""
    if not checks:
        return []
    import duckdb
    import pandas as pd

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    out, cons = [], {}
    for c in checks:
        name, res = c["name"], {"name": c["name"], "result": c["result"], "ok": False, "msg": ""}
        out.append(res)
        try:
            got = pd.read_parquet(c["result"])
        except Exception as e:  # a missing or unreadable result is a failure
            res["msg"] = f"READ_FAIL {e}"[:300]
            continue
        if not c["oracle"]:
            res["ok"], res["msg"] = len(got) > 0, f"rows_only rows={len(got)}"
            continue
        con = cons.get(c["data"])
        if con is None:
            con = cons[c["data"]] = duckdb.connect()
            for d in sorted(glob.glob(os.path.join(c["data"], "*.parquet"))):
                t = os.path.basename(d)[:-len(".parquet")]
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/*.parquet'")
        try:
            exp = con.execute(c["oracle"]).fetchdf()
        except Exception as e:
            res["msg"] = f"ORACLE_FAIL {e}"[:300]
            continue
        g, e = norm(got.copy()), norm(exp.copy())
        if list(g.columns) != list(e.columns):
            res["msg"] = f"COLS got={list(g.columns)} exp={list(e.columns)}"
            continue
        if len(g) != len(e):
            res["msg"] = f"ROWS got={len(g)} exp={len(e)}"
            continue
        bad = []
        for col in g.columns:
            gc, ec = g[col], e[col]
            if str(gc.dtype).startswith("datetime") or str(ec.dtype).startswith("datetime"):
                ok = (pd.to_datetime(gc).values == pd.to_datetime(ec).values) | (gc.isna().values & ec.isna().values)
            elif gc.dtype == object or ec.dtype == object:
                ok = gc.astype(str).values == ec.astype(str).values
            else:
                ok = (gc.values == ec.values) | (pd.isna(gc).values & pd.isna(ec).values)
            if not ok.all():
                i = int((~ok).argmax())
                bad.append(f"{col}[{i}] got={gc.iloc[i]!r} exp={ec.iloc[i]!r} ndiff={int((~ok).sum())}")
        res["ok"], res["msg"] = not bad, "; ".join(bad[:3])
    for con in cons.values():
        con.close()
    return out


def run_jvm(jar, work, argv, log_path, deadline, jvm_extra=()):
    """Runs the harness in a fresh JVM inside `work`; returns its exit code,
    or None when it was killed at `deadline`."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = (["java", "-Xmx3g", "-Xss8m", *jvm_extra] +
           [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           [f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", jar + os.pathsep + os.path.join(build.spark_jars(os.getcwd()), "*"), "graftbench.Main",
            *argv, "--work", work])
    env = dict(os.environ, GRAFT_LAKE_DIR=os.path.join(work, "graft_lake"),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def class_archive(root, jar, workloads):
    """The JVM class-data archive (AppCDS) of this build: made once per build
    by a short training JVM that runs every workload on a seed no measured
    run uses, so that no measured run pays for loading Spark's and graft's
    classes from jars, nor for recording them. Returns None if it cannot
    be made."""
    jsa = jar[:-len(".jar")] + ".jsa"
    if os.path.exists(jsa):
        return jsa
    work = os.path.join(root, ".bench_work", f"train-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        for w in workloads:
            gen.inputs(w, os.path.join(work, w, "data"), TRAIN_SEED)
        code = run_jvm(jar, work, ["--workload", ",".join(workloads), "--seed", str(TRAIN_SEED),
                                   "--seconds", "2", "--trace", "1", "--out", os.path.join(work, "raw.json")],
                       os.path.join(root, ".bench_out", "train.log"), time.time() + TRAIN_DEADLINE_S,
                       [f"-XX:ArchiveClassesAtExit={jsa}.tmp"])
        if code == 0 and os.path.exists(jsa + ".tmp"):
            os.replace(jsa + ".tmp", jsa)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(jsa + ".tmp"):
            os.remove(jsa + ".tmp")
    return jsa if os.path.exists(jsa) else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        sys.exit(f"unknown workload {args.workload}")
    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    try:
        jar = build.build(root)
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")
    # Every measured run maps the archive (-Xshare:on fails the JVM if it
    # cannot), so no two runs differ in whether they had it.
    jsa = class_archive(root, jar, [w["name"] for w in bench["workloads"]])
    if jsa is None:
        sys.exit("class-data archive could not be made; see .bench_out/train.log")
    deadline = time.time() + DEADLINE_S

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(root, ".bench_work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        gen.inputs(args.workload, os.path.join(work, "data"), args.seed)
        raw_path = os.path.join(work, "raw.json")
        argv = ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", str(args.trace), "--out", raw_path]
        code = run_jvm(jar, work, argv, os.path.join(out_dir, tag + ".log"), deadline,
                       ["-Xshare:on", f"-XX:SharedArchiveFile={jsa}"])
        if code != 0 or not os.path.exists(raw_path):
            sys.exit(f"harness failed (exit {code}); see .bench_out/{tag}.log")
        with open(raw_path) as f:
            raw = json.load(f)
        checks = oracle_checks(raw["checks"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, info = metrics.end_to_end(raw)
    layer = metrics.per_layer(raw, checks)
    attempted, failed = metrics.count_failures(raw["ops"], raw["counters"], checks)
    if attempted == 0:
        sys.exit("no operation was attempted")
    all_metrics = dict(layer, **e2e)
    named = {n: all_metrics.get(src, 0.0) for n, src, _ in NAMED[args.workload]}
    named.update(setup_s=e2e["setup_s"], retained_mb=layer["retained_mb"], failed_share=layer["failed_share"])
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
              "attempted": attempted, "failed": failed, "end_to_end": e2e, "per_layer": layer,
              "named": named, "info": info, "setup_samples_s": raw["samples"].get("setup_s", []),
              "counters": raw["counters"], "session_s": raw.get("session_s"),
              "failures": raw["failures"][:20], "checks": [c for c in checks if not c["ok"]][:20],
              "self_time_s": metrics.self_times(raw["spans"]), "by_kind": metrics.by_kind(raw["ops"]),
              "verbs": metrics.verb_table(raw),
              "ops": [[o["kind"], round(o["t0"], 3), round(o["t1"] - o["t0"], 3), o["ok"]] for o in raw["ops"]]}
    with open(os.path.join(out_dir, tag + ".json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    if args.trace:
        with open(os.path.join(out_dir, f"spans-{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump(raw["spans"], f)

    units = dict((n, u) for n, _, u in NAMED[args.workload])
    units.update(setup_s="s", retained_mb="MB", failed_share="share")
    src = dict((n, m) for n, m, _ in NAMED[args.workload])
    lake = raw.get("lake", {})
    for n, v in named.items():
        base = ""
        if n == "failed_share":
            base = f"  ({failed} of {attempted})"
        elif src.get(n) in ("op_p50_s", "op_p90_s") or n.endswith("_p90_s"):
            base = f"  (n={info['op_samples']})"
            if v == 0.0:
                base = f"  (not reported: fewer than {metrics.MIN_BEYOND} samples beyond it, n={info['op_samples']})"
        elif src.get(n) == "items_per_s":
            base = f"  ({info['items']:.0f} over {info['items_wall_s']:.3f} s)"
        elif n == "lake_write_amp":
            base = f"  ({lake.get('bytes_written', 0)} B written / {lake.get('change_bytes', 0):.0f} B of change rows)"
        elif n == "lake_space_amp":
            base = f"  ({lake.get('stored_bytes', 0)} B stored / {lake.get('live_bytes', 0)} B live)"
        elif n == "setup_s":
            base = f"  (median of {len(raw['samples'].get('setup_s', []))})"
        print(f"{n} = {v:.6g} {units[n]}{base}")
    for msg in raw["failures"][:5]:
        print("FAIL", msg)
    for c in [c for c in checks if not c["ok"]][:5]:
        print("CHECK FAIL", c["name"], c["msg"])

    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    out = {m["name"]: {"value": float(all_metrics.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
