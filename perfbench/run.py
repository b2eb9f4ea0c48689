#!/usr/bin/env python3
"""Loader benchmark: build, run one workload, check, report.

Usage (from the repository root):

    python3 perfbench/run.py --workload enriched_drain --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds the loader and the harness from source on first use (sbt,
offline), into `.bench_build/` at the repository root, and reuses the
build while the sources are unchanged. Each run launches one JVM
(`perfbench.Main`), reads the record it writes, checks query results
against the DuckDB oracle for `query_mix`, prints the full record as one
JSON line and then, as the last line, the summary:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the gated end-to-end metrics, `--trace 1` every
per-layer metric of `perfbench/layers.json` (and writes the span file
under `.bench_build/traces/`).
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("enriched_drain", "sdjson_partitioned", "enriched_steady", "query_mix")
# The workloads and end-to-end metrics BENCHMARK.json gates: every gated
# workload reports every one of these metrics.
GATED_WORKLOADS = ("enriched_drain", "query_mix")
GATED_E2E = ("setup_s", "records_per_s", "mib_per_s", "batch_ms_p50")
# The loader sources the harness is compiled against.
LOADER_MARKERS = ("build.sbt", os.path.join("src", "main", "scala", "graft", "pipeline", "Pipeline.scala"))
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JVM_HEAP = "2g"


def fail(msg, code):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """SHA-256 over every build input: the loader's and the harness's."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile loader + harness unless the sources match the last build.
    Returns (classpath, jvm options, source digest)."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "build.stamp")
    launch = os.path.join(HERE, "target", "launch.txt")
    current = open(stamp).read().strip() if os.path.isfile(stamp) else ""
    if current != digest or not os.path.isfile(launch):
        os.makedirs(BUILD, exist_ok=True)
        log = os.path.join(BUILD, "build.log")
        t0 = time.time()
        with open(log, "w") as fh:
            rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                             cwd=HERE, env=sbt_env(), out=fh, timeout=BUILD_TIMEOUT_S)
        if rc != 0:
            tail = open(log).read()[-3000:]
            fail(f"build failed (rc={rc}), see {log}:\n{tail}", 3)
        with open(stamp, "w") as fh:
            fh.write(digest)
        print(f"[perfbench] built in {time.time() - t0:.1f}s", file=sys.stderr)
    cp, opts = "", []
    for line in open(launch):
        key, _, val = line.rstrip("\n").partition("=")
        if key == "classpath":
            cp = val
        elif key == "option":
            opts.append(val)
    return cp, opts, digest


def run_bounded(cmd, cwd, env, out, timeout):
    """Run in its own process group; on timeout, or if this process is
    interrupted or terminated, kill the group and wait for it."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def loadavg():
    try:
        return [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except OSError:
        return None


def cpu_steal_s():
    """Seconds of CPU stolen by the hypervisor so far (all CPUs): other
    tenants' load, the main source of run-to-run drift on shared hosts."""
    try:
        fields = open("/proc/stat").readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ---------------------------------------------------------------- oracle

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def same_value(a, b):
    import pandas as pd
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def oracle_check(results_dir, tables_dir):
    """Compare each query's parquet result with its DuckDB oracle SQL:
    columns sorted by name, rows sorted, values exactly equal.
    Returns {query: "ok" | reason}."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in sorted(os.listdir(tables_dir)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(tables_dir, t)}')")
    oracle = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    verdict = {}
    for name, sql in sorted(oracle.items()):
        path = os.path.join(results_dir, name)
        if not os.path.isdir(path):
            verdict[name] = "no result (query failed)"
            continue
        try:
            got = canon(pd.read_parquet(path))
            want = canon(con.execute(sql).fetchdf())
        except Exception as e:  # noqa: BLE001 - any error is a failed check
            verdict[name] = f"error: {e}"[:300]
            continue
        if list(got.columns) != list(want.columns):
            verdict[name] = f"columns {list(got.columns)} != {list(want.columns)}"
        elif len(got) != len(want):
            verdict[name] = f"rows {len(got)} != {len(want)}"
        else:
            bad = next(((c, i) for c in got.columns
                        for i, (x, y) in enumerate(zip(got[c].tolist(), want[c].tolist()))
                        if not same_value(x, y)), None)
            verdict[name] = "ok" if bad is None else f"value differs at column {bad[0]} row {bad[1]}"
    return verdict


# ---------------------------------------------------------------- one run

def run_once(workload, seed, seconds, trace, tiny=False, jvm_extra=()):
    for m in LOADER_MARKERS:
        if not os.path.isfile(os.path.join(ROOT, m)):
            fail(f"loader source {m} not found under {ROOT}: nothing to benchmark", 2)
    cp, opts, digest = build()
    tag = f"{workload}-seed{seed}-trace{trace}"
    work = os.path.join(BUILD, "work", workload)
    record_file = os.path.join(BUILD, "records", tag + ".json")
    trace_file = os.path.join(BUILD, "traces", f"{workload}-seed{seed}.json")
    tmp = os.path.join(BUILD, "tmp")
    for d in (work, os.path.dirname(record_file), os.path.dirname(trace_file), tmp,
              os.path.join(BUILD, "logs")):
        os.makedirs(d, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    if os.path.exists(record_file):
        os.remove(record_file)

    env = dict(os.environ)
    nproc = os.cpu_count() or 1
    env.setdefault("SPARK_GRAFT_CPUS", str(min(4, nproc)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}"] + opts + list(jvm_extra) +
           ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", work,
            "--out", record_file, "--trace-file", trace_file] +
           (["--scale", "tiny"] if tiny else []))
    load_before = loadavg()
    steal_before = cpu_steal_s()
    t0 = time.time()
    log = os.path.join(BUILD, "logs", tag + ".log")
    with open(log, "w") as fh:
        rc = run_bounded(cmd, ROOT, env, fh, RUN_TIMEOUT_S)
    wall = time.time() - t0
    if rc != 0 or not os.path.isfile(record_file):
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{workload} run failed (rc={rc}); log {log}:\n{open(log).read()[-3000:]}", 4)
    rec = json.load(open(record_file))

    if workload == "query_mix":
        verdict = oracle_check(rec["info"]["results_dir"], os.path.join(work, "tables"))
        rec["oracle"] = verdict
        # a query that threw is already counted in `failed`; a result
        # that disagrees with the oracle is a wrong output
        mismatched = [q for q, v in verdict.items() if v != "ok" and q not in rec["info"]["errors"]]
        rec["correct"] = not mismatched
        rec["failed"] += len(mismatched)
    shutil.rmtree(work, ignore_errors=True)

    if trace:
        # every per-layer metric, 0 for a layer this workload does not
        # exercise, and the per-layer -> end-to-end map
        for m in layer_metrics():
            rec["layers"].setdefault(m["name"], {"value": 0.0, "unit": m["unit"]})
        rec["layer_map"] = {m["name"]: {"moves": m["moves"], "on": m["on"]} for m in layer_metrics()}
    rec["env"].update({
        "nproc": nproc,
        "spark_graft_cpus": env["SPARK_GRAFT_CPUS"],
        "loadavg_before": load_before,
        "loadavg_after": loadavg(),
        "cpu_steal_s": None if steal_before is None else cpu_steal_s() - steal_before,
        "git_sha": git_sha(),
        "source_sha256": digest,
        "python": sys.version.split()[0],
        "process_wall_s": wall,
    })
    return rec


def layer_metrics():
    return json.load(open(os.path.join(HERE, "layers.json")))["metrics"]


def summary(rec):
    """With trace, every per-layer metric; without, the gated end-to-end
    metrics (for enriched_steady, which is not gated, all of its own)."""
    if rec["trace"]:
        names = [m["name"] for m in layer_metrics()]
        metrics = rec["layers"]
    else:
        metrics = rec["e2e"]
        names = GATED_E2E if rec["workload"] in GATED_WORKLOADS else sorted(metrics)
    finite = {k: metrics[k] for k in names
              if isinstance(metrics.get(k, {}).get("value"), (int, float)) and math.isfinite(metrics[k]["value"])}
    for k in names:
        if k not in finite:
            print(f"[perfbench] metric {k} has no value in this run", file=sys.stderr)
    return {"correct": bool(rec["correct"]), "attempted": int(rec["attempted"]),
            "failed": int(rec["failed"]), "metrics": finite}


# ---------------------------------------------------------------- self-test

def selftest():
    """Every workload end to end at tiny scale, under a comma-decimal JVM
    locale; plus generator determinism (same seed, same checksum)."""
    problems = []
    locale = ("-Duser.language=de", "-Duser.country=DE")
    checksums = {}
    for w in WORKLOADS:
        for trace in (0, 1):
            rec = run_once(w, 7, 1, trace, tiny=True, jvm_extra=locale)
            s = summary(rec)
            line = json.dumps(s)
            json.loads(line)
            print(f"[selftest] {w} trace={trace}: correct={s['correct']} attempted={s['attempted']} "
                  f"failed={s['failed']} metrics={len(s['metrics'])}", file=sys.stderr)
            if w == "query_mix":
                # q48_stateful_v2 is expected to fail at HEAD: it must show as failed
                errs = rec["info"]["errors"]
                print(f"[selftest] query_mix errors: {sorted(errs)}", file=sys.stderr)
                bad = {q: v for q, v in rec["oracle"].items() if v != "ok" and q not in errs}
                if bad:
                    problems.append(f"query_mix oracle mismatches: {bad}")
            elif not s["correct"] or s["failed"]:
                problems.append(f"{w} trace={trace}: {rec['failures']}")
            if w != "query_mix":
                checksums.setdefault(w, set()).add(rec["info"]["input_checksum_sha256"])
    for w, cs in checksums.items():
        if len(cs) != 1:
            problems.append(f"{w}: same seed gave different input checksums {cs}")
    other = run_once("enriched_drain", 8, 1, 0, tiny=True)["info"]["input_checksum_sha256"]
    if other in checksums.get("enriched_drain", set()):
        problems.append("enriched_drain: a different seed gave the same input checksum")
    for p in problems:
        print(f"[selftest] FAIL {p}", file=sys.stderr)
    print(json.dumps({"selftest": "fail" if problems else "ok", "problems": problems}))
    return 1 if problems else 0


def main():
    # SIGTERM unwinds like Ctrl-C, so run_bounded stops the child JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    if not a.workload:
        ap.error("--workload is required")
    rec = run_once(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(rec, sort_keys=True))
    print(json.dumps(summary(rec)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
