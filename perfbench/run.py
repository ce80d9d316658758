#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --survey <out.tsv> [--seed <n>]   # see README.md

Run from the root of a checkout. The first run builds the program and the
harness into `.bench_build/` (see build.py). Each run keeps all of its
scratch (Spark local dirs, stores, checkpoints, sink output, generated
tables) under one temp root in `.bench_tmp/`, removes it on exit, failure
included, and records the bytes left behind. Records go to `.bench_out/`;
a traced run also writes its spans there and states its tracing overhead
against the newest untraced record of the same workload.

Exits non-zero, printing no result line, when the program sources are
missing, and non-zero with "correct": false when any operation failed.
"""
import argparse
import csv
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the benchmark's directory
import build  # noqa: E402

JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def host_cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_heap():
    """Half of MemTotal in GiB, clamped to 2..8, as the tier-1 test command sizes it."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def git_state():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return {"head": None, "dirty": None, "note": "not a git checkout"}
    try:
        head = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, check=True).stdout.strip()
        dirty = subprocess.run(["git", "-C", ROOT, "status", "--porcelain"], capture_output=True,
                               text=True, check=True).stdout.strip() != ""
        return {"head": head, "dirty": dirty}
    except (OSError, subprocess.CalledProcessError) as e:
        return {"head": None, "dirty": None, "note": str(e)}


def tree_bytes(path):
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except OSError:
                pass
    return total


def java(cp, main, args, heap, tmp, timeout=JVM_TIMEOUT_S):
    cmd = (["java", f"-Xmx{heap}", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [a for o in ADD_OPENS for a in ("--add-opens", o)]
           + ["-cp", cp, main] + args)
    # Spark honours these over spark.local.dir; scratch must stay in the temp root
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    p = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"perfbench: JVM exceeded {timeout} s, killed", file=sys.stderr)
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def oracle_rows(detail):
    """Expected row count per lane: the lane's oracle SQL run in DuckDB
    over the same generated tables."""
    con = duck(detail["data_dir"])
    return {lane: len(con.sql(sql).fetchall()) for lane, sql in detail["oracle_sql"].items()}


def duck(data):
    """A DuckDB connection with a view per generated table."""
    import duckdb
    con = duckdb.connect()
    for t in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        src = f"{t}/*.parquet" if os.path.isdir(t) else t
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")
    return con


def survey(tsv, data, oracle_cap_s=1.0):
    """Adds each lane's DuckDB oracle query time to the survey, then
    prints the panel `pick` takes from it."""
    with open(os.path.join(data, "oracle_sql.json")) as f:
        sqls = json.load(f)
    with open(tsv) as f:
        head, *rows = [l.rstrip("\n").split("\t") for l in f if l.strip()]
    # one process per query, killed past the cap: DuckDB cannot be
    # interrupted from another thread while a query holds it
    script = ("import json, sys, time; sys.dont_write_bytecode = True; "
              "sys.path.insert(0, sys.argv[1]); import run; "
              "con = run.duck(sys.argv[2]); "
              "sql = json.load(open(sys.argv[2] + '/oracle_sql.json'))[sys.argv[3]]; "
              "t0 = time.time(); con.sql(sql).fetchall(); print(time.time() - t0)")
    for r in rows:
        r.append("")
        if r[0] not in sqls:
            continue
        try:
            p = subprocess.run([sys.executable, "-c", script, HERE, data, r[0]], capture_output=True,
                               text=True, timeout=oracle_cap_s * 5 + 5)
            if p.returncode == 0:
                r[-1] = f"{float(p.stdout.split()[-1]):.3f}"
        except subprocess.TimeoutExpired:
            pass
        print(f"perfbench: oracle {r[0]} {r[-1] or 'over the cap or failing'}", file=sys.stderr)
    with open(tsv, "w") as f:
        f.write("\n".join("\t".join(r) for r in [head + ["oracle_s"]] + rows) + "\n")
    for lane, why in pick(tsv):
        print(f"{lane}\t{why}")


def pick(tsv, strata=4, oracle_cap_s=1.0, build_cap_s=2.0):
    """The `lanes` panel rule, over the survey's lanes whose oracle SQL
    runs in DuckDB within `oracle_cap_s` (every run checks the panel's
    row counts with it) and whose builder takes at most `build_cap_s`
    (every run repeats the set-up three times): sort by warm time and cut
    into `strata` equal-count strata; split each stratum at its median
    construction share; from each cell take the lane with the cell's
    median warm time (the lower one when the count is even). Each panel
    lane then stands for an equal share of the eligible lanes."""
    with open(tsv) as f:
        rows = list(csv.DictReader(f, delimiter="\t"))
    ok = sorted((r for r in rows if r["oracle_s"] and float(r["oracle_s"]) <= oracle_cap_s
                 and float(r["build_s"]) <= build_cap_s),
                key=lambda r: (float(r["warm_s"]), r["lane"]))
    size = -(-len(ok) // strata)
    panel = []
    for si in range(strata):
        stratum = sorted(ok[si * size:(si + 1) * size],
                         key=lambda r: (float(r["warm_construct_share"]), r["lane"]))
        for half, cell in (("low", stratum[:len(stratum) // 2]), ("high", stratum[len(stratum) // 2:])):
            cell = sorted(cell, key=lambda r: (float(r["warm_s"]), r["lane"]))
            panel.append((cell[(len(cell) - 1) // 2]["lane"],
                          f"warm stratum {si + 1} of {strata}, {half} construction share"))
    return panel


def overhead(rec, out_dir):
    """Traced minus untraced end-to-end metrics, against the newest
    untraced record of the same workload, seed, build and core count."""
    def comparable(path):
        with open(path) as f:
            un = json.load(f)
        same = all(un.get("host", {}).get(k) == rec["host"].get(k)
                   for k in ("seed", "nproc", "source_build", "bench_build"))
        return un if same and un.get("failed") == 0 and un.get("e2e") else None

    paths = sorted(glob.glob(os.path.join(out_dir, f"{rec['workload']}-seed{rec['seed']}-trace0-*.json")),
                   key=os.path.getmtime, reverse=True)
    for path in paths:
        un = comparable(path)
        if un:
            return {"untraced_record": os.path.basename(path),
                    "delta": {k: rec["e2e"][k] - un["e2e"][k] for k in rec["e2e"] if k in un["e2e"]},
                    "share": {k: (rec["e2e"][k] - un["e2e"][k]) / un["e2e"][k]
                              for k in rec["e2e"] if un["e2e"].get(k)}}
    return {"note": "no comparable untraced record (same workload, seed, build and nproc, "
                    "no failures) in .bench_out; run the same command with --trace 0 first"}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--survey", metavar="OUT_TSV", help="time every lane and print the panel rule's pick")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        raise SystemExit("perfbench: BENCHMARK.json not found at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if not (a.selftest or a.survey) and (a.workload not in names or a.seed is None or not a.seconds):
        raise SystemExit(f"perfbench: need --workload ({'|'.join(names)}) --seed --seconds")

    cp = build.build()
    cpus, heap = host_cpus(), host_heap()
    tag = ("selftest" if a.selftest else "survey" if a.survey
           else f"{a.workload}-seed{a.seed}-trace{a.trace}")
    tmp_root = os.path.join(ROOT, ".bench_tmp", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    record_path = os.path.join(out_dir, f"{tag}-{time.strftime('%Y%m%dT%H%M%S')}.json")
    os.makedirs(os.path.join(tmp_root, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if a.selftest:
            code = java(cp, "perfbench.SelfTest", [tmp_root, str(cpus)], heap, tmp_root)
            print(f"perfbench: self-test {'passed' if code == 0 else 'FAILED'}", file=sys.stderr)
            return code
        if a.survey:
            code = java(cp, "perfbench.Survey", [tmp_root, str(cpus), str(a.seed or 1),
                                                 os.path.abspath(a.survey)], heap, tmp_root,
                        timeout=None)
            if code == 0:
                survey(os.path.abspath(a.survey), os.path.join(tmp_root, "survey-data"))
            return code
        code = java(cp, "perfbench.Main",
                    ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--cpus", str(cpus), "--scratch", tmp_root,
                     "--out", record_path], heap, tmp_root)
        if not os.path.isfile(record_path):
            print(f"perfbench: the run wrote no record (exit {code})", file=sys.stderr)
            return 1
        with open(record_path) as f:
            rec = json.load(f)
        if code not in (0, 1):
            rec["failures"].append(f"JVM exited with {code}")
        if a.workload == "lanes" and "oracle_sql" in rec["detail"]:
            try:
                want = oracle_rows(rec["detail"])
                rec["detail"]["oracle_rows"] = want
                got = rec["detail"]["lane_rows"]
                rec["failures"] += [f"{lane}: {got.get(lane)} rows, oracle {n}"
                                    for lane, n in sorted(want.items()) if got.get(lane) != n]
            except Exception as e:  # the check could not run: count it as failed
                rec["failures"].append(f"oracle row-count check: {type(e).__name__}: {e}")
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)
        left = tree_bytes(tmp_root) if os.path.exists(tmp_root) else 0
        try:
            os.rmdir(os.path.dirname(tmp_root))
        except OSError:
            pass

    rec["failed"] = len(rec["failures"])
    rec["scratch_bytes_left"] = left
    builds = cp.split(os.pathsep)
    rec["host"].update({"git": git_state(), "source_build": os.path.basename(builds[1]),
                        "bench_build": os.path.basename(builds[0]),
                        "heap": heap})
    if a.trace:
        rec["tracing_overhead"] = overhead(rec, out_dir)
    with open(record_path, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)

    correct = rec["failed"] == 0
    if a.trace:
        metrics = {m["name"]: {"value": rec["per_layer"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in rec["e2e"]]
        if missing and correct:
            rec["failures"].append(f"no value for {missing}")
            correct = False
        metrics = {m["name"]: {"value": rec["e2e"].get(m["name"]), "unit": m["unit"]}
                   for m in spec["end_to_end"] if m["name"] in rec["e2e"]}
    for f in rec["failures"][:20]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": max(1, int(rec["attempted"])),
                      "failed": len(rec["failures"]), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
