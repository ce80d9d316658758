#!/usr/bin/env bash
# Round-close evidence, mechanized (VERDICT r14 next-round #1): run the
# full correctness gate + the two-pass bench protocol and COMMIT-READY
# artifacts into the repo root, so the round's green state is provable
# from the tree alone even when the driver's own CORRECTNESS_r{N}.json
# arrives empty (it has, two rounds running).
#
# Usage:   tools/close_round.sh <round> [sf_dir] [bench_sf_dir]
# Writes:  CORRECTNESS_r{N}_self.json        (full Verify + DuckDB gate)
#          BENCH_r{N}_protocol.json          (minima of 2 solo passes)
#          src/main/resources/bench_trend.tsv  (appends the round row)
#          /tmp/close_r{N}/                  (raw logs)
# Exits non-zero if any oracle row fails or any bench pass errors.
#
# Run BEFORE the round's last commit; then `git add` the three outputs.
set -euo pipefail
cd "$(dirname "$0")/.."

ROUND="${1:?usage: tools/close_round.sh <round> [sf_dir] [bench_sf_dir]}"
SF_DIR="${2:-/root/testdata/sf0.01}"
BENCH_SF="${3:-/root/testdata/sf0.1}"
WORK="/tmp/close_r${ROUND}"
mkdir -p "$WORK"
# per-run JVM scratch: Spark's blockmgr-*/spark-* dirs and every
# java.io.tmpdir temp dir of Verify and Bench land here, and the EXIT
# trap removes it however the run ends — a killed JVM leaves nothing
RUN_TMP="$(mktemp -d "$WORK/jvm_tmp.XXXXXX")"
trap 'rm -rf "$RUN_TMP"' EXIT
trap 'exit 1' INT TERM HUP

ADD_OPENS=(
  --add-opens=java.base/java.lang=ALL-UNNAMED
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED
  --add-opens=java.base/java.io=ALL-UNNAMED
  --add-opens=java.base/java.net=ALL-UNNAMED
  --add-opens=java.base/java.nio=ALL-UNNAMED
  --add-opens=java.base/java.util=ALL-UNNAMED
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED
  --add-opens=java.base/sun.security.action=ALL-UNNAMED
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED
)
CP="target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*"
# sized from the host: every core, and half of RAM for the heap, clamped
# to 2-8 GiB (the same sizing as the tier-1 test command in ROADMAP.md)
CPUS="$(env -u OMP_NUM_THREADS nproc)"
HEAP="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)"

echo "[close] compiling HEAD"
sbt -batch compile > "$WORK/compile.log" 2>&1

echo "[close] full Verify at $SF_DIR"
SPARK_GRAFT_CPUS="$CPUS" SPARK_LOCAL_DIRS="$RUN_TMP" \
java "${ADD_OPENS[@]}" -Xmx"$HEAP" -Djava.io.tmpdir="$RUN_TMP" -cp "$CP" \
  graft.Verify "$SF_DIR" "$WORK/verify" > "$WORK/verify.log" 2>&1 || {
    echo "[close] VERIFY FAILED — see $WORK/verify.log"; exit 1; }

echo "[close] DuckDB oracle gate"
python3 tools/check_oracle.py "$SF_DIR" "$WORK/verify" \
  > "$WORK/oracle.log" 2>&1 || {
    echo "[close] ORACLE GATE FAILED — see $WORK/oracle.log"
    tail -20 "$WORK/oracle.log"; exit 1; }

echo "[close] bench protocol: two solo REPEATS=2 passes at $BENCH_SF"
for PASS in 1 2; do
  SPARK_GRAFT_SF_DIR="$BENCH_SF" SPARK_GRAFT_CPUS="$CPUS" \
  SPARK_GRAFT_BENCH_REPEATS=2 SPARK_LOCAL_DIRS="$RUN_TMP" \
  java "${ADD_OPENS[@]}" -Xmx"$HEAP" -Djava.io.tmpdir="$RUN_TMP" -cp "$CP" graft.Bench \
    2> "$WORK/bench_pass${PASS}.err" | grep '"metric"' \
    > "$WORK/bench_pass${PASS}.jsonl" || {
      echo "[close] BENCH PASS $PASS FAILED — see $WORK/bench_pass${PASS}.err"
      exit 1; }
done

echo "[close] assembling artifacts"
python3 - "$ROUND" "$SF_DIR" "$WORK" "$CPUS" "$HEAP" <<'EOF'
import json, re, sys, subprocess
round_n, sf_dir, work, cpus, heap = sys.argv[1:6]

# ── correctness self-record (shape: CORRECTNESS_r14_judge.json) ──
oracle = open(f"{work}/oracle.log").read()
ok = len(re.findall(r"^OK   ", oracle, re.M))
bad_names = re.findall(r"^FAIL (\S+):", oracle, re.M)
summary = json.load(open(f"{work}/verify/summary.json"))
sql_gated = len(json.load(open(f"{work}/verify/oracle_sql.json")))
head = subprocess.run(["git", "rev-parse", "--short", "HEAD"],
                      capture_output=True, text=True).stdout.strip()
self_rec = {
    "note": f"Builder self-certification, round {round_n}, written by "
            f"tools/close_round.sh BEFORE the round's last commit "
            f"(VERDICT r14 #1: the driver artifact has arrived empty "
            f"two rounds running; this record makes the tree "
            f"self-sufficient).",
    "method": f"graft.Verify {sf_dir} {work}/verify (all SparkEntry."
              f"queries; classes from HEAD {head}), then tools/"
              f"check_oracle.py (DuckDB, the driver canonicalization).",
    "n_queries": summary["n_ok"] + summary["n_failed"],
    "n_sql_gated": sql_gated,
    "n_ok": ok,
    "n_failed": len(bad_names) + summary["n_failed"],
    "failed": sorted(set(bad_names) | set(summary.get("failed", []))),
    "rows_only_by_design": summary["rows_only"],
    "verdict": f"{ok} ok, {len(bad_names) + summary['n_failed']} failed",
}
with open(f"CORRECTNESS_r{round_n}_self.json", "w") as f:
    json.dump(self_rec, f, indent=2)

# ── bench protocol record: per-query minima over the two passes ──
passes = []
for p in (1, 2):
    lines = open(f"{work}/bench_pass{p}.jsonl").read().splitlines()
    rec = json.loads([l for l in lines if '"queries"' in l][0])
    passes.append(rec)
minima = {}
for rec in passes:
    for q, t in rec["queries"].items():
        r = rec.get("queries_retimed", {}).get(q)
        t = min(t, r) if r is not None else t
        minima[q] = min(minima.get(q, 1e18), t)
total = round(sum(minima.values()), 3)
nq = len(minima)
proto = {
    "metric": "protocol_minima",
    "value": total,
    "unit": "sec",
    "n_queries": nq,
    "s_per_query": round(total / nq, 4),
    "sf": passes[0]["sf"],
    "passes_raw_total": [p["value"] for p in passes],
    "passes_noisy": [p.get("noisy") for p in passes],
    "passes_load_start": [p.get("load_start") for p in passes],
    "queries": {k: round(v, 4) for k, v in sorted(minima.items())},
    "builds": passes[0].get("queries_build", {}),
    "head": head,
}
with open(f"BENCH_r{round_n}_protocol.json", "w") as f:
    json.dump(proto, f, indent=2)

# ── trend row ──
row = (f"{round_n}\t{nq}\t{total}\t{round(total / nq, 3)}\t"
       f"REPEATS=2 minima x2 solo {cpus}-cpu {heap} passes via tools/close_round.sh "
       f"(raw {passes[0]['value']}/{passes[1]['value']}, "
       f"noisy={passes[0].get('noisy')}/{passes[1].get('noisy')}; "
       f"BENCH_r{round_n}_protocol.json)\n")
trend = "src/main/resources/bench_trend.tsv"
existing = open(trend).read()
if not re.search(rf"^{round_n}\t", existing, re.M):
    open(trend, "a").write(row)
print(f"[close] CORRECTNESS_r{round_n}_self.json: {self_rec['verdict']}")
print(f"[close] BENCH_r{round_n}_protocol.json: {total}s / {nq} = "
      f"{round(total / nq, 4)} s/q")
EOF

echo "[close] done — git add CORRECTNESS_r${ROUND}_self.json BENCH_r${ROUND}_protocol.json src/main/resources/bench_trend.tsv"
