#!/usr/bin/env bash
# Paired parent/change benchmark: runs perfbench once per side per seed,
# alternating which side runs first, and summarises the pairs.
#
#   tools/pairs.sh <parent-dir> <change-dir> <workload> <first-seed> <last-seed> [seconds]
#
# Both dirs are checkouts (export the parent with `git archive <rev> | tar -x
# -C <dir>`, not `git worktree`). Even seeds run the parent first, odd seeds
# the change. Prints one line per pair (cpu_us_per_unit, setup_s,
# index_bytes_per_turn, failed for both sides), then the number of pairs
# where the change's cpu_us_per_unit is lower, each side's median and
# quartiles (inclusive method), the parent's interquartile range, the
# claim verdict, one no-regression line per end-to-end metric and the total
# `failed`. The verdict is the paired rule for a gain on cpu_us_per_unit
# (lower is better): the change is lower in at least 9/10 of all pairs run
# (ties and pairs missing a result count as losses) and its median is below
# the parent's by more than the parent's IQR. Each no-regression line takes
# the metric's direction and bound (a fraction of the parent's median) from
# the change's BENCHMARK.json: WORSE when the change's median is worse than
# the parent's by more than the bound; else unresolved when the parent's
# IQR / median exceeds the bound and not every change run is better than
# every parent run; else ok.
# The raw result lines go to pairs-<workload>-<first>-<last>.jsonl in the
# current directory. Run nothing else on the host meanwhile.
set -euo pipefail

if [ $# -lt 5 ]; then
  sed -n '2,24p' "$0" >&2
  exit 2
fi
P=$(cd "$1" && pwd)
C=$(cd "$2" && pwd)
W=$3
FIRST=$4
LAST=$5
SECS=${6:-3}
RAW="pairs-$W-$FIRST-$LAST.jsonl"
: > "$RAW"

for s in $(seq "$FIRST" "$LAST"); do
  if [ $((s % 2)) = 0 ]; then order="parent change"; else order="change parent"; fi
  for side in $order; do
    if [ "$side" = parent ]; then d=$P; else d=$C; fi
    line=$(cd "$d" && python3 perfbench/run.py --workload "$W" --seed "$s" \
      --seconds "$SECS" --trace 0 2>/dev/null | tail -1) || true
    printf '{"seed": %s, "side": "%s", "result": %s}\n' "$s" "$side" "${line:-null}" >> "$RAW"
  done
done

python3 - "$RAW" "$C/BENCHMARK.json" <<'PY'
import json, statistics, sys

runs = {}
for ln in open(sys.argv[1]):
    r = json.loads(ln)
    runs.setdefault(r["seed"], {})[r["side"]] = r["result"]

def metric(res, name):
    return res["metrics"][name]["value"] if res else float("nan")

names = ["cpu_us_per_unit", "setup_s", "index_bytes_per_turn"]
print("seed  " + "  ".join(f"{n:>24}" for n in names) + "  failed(p/c)")
wins, cpu_p, cpu_c, failed = 0, [], [], 0
for seed in sorted(runs):
    p, c = runs[seed].get("parent"), runs[seed].get("change")
    cols = [f"{metric(p, n):>11.4f}->{metric(c, n):<11.4f}" for n in names]
    fp = p["failed"] if p else "run failed"
    fc = c["failed"] if c else "run failed"
    failed += (fp if p else 1) + (fc if c else 1)
    print(f"{seed:<5} " + "  ".join(cols) + f"  {fp}/{fc}")
    if p and c:
        cpu_p.append(metric(p, "cpu_us_per_unit"))
        cpu_c.append(metric(c, "cpu_us_per_unit"))
        wins += cpu_c[-1] < cpu_p[-1]
def quartiles(v):
    return statistics.quantiles(v, n=4, method="inclusive") if len(v) > 1 else v * 3
if cpu_p:
    (p1, mp, p3), (c1, mc, c3) = quartiles(cpu_p), quartiles(cpu_c)
    print(f"cpu_us_per_unit: change lower in {wins}/{len(cpu_p)} pairs; "
          f"parent median {mp:.1f} (quartiles {p1:.1f}, {p3:.1f}, IQR {p3 - p1:.1f}); "
          f"change median {mc:.1f} (quartiles {c1:.1f}, {c3:.1f}); "
          f"change vs parent {100 * (mc - mp) / mp:+.1f}%")
    gain = wins >= 0.9 * len(runs) and mp - mc > p3 - p1
    print(f"claim verdict (cpu_us_per_unit lower): {'GAIN' if gain else 'NO GAIN'}: "
          f"change lower in {wins}/{len(runs)} pairs (needs >= 9/10), "
          f"median drop {mp - mc:.1f} vs parent IQR {p3 - p1:.1f} (needs drop > IQR)")
for m in json.load(open(sys.argv[2]))["end_to_end"]:
    n, bound, sign = m["name"], m["bound"], 1 if m["better"] == "lower" else -1
    vp = [metric(runs[s].get("parent"), n) for s in sorted(runs) if runs[s].get("parent")]
    vc = [metric(runs[s].get("change"), n) for s in sorted(runs) if runs[s].get("change")]
    if not (vp and vc):
        continue
    (p1, mp, p3), mc = quartiles(vp), statistics.median(vc)
    worse = sign * (mc - mp) / mp
    spread = (p3 - p1) / mp
    all_better = all(sign * (c - p) < 0 for c in vc for p in vp)
    verdict = ("WORSE" if worse > bound else
               "unresolved" if spread > bound and not all_better else "ok")
    print(f"no regression {n}: {verdict}: median {mp:.4f} -> {mc:.4f} "
          f"({100 * worse:+.1f}% worse, bound {100 * bound:.0f}%), "
          f"parent IQR/median {100 * spread:.1f}%")
print(f"failed (both sides, all runs; a run without a result counts 1): {failed}")
PY
