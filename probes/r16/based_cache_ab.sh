#!/usr/bin/env bash
# A/B of how dedup._minhash_band_rows shares its hashed shingles `based`:
#   base: `.cache()` (the committed code)
#   swap: `.transform(truncate_lazy)` (the one-line reuse-primitive swap)
# Each arm runs from its own `git archive` of REV; pairs alternate which
# arm runs first, seed = FIRST_SEED + pair - 1, one perfbench df_pipeline
# run per arm per pair with --seconds 20.  Writes based_cache_ab.json
# next to this script.
#
# usage (from the repository root):
#   probes/r16/based_cache_ab.sh [REV=HEAD] [PAIRS=6] [FIRST_SEED=11]
set -euo pipefail
REV=${1:-HEAD}
PAIRS=${2:-6}
SEED0=${3:-11}
OUT="$(cd "$(dirname "$0")" && pwd)/based_cache_ab.json"
WORK=$(mktemp -d)
trap 'rm -rf "$WORK"' EXIT

for arm in base swap; do
  mkdir -p "$WORK/$arm"
  git archive "$REV" | tar -x -C "$WORK/$arm"
done
python3 - "$WORK/swap/mincemeatpy_spark/text/dedup.py" <<'PY'
import sys

path = sys.argv[1]
src = open(path).read()
fn = src.index("def _minhash_band_rows(")
old = "based = _shingle_df(spark, sf_dir).cache()"
i = src.index(old, fn)
assert i < src.index("\ndef ", fn + 1), "no .cache() on based in _minhash_band_rows"
new = "based = _shingle_df(spark, sf_dir).transform(truncate_lazy)"
open(path, "w").write(src[:i] + new + src[i + len(old):])
PY

for ((p = 1; p <= PAIRS; p++)); do
  seed=$((SEED0 + p - 1))
  if ((p % 2)); then order="base swap"; else order="swap base"; fi
  for arm in $order; do
    echo "pair $p seed $seed arm $arm" >&2
    (cd "$WORK/$arm" && python3 perfbench/run.py --workload df_pipeline \
      --seed "$seed" --seconds 20 --trace 0 | tail -n 1) >"$WORK/$arm-$p.json"
  done
done

python3 - "$WORK" "$PAIRS" "$SEED0" "$REV" "$OUT" <<'PY'
import json
import statistics
import sys

work, pairs, seed0, rev, out = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4], sys.argv[5]
keys = ["setup_s", "job_s.p50", "job_s.tail", "records_per_s", "peak_rss_mb"]
lower_is_better = {k: k != "records_per_s" for k in keys}
runs = []
for p in range(1, pairs + 1):
    for arm in ("base", "swap"):
        rec = json.load(open(f"{work}/{arm}-{p}.json"))
        runs.append({
            "pair": p, "seed": seed0 + p - 1, "arm": arm,
            "failed": rec["failed"], "attempted": rec["attempted"],
            **{k: round(rec["metrics"][k]["value"], 4) for k in keys},
        })
by = {(r["pair"], r["arm"]): r for r in runs}
median = {arm: {k: round(statistics.median(r[k] for r in runs if r["arm"] == arm), 4)
                for k in keys} for arm in ("base", "swap")}
swap_worse, swap_worse_beyond_bound = {}, {}
for k in keys:
    rel = []
    for p in range(1, pairs + 1):
        b, s = by[(p, "base")][k], by[(p, "swap")][k]
        rel.append((s - b) / b if lower_is_better[k] else (b - s) / b)
    swap_worse[k] = sum(x > 0 for x in rel)
    swap_worse_beyond_bound[k] = sum(x > 0.25 for x in rel)
json.dump({
    "about": "perfbench/run.py --workload df_pipeline --seconds 20 --trace 0; "
             f"base = {rev} (`.cache()` on based in _minhash_band_rows), "
             "swap = the same tree with `.transform(truncate_lazy)` there; "
             "alternating order per pair, seed = FIRST_SEED + pair - 1",
    "median": median,
    "change_median": {k: round(median["swap"][k] / median["base"][k] - 1, 4) for k in keys},
    "pairs": pairs,
    "pairs_swap_worse": swap_worse,
    "pairs_swap_worse_by_more_than_0.25": swap_worse_beyond_bound,
    "failed": {arm: sum(r["failed"] for r in runs if r["arm"] == arm) for arm in ("base", "swap")},
    "runs": runs,
}, open(out, "w"), indent=1)
print(out)
PY
