"""Summarize BENCH/scaling_runs.jsonl (shared by run_scaling.sh
and the chunked run_round.sh campaign driver).

Runs are grouped by input size (n_rows) — campaigns on different
prepared tables must not be paired against each other — and the
N→4N (local[2]→local[8]) efficiency is reported per table plus POOLED
across tables: paired per-round ratios are scale-free, so pooling
pairs from the 96k and 192k campaigns tightens the estimate without
mixing absolute throughputs."""
import json
import random
import statistics

# the scheduler tag of the last scaling campaign; validate's JSON
# result no longer carries sched_config (the engine now runs on Spark's
# default FIFO scheduler), so the logged campaign is summarized as is
CURRENT_TAG = "fifo-default+critical-w8"

rows = [
    json.loads(l)
    for l in open("BENCH/scaling_runs.jsonl")
    if l.startswith('{"job"')
]

summary = {}
pooled_pairs = []
pooled_boot = []

for n_rows in sorted({r["n_rows"] for r in rows}):
    by = {}
    for r in rows:
        if r["n_rows"] == n_rows:
            by.setdefault(r["master"], []).append(r)
    if "local[2]" not in by or "local[8]" not in by:
        # partial campaign (e.g. an interrupted first round on a new
        # table) — report the raw runs, skip efficiency math
        summary[f"n_rows={n_rows}"] = {
            "incomplete": True,
            "masters": {m: len(rs) for m, rs in by.items()},
        }
        continue
    tbl = {}
    for m, rs in by.items():
        tbl[m] = {
            "n_runs": len(rs),
            "median_clips_per_sec": statistics.median(r["clips_per_sec"] for r in rs),
            "best_clips_per_sec": max(r["clips_per_sec"] for r in rs),
            "walls_s": [r["wall_s"] for r in rs],
            "digest": sorted({r["passfail_digest"] for r in rs}),
        }
    for kind in ("median", "best"):
        t2 = tbl["local[2]"][f"{kind}_clips_per_sec"]
        t8 = tbl["local[8]"][f"{kind}_clips_per_sec"]
        tbl[f"eff_2_to_8_{kind}"] = round((t8 / t2) / 4.0, 3)
        if "local[32]" in tbl:
            t32 = tbl["local[32]"][f"{kind}_clips_per_sec"]
            tbl[f"eff_8_to_32_{kind}"] = round((t32 / t8) / 4.0, 3)
    # paired per-round efficiencies: round i of a table interleaves the
    # levels back-to-back, so a noisy-neighbor window hits both halves
    pairs = [
        round((b["clips_per_sec"] / a["clips_per_sec"]) / 4.0, 3)
        for a, b in zip(by["local[2]"], by["local[8]"])
    ]
    tbl["paired_eff_2_to_8"] = pairs
    tbl["paired_eff_2_to_8_median"] = round(statistics.median(pairs), 3)
    # runs r03 onwards carry sched_config:
    # the append-only log spans scheduler-policy history, so the
    # CURRENT-config campaign is summarized separately — paired rounds,
    # median, and a bootstrap CI over resampled paired ratios
    cur = {
        m: [r for r in rs if r.get("sched_config") == CURRENT_TAG]
        for m, rs in by.items()
    }
    if cur.get("local[2]") and cur.get("local[8]"):
        cpairs = [
            round((b["clips_per_sec"] / a["clips_per_sec"]) / 4.0, 3)
            for a, b in zip(cur["local[2]"], cur["local[8]"])
        ]
        rng_c = random.Random(7)
        cboots = sorted(
            statistics.median(rng_c.choice(cpairs) for _ in cpairs)
            for _ in range(10000)
        )
        tbl["current_config"] = {
            "tag": CURRENT_TAG,
            "n_rounds": len(cpairs),
            "paired_eff_2_to_8": cpairs,
            "paired_eff_2_to_8_median": round(statistics.median(cpairs), 3),
            "paired_median_ci90": [round(cboots[500], 3), round(cboots[9499], 3)],
            "median_clips_per_sec": {
                m: statistics.median(r["clips_per_sec"] for r in rs)
                for m, rs in cur.items()
                if rs
            },
            "best_clips_per_sec": {
                m: max(r["clips_per_sec"] for r in rs) for m, rs in cur.items() if rs
            },
        }
    pooled_pairs.extend(pairs)
    t2s = [r["clips_per_sec"] for r in by["local[2]"]]
    t8s = [r["clips_per_sec"] for r in by["local[8]"]]
    pooled_boot.append((t2s, t8s))
    digs = [tbl[m]["digest"] for m in tbl if m.startswith("local")]
    tbl["digests_match_within_table"] = all(d == digs[0] for d in digs)
    summary[f"n_rows={n_rows}"] = tbl

# HEADLINE: the protocol table is the LARGEST input (overhead
# amortization, BASELINE.md) — its paired-round median is the
# authoritative N→4N efficiency reading
protocol_n = max(
    n
    for n in {r["n_rows"] for r in rows}
    if not summary[f"n_rows={n}"].get("incomplete")
)
summary["protocol_table"] = f"n_rows={protocol_n}"
summary["protocol_paired_eff_2_to_8_median"] = summary[f"n_rows={protocol_n}"][
    "paired_eff_2_to_8_median"
]
cur_prot = summary[f"n_rows={protocol_n}"].get("current_config")
if cur_prot:
    summary["protocol_current_config_paired_median"] = cur_prot[
        "paired_eff_2_to_8_median"
    ]
    summary["protocol_current_config_ci90"] = cur_prot["paired_median_ci90"]
# pooled numbers mix the smaller-table ablation campaigns in (their
# fixed-overhead penalty depresses them) — kept for transparency only
summary["pooled_incl_ablation_paired_eff"] = pooled_pairs
summary["pooled_incl_ablation_paired_eff_median"] = round(
    statistics.median(pooled_pairs), 3
)
# bootstrap CI over within-table ratio resamples, pooled
rng = random.Random(42)
boots = sorted(
    (rng.choice(t8s) / rng.choice(t2s)) / 4.0
    for _ in range(10000)
    for (t2s, t8s) in [pooled_boot[rng.randrange(len(pooled_boot))]]
)
summary["pooled_incl_ablation_eff_ci90"] = [
    round(boots[500], 3),
    round(boots[9499], 3),
]
summary["n_runs_total"] = len(rows)

print(json.dumps(summary, indent=2))
