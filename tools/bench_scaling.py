"""Two-parallelism scaling evidence (BASELINE.json north_rule substitute):
run the identical extraction job on identical input at N and 4N local-mode
cores on this 32-core host, report docs/sec at both and
efficiency = throughput(4N) / (4 × throughput(N)), target ≥ 0.8.
Writes BENCH/BASELINE.md. Two pairs are measured (4→16 and 8→32); the host
is shared, so each level takes best-of-N trials to shed co-tenant noise.

Usage: python tools/bench_scaling.py [tier] [trials]
       python tools/bench_scaling.py paired N 4N [reps] [tier]

'paired' interleaves the two levels' trials ABAB in ONE window (each trial
its own warmed session), so both levels sample the same co-tenant load —
the method that made BENCH/REALISTIC.md's numbers trustworthy. Sequential
best-of-N levels can land in different windows and produce artifacts like
efficiency > 1 (a loaded window at the small level). Appends a section to
BENCH/BASELINE.md instead of overwriting it.
"""

from __future__ import annotations

import datetime
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASELINE_MD = os.path.join(REPO, "BENCH", "BASELINE.md")
sys.path.insert(0, REPO)


def run_at(cpus: int, tier: str, trials: int):
    from manuscript_ocr_spark.session import get_spark
    from bench import run_extraction

    spark = get_spark(
        master=f"local[{cpus}]",
        app_name=f"msocr-scaling-{cpus}",
        shuffle_partitions=max(32, cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM JIT, python workers, and OS page cache so the measured
    # runs aren't paying one-time initialization; then best-of-N to shed
    # co-tenant noise on the shared host
    run_extraction(spark, "sf-small")
    times = []
    n_docs = 0
    for _ in range(trials):
        sec, n_docs = run_extraction(spark, tier)
        times.append(sec)
    spark.stop()
    return min(times), times, n_docs


def paired_main():
    """ABAB-interleaved N vs 4N trials in one window; median per level."""
    n = int(sys.argv[2])
    n4 = int(sys.argv[3])
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    tier = sys.argv[5] if len(sys.argv) > 5 else "sf-bench"

    import pyarrow.parquet as pq
    from manuscript_ocr_spark.fixtures import ensure_tier

    tier_dir = ensure_tier(tier)
    pages = pq.ParquetFile(f"{tier_dir}/media.parquet").metadata.num_rows

    trials = {n: [], n4: []}
    docs = 0
    for rep in range(reps):
        for cpus in (n, n4):
            best, _, docs = run_at(cpus, tier, 1)
            trials[cpus].append(best)
            print(f"rep {rep} local[{cpus}]: {best:.1f}s "
                  f"→ {docs / best:.1f} docs/sec", flush=True)

    med = {c: sorted(v)[len(v) // 2] for c, v in trials.items()}
    ratio = n4 / n   # the levels need not be exactly N vs 4N
    per_rep_eff = [
        (docs / b) / (ratio * (docs / a))
        for a, b in zip(trials[n], trials[n4])
    ]
    eff = (docs / med[n4]) / (ratio * (docs / med[n]))
    print(f"median N={n}: {med[n]:.1f}s, 4N={n4}: {med[n4]:.1f}s, "
          f"efficiency {eff:.3f} (per-rep: "
          f"{', '.join('%.3f' % e for e in per_rep_eff)})")

    stamp = datetime.datetime.now(datetime.timezone.utc).strftime(
        "%Y-%m-%d %H:%M UTC")
    with open(BASELINE_MD, "a") as f:
        f.write(f"""
## Tightly-paired window: local[{n}] → local[{n4}] ({stamp})

ABAB-interleaved trials in one window (each trial a fresh warmed session),
so both levels sample the same co-tenant load — the pairing method of
BENCH/REALISTIC.md. {tier}: {docs} docs / {pages} pages.

| level | trials (s) | median |
|---|---|---|
| local[{n}] | {', '.join('%.1f' % t for t in trials[n])} | {med[n]:.1f} |
| local[{n4}] | {', '.join('%.1f' % t for t in trials[n4])} | {med[n4]:.1f} |

Median efficiency **{eff:.3f}** (per-rep: {', '.join('%.3f' % e for e in per_rep_eff)}).
""")
    print("appended to BENCH/BASELINE.md")


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "paired":
        paired_main()
        return
    tier = sys.argv[1] if len(sys.argv) > 1 else "sf-bench"
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 4

    results = {}
    all_trials = {}
    docs = 0

    import pyarrow.parquet as pq
    from manuscript_ocr_spark.fixtures import ensure_tier

    tier_dir = ensure_tier(tier)
    pages = pq.ParquetFile(f"{tier_dir}/media.parquet").metadata.num_rows
    levels = (4, 16, 8, 32)
    for cpus in levels:
        best, times, docs = run_at(cpus, tier, trials)
        results[cpus] = best
        all_trials[cpus] = times
        print(f"local[{cpus}]: best {best:.1f}s of {['%.1f' % t for t in times]}"
              f" → {docs / best:.1f} docs/sec")

    pairs = [(4, 16), (8, 32)]
    lines = []
    for n, n4 in pairs:
        thr_n = docs / results[n]
        thr_4n = docs / results[n4]
        eff = thr_4n / (4 * thr_n)
        print(f"N={n}→4N={n4}: efficiency {eff:.3f}")
        lines.append(
            f"| local[{n}] → local[{n4}] | {results[n]:.1f} s → {results[n4]:.1f} s "
            f"| {thr_n:.1f} → {thr_4n:.1f} docs/sec | **{eff:.3f}** |"
        )

    os.makedirs(os.path.dirname(BASELINE_MD), exist_ok=True)
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y-%m-%d %H:%M UTC")
    trial_rows = "\n".join(
        f"| local[{c}] | {', '.join('%.1f' % t for t in all_trials[c])} |"
        for c in levels
    )
    with open(BASELINE_MD, "w") as f:
        f.write(f"""# BENCH/BASELINE — scaling efficiency evidence

{stamp} — identical extraction job (detect + recognize + span-reassemble +
parquet sink) on identical input ({tier}: {docs} interleaved docs, {pages}
distinct pages) at two N→4N parallelism pairs on the 32-core host, per the
sandbox substitution for the north_rule's two-cluster-size criterion
(SURVEY.md §6). efficiency = throughput(4N) / (4 × throughput(N)),
target ≥ 0.8. Best-of-{trials} per level (shared host; co-tenant load is
visible in the trial spread below).

| pair | wall time | throughput | efficiency |
|---|---|---|---|
{chr(10).join(lines)}

All trials (seconds):

| level | trials |
|---|---|
{trial_rows}

Reference single-node comparison: the reference detector alone averages
0.604 s/image on a Colab-class GPU (BASELINE.md), ≈1.66 pages/sec; this
engine's full detect+recognize+reassemble pipeline sustains
{docs / results[32]:.0f} docs/sec ({pages / results[32]:.0f} distinct
pages/sec) at local[32] on CPU.

Caveat: the deterministic stand-in models are ~6x cheaper per page than
the reference real EAST+TRBA forward passes, so fixed per-stage costs
(Arrow transfer, scheduling) weigh proportionally more here than they would
with production models.
""")
    print(f"wrote {BASELINE_MD}")


if __name__ == "__main__":
    main()
