"""Interleaved bench adjudicator: trustworthy per-query timings on a
noisy shared host.

The batch bench (bench.py) times each query in sequence, so a burst of
host CPU-steal lands entirely on whichever query is running — per-round
BENCH deltas of ±30% appear on queries whose code did not change.  This
harness runs the chosen queries ROUND-ROBIN (q1,q2,...,qn, q1,q2,...)
for R rounds in ONE process, so
contention bursts are spread across all queries instead of concentrated
on one, and reports the per-query MIN — the closest observable to the
steady-state plan execution cost (the quantity that scales with cluster
size).  Σ(min) over the full headline suite is the quiet-host estimate
of the suite total, the number BENCH_r{N}.json approximates from above.

Results are written to the "## Interleaved A/B adjudication" appendix of
SCALING.md (tools/scale_probe.py preserves that section when it rewrites
the ratio table).

    python tools/ab_bench.py [--reps R] [--sf DIR] [--no-write] [query ...]

No queries → the full bench.py HEADLINE suite (settles the suite-total
question); a subset → targeted adjudication of specific bench deltas.
"""

from __future__ import annotations

import gc
import os
import sys
import time
from datetime import datetime, timezone

#: the checkout this script lives in (tools/..)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import HEADLINE  # noqa: E402
from end_to_end_datapipeline_project_spark.registry import all_queries  # noqa: E402
from end_to_end_datapipeline_project_spark.session import get_spark  # noqa: E402

AB_MARKER = "## Interleaved A/B adjudication"


def interleaved_times(
    spark, names: list[str], sf_dir: str, reps: int
) -> dict[str, list[float]]:
    queries = all_queries()

    def run(name: str) -> float:
        t0 = time.time()
        queries[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.time() - t0
        # untimed cleanup between runs: checkpoint/broadcast blocks are
        # only freed after a JVM GC; letting them pile up pushes a
        # multi-second stall into a LATER query's timed window
        spark.catalog.clearCache()
        gc.collect()
        spark._jvm.System.gc()
        return dt

    # warm scan footers + codegen once per query, untimed
    for name in names:
        run(name)
    times: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(reps):
        for name in names:
            times[name].append(run(name))
    return times


def host_canary(spark) -> tuple[float, float]:
    """Fixed-work host-speed measurements recorded beside Σ(min) so
    cross-ROUND comparisons can be normalized: per-round suite totals on
    this shared host have shifted ±35% with no code change (r6→r7), and
    without a canary every such shift costs an investigation.  Returns
    (single-core seconds: pure-Python arithmetic loop, all-cores
    seconds: fixed Spark range-sum) — min of 3 each."""
    py = min(
        _timeit(lambda: sum(i * i for i in range(2 * 10**6)))
        for _ in range(3)
    )
    jvm = min(
        _timeit(
            lambda: spark.range(2 * 10**8)
            .selectExpr("sum(id * 2) AS s")
            .collect()
        )
        for _ in range(3)
    )
    return py, jvm


def _timeit(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


def _cross_round_rows() -> list[str]:
    """Mechanical cross-round paragraph (VERDICT r13 task #6 second
    half / r14 task #5 — the hand-written paragraph went stale the
    round after it was written): read the BENCH_r*.json driver records,
    normalize each round's Σ(min) by its fixed-work SPARK all-cores
    canary (r16 — see the inline comment; python canary is the
    pre-r15 fallback) against the pinned reference, and compare the
    two newest rounds on the one host-comparable number."""
    import glob
    import json
    import re

    recs = []
    # BENCH_r<N>.json ONLY — suffixed control runs (e.g. BENCH_r15_c8,
    # the driver's low-core-count control) are not round records and
    # made the paragraph compare r15 against itself (r16 fix)
    paths = [
        p
        for p in glob.glob(os.path.join(ROOT, "BENCH_r*.json"))
        if re.search(r"BENCH_r(\d+)\.json$", p)
    ]
    for p in sorted(
        paths,
        key=lambda p: int(re.search(r"BENCH_r(\d+)\.json$", p).group(1)),
    ):
        try:
            d = json.load(open(p)).get("parsed") or {}
            n = int(re.search(r"BENCH_r(\d+)\.json$", p).group(1))
        except Exception:
            continue
        if d.get("value") and d.get("canary", {}).get("python_1core_sec"):
            recs.append((n, d))
    if len(recs) < 2:
        return []
    ref = next(
        (
            d["canary_ref"]
            for _, d in reversed(recs)
            if d.get("canary_ref")
        ),
        recs[-1][1]["canary"]["python_1core_sec"],
    )
    # r16 (VERDICT r15 "what's wrong" #4): normalize by the SPARK
    # all-cores canary, not the python 1-core one — in r15 the two
    # decoupled (python said the host got 32% faster while spark said
    # 25% slower under CPU steal), and the suite is multicore work, so
    # the python-normalized number pointed the wrong way.  Python
    # canary stays as the fallback for records predating the spark one.
    ref_spark = 0.113  # BENCH_r14.json spark_allcores_sec (bench.py pin)

    def norm(d: dict) -> tuple:
        sc = d.get("canary", {}).get("spark_allcores_sec")
        if sc:
            return d["value"] * ref_spark / sc, "spark"
        if d.get("value_canary_norm"):
            return d["value_canary_norm"], "python"
        return d["value"] * ref / d["canary"]["python_1core_sec"], "python"

    (na, a), (nb, b) = recs[-2], recs[-1]
    nb_v, nb_c = norm(b)
    na_v, na_c = norm(a)
    return [
        "",
        f"Cross-round (mechanical, canary-normalized): r{nb} Σ(min) "
        f"normalizes to **{nb_v:.2f} s** ({nb_c} canary) vs r{na} "
        f"**{na_v:.2f} s** ({na_c} canary) ({nb_v / na_v:.3f}×) over "
        f"{b['n_queries']} headline queries — each round's driver "
        f"Σ(min) × (reference spark-allcores canary {ref_spark:.3f} s "
        "/ that round's measured spark canary): the multicore-work "
        "deflator (VERDICT r15 #4 — the 1-core python canary decoupled "
        "from multicore host speed in r15 and mis-normalized the "
        "suite total).  Raw driver records: "
        f"r{nb} {b['value']:.2f} s @ spark canary "
        f"{b['canary'].get('spark_allcores_sec', float('nan')):.3f} s, "
        f"r{na} {a['value']:.2f} s @ "
        f"{a['canary'].get('spark_allcores_sec', float('nan')):.3f} s.",
    ]


def write_appendix(rows: list[str]) -> None:
    path = os.path.join(ROOT, "SCALING.md")
    try:
        doc = open(path).read()
    except OSError:
        doc = ""
    if AB_MARKER in doc:
        doc = doc[: doc.index(AB_MARKER)].rstrip() + "\n"
    with open(path, "w") as f:
        f.write(doc + "\n" + "\n".join(rows) + "\n")
    print(f"appendix written to {path}")


def main() -> None:
    args = sys.argv[1:]
    reps, sf_dir, write = 3, "/root/testdata/sf0.1", True
    names: list[str] = []
    it = iter(args)
    for a in it:
        if a == "--reps":
            reps = int(next(it))
        elif a == "--sf":
            sf_dir = next(it)
        elif a == "--no-write":
            write = False
        else:
            names.append(a)
    names = names or list(HEADLINE)
    spark = get_spark("ab-bench")
    cpy, cjvm = host_canary(spark)
    t_wall0 = time.time()
    times = interleaved_times(spark, names, sf_dir, reps)
    wall = time.time() - t_wall0

    stamp = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%MZ")
    rows = [
        AB_MARKER,
        "",
        f"`python tools/ab_bench.py --reps {reps}` @ {sf_dir}, {stamp} — "
        f"{len(names)} queries round-robin ×{reps} in one process "
        f"(wall {wall:.0f}s incl. warm-up).  min = quiet-host estimate; "
        "spread = max/min across interleaved reps (host-noise gauge: "
        "the plan did not change between reps).  Host-speed canary "
        f"(fixed work, min of 3): python 1-core {cpy:.2f}s, spark "
        f"all-cores {cjvm:.2f}s — divide Σ(min) deltas across rounds by "
        "the canary ratio before reading them as regressions.",
        *_cross_round_rows(),
        "",
        "| query | min (s) | median (s) | spread | reps (s) |",
        "|---|---|---|---|---|",
    ]
    total_min = 0.0
    for name in names:
        ts = sorted(times[name])
        total_min += ts[0]
        med = ts[len(ts) // 2]
        spread = ts[-1] / ts[0] if ts[0] > 0 else float("inf")
        rows.append(
            f"| {name} | {ts[0]:.2f} | {med:.2f} | {spread:.1f}× | "
            f"{'/'.join(f'{t:.2f}' for t in times[name])} |"
        )
        print(rows[-1], flush=True)
    rows.append(
        f"| **Σ(min) over {len(names)} queries** | **{total_min:.2f}** "
        "| | | |"
    )
    print(f"TOTAL(min): {total_min:.2f}s over {len(names)} queries")
    if write:
        write_appendix(rows)


if __name__ == "__main__":
    main()
