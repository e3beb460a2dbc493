"""Scaling-efficiency evidence for the north rule's two-cluster-size
criterion (N vs 4N executors, target efficiency >= 0.8).

No real cluster exists in this sandbox, so the SAME job (bench.py: amplified
sf0.1 corpus -> full index build + query suite) runs at two local
parallelism levels — with shuffle partitions scaled to the core count — in
fresh subprocesses (fresh JVMs, no cache reuse).
Efficiency = (throughput_4N / throughput_N) / 4.

Measurement design: ``--repeats`` PAIRED rounds, each running both levels
back-to-back with alternating order; the reported efficiency is the median
of the per-round ratios (see run_rounds for why pairing is the
drift-robust estimator on this host).

Writes BENCH_SCALING.json and rewrites the measurement section of BENCH.md.

Usage: python tools/bench_scaling.py [--repeats 2] [--amplify 128]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(cores: int, amplify: int, monitor: bool = False) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cores),
        BM25_BENCH_AMPLIFY=str(amplify),
    )
    samples: list[float] = []
    stop = None
    if monitor:
        # 1 Hz whole-host busy-core sampler (/proc/stat): catches a
        # neighbor-tenant storm DURING the run, which edge calibrations
        # around the round cannot see. Foreign load inflates whichever
        # level it hits — a storm during the 1-core run fakes GOOD
        # efficiency — so in-run visibility is required for validity in
        # either direction.
        import threading
        import time as _time

        stop = threading.Event()

        def _cpu():
            with open("/proc/stat") as f:
                p = f.readline().split()[1:]
            v = list(map(int, p[:8]))
            return sum(v), v[3] + v[4]  # total, idle+iowait

        def _sample():
            ncpu = os.cpu_count() or 32
            prev = _cpu()
            while not stop.wait(1.0):
                cur = _cpu()
                dt, di = cur[0] - prev[0], cur[1] - prev[1]
                if dt > 0:
                    samples.append(ncpu * (1.0 - di / dt))
                prev = cur

        threading.Thread(target=_sample, daemon=True).start()
    try:
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            env=env,
            capture_output=True,
            text=True,
            timeout=3600,
        )
    finally:
        if stop is not None:
            stop.set()
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    res = json.loads(line)
    if monitor and samples:
        s = sorted(samples)
        res["busy_cores_p50"] = round(s[len(s) // 2], 2)
        res["busy_cores_p90"] = round(s[int(len(s) * 0.9)], 2)
    return res


def run_rounds(
    lo: int, hi: int, amplify: int, repeats: int, extra: int | None
) -> tuple[list[dict], list[dict]]:
    """PAIRED-round design: each round runs BOTH levels back-to-back, with
    the order alternating round to round. This VM's sustained throughput
    drifts ~2x over minutes (both levels' build times degrade monotonically
    across any long session), so an unpaired best-per-level estimator can
    pair a lucky window at one level with an unlucky one at the other and
    report an arbitrary ratio in either direction. Within one round the two
    runs share the host's condition, so the PER-ROUND ratio cancels the
    drift (the paired-measurement design); the order alternation cancels
    any systematic first-vs-second position effect. The reported
    efficiency is the MEDIAN of the per-round ratios."""
    import time as _time

    cooldown = int(os.environ.get("BM25_SCALING_COOLDOWN_SEC", "30"))
    rounds: list[dict] = []
    for r in range(repeats):
        order = [lo, hi] if r % 2 == 0 else [hi, lo]
        got: dict[int, dict] = {}
        for c in order:
            if rounds or got:
                _time.sleep(cooldown)  # let the host settle between runs
            got[c] = run_once(c, amplify)
        rounds.append(got)
    # the extra (ceiling-documentation) level runs AFTER all paired rounds:
    # a 32-worker thrash between rounds measurably poisons the next
    # round's single-threaded run on this host
    extra_runs: list[dict] = []
    if extra:
        _time.sleep(cooldown)
        extra_runs.append(run_once(extra, amplify))
    return rounds, extra_runs


def run_quiet_rounds(
    lo: int,
    hi: int,
    amplify: int,
    want: int,
    extra: int | None,
    gate_eff: float,
    gate_sec: float,
    max_wait_min: float,
) -> tuple[list[dict], list[dict], list[dict]]:
    """Storm-robust variant of run_rounds for a SHARED host whose other
    tenants come and go on minute scales: a paired round only COUNTS when
    the same-workload no-Spark calibration (workload_calibration.py) shows
    the host quiet BOTH immediately before and immediately after it — a
    round a storm blew through is recorded (full transparency) but not
    scored, because it measures the neighbors, not the plan. Collects
    until ``want`` quiet-flanked rounds or the deadline; every round and
    every calibration lands in the output JSON."""
    import time as _time

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from workload_calibration import measure as _calibrate

    def quiet(cal: dict) -> bool:
        return (
            cal["host_eff_4way"] >= gate_eff
            and cal["task_sec_1p"] <= gate_sec
        )

    cooldown = int(os.environ.get("BM25_SCALING_COOLDOWN_SEC", "20"))
    deadline = _time.time() + max_wait_min * 60
    t0 = _time.time()
    all_rounds: list[dict] = []
    n_valid = 0
    r = 0
    while n_valid < want and _time.time() < deadline and r < 4 * want:
        cal_b = _calibrate()
        cal_b["at_min"] = round((_time.time() - t0) / 60, 1)
        print(json.dumps({"cal_before": cal_b}), flush=True)
        if not quiet(cal_b):
            _time.sleep(150)
            continue
        order = [lo, hi] if r % 2 == 0 else [hi, lo]
        got: dict[int, dict] = {}
        for j, c in enumerate(order):
            if j:
                _time.sleep(cooldown)
            got[c] = run_once(c, amplify, monitor=True)
        cal_a = _calibrate()
        cal_a["at_min"] = round((_time.time() - t0) / 60, 1)
        # in-run validity: the 1 Hz host sampler must show no foreign
        # load DURING either level's run (edge calibrations cannot see a
        # storm that arrives and leaves inside the round; one that hits
        # the 1-core run would fake GOOD efficiency)
        busy_ok = all(
            got[c].get("busy_cores_p90", 0.0) <= c + 2.5 for c in (lo, hi)
        )
        valid = quiet(cal_a) and busy_ok
        print(
            json.dumps(
                {
                    "round": r,
                    "build_sec": {
                        str(lo): got[lo]["queries"]["index_build"],
                        str(hi): got[hi]["queries"]["index_build"],
                    },
                    "busy_p90": {
                        str(c): got[c].get("busy_cores_p90")
                        for c in (lo, hi)
                    },
                    "cal_after": cal_a,
                    "busy_ok": busy_ok,
                    "valid": valid,
                }
            ),
            flush=True,
        )
        all_rounds.append(
            {"got": got, "cal_before": cal_b, "cal_after": cal_a,
             "busy_ok": busy_ok, "valid": valid}
        )
        n_valid += int(valid)
        r += 1
    extra_runs: list[dict] = []
    if extra:
        _time.sleep(cooldown)
        extra_runs.append(run_once(extra, amplify))
    # ONLY rounds that passed the pre-registered validity gate are scored.
    # If none did, return an empty list — the caller reports the criterion
    # as not yet evidenced and exits nonzero. (A previous version silently
    # fell back to scoring the invalid rounds here; that let a
    # gate-failed measurement become the headline.)
    kept = [x for x in all_rounds if x["valid"]]
    return [x["got"] for x in kept], extra_runs, all_rounds


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else 0.5 * (s[n // 2 - 1] + s[n // 2])


def _notes() -> str:
    """Stable non-scaling bench notes (BENCH_NOTES.md), appended verbatim
    so a re-render never silently drops them."""
    path = os.path.join(REPO, "BENCH_NOTES.md")
    if os.path.exists(path):
        with open(path) as f:
            return "\n" + f.read()
    return ""


def render(result: dict) -> None:
    """Rewrite BENCH.md from a BENCH_SCALING.json-shaped dict."""
    if result.get("status") == "inconclusive" or (
        result.get("quiet_round_audit") is not None
        and result["quiet_round_audit"].get("n_valid", 0) == 0
    ):
        qa = result.get("quiet_round_audit") or {"rounds": [], "n_valid": 0}
        raw_lines = "\n".join(
            f"- raw (UNSCORED) round: build_sec {r['build_sec']}, "
            f"in-run busy_ok={r.get('busy_ok')}, "
            f"flank calibrations host_eff_4way "
            f"{r['cal_before'].get('host_eff_4way')} -> "
            f"{r['cal_after'].get('host_eff_4way')}, task_sec_1p "
            f"{r['cal_before'].get('task_sec_1p')} -> "
            f"{r['cal_after'].get('task_sec_1p')}, valid={r['valid']}"
            for r in qa["rounds"]
        ) or "- (no paired rounds completed inside the window)"
        md = f"""# BENCH — scaling-efficiency evidence (N -> 4N)

**Status: INCONCLUSIVE — the criterion is not yet evidenced by this
collection run.** The quiet-round protocol scores a paired round only
when the same-workload no-Spark calibration passes immediately before
AND after it and a 1 Hz /proc/stat sampler sees no foreign load during
either level's run. {qa["n_valid"]} of {len(qa["rounds"])} rounds passed
that pre-registered gate, so NO efficiency number is reported: scoring a
gate-failed round would measure the neighbors, not the plan. Raw
(unscored) measurements, kept for transparency:

{raw_lines}

Re-run `python tools/bench_scaling.py --quiet-rounds ...` during a quiet
window; the tool exits nonzero until a round genuinely passes. Full
audit in `BENCH_SCALING.json`.
"""
        with open(os.path.join(REPO, "BENCH.md"), "w") as f:
            f.write(md + _notes())
        return

    lo, hi = sorted(
        int(k) for k in result["build_throughput_turns_per_sec"]
    )
    per_round = result["rounds"]
    repeats = len(per_round)
    r_lo = result["representative_round"][str(lo)]
    r_hi = result["representative_round"][str(hi)]
    amplify = r_lo["amplify"]
    tp_lo, tp_hi = r_lo["turns_per_sec"], r_hi["turns_per_sec"]
    q_lo = r_lo["queries"]["q_batch20"]
    q_hi = r_hi["queries"]["q_batch20"]
    build_eff = result["build_scaling_efficiency"]
    query_speedup = result["query_batch_speedup"]
    r_extra = result.get("extra_level")

    cal_md = ""
    qa = result.get("quiet_round_audit")
    if qa:
        cal_md += f"""
Quiet-round collection: {qa["n_valid"]} of {len(qa["rounds"])} paired
rounds ran with the host verifiably quiet — the same-workload no-Spark
calibration passed immediately before AND after the round, and a 1 Hz
/proc/stat sampler saw no foreign load during either level's run. Only
those rounds are scored: a neighbor-tenant storm hitting the 1-core run
would FAKE good efficiency, so the validity check is symmetric — it
discards storm rounds whether they flatter or hurt the number. Full
per-round audit (times, in-run busy-core p90, flanking calibrations,
scored or not) in BENCH_SCALING.json `quiet_round_audit`.
"""
    cals = result.get("host_calibrations")
    if cals:
        last = cals[-1]
        cal_md += f"""
The measurement is additionally gated on a QUIET WINDOW: before the
paired rounds start, the build's actual map computation (translate+join+
split tokenize, factorize, per-unique filter, np.unique TF — the same
code path, real corpus data, NO Spark) must scale at >= the gate across
1 -> 4 processes (`tools/workload_calibration.py`). This shared VM's
deliverable 4-way scaling for that raw computation wanders roughly
0.6-0.95 with other tenants' load; a box delivering 0.8 for the bare
computation cannot evidence a 0.8 job measurement no matter the plan.
Calibration at measurement time: host 4-way efficiency
{last["host_eff_4way"]} ({len(cals)} attempt(s) logged in
BENCH_SCALING.json `host_calibrations`).
"""

    extra_md = ""
    if r_extra is not None:
        xc = r_extra["cores"]
        extra_md = f"""
## Beyond the host ceiling: local[{xc}]

For completeness, the same job at local[{xc}]:
index build {r_extra["index_build_sec"]}s,
{r_extra["turns_per_sec"]:,.0f} turns/s. Two no-Spark host calibrations
bound what ANY job can scale to on this box: pure-CPU busy-loops
(`tools/host_calibration.py`) deliver only ~19x aggregate throughput at
32 workers, and streaming-memory work (`tools/bandwidth_calibration.py`,
the shape of the build's tokenize+pack map stage) peaks at ~8-11x
aggregate around 8-16 workers and collapses under 32-way
oversubscription (both scripts were last in commit abf3981) — the memory controllers saturate long before the
cores do. A single box therefore cannot exhibit 4x scaling into 32
nominal cores, which is why the N->4N evidence uses {lo}->{hi}, where
both calibrations show real headroom. On an actual 4N-executor cluster
the same plan adds nodes — and with them memory bandwidth — not
oversubscribed threads: every build stage is either narrow
(tokenize+pack map) or hash-partitioned on (pk, term, shard) with no
serial section, so the {lo}->{hi} measurement is the representative one.
"""

    md = f"""# BENCH — scaling-efficiency evidence (N -> 4N)

The north rule requires >= 0.8 throughput scaling efficiency between N and
4N executors. No real cluster exists in this sandbox; per the driver
instructions this is evidenced by the identical job at two local
parallelism levels (see `tools/bench_scaling.py`; raw JSON in
`BENCH_SCALING.json`).

Representative round (the one realizing the median efficiency):

| | local[{lo}] (N) | local[{hi}] (4N) |
|---|---|---|
| corpus | {r_lo["n_docs"]:,} docs (sf0.1 x{amplify}) | same input |
| index build (s) | {r_lo["queries"]["index_build"]} | {r_hi["queries"]["index_build"]} |
| build throughput (turns/s) | {tp_lo:,.0f} | {tp_hi:,.0f} |
| 20-query batch (s) | {q_lo} | {q_hi} |
| shuffle partitions | {lo} | {hi} |

**Build scaling efficiency = median over {repeats} paired rounds of
(tp_4N / tp_N) / 4 = {build_eff:.3f}** (target >= 0.8:
{"PASS" if build_eff >= 0.8 else "FAIL"}).
Query batch speedup {lo}->{hi} cores (median of rounds):
{query_speedup:.2f}x.

Per-round detail (build s at N / at 4N -> efficiency):
{chr(10).join(
    f"- round {i}: {r['build_sec'][str(lo)]} / {r['build_sec'][str(hi)]}"
    f" -> {r['build_eff']}"
    for i, r in enumerate(per_round, 1)
)}

Config per level: `local[N]`, `spark.sql.shuffle.partitions = N`,
AQE on, 16g driver heap, fresh JVM per run. Measurement design: each
round runs BOTH levels back-to-back with alternating order; this VM's
sustained throughput drifts ~2x over minutes, so the PER-ROUND ratio
(paired under the same host condition) is the drift-robust estimator —
an unpaired best-per-level comparison can pair a fast window at one
level with a slow one at the other and swing the ratio either way.
{cal_md}{extra_md}"""
    with open(os.path.join(REPO, "BENCH.md"), "w") as f:
        f.write(md + _notes())


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--amplify", type=int, default=128)
    ap.add_argument(
        "--levels",
        default="2,8",
        help="N,4N parallelism levels. Default 2,8: host calibration "
        "(tools/host_calibration.py, last in commit abf3981) shows this "
        "VM delivers only ~19x aggregate CPU at 32 workers, so a 4x "
        "scaling claim is only "
        "physically measurable below that ceiling.",
    )
    ap.add_argument("--extra-level", type=int, default=32)
    ap.add_argument(
        "--render-only",
        action="store_true",
        help="rewrite BENCH.md from the existing BENCH_SCALING.json "
        "without running any benchmark",
    )
    ap.add_argument(
        "--gate-host-eff",
        type=float,
        default=0.0,
        help="quiet-window gate: before measuring, run the same-workload "
        "no-Spark calibration (tools/workload_calibration.py — the build's "
        "actual map computation at 1 vs 4 processes) and only start the "
        "paired rounds once the HOST delivers at least this 4-way "
        "efficiency with zero framework overhead. A shared VM that "
        "delivers e.g. 0.8 for the raw computation cannot evidence a 0.8+ "
        "job measurement regardless of the plan; gating separates the "
        "job's scaling from the box's moment-to-moment contention. Every "
        "calibration attempt is recorded in the output JSON.",
    )
    ap.add_argument(
        "--max-wait-min",
        type=float,
        default=120.0,
        help="give up waiting for a quiet window after this long and run "
        "anyway (the last calibration is still recorded)",
    )
    ap.add_argument(
        "--gate-task-sec",
        type=float,
        default=1e9,
        help="quiet-window gate, absolute arm: the calibration's "
        "single-process task must also run at least this fast — a load "
        "spike during the 1p measurement inflates the RATIO, so absolute "
        "speed is the trustworthy quietness signal",
    )
    ap.add_argument(
        "--quiet-rounds",
        action="store_true",
        help="storm-robust collection: calibrate between rounds and score "
        "only rounds flanked by quiet calibrations (see run_quiet_rounds); "
        "--repeats is the number of quiet rounds wanted, --gate-host-eff/"
        "--gate-task-sec define quiet, --max-wait-min bounds the hunt",
    )
    args = ap.parse_args()
    if args.render_only:
        with open(os.path.join(REPO, "BENCH_SCALING.json")) as f:
            render(json.load(f))
        return 0
    lo, hi = (int(x) for x in args.levels.split(","))

    if args.quiet_rounds:
        extra = (
            args.extra_level
            if args.extra_level and args.extra_level != hi
            else None
        )
        rounds, extra_runs, all_rounds = run_quiet_rounds(
            lo, hi, args.amplify, args.repeats, extra,
            args.gate_host_eff, args.gate_task_sec, args.max_wait_min,
        )
        calibrations = [
            c
            for x in all_rounds
            for c in (x["cal_before"], x["cal_after"])
        ]
        n_valid = sum(x["valid"] for x in all_rounds)
        audit = [
            {
                "build_sec": {
                    str(lo): x["got"][lo]["queries"]["index_build"],
                    str(hi): x["got"][hi]["queries"]["index_build"],
                },
                "busy_p90": {
                    str(c): x["got"][c].get("busy_cores_p90")
                    for c in (lo, hi)
                },
                "cal_before": x["cal_before"],
                "cal_after": x["cal_after"],
                "busy_ok": x.get("busy_ok"),
                "valid": x["valid"],
            }
            for x in all_rounds
        ]
        return _finish(
            args, lo, hi, rounds, extra_runs, calibrations,
            quiet_audit={"rounds": audit, "n_valid": n_valid},
        )

    calibrations = []
    if args.gate_host_eff > 0:
        import time as _time

        sys.path.insert(0, os.path.join(REPO, "tools"))
        from workload_calibration import measure as _calibrate

        deadline = _time.time() + args.max_wait_min * 60
        while True:
            cal = _calibrate()
            cal["at_min"] = round(
                (_time.time() - deadline) / 60 + args.max_wait_min, 1
            )
            calibrations.append(cal)
            print(json.dumps({"calibration": cal}), flush=True)
            if (
                cal["host_eff_4way"] >= args.gate_host_eff
                and cal["task_sec_1p"] <= args.gate_task_sec
            ):
                break
            if _time.time() > deadline:
                print(
                    json.dumps(
                        {"gate": "timed out waiting for quiet window"}
                    ),
                    flush=True,
                )
                break
            _time.sleep(240)

    extra = (
        args.extra_level
        if args.extra_level and args.extra_level != hi
        else None
    )
    rounds, extra_runs = run_rounds(
        lo, hi, args.amplify, args.repeats, extra
    )
    return _finish(args, lo, hi, rounds, extra_runs, calibrations)


def _finish(
    args,
    lo: int,
    hi: int,
    rounds: list[dict],
    extra_runs: list[dict],
    calibrations: list[dict],
    quiet_audit: dict | None = None,
) -> int:
    if not rounds:
        # no round passed the pre-registered validity gate: fail LOUDLY.
        # The criterion is "not yet evidenced", never "evidenced by the
        # invalid rounds" — all raw measurements stay in the audit for
        # transparency, but nothing is scored and the exit code is 1.
        result = {
            "status": "inconclusive",
            "build_scaling_efficiency": None,
            "target": 0.8,
            "pass": False,
            "method": (
                "quiet-round collection: a round is scored only when the "
                "same-workload no-Spark calibration immediately before AND "
                "after it showed the host quiet and the in-run 1 Hz "
                "/proc/stat sampler saw no foreign load. NO round passed "
                "that gate within the collection window, so the scaling "
                "criterion is NOT YET EVIDENCED by this run — the raw "
                "(unscored) rounds and every calibration are recorded in "
                "quiet_round_audit/host_calibrations."
            ),
        }
        if calibrations:
            result["host_calibrations"] = calibrations
        if quiet_audit is not None:
            result["quiet_round_audit"] = quiet_audit
        with open(os.path.join(REPO, "BENCH_SCALING.json"), "w") as f:
            json.dump(result, f, indent=2)
        render(result)
        print(json.dumps(result))
        return 1

    per_round = []
    for got in rounds:
        tp_l, tp_h = got[lo]["turns_per_sec"], got[hi]["turns_per_sec"]
        per_round.append(
            {
                "build_sec": {
                    str(lo): got[lo]["queries"]["index_build"],
                    str(hi): got[hi]["queries"]["index_build"],
                },
                "turns_per_sec": {str(lo): tp_l, str(hi): tp_h},
                "build_eff": round((tp_h / tp_l) / (hi / lo), 3),
                "q_batch20_sec": {
                    str(lo): got[lo]["queries"]["q_batch20"],
                    str(hi): got[hi]["queries"]["q_batch20"],
                },
                "q_batch_speedup": round(
                    got[lo]["queries"]["q_batch20"]
                    / got[hi]["queries"]["q_batch20"],
                    2,
                ),
            }
        )
    build_eff = _median([r["build_eff"] for r in per_round])
    query_speedup = _median([r["q_batch_speedup"] for r in per_round])
    # the representative round = the one realizing the median efficiency
    rep = min(per_round, key=lambda r: abs(r["build_eff"] - build_eff))
    r_lo = next(
        g[lo] for g, r in zip(rounds, per_round) if r is rep
    )
    r_hi = next(
        g[hi] for g, r in zip(rounds, per_round) if r is rep
    )
    tp_lo, tp_hi = r_lo["turns_per_sec"], r_hi["turns_per_sec"]
    q_lo = r_lo["queries"]["q_batch20"]
    q_hi = r_hi["queries"]["q_batch20"]

    result = {
        "rounds": per_round,
        "representative_round": {str(lo): r_lo, str(hi): r_hi},
        "build_throughput_turns_per_sec": {str(lo): tp_lo, str(hi): tp_hi},
        "build_scaling_efficiency": round(build_eff, 3),
        "query_batch20_sec": {str(lo): q_lo, str(hi): q_hi},
        "query_batch_speedup": round(query_speedup, 2),
        "target": 0.8,
        "pass": build_eff >= 0.8,
        "method": (
            f"identical bench.py job (sf0.1 x{args.amplify} amplified corpus) "
            f"at local[{lo}] and local[{hi}], shuffle partitions = cores, "
            f"fresh JVM per run; {args.repeats} PAIRED rounds (both levels "
            "back-to-back per round, order alternating) — efficiency = "
            "median of per-round ratios, cancelling the host's minute-scale "
            "throughput drift that an unpaired best-of estimator is exposed "
            "to"
        ),
    }
    if calibrations:
        result["host_calibrations"] = calibrations
        result["method"] += (
            "; measurement gated on a quiet window: the same-workload "
            "no-Spark calibration (tools/workload_calibration.py) had to "
            f"show the HOST delivering >= {args.gate_host_eff} 4-way "
            "efficiency for the build's raw map computation before the "
            "paired rounds started (all attempts recorded in "
            "host_calibrations)"
        )
    if quiet_audit is not None:
        result["quiet_round_audit"] = quiet_audit
        result["method"] += (
            "; QUIET-ROUND collection: a round is scored only when (a) "
            "the same-workload calibration immediately before AND after "
            "it showed the host quiet, and (b) a 1 Hz /proc/stat sampler "
            "saw no foreign load DURING either level's run (p90 busy "
            "cores <= own cores + 2.5) — a storm hitting the 1-core run "
            "would fake GOOD efficiency, so validity is symmetric; every "
            "round, scored or not, is recorded in quiet_round_audit"
        )
    if extra_runs:
        best_extra = min(
            extra_runs, key=lambda r: r["queries"]["index_build"]
        )
        result["extra_level"] = {
            "cores": args.extra_level,
            "index_build_sec": best_extra["queries"]["index_build"],
            "turns_per_sec": best_extra["turns_per_sec"],
            "note": (
                "beyond the host's effective-parallelism ceiling; "
                "reported for completeness, not part of the N->4N claim"
            ),
        }
    with open(os.path.join(REPO, "BENCH_SCALING.json"), "w") as f:
        json.dump(result, f, indent=2)
    render(result)
    print(json.dumps({k: v for k, v in result.items() if k != "levels"}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
