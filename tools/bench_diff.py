#!/usr/bin/env python3
"""Compare a bench_results.json run against the committed per-query baseline.

Usage:
    python3 tools/bench_diff.py [--sf1] [current.json] [baseline.json]

Defaults: current = bench_results.json (written by graft.Bench), baseline =
BENCH_BASELINE.json (committed per-query sf0.1 timings). Exit code is non-zero
when any query regresses by more than REGRESSION_FACTOR, errors in any run
(`err_runs` > 0 in its `detail` entry), or is missing
from the current run — so `sbt "runMain graft.Bench" && python3
tools/bench_diff.py` fails loudly on the kind of silent break that hit the
events family in round 6 (20 queries vanished from the run without any gate
noticing). New queries (present now, absent from baseline) are informational.

Timings at sf0.1 on local[32] jitter ±30% run-to-run, so the regression
threshold is 1.5x AND an absolute floor of +0.3 s — a 0.05 s query drifting to
0.09 s is noise, not a regression.

Streaming operators (s01..s30, w06) pay a fixed ~2.5 s harness cost
(query start/stop + micro-batch planning) that graft.Bench measures and
records as `floor_sec` (min-of-N of a projection-only streaming probe).
When BOTH files carry it, streaming keys are compared NET of their
run's floor — the kernel time is the regression signal, not box drift
in the fixed cost (which tripped the gate in r8 [w17] and r9 [s10]
without any plan change).
"""
import json
import sys

REGRESSION_FACTOR = 1.5
ABS_FLOOR_SEC = 0.3
# kernel time below this after floor subtraction is measurement fuzz
MIN_NET_SEC = 0.05
# Secondary RAW bar for streaming keys (r12): the net-only rule is not
# robust to between-run floor swings — measured 2026-08-16, the floor
# halved (1.192s -> 0.626s) between two full runs and 16 s-ops whose
# RAW time had IMPROVED (0.86-1.2x) "regressed" 2-15x net, because an
# s-op's raw is kernel + alpha*floor with per-op alpha in [1, 3] and
# subtracting one floor leaves (alpha-1)*floor of swing in the net.
# A real kernel regression still clears this bar: the r11 case the
# net-only rule existed for (0.2s -> 1.0s net under a ~2.5s floor) is
# 1.3x raw. So: flag streaming keys only when the NET regresses by the
# main thresholds AND the RAW moved by at least RAW_CONFIRM_ABS_SEC
# and EITHER the raw factor bar OR at least RAW_VS_NET_DELTA of the
# net delta (r13, closing the r12 ADVICE gap: a genuine kernel
# regression that is small relative to the ~2.5s floor — net
# 0.1s->0.5s is raw 2.6s->3.0s = 1.15x — clears the delta leg even
# though it can never clear the factor leg). Suppressed-by-raw-confirm
# entries are printed as INFO so floor-masked candidates stay visible.
RAW_CONFIRM_FACTOR = 1.25
RAW_CONFIRM_ABS_SEC = 0.3
RAW_VS_NET_DELTA = 0.5


def is_streaming(name):
    return name.startswith("s") or name == "w06_sink_streamed"


def is_fs_bound(name):
    # table-format sinks/maintenance: commit-protocol work (tiny
    # parquet writes, manifest renames, directory listings) dominates,
    # and its latency swings with box state independent of code (r13
    # verdict: w08/w18/w22/w23 flagged 1.55-1.69x on a delayed
    # same-code re-run). Compared net of the run's fs_floor_sec probe,
    # raw-confirmed like the streaming family. w06 is streaming-floored.
    return name.startswith("w") and name != "w06_sink_streamed"


def load(path):
    with open(path) as f:
        return json.load(f)


def main():
    args = [a for a in sys.argv[1:] if a != "--sf1"]
    sf1 = "--sf1" in sys.argv[1:]
    # --sf1: the committed at-scale gate — a ~20-op headline subset
    # (the slowest + one per family) benched on the ScaleUp sf1
    # replica, same two-independent-runs discipline as the sf0.1 pair.
    # Scale regressions (a plan that stops scaling) flag here even when
    # the sf0.1 gate stays green.
    cur_default = "bench_results_sf1.json" if sf1 else "bench_results.json"
    base_default = "BENCH_SF1.json" if sf1 else "BENCH_BASELINE.json"
    cur_path = args[0] if len(args) > 0 else cur_default
    base_path = args[1] if len(args) > 1 else base_default
    cur, base = load(cur_path), load(base_path)
    cur_q, base_q = cur["queries"], base["queries"]
    cur_floor, base_floor = cur.get("floor_sec"), base.get("floor_sec")
    use_floor = bool(cur_floor) and bool(base_floor)
    cur_fs, base_fs = cur.get("fs_floor_sec"), base.get("fs_floor_sec")
    use_fs = bool(cur_fs) and bool(base_fs)
    if "_floor" in cur.get("errors", {}):
        print(f"bench_diff: WARNING — floor probe failed every run in "
              f"{cur_path}: {cur['errors']['_floor']}; streaming keys "
              f"compared raw")
    if "_fs_floor" in cur.get("errors", {}):
        print(f"bench_diff: WARNING — fs floor probe failed every run in "
              f"{cur_path}: {cur['errors']['_fs_floor']}; w-family keys "
              f"compared raw")
    if use_floor:
        print(f"bench_diff: streaming floor {base_floor}s (baseline) vs "
              f"{cur_floor}s (current) — s-family compared net of floor")
    if use_fs:
        print(f"bench_diff: fs floor {base_fs}s (baseline) vs "
              f"{cur_fs}s (current) — w-family compared net of fs floor")

    for tag, d in (("baseline", base), ("current", cur)):
        if d.get("floor_series"):
            print(f"bench_diff: {tag} floor series {d['floor_series']}")
        if d.get("fs_floor_series"):
            print(f"bench_diff: {tag} fs floor series {d['fs_floor_series']}")

    failures, regressions, news, infos = [], [], [], []
    for name, b in sorted(base_q.items()):
        c = cur_q.get(name)
        if c is None:
            failures.append(f"MISSING  {name}: in baseline, absent from current run")
            continue
        err_runs = cur.get("detail", {}).get(name, {}).get("err_runs", 0)
        if c == "err" or name in cur.get("errors", {}) or err_runs > 0:
            runs = f" ({err_runs} of {cur.get('runs')} runs failed)" if err_runs else ""
            failures.append(f"ERROR    {name}: {cur.get('errors', {}).get(name, 'err')}{runs}")
            continue
        if b == "err":
            continue  # baseline itself was broken for this query; can only improve
        c, b = float(c), float(b)

        def net_compare(cf, bf, kind):
            # Floored keys gate on the NET (floor-subtracted) kernel
            # time, CONFIRMED by a lower raw bar (see RAW_CONFIRM_*):
            # net alone catches kernel regressions the fixed cost
            # hides (0.2s→1.0s net is only ~1.3x raw — still above
            # the 1.25x confirm bar), while the raw confirmation kills
            # the floor-swing artifacts where raw IMPROVED but the
            # one-floor subtraction manufactured a net "regression".
            # The MIN_NET_SEC clamp absorbs jitter amplification for
            # ops barely above the floor.
            cn = max(c - float(cf), MIN_NET_SEC)
            bn = max(b - float(bf), MIN_NET_SEC)
            if cn > bn * REGRESSION_FACTOR and cn > bn + ABS_FLOOR_SEC:
                raw_confirmed = c > b + RAW_CONFIRM_ABS_SEC and (
                    c > b * RAW_CONFIRM_FACTOR
                    or (c - b) >= RAW_VS_NET_DELTA * (cn - bn))
                line = (f"{name}: net {bn:.3f}s -> {cn:.3f}s "
                        f"({cn / bn:.2f}x net; raw {b:.3f}s -> {c:.3f}s, "
                        f"{c / b:.2f}x raw)")
                if raw_confirmed:
                    regressions.append("SLOWER   " + line)
                else:
                    infos.append(f"INFO     net-regressed, raw unconfirmed "
                                 f"({kind} floor swing) " + line)

        if use_floor and is_streaming(name):
            net_compare(cur_floor, base_floor, "streaming")
        elif use_fs and is_fs_bound(name):
            net_compare(cur_fs, base_fs, "fs")
        elif c > b * REGRESSION_FACTOR and c > b + ABS_FLOOR_SEC:
            regressions.append(
                f"SLOWER   {name}: {b:.3f}s -> {c:.3f}s ({c / b:.2f}x)")
    for name in sorted(set(cur_q) - set(base_q)):
        news.append(f"NEW      {name}: {cur_q[name]}s (not in baseline)")

    for line in failures + regressions + news + infos:
        print(line)
    n_base_ok = sum(1 for v in base_q.values() if v != "err")
    print(
        f"bench_diff: {len(cur_q)} current vs {len(base_q)} baseline "
        f"({n_base_ok} comparable) | {len(failures)} missing/error, "
        f"{len(regressions)} regressed (> {REGRESSION_FACTOR}x and > +{ABS_FLOOR_SEC}s), "
        f"{len(news)} new"
    )
    ct, bt = cur.get("value"), base.get("value")
    if ct is not None and bt is not None:
        print(f"bench_diff: total {bt}s -> {ct}s")
    sys.exit(1 if (failures or regressions) else 0)


if __name__ == "__main__":
    main()
