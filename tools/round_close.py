"""Round-close verification sweep — ONE command for the end-of-round
checklist (VERDICT r9 #3):

1. `tools/audit_scalar.py`      — every gate query is scalar-only
                                  (plan build, no execution);
2. full `tools/check.py`        — ALL `queries()` entries vs their
                                  DuckDB oracles at sf0.01 (the
                                  replica of the driver gate, not just
                                  its 50-entry window);
3. `tools/audit_plans.py --write` — regenerate PLANS.md from the
                                  current plans;
4. window-staleness report      — which first-50 window entries have
                                  been driver-checked every recorded
                                  round (rotation candidates) and
                                  which registry entries have never /
                                  longest been out of the window, so
                                  the per-round 2-3 slot rotation is a
                                  scripted decision, not archaeology.

Usage: python tools/round_close.py [sf_dir] [--skip-plans] [--skip-check] [--round N]
Exit code != 0 if any executed stage fails.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def run(cmd: list) -> int:
    print(f"\n=== {' '.join(cmd)}", flush=True)
    return subprocess.call(cmd, cwd=ROOT)


def readme_drift() -> int:
    """Bookkeeping guard (VERDICT r10 ask #4, tightened per r11 #3):
    README's stated gate count must match the registry, BENCH_LOCAL
    must cover the registry, and — the part that actually drifted two
    rounds running — the SECONDS/RATIO the README quotes must match
    the artifact files it cites.  The headline pair must cite the
    immutable per-round driver artifacts (BENCH_rNN.json /
    BASELINE_ORACLE_rNN.json), NOT BENCH_LOCAL.json, which the driver
    overwrites after close."""
    import json
    import re

    import __spark_entry__ as entry

    failures = 0
    readme = open(os.path.join(ROOT, "README.md")).read()
    n_actual = len(entry.queries())
    m = re.search(r"\*\*(\d+) `queries\(\)` entries", readme)
    print("\n=== README drift check")
    if not m or int(m.group(1)) != n_actual:
        print(
            f"README gate count {m.group(1) if m else '???'} != registry {n_actual} — update README.md"
        )
        failures += 1
    else:
        print(f"gate count OK ({n_actual})")
    bench_path = os.path.join(ROOT, "BENCH_LOCAL.json")
    if os.path.exists(bench_path):
        bench = json.load(open(bench_path))
        total, n_timed = bench.get("value"), len(bench.get("queries", {}))
        if n_timed != n_actual:
            print(
                f"BENCH_LOCAL times {n_timed} queries but the registry has "
                f"{n_actual} — rerun bench.py to refresh BENCH_LOCAL.json"
            )
            failures += 1
        else:
            print(f"bench covers all {n_timed} queries (total {total:.1f}s)")
    # quoted-number check: the README headline pair must cite driver
    # artifacts and quote exactly their numbers (the prose wraps, so
    # match on whitespace-normalized text)
    flat = re.sub(r"\s+", " ", readme)
    pair = re.search(
        r"Spark ([\d.]+) s vs the DuckDB oracle total ([\d.]+) s across "
        r"all (\d+) queries — ([\d.]+)×\*{0,2} \(driver artifacts "
        r"`(BENCH_r\d+\.json)`(?: */ *| and )`(BASELINE_ORACLE_r\d+\.json)`",
        flat,
    )
    if not pair:
        print(
            "README headline bench pair not found or does not cite driver "
            "artifacts (`BENCH_rNN.json` / `BASELINE_ORACLE_rNN.json`) — "
            "BENCH_LOCAL.json is overwritten by the driver after close and "
            "must not anchor the quoted numbers"
        )
        return failures + 1
    q_spark, q_duck, q_n, q_ratio = (
        float(pair.group(1)), float(pair.group(2)), int(pair.group(3)),
        float(pair.group(4)),
    )
    bench_file, base_file = pair.group(5), pair.group(6)
    try:
        b = json.load(open(os.path.join(ROOT, bench_file)))
        a_spark = float(b["parsed"]["value"] if "parsed" in b else b["value"])
        a_n = int(b["parsed"].get("n_timed", 0) if "parsed" in b else b.get("n_timed", 0))
        base = json.load(open(os.path.join(ROOT, base_file)))
        a_duck = float(base["total"])
    except Exception as exc:  # noqa: BLE001
        print(f"cannot load cited artifacts {bench_file}/{base_file}: {exc}")
        return failures + 1
    a_ratio = a_spark / a_duck
    ok = (
        abs(q_spark - a_spark) < 0.1
        and abs(q_duck - a_duck) < 0.1
        and q_n == a_n
        and abs(q_ratio - a_ratio) < 0.006
    )
    if ok:
        print(
            f"quoted bench pair OK ({q_spark:.1f}s / {q_duck:.1f}s / "
            f"{q_n}q / {q_ratio:.2f}x vs {bench_file})"
        )
    else:
        print(
            f"README quotes {q_spark}s/{q_duck}s/{q_n}q/{q_ratio}x but "
            f"{bench_file}+{base_file} say {a_spark:.1f}s/{a_duck:.1f}s/"
            f"{a_n}q/{a_ratio:.2f}x — regenerate the README sentence"
        )
        failures += 1
    return failures


def window_staleness() -> None:
    import __spark_entry__ as entry

    names = list(entry.queries())
    window = names[:50]
    history = []
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as fh:
                data = json.load(fh)
            history.append((os.path.basename(path), set(data)))
        except Exception:
            continue
    print("\n=== window staleness")
    if not history:
        print("no CORRECTNESS_r*.json history found")
        return
    rounds_in = {
        n: sum(1 for _, keys in history if n in keys) for n in names
    }
    # never-gated tracking (VERDICT r13 ask #1): how many registry
    # entries have NEVER appeared in any CORRECTNESS_r*.json window,
    # and how many of the current window's 50 seats are first-timers.
    never = [n for n in names if rounds_in[n] == 0]
    first_timers = [n for n in window if rounds_in[n] == 0]
    print(
        f"never-driver-gated: {len(never)} of {len(names)} registry "
        f"entries; current window seats them: {len(first_timers)}/50"
    )
    always_in = [n for n in window if rounds_in[n] == len(history)]
    print(
        f"window entries driver-checked in ALL {len(history)} recorded "
        f"rounds (eviction candidates): {always_in[:12]}"
        + (" ..." if len(always_in) > 12 else "")
    )
    evicted = sorted(
        (n for n in names if n not in set(window)),
        key=lambda n: rounds_in[n],
    )
    stale = [f"{n}({rounds_in[n]})" for n in evicted[:12]]
    print(f"longest-out-of-window entries (rotation-in candidates): {stale}")


def snapshot_perquery(nn: int | None = None) -> None:
    """Persist the full per-query bench breakdown as an immutable
    round artifact (VERDICT r14 #5/#9): the driver captures only the
    2 KB output tail, so BENCH_rNN carries no per-query data; copying
    BENCH_LOCAL.json → BENCH_rNN_perquery.json at close gives the next
    judge driver-grade per-query comparisons.  NN = current round,
    inferred as max(CORRECTNESS_r*) + 1 (the driver writes the current
    round's file only after close); ``--round N`` overrides the guess,
    which is one round ahead on a re-run after that file exists."""
    import re
    import shutil

    if nn is None:
        rounds = [
            int(m.group(1))
            for p in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))
            if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))
        ]
        nn = (max(rounds) + 1) if rounds else 0
    src = os.path.join(ROOT, "BENCH_LOCAL.json")
    if os.path.exists(src):
        dst = os.path.join(ROOT, f"BENCH_r{nn:02d}_perquery.json")
        shutil.copyfile(src, dst)
        print(f"\n=== snapshot {os.path.basename(dst)} written")
    else:
        print("\n=== no BENCH_LOCAL.json to snapshot")


def round_arg(argv: list) -> int | None:
    """The ``--round N`` override of the snapshot's round number."""
    ap = argparse.ArgumentParser(add_help=False)
    ap.add_argument("--round", type=int, default=None)
    return ap.parse_known_args(argv)[0].round


def main() -> int:
    sf_dir = next(
        (a for a in sys.argv[1:] if os.path.isdir(a)), "/root/testdata/sf0.01"
    )
    failures = 0
    if run([sys.executable, "tools/audit_scalar.py"]) != 0:
        failures += 1
    if "--skip-check" not in sys.argv:
        if run([sys.executable, "tools/check.py", sf_dir]) != 0:
            failures += 1
    if "--skip-plans" not in sys.argv:
        if run([sys.executable, "tools/audit_plans.py", sf_dir, "--write"]) != 0:
            failures += 1
    failures += readme_drift()
    snapshot_perquery(round_arg(sys.argv[1:]))
    window_staleness()
    print(f"\nround_close: {'FAIL' if failures else 'OK'} ({failures} stage failures)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
