"""Round close, mechanically (VERDICT r10 item 7).

Two consecutive rounds shipped a SELFCHECK_rN.json regenerated
BEFORE the last queries landed (r9: q450; r10: q462/q463), leaving
the committed artifact short of the registry. This tool makes the
full-artifact regen the LAST step and REFUSES to bless a round whose
artifacts disagree with the live registry:

1. regenerates ``queries_manifest.json`` from the registry;
2. runs the full-registry selfcheck at sf0.01 →
   ``SELFCHECK_r{N}.json``;
3. runs the full-registry timed sweep at sf0.1 →
   ``SWEEP_r{N}.json``;
4. regenerates ``PLANS.md`` (the plan-gate contract);
5. VERIFIES: selfcheck entry count == sweep entry count == PLANS.md
   row count == registry size, and selfcheck has 0 failures —
   non-zero exit (and says why) otherwise.

Usage:
    python tools/round_close.py <round-number> [--skip-sweep] [--skip-plans]

Run it as the FINAL commit's content generator; if a query lands
after this ran, running it again is the contract.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def sh(cmd: list[str]) -> None:
    print("+", " ".join(cmd), file=sys.stderr)
    r = subprocess.run(cmd, cwd=REPO)
    if r.returncode != 0:
        sys.exit(f"round_close: step failed: {' '.join(cmd)}")


def main() -> None:
    if len(sys.argv) < 2 or not sys.argv[1].isdigit():
        sys.exit("usage: round_close.py <round-number> [--skip-sweep]")
    rn = int(sys.argv[1])
    skip_sweep = "--skip-sweep" in sys.argv
    skip_plans = "--skip-plans" in sys.argv

    sh([sys.executable, "tools/gen_manifest.py"])
    manifest = json.load(open(os.path.join(REPO, "queries_manifest.json")))
    n_reg = int(manifest["total"])

    sc_path = os.path.join(REPO, f"SELFCHECK_r{rn}.json")
    sh(
        [
            sys.executable, "tools/selfcheck.py",
            "/root/testdata/sf0.01", "--json", sc_path,
        ]
    )
    sweep_path = os.path.join(REPO, f"SWEEP_r{rn}.json")
    if not skip_sweep:
        sh(
            [
                sys.executable, "tools/full_sweep.py",
                "/root/testdata/sf0.1", "--json", sweep_path,
            ]
        )
    if not skip_plans:
        sh([sys.executable, "tools/plan_report.py"])

    # ---- verification: artifacts must agree with the registry ----
    problems: list[str] = []
    sc = json.load(open(sc_path))
    if len(sc) != n_reg:
        problems.append(
            f"SELFCHECK_r{rn}.json holds {len(sc)} entries, registry "
            f"has {n_reg} — a query landed after the selfcheck ran"
        )
    fails = [
        k
        for k, v in sc.items()
        if v.get("err")
        or (
            v.get("hash_match") is False
            or v.get("rows_match") is False
            or v.get("schema_match") is False
        )
    ]
    if fails:
        problems.append(f"selfcheck failures: {fails[:10]}")
    if not skip_sweep and os.path.exists(sweep_path):
        sw = json.load(open(sweep_path))
        n_sw = len(sw.get("times", sw)) + len(sw.get("errors", {}))
        if n_sw != n_reg:
            problems.append(
                f"SWEEP_r{rn}.json covers {n_sw} queries, registry "
                f"has {n_reg}"
            )
        if sw.get("errors"):
            problems.append(f"sweep errors: {list(sw['errors'])[:10]}")
    plans = open(os.path.join(REPO, "PLANS.md")).read()
    n_rows = len(re.findall(r"^\| q\d", plans, flags=re.M))
    if n_rows != n_reg:
        problems.append(
            f"PLANS.md holds {n_rows} query rows, registry has {n_reg}"
        )
    if problems:
        for p in problems:
            print(f"ROUND-CLOSE REFUSAL: {p}", file=sys.stderr)
        sys.exit(1)
    print(
        f"round_close r{rn}: OK — registry {n_reg}, selfcheck "
        f"{len(sc)}/{len(sc)} green, artifacts consistent"
    )


if __name__ == "__main__":
    main()
