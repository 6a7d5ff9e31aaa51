"""Derive the driver-gate evidence window mechanically from the
CORRECTNESS_r*.json artifacts (VERDICT r7 task 4).

The external gate oracle-checks only the FIRST 50 registered queries
(``registry.CHECK_PRIORITY`` is the registration order). With ~190
oracled queries and 50 slots, a full evidence refresh takes >= 4 rounds,
so a flat "nothing older than two rounds" contract is arithmetically
unsatisfiable. The codified priority rule (documented at
registry.CHECK_PRIORITY, applied by this tool):

  P1. NEVER-driver-checked oracled queries — a query with no hash row
      has the weakest evidence of all; new surfaces enter here.
  P2. Cohorts by newest-green-round, OLDEST FIRST — staleness is the
      tiebreak across everything already checked once.
  P3. Within a cohort that does not fit the remaining slots, keep ONE
      PER MACHINERY FAMILY (the containment map below): a family's
      in-window representative refreshes the shared machinery; the
      displaced names carry their representative as the rationale.

Usage:  python tools/derive_window.py          # print the derived window
        python tools/derive_window.py --check  # diff vs CHECK_PRIORITY,
                                               # exit 1 on mismatch
        python tools/derive_window.py --write  # rewrite CHECK_PRIORITY
                                               # in registry.py

Run --check after adding queries or when a new CORRECTNESS_rN.json
lands; run --write when it drifts, then --check exits clean.
"""

from __future__ import annotations

import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REGISTRY = os.path.join(REPO, "spark_data_engineering_spark", "registry.py")
sys.path.insert(0, REPO)

WINDOW = 50

# P3 containment map: family representative -> members it covers when
# slots run out. A member is displaceable ONLY while its representative
# is in the derived window; the tool enforces that invariant.
FAMILIES: dict[str, tuple[str, ...]] = {
    # TPC-H block: each query is distinct machinery, but q21/q22's
    # multi-correlated EXISTS / NOT-EXISTS anti-join shape is the same
    # machinery as the dedicated semi/anti pair (P2 puts that pair in
    # the window whenever the r4 cohort rotates in).
    "customers_with_high_value_orders": ("tpch_q21_sole_returned_supplier",),
    "customers_without_orders": ("tpch_q22_dormant_customers",),
}


def newest_green() -> dict[str, int]:
    """name -> newest round with a green driver row (hash or rows)."""
    newest: dict[str, int] = {}
    for p in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(p.rsplit("_r", 1)[1].split(".")[0])
        with open(p) as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            if row.get("match") or row.get("rows_match"):
                newest[name] = max(newest.get(name, 0), rnd)
    return newest


def derive() -> tuple[list[str], dict[str, str]]:
    from spark_data_engineering_spark import registry

    registry.load_all()
    names = list(registry.QUERIES)
    evidence = newest_green()
    # P1: never checked, registration order
    window = [n for n in names if n not in evidence]
    rationales: dict[str, str] = {}
    # P2: cohorts oldest-first
    rounds = sorted({evidence[n] for n in names if n in evidence})
    for rnd in rounds:
        cohort = [n for n in names if evidence.get(n) == rnd]
        room = WINDOW - len(window)
        if room <= 0:
            break
        if len(cohort) <= room:
            window.extend(cohort)
            continue
        # P3: the cohort overflows — displace family members whose
        # representative lands in the window, then take the rest in
        # registration order.
        covered = {
            m: rep
            for rep, members in FAMILIES.items()
            for m in members
            if rep in window or rep in cohort
        }
        keep = [n for n in cohort if n not in covered]
        dropped = [n for n in cohort if n in covered]
        for n in dropped:
            rationales[n] = (
                f"machinery refreshed in-window by {covered[n]} (family map)"
            )
        if len(keep) > room:
            for n in keep[room:]:
                rationales[n] = (
                    f"r{rnd} cohort overflow — registration order; rotates "
                    "in next round under P2"
                )
            keep = keep[:room]
        window.extend(keep)
    return window, rationales


def write(window: list[str]) -> None:
    """Rewrite the body of ``registry.CHECK_PRIORITY`` as ``window``."""
    with open(REGISTRY) as fh:
        src = fh.read()
    head = "CHECK_PRIORITY: tuple[str, ...] = (\n"
    start = src.index(head) + len(head)
    end = src.index("\n)\n", start)
    body = "    # Derived by tools/derive_window.py --write.\n" + "\n".join(
        f'    "{n}",' for n in window
    )
    with open(REGISTRY, "w") as fh:
        fh.write(src[:start] + body + src[end:])


def main() -> int:
    window, rationales = derive()
    if "--write" in sys.argv:
        write(window)
        print(f"CHECK_PRIORITY rewritten ({len(window)} names).")
        return 0
    if "--staleness" in sys.argv:
        # one-line evidence-staleness report (VERDICT r9 task 8): per-
        # round cohort sizes over every oracled query, the oldest
        # cohort, and how much of it the current window refreshes.
        from spark_data_engineering_spark import registry

        registry.load_all()
        names = list(registry.QUERIES)
        evidence = newest_green()
        never = [n for n in names if n not in evidence]
        hist: dict[int, int] = {}
        for n in names:
            if n in evidence:
                hist[evidence[n]] = hist.get(evidence[n], 0) + 1
        oldest = min(hist) if hist else None
        in_window = sum(
            1 for n in window if evidence.get(n) == oldest
        )
        cohorts = " ".join(f"r{r}={hist[r]}" for r in sorted(hist))
        print(
            f"staleness: {len(names)} oracled, never-checked={len(never)}, "
            f"cohorts[{cohorts}], oldest=r{oldest} "
            f"({hist.get(oldest, 0)} queries, {in_window} in the current "
            "window)"
        )
        return 0
    if "--check" in sys.argv:
        from spark_data_engineering_spark.registry import CHECK_PRIORITY

        if list(CHECK_PRIORITY) == window:
            print(f"CHECK_PRIORITY matches the derived window ({len(window)}).")
            return 0
        cur, new = set(CHECK_PRIORITY), set(window)
        print("CHECK_PRIORITY drifted from the derived window:")
        print("  remove:", sorted(cur - new))
        print("  add:   ", sorted(new - cur))
        if list(CHECK_PRIORITY) != window and cur == new:
            print("  (same set, different order)")
        return 1
    print(f"# derived window ({len(window)} slots)")
    for n in window:
        print(n)
    if rationales:
        print("\n# displaced (rationales)")
        for n, why in rationales.items():
            print(f"{n}: {why}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
