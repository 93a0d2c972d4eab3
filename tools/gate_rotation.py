"""Gate-rotation schedule: report, policy check, and next-window proposal.

The round driver value-checks only the FIRST 50 queries in
`registry.queries()` (== GATE_ORDER), so with 215 oracle-checked queries
a query can silently go many rounds without a driver row. This tool
makes the rotation schedule explicit and enforceable:

  report   per-query "rounds since last driver-green row" (staleness),
           burn-down histogram, and the projected cycle length.
  check    exit non-zero if the CURRENT GATE_ORDER violates the policy:
             (a) a gate slot without an oracle twin (wasted value-check),
             (b) a gate slot re-gating a query that was already green
                 LAST round while a never-gated oracle-checked query
                 exists outside the window (a wasted refresh slot),
             (c) projected post-round max staleness not decreasing while
                 any oracle-checked query exceeds K=5 rounds ungated.
  propose  print the next round's 50-slot window: never-gated first
           (registration order), then stalest last-green, skipping
           rows-only queries — replaces registry.GATE_ORDER in place
           (earlier windows live in git history and CORRECTNESS_r*.json).

Staleness counts driver rows only; every registered oracle is ALSO
replayed locally each round by the slow pytest tier, which is the
compensating control between driver rows.

Usage: python tools/gate_rotation.py [report|check|propose] [--round N]
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

STALE_K = 5
WINDOW = 50


def _history(cap: int | None = None) -> tuple[dict[str, int], int]:
    """(query -> last round with a driver row, latest recorded round).
    `cap` excludes rounds >= cap, so a window can be evaluated against
    the history that existed when it was committed."""
    last: dict[str, int] = {}
    latest = 0
    for path in sorted(glob.glob(os.path.join(REPO_DIR, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        latest = max(latest, rnd)
        if cap is not None and rnd >= cap:
            continue
        with open(path) as f:
            for q in json.load(f):
                last[q] = max(last.get(q, 0), rnd)
    return last, latest


def _banked_keys(rnd: int) -> set[str] | None:
    """The query names round `rnd` actually gated, or None if unrecorded."""
    path = os.path.join(REPO_DIR, f"CORRECTNESS_r{rnd}.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return set(json.load(f))


def _anchors(reg) -> list[str]:
    """Permanent window slots (registry.GATE_ANCHORS): high-risk
    composites re-gated EVERY round so a shared-SQL engine bug can't
    hide behind a fully-rotated window (r9 advice)."""
    return list(getattr(reg, "GATE_ANCHORS", []))


def _load_registry():
    from tf_datapipeline_spark import registry

    return registry


def _staleness(reg, last: dict[str, int], now: int) -> dict[str, int]:
    """rounds-since-last-gated per oracle-checked query; never gated ->
    a sentinel larger than any real staleness (they sort first)."""
    oracled = set(reg.oracle_sql())
    out = {}
    for q in reg.queries():
        if q not in oracled:
            continue  # rows-only by design — the driver can't value-check it
        out[q] = (now - last[q]) if q in last else (now + 1)
    return out


def cmd_report(now: int) -> int:
    reg = _load_registry()
    last, latest = _history()
    now = now or latest + 1
    stale = _staleness(reg, last, now)
    in_gate = set(reg.GATE_ORDER)
    hist: dict[str, int] = {}
    for q, s in stale.items():
        key = "never" if s > now else str(s)
        hist[key] = hist.get(key, 0) + 1
    print(f"round (in flight): r{now}   oracle-checked: {len(stale)}   "
          f"window: {WINDOW}")
    print(f"staleness histogram (rounds since driver row): "
          f"{dict(sorted(hist.items(), key=lambda kv: kv[0]))}")
    post = {q: (0 if q in in_gate else s) for q, s in stale.items()}
    worst = sorted(post.items(), key=lambda kv: -kv[1])[:15]
    n_never = sum(1 for s in post.values() if s > now)
    print(f"after this round's gate lands: never-gated remaining {n_never}, "
          f"worst staleness {[(q, 'never' if s > now else s) for q, s in worst]}")
    cycles = -(-len(stale) // WINDOW)
    print(f"full refresh cycle: {cycles} rounds at {WINDOW}/round")
    return 0


def _violations(reg, gate: list[str], now: int) -> list[str]:
    """Policy violations for `gate` evaluated AS OF round `now`, i.e.
    against the driver history that existed before that round ran."""
    last, _ = _history(cap=now)
    oracled = set(reg.oracle_sql())
    stale = _staleness(reg, last, now)
    anchors = set(_anchors(reg))
    errs: list[str] = []
    for q in gate:
        if q not in oracled:
            errs.append(f"gate slot without oracle: {q}")
    never_outside = [q for q, s in stale.items() if s > now and q not in gate]
    for q in gate:
        if q in anchors:
            continue  # anchors are deliberately re-gated every round
        if last.get(q) == now - 1 and never_outside:
            errs.append(
                f"wasted slot: {q} was green last round while "
                f"{len(never_outside)} never-gated queries wait "
                f"(e.g. {never_outside[:3]})"
            )
    # (c) starving queries (> K rounds ungated) outside the window are
    # only a violation when the window spends slots on FRESH queries
    # (pre-round staleness <= 1): mid-burn-down a 50-slot window cannot
    # clear a 63-query backlog in one round, but it must not waste slots
    # while anyone starves.
    over_k = [q for q, s in stale.items() if q not in gate and s > STALE_K]
    fresh_slots = [
        q for q in gate if q in stale and stale[q] <= 1 and q not in anchors
    ]
    if over_k and fresh_slots:
        errs.append(
            f"{len(over_k)} queries exceed K={STALE_K} rounds ungated while "
            f"{len(fresh_slots)} window slots re-gate fresh queries "
            f"(e.g. {fresh_slots[:3]} vs starving {over_k[:3]})"
        )
    return errs


def cmd_check(now: int) -> int:
    """Fail ONLY when the committed GATE_ORDER is wrong for ITS OWN
    round. A window whose driver rows are already banked (GATE_ORDER ==
    the latest CORRECTNESS keys) served that round correctly — the NEXT
    round's rotation debt is reported as a warning, not a failure: a
    check that is expected-red from round close until the next rotation
    lands trains people to ignore it (r9 verdict, What's wrong #3)."""
    reg = _load_registry()
    _, latest = _history()
    gate = reg.GATE_ORDER
    banked = latest and _banked_keys(latest) == set(gate[:WINDOW])
    if not now:
        now = latest if banked else latest + 1
    errs = _violations(reg, gate, now)
    if errs:
        print(f"GATE ROTATION POLICY VIOLATIONS (window evaluated for r{now}):")
        for e in errs:
            print(" -", e)
        return 1
    last, _ = _history(cap=now)
    stale = _staleness(reg, last, now)
    print(f"gate rotation policy OK (r{now}): {len(gate)} slots, "
          f"{sum(1 for q in gate if q not in last)} first-ever driver rows, "
          f"{len(_anchors(reg))} anchors, "
          f"{len([q for q, s in stale.items() if s > now])} never-gated total")
    if banked and now == latest:
        nxt = _violations(reg, gate, latest + 1)
        if nxt:
            print(f"WARNING: this window is banked for r{latest}; before "
                  f"r{latest + 1} runs, rotate it (tools/gate_rotation.py "
                  f"propose). In-flight debt it would incur:")
            for e in nxt[:5]:
                print("   (warn)", e)
    return 0


def cmd_propose(now: int) -> int:
    reg = _load_registry()
    last, latest = _history()
    now = now or latest + 1
    stale = _staleness(reg, last, now)
    anchors = _anchors(reg)
    # anchors first (permanent slots), then never-gated in registration
    # order, then stalest-first, then name for determinism
    order = list(reg.queries())
    pos = {q: i for i, q in enumerate(order)}
    ranked = sorted(
        (q for q in stale if q not in set(anchors)),
        key=lambda q: (-stale[q], pos[q] if stale[q] > now else 0, q),
    )
    print(f"# proposed GATE_ORDER for r{now} "
          f"({len(anchors)} anchors + stalest {WINDOW - len(anchors)}):")
    for q in anchors:
        print(f'    "{q}",  # anchor')
    for q in ranked[: WINDOW - len(anchors)]:
        s = "never" if stale[q] > now else f"stale {stale[q]}"
        print(f'    "{q}",  # {s}')
    return 0


def main() -> int:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "report"
    now = 0
    if "--round" in sys.argv:
        now = int(sys.argv[sys.argv.index("--round") + 1])
    return {"report": cmd_report, "check": cmd_check, "propose": cmd_propose}[cmd](now)


if __name__ == "__main__":
    sys.exit(main())
