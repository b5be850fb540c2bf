"""Compute the driver-window order from CORRECTNESS_r*.json history.

The external driver evaluates exactly the FIRST 50 entries of
``__spark_entry__.queries()`` per round, so the dict order IS the
verification schedule.  The round-6 verdict asked for this to be derived
from artifacts rather than maintained by hand ("add a tool that computes
staleness from the CORRECTNESS_r* history and emits the window order, so
the ORDERING CONTRACT comment can't drift from reality").

Priority (highest first):
  1. gates with NO driver row ever (brand new) — listed in --new order;
  2. gates whose code/oracle changed this round (pass via --changed);
  3. every other gate, oldest newest-green-driver-row first (staleness),
     ties broken alphabetically for determinism.

A gate's "driver row" counts if the round's CORRECTNESS entry was green
(hash_match, or rows_match with no err for the rows-only gate).

Usage:
    python3 tools/window_order.py [--changed g1,g2] [--new g1,g2] [--window 50]

Prints one gate name per line (full ordering; the first --window lines are
the round's driver window) plus a trailing summary to stderr.
"""

import argparse
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The CURRENT round's head: brand-new gates (no driver row yet), gates
# whose code/oracle changed this round, and the newest CORRECTNESS round
# the order is computed against. Update this each round; the
# --new/--changed CLI flags override it. tests/test_entry.py pins the
# queries() dict order to compute_order(..., **ROUND_HEAD), so a stale
# constant fails the suite instead of silently drifting; history files of
# rounds after "through_round" are ignored, so a round-end CORRECTNESS
# artifact landing cannot reorder the window behind the dict's back.
ROUND_HEAD = {
    # r14 head (no new gates). The changed gates are the ones whose
    # iterative operator loops moved onto caching.fixpoint: the graph
    # family, connected_components (dedup), and the three trainers with
    # their segments/fertility composers.
    "through_round": 13,
    "new_first": [],
    "changed": [
        "pagerank", "ppr_seeded", "sssp_hops", "bfs_distances",
        "kcore_parts", "lpa_communities", "lpa_modularity", "hits_scores",
        "dedup_clusters", "dedup_keep_best",
        "bpe_train", "bpe_segments", "bpe_fertility",
        "wordpiece_train", "wordpiece_segments", "wordpiece_fertility",
        "unigram_train", "unigram_segments", "unigram_fertility",
    ],
}


def gate_history(repo=REPO, through_round=ROUND_HEAD["through_round"]):
    """gate -> newest round <= ``through_round`` with a GREEN driver row
    (0 = never)."""
    newest = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        if rnd > through_round:
            continue
        with open(path) as f:
            data = json.load(f)
        for gate, row in data.items():
            # Green = hash-match, or the rows-only path (no oracle_sql entry:
            # the driver records err='no_oracle' with a positive spark row
            # count — compression_ratio is the one such gate).
            green = bool(row.get("hash_match")) or (
                row.get("err") == "no_oracle" and (row.get("spark_rows") or 0) > 0
            )
            if green:
                newest[gate] = max(newest.get(gate, 0), rnd)
    return newest


def all_gates(repo=REPO):
    """Current gate names, in queries() dict order, without a SparkSession."""
    sys.path.insert(0, repo)
    import __spark_entry__  # noqa: E402

    return list(__spark_entry__.queries().keys())


def compute_order(gates, newest, changed=(), new_first=(),
                  through_round=None):
    """Full gate order. ``through_round`` (optional) asserts that
    ``newest`` holds no round after it — i.e. that the history was read
    with the same cut as ROUND_HEAD."""
    if through_round is not None and max(newest.values(), default=0) > through_round:
        raise ValueError("history newer than through_round=%d; read it with "
                         "gate_history(through_round=%d)" % (through_round, through_round))
    changed = [g for g in changed if g in gates]
    explicit_new = [g for g in new_first if g in gates]
    auto_new = [g for g in gates if newest.get(g, 0) == 0 and g not in explicit_new]
    head = explicit_new + auto_new + [g for g in changed if g not in explicit_new + auto_new]
    rest = sorted(
        (g for g in gates if g not in head),
        key=lambda g: (newest.get(g, 0), g),
    )
    return head + rest


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--changed", default=None, help="comma list of gates whose code/oracle changed (default: ROUND_HEAD)")
    ap.add_argument("--new", default=None, help="comma list of brand-new gates, in desired order (default: ROUND_HEAD)")
    ap.add_argument("--window", type=int, default=50)
    args = ap.parse_args(argv)

    newest = gate_history()
    gates = all_gates()
    order = compute_order(
        gates,
        newest,
        changed=(ROUND_HEAD["changed"] if args.changed is None
                 else [g for g in args.changed.split(",") if g]),
        new_first=(ROUND_HEAD["new_first"] if args.new is None
                   else [g for g in args.new.split(",") if g]),
    )
    for i, g in enumerate(order):
        marker = "  <-- window edge" if i == args.window - 1 else ""
        print("%s\t(last driver row: r%d)%s" % (g, newest.get(g, 0), marker))
    in_window = order[: args.window]
    stale_out = [g for g in order[args.window:] if newest.get(g, 0) <= max(newest.values()) - 3]
    print(
        "window=%d gates=%d; stale (>=3 rounds old) left OUTSIDE window: %s"
        % (args.window, len(order), stale_out or "none"),
        file=sys.stderr,
    )
    return in_window


if __name__ == "__main__":
    main()
