"""Print the driver-window order of the gates.

The external driver evaluates exactly the FIRST 50 entries of
``__spark_entry__.queries()`` per round, so that order IS the
verification schedule. ``queries()`` computes it at call time from the
CORRECTNESS_r*.json history and ``__spark_entry__.ROUND_HEAD`` (see
``compute_order`` there for the priority rules); this CLI prints it, or
previews the order a different round head would give.

Usage:
    python3 tools/window_order.py [--changed g1,g2] [--new g1,g2] [--window 50]

Prints one gate name per line (full ordering; the first --window lines are
the round's driver window) plus a trailing summary to stderr.
"""

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as em  # noqa: E402


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--changed", default=None, help="comma list of gates whose code/oracle changed (default: ROUND_HEAD)")
    ap.add_argument("--new", default=None, help="comma list of brand-new gates, in desired order (default: ROUND_HEAD)")
    ap.add_argument("--window", type=int, default=50)
    args = ap.parse_args(argv)

    newest = em.gate_history()
    order = em.compute_order(
        list(em.queries()),
        newest,
        changed=(em.ROUND_HEAD["changed"] if args.changed is None
                 else [g for g in args.changed.split(",") if g]),
        new_first=(em.ROUND_HEAD["new_first"] if args.new is None
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
