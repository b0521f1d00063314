"""Check that two traced runs did the same work.

    python3 perfbench/compare_traces.py perfbench/traces/A.json perfbench/traces/B.json

Matches call spans by (op, position in op, layer, name) over the window
ops both runs completed, and compares every counter that identical
inputs and plans must repeat exactly: jobs, completed stages, tasks,
rows and bytes (times are excluded). Prints one line per difference and
a summary; exits 1 if any counter differs or the call sequences differ.
"""

from __future__ import annotations

import json
import sys

from spans import DETERMINISTIC


def calls_by_op(path: str) -> list[list[dict]]:
    with open(path) as f:
        spans = json.load(f)["spans"]
    by_id = {s["id"]: s for s in spans}
    return [[by_id[i] for i in s["calls"]] for s in spans if s["kind"] == "op"]


def compare(a_path: str, b_path: str) -> list[str]:
    diffs: list[str] = []
    a_ops, b_ops = calls_by_op(a_path), calls_by_op(b_path)
    for n, (a_calls, b_calls) in enumerate(zip(a_ops, b_ops)):
        a_names = [(c["layer"], c["name"]) for c in a_calls]
        b_names = [(c["layer"], c["name"]) for c in b_calls]
        if a_names != b_names:
            diffs.append(f"op{n}: call sequences differ")
            continue
        for i, (a, b) in enumerate(zip(a_calls, b_calls)):
            for key in DETERMINISTIC:
                if a["counters"][key] != b["counters"][key]:
                    diffs.append(
                        f"op{n} call{i} {a['layer']}:{a['name']} {key}: "
                        f"{a['counters'][key]} != {b['counters'][key]}"
                    )
    return diffs


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    diffs = compare(*argv)
    for d in diffs:
        print(d)
    n_ops = min(len(calls_by_op(p)) for p in argv)
    n_calls = sum(len(c) for c in calls_by_op(argv[0])[:n_ops])
    print(
        f"{n_ops} ops, {n_calls} calls compared on {len(DETERMINISTIC)} counters: "
        f"{len(diffs)} differences"
    )
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
