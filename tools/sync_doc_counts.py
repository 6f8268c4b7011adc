"""Sync the registry-count sentences in README/GAPS/COVERAGE from the live
registry — run after adding queries so the docs can't drift:

    python tools/sync_doc_counts.py
"""

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from changegen_spark.queries import all_oracles, all_queries, covered_by_digest

    nq, no, nd = len(all_queries()), len(all_oracles()), len(covered_by_digest())
    subs = [
        ("README.md", r"\d+ queries, \d+ with DuckDB", f"{nq} queries, {no} with DuckDB"),
        ("GAPS.md", r"Registry now \d+ queries / \d+ oracle-backed",
         f"Registry now {nq} queries / {no} oracle-backed"),
        ("GAPS.md", r"transitively re-verifies \d+ out-of-window entries",
         f"transitively re-verifies {nd} out-of-window entries"),
        ("COVERAGE.md", r"digest of all \d+ out-of-window oracle queries",
         f"digest of all {nd} out-of-window oracle queries"),
    ]
    for path, pat, rep in subs:
        s = open(path).read()
        s2 = re.sub(pat, rep, s)
        if s2 != s:
            open(path, "w").write(s2)
            print(f"{path}: -> {rep}")
    print(f"registry: {nq} queries, {no} oracles, {nd} digest-covered")

    # r12 (r11 verdict #8): close-note drift check.  The LATEST
    # "round-close gate state" block in GAPS.md quotes registry counts
    # as prose ("N queries / M oracles"); the r11 note shipped quoting a
    # pre-addition sweep.  Historical blocks legitimately carry old
    # counts, so only the last block is checked — and checked, not
    # rewritten: close notes are run evidence, a silent rewrite would
    # falsify it.  Exit 1 so a stale note fails the round-close ritual.
    gaps = open("GAPS.md").read()
    headers = [
        (int(m.group(1) or m.group(2)), m.start())
        for m in re.finditer(
            r"(?:Round-(\d+) close|r(\d+) round-close gate state)", gaps
        )
    ]
    stale = []
    if headers:
        rnd, start = max(headers)  # the LATEST round's close note
        # the note runs to the next markdown header of either style
        m = re.search(r"\n(?:### |\d+[a-z]?\.\s+\*\*)", gaps[start:])
        block = gaps[start : start + m.start()] if m else gaps[start:]
        for m in re.finditer(r"(\d+)\s+queries\s*/\s*(\d+)\s+oracle", block):
            q, o = int(m.group(1)), int(m.group(2))
            if (q, o) != (nq, no):
                stale.append(
                    f"round-{rnd} close note says {q}/{o}, "
                    f"registry is {nq}/{no}"
                )
    # r13 (r12 verdict #8): quoted LADDER figures must agree with the
    # committed artifact they cite.  The r12 verdict found GAPS/SCALE
    # quoting deep_cc at 18.0 s from an earlier run while the artifact
    # carried 14.1 s — rounds/components agreed, the wall was a stale
    # copy.  Every "N star rounds, 1 component, X s" deep_cc quote in
    # GAPS.md/SCALE.md is checked against the committed cell (wall to
    # one decimal, rounds exact).  Checked, not rewritten, for the same
    # reason as the close-note counts: these quotes are presented as run
    # evidence.
    import json

    # the ladders' committed artifact (tools/ladders.py writes it)
    ladders_path = os.path.join(os.path.dirname(__file__), "..", "ladders_out.json")
    if os.path.exists(ladders_path):
        cell = json.load(open(ladders_path)).get("er_ladder", {}).get("deep_cc")
        if cell:
            want_rounds, want_wall = cell["rounds"], round(cell["wall_s"], 1)
            for path in ("GAPS.md", "SCALE.md"):
                text = re.sub(r"[*\n]", " ", open(path).read())
                for m in re.finditer(
                    r"(\d+) star rounds, 1 component, ([\d.]+)\s*s",
                    text,
                ):
                    rounds, wall = int(m.group(1)), float(m.group(2))
                    if (rounds, wall) != (want_rounds, want_wall):
                        stale.append(
                            f"{path} quotes deep_cc {rounds} rounds/"
                            f"{wall} s, committed artifact says "
                            f"{want_rounds}/{want_wall}"
                        )
        # retract walls (r13): the triple-quoted delete-batch costs at
        # 10k/100k/1M base, in either prose form ("X s at 10k base,
        # Y s at 100k, Z s at 1M" or "X/Y/Z s at 10k/100k/1M base"),
        # must match the committed per-rung retract cells to 2 dp.
        rungs = json.load(open(ladders_path)).get("er_ladder", {}).get("n", {})
        want_r = tuple(
            round(rungs[k]["retract"]["wall_s"], 2)
            for k in ("10000", "100000", "1000000")
            if isinstance(rungs.get(k), dict) and "retract" in rungs[k]
        )
        if len(want_r) == 3:
            for path in ("GAPS.md", "SCALE.md"):
                text = re.sub(r"[*\n]", " ", open(path).read())
                quotes = [
                    tuple(float(g) for g in m.groups())
                    for m in re.finditer(
                        r"([\d.]+) s at 10k base, ([\d.]+) s at 100k, "
                        r"([\d.]+) s at 1M",
                        text,
                    )
                ] + [
                    tuple(float(g) for g in m.groups())
                    for m in re.finditer(
                        r"([\d.]+)/([\d.]+)/([\d.]+) s at\s+"
                        r"10k/100k/1M base",
                        text,
                    )
                ]
                for got in quotes:
                    if got != want_r:
                        stale.append(
                            f"{path} quotes retract walls {got}, "
                            f"committed artifact says {want_r}"
                        )
    if stale:
        for msg in stale:
            print(f"STALE: {msg}")
        raise SystemExit(1)


if __name__ == "__main__":
    main()
