"""Canary-guarded interleaved A/B of registry queries under a code dial.

The sandbox throttles unpredictably (r13 third-session notes: the same
32-task Arrow canary read 0.57 -> 16.8 -> 0.59 s across consecutive
minutes), so single sweeps cannot decide an optimization.  This tool
alternates two values of one module attribute (a "dial") around the SAME
query in one Spark session, brackets every iteration with the bench's
multi-core Arrow canary, DISCARDS iterations whose canary reads loaded,
and reports per-variant medians of the clean samples.

Usage:
  python tools/ab_interleave.py <iters> <module>:<attr>=<A>,<B> <query> [...]

Examples:
  python tools/ab_interleave.py 6 \
      changegen_spark.functions.spread:MINHASH_BYTES_PER_TASK=16384,65536 \
      q_lsh_pairs
  python tools/ab_interleave.py 6 \
      changegen_spark.functions.spread:GRAM_BYTES_PER_TASK=65536,16384 \
      q_related_docs

Dial values are parsed with ``ast.literal_eval``.  The dial must be read
at query-BUILD time (constants imported inside the function body, module
flags) for the flip to take effect.
"""

from __future__ import annotations

import ast
import importlib
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# r13 third-session methodology: discard unless both canary reads < 1.2 s
# ABSOLUTE (the box's mild-throttle floor sits ~0.9-1.1; a ratio gate on
# bench.IDLE_CALIB_PAR_S, 0.76 s, discards everything in those windows)
CANARY_MAX_S = 1.2


def main() -> int:
    iters = int(sys.argv[1])
    spec = sys.argv[2]
    names = sys.argv[3:]
    modattr, vals = spec.split("=", 1)
    modname, attr = modattr.split(":")
    a_raw, b_raw = vals.split(",", 1)
    va, vb = ast.literal_eval(a_raw), ast.literal_eval(b_raw)
    mod = importlib.import_module(modname)
    assert hasattr(mod, attr), f"{modname} has no {attr}"

    from bench import _parallel_calibration_s
    from changegen_spark.queries import all_queries
    from changegen_spark.session import get_spark

    spark = get_spark("ab-interleave")
    queries = all_queries()

    def run(name: str, val) -> float:
        setattr(mod, attr, val)
        t0 = time.time()
        queries[name](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.time() - t0

    for name in names:
        # warm both variants untimed (codegen compile, worker spin-up)
        run(name, va)
        run(name, vb)
        clean_a, clean_b, dropped = [], [], 0
        for i in range(iters):
            c0 = _parallel_calibration_s(spark)
            order = [(va, clean_a), (vb, clean_b)]
            if i % 2:
                order.reverse()
            samples = [(sink, run(name, val)) for val, sink in order]
            c1 = _parallel_calibration_s(spark)
            if max(c0, c1) > CANARY_MAX_S:
                dropped += 1
                print(
                    f"  [drop] {name} iter {i}: canary {c0:.2f}/{c1:.2f}",
                    flush=True,
                )
                continue
            for sink, s in samples:
                sink.append(s)
        ma = statistics.median(clean_a) if clean_a else float("nan")
        mb = statistics.median(clean_b) if clean_b else float("nan")
        wins_a = sum(1 for x, y in zip(clean_a, clean_b) if x < y)
        print(
            f"{name:28s} A({attr}={va!r}) median {ma:.3f}s | "
            f"B({vb!r}) median {mb:.3f}s | clean {len(clean_a)} "
            f"dropped {dropped} | A wins {wins_a}/{len(clean_a)}",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
