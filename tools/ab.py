#!/usr/bin/env python
r"""Interleaved same-session A/B of a code variant, toggled by
monkeypatching: variant A is the code as it is, variant B sets each
MODULE.ATTR to EXPR (evaluated in MODULE's namespace).  Each switch of
variant clears the registry's plan memo, so every call after it builds
its plan under that variant (each timed call is a cold build); the variants alternate inside ONE session
and ambient drift hits both equally.  Before anything is timed, each
query's two outputs must be equal (exceptAll both ways), and a query
whose two optimized plans are the same is named on stderr: its toggle
did not reach the plan.

Usage: python tools/ab.py --toggle MODULE.ATTR=EXPR [--toggle ...]
                          [-r REPS] query [query ...]

A toggle acts on the driver, where plans are built, and only through
the binding it patches: a module that imported the name binds its own
copy.  Staging artifacts are built once, under variant A, and served
to both.  Examples — spread_keys off; spread_scan off in the query
modules:

    P=level2_to_cassandra_spark
    python tools/ab.py --toggle "$P.catalog.spread_keys=lambda df, *k: df" \
        q_llm_dedup_embed
    python tools/ab.py --toggle "$P.queries.llm.spread_scan=lambda df: df" \
        --toggle "$P.queries.traindata.spread_scan=lambda df: df" \
        q_text_tfidf q_text_bigram_lm
"""
from __future__ import annotations

import argparse
import importlib
import re
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import bench  # noqa: E402


def parse_toggle(spec: str) -> tuple:
    """'MODULE.ATTR=EXPR' → (module, attr, A value, B value)."""
    target, expr = spec.split("=", 1)
    mod_name, attr = target.rsplit(".", 1)
    mod = importlib.import_module(mod_name)
    return mod, attr, getattr(mod, attr), eval(expr, vars(mod))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--toggle", action="append", required=True)
    ap.add_argument("-r", "--reps", default="5")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()
    reps = bench.parse_reps(args.reps, "-r")
    names = args.queries
    from level2_to_cassandra_spark.catalog import DEFAULT_SF_DIR as sf_dir
    from level2_to_cassandra_spark.registry import all_queries, clear_plans

    spark = bench.open_session("l2c-ab")
    bench.warm_session(spark, sf_dir)
    toggles = [parse_toggle(t) for t in args.toggle]

    def variant(b: bool) -> None:
        for mod, attr, a_val, b_val in toggles:
            setattr(mod, attr, b_val if b else a_val)
        clear_plans()

    def plan(df) -> str:
        """The optimized plan without its expression ids."""
        text = df._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+L?", "", text)

    for b in (False, True):
        variant(b)
        bench.warm_plans(spark, names)
    variant(False)
    bench.prewarm(spark, sf_dir, names)

    # first rep, untimed: output parity (also the timed-SF JIT burn)
    qs = all_queries()
    differ = []
    for name in names:
        out = []
        for b in (False, True):
            variant(b)
            out.append(qs[name].fn(spark, sf_dir))
        if not (out[0].exceptAll(out[1]).isEmpty()
                and out[1].exceptAll(out[0]).isEmpty()):
            differ.append(name)
        if plan(out[0]) == plan(out[1]):
            print(f"{name}: A and B plans are the same", file=sys.stderr)
        spark.catalog.clearCache()
    variant(False)
    if differ:
        raise SystemExit(f"variant outputs differ: {differ}")

    samples: dict[tuple[str, bool], list[float]] = {}
    for rep in range(reps):
        for b in ((False, True) if rep % 2 == 0 else (True, False)):
            variant(b)
            for name in names:
                t0 = time.perf_counter()
                bench.noop(qs[name].fn(spark, sf_dir))
                samples.setdefault((name, b), []).append(
                    time.perf_counter() - t0)
                spark.catalog.clearCache()
    variant(False)
    spark.stop()

    for name in names:
        med = {}
        for b, tag in ((False, "A"), (True, "B")):
            ts = samples[(name, b)]
            med[b] = statistics.median(ts)
            print(f"{name if not b else '':30s} {tag} min={min(ts):.3f} "
                  f"med={med[b]:.3f} {[round(t, 3) for t in ts]}")
        print(f"{'':30s} B/A median {med[True] / med[False]:.3f}")


if __name__ == "__main__":
    main()
