#!/usr/bin/env python3
"""Compare two sets of benchmark reports (.bench_build/results/*.json),
workload by workload, by median, quartiles and the ten-pair win rule.

    python3 perfbench/compare.py --base <reports...> --change <reports...>

Refuses to compare reports from different hosts, and any record without a
host fingerprint (such as the BENCH_r0*.json files of the 32-core host).
"""
import argparse
import json
import os
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402
import stats  # noqa: E402


class HostMismatch(Exception):
    pass


def check_hosts(base, change):
    hosts = [r.get("host") for r in base + change]
    if any(not isinstance(h, dict) or "nproc" not in h for h in hosts):
        raise HostMismatch("a record carries no host fingerprint")
    if not all(run.same_host(hosts[0], h) for h in hosts[1:]):
        raise HostMismatch("records come from different hosts")


def load(paths):
    out = []
    for p in paths:
        with open(p) as fh:
            out.append(json.load(fh))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--change", nargs="+", required=True)
    args = ap.parse_args()
    base, change = load(args.base), load(args.change)
    try:
        check_hosts(base, change)
    except HostMismatch as e:
        print(f"refused: {e}", file=sys.stderr)
        sys.exit(2)
    for w in sorted({r["workload"] for r in base + change}):
        b = [r for r in base if r["workload"] == w and not r["trace"]]
        c = [r for r in change if r["workload"] == w and not r["trace"]]
        if not b or not c:
            continue
        print(f"{w}: {len(b)} base runs, {len(c)} change runs")
        for m, unit in run.END_TO_END.items():
            bv = [r["end_to_end"][m] for r in b]
            cv = [r["end_to_end"][m] for r in c]
            mb, mc = stats.median(bv), stats.median(cv)
            iqr = stats.spread(bv) if len(bv) > 1 else float("nan")
            print(f"  {m:24s} {mb:14.4f} -> {mc:14.4f} {unit:9s} "
                  f"change {(mc - mb) / mb:+.3f}, base spread {iqr:.3f}")


if __name__ == "__main__":
    main()
