"""Summarise and compare benchmark results, like for like only.

    python3 perfbench/compare.py spread [RESULT.json ...]
    python3 perfbench/compare.py diff --base RESULT.json ... --head RESULT.json ...

With no files, ``spread`` reads every result under .perfbench_out/results/.
``spread`` prints, per workload, each end-to-end metric's median, quartiles
and interquartile spread as a share of the median, against a third of the
metric's bound in BENCHMARK.json. ``diff`` prints the head median against the
base median and flags a change worse than the bound.

Results are compared only when they were taken on the same box (nproc,
memory, driver heap, machine, Python and PySpark versions) with the same
workload parameters; ``spread`` also needs the same source. Anything else is
refused with exit code 2.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import OUT_DIR, ROOT, spread  # noqa: E402

BOX_KEYS = ("nproc", "mem_total_mb", "driver_heap_mb", "machine", "python", "pyspark")


def load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths or sorted(glob.glob(os.path.join(OUT_DIR, "results", "*.json"))):
        with open(p) as f:
            r = json.load(f)
        r["path"] = p
        out.append(r)
    return out


def key(r: dict, with_source: bool) -> tuple:
    ident = r["identity"]
    k = tuple(ident[x] for x in BOX_KEYS) + (json.dumps(r["params"], sort_keys=True),)
    return k + ((ident["source_sha256"],) if with_source else ())


def refuse_mixed(results: list[dict], with_source: bool) -> None:
    keys = {key(r, with_source) for r in results}
    if len(keys) > 1:
        print("refusing to compare results whose box, parameters or source differ:", file=sys.stderr)
        for k in sorted(keys, key=str):
            print("  ", k, file=sys.stderr)
        sys.exit(2)


def bounds() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m for m in bench["end_to_end"]}


def by_workload(results: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for r in results:
        if r["params"]["trace"] == 0:
            out.setdefault(r["params"]["workload"], []).append(r)
    return out


def cmd_spread(paths: list[str]) -> None:
    spec = bounds()
    for workload, rs in sorted(by_workload(load(paths)).items()):
        refuse_mixed(rs, with_source=True)
        print(f"{workload}: {len(rs)} runs, seeds {sorted(r['seed'] for r in rs)}, "
              f"failed {sum(r['result']['failed'] for r in rs)} of {sum(r['result']['attempted'] for r in rs)}")
        for name, m in spec.items():
            vals = [r["result"]["metrics"][name]["value"] for r in rs]
            if len(vals) < 2:
                print(f"  {name}: {vals}")
                continue
            q1, q2, q3 = statistics.quantiles(vals, n=4)
            s = spread(vals)
            flag = "" if s < m["bound"] / 3 else "  <-- above bound/3"
            print(f"  {name:18s} median {q2:12.5g} q1 {q1:12.5g} q3 {q3:12.5g} "
                  f"spread {s:6.3f} (bound {m['bound']}){flag}")


def cmd_diff(base_paths: list[str], head_paths: list[str]) -> None:
    spec = bounds()
    base, head = by_workload(load(base_paths)), by_workload(load(head_paths))
    for workload in sorted(set(base) & set(head)):
        refuse_mixed(base[workload] + head[workload], with_source=False)
        print(f"{workload}: base {len(base[workload])} runs, head {len(head[workload])} runs")
        for name, m in spec.items():
            b = statistics.median(r["result"]["metrics"][name]["value"] for r in base[workload])
            h = statistics.median(r["result"]["metrics"][name]["value"] for r in head[workload])
            worse = (h - b) / b if m["better"] == "lower" else (b - h) / b
            verdict = "REGRESSION" if worse > m["bound"] else "ok"
            print(f"  {name:18s} base {b:12.5g} head {h:12.5g} worse by {worse:+.3f} (bound {m['bound']}) {verdict}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sp = sub.add_parser("spread")
    sp.add_argument("files", nargs="*")
    dp = sub.add_parser("diff")
    dp.add_argument("--base", nargs="+", required=True)
    dp.add_argument("--head", nargs="+", required=True)
    args = ap.parse_args()
    if args.cmd == "spread":
        cmd_spread(args.files)
    else:
        cmd_diff(args.base, args.head)


if __name__ == "__main__":
    main()
