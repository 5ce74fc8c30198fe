#!/usr/bin/env python3
"""Runs every workload untraced and traced, prints every metric, and checks outputs.

    python3 pipebench/report.py [--seed N] [--workloads a,b,...] [--trace-seconds S] [--write]

Run from the repository root. For each workload this runs
`pipebench/run.py --trace 0` (end-to-end metrics) and `--trace 1` (per-layer
metrics, over --trace-seconds so that several traced ops give the medians);
every op of both runs is output-checked. It prints one line per
metric (workload, name, value, unit) and exits non-zero if any op failed.
`--write` also stores the stamped results and a per-layer table under
pipebench/results/<configuration>/.
"""
import argparse
import json
import os
import subprocess
import sys

from run import configuration

HERE = os.path.dirname(os.path.abspath(__file__))
ALL = ("daily_tick", "month_backfill", "raw_backfill", "corpus_clean")
BILLING_LAYERS = ("scan.s", "credits.s", "rulematch.s", "modes.s", "conform.s", "sink.s",
                  "uncovered.s")


def run(workload, seed, trace, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    if out.returncode != 0:
        sys.exit(f"{' '.join(cmd)} exited {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def stamped(workload, seed, trace):
    """The full result run.py stored for this run (stamps included)."""
    path = os.path.join(HERE, "out", configuration(), f"{workload}-trace{trace}-seed{seed}.json")
    with open(path) as fh:
        return json.load(fh)


def layer_table(results):
    names = [n for n in next(iter(results.values()))["traced"]["metrics"]]
    lines = ["| metric | unit | " + " | ".join(results) + " |",
             "|---|---|" + "---|" * len(results)]
    for n in names:
        unit = next(iter(results.values()))["traced"]["metrics"][n]["unit"]
        cells = [f'{r["traced"]["metrics"][n]["value"]:.4g}' for r in results.values()]
        lines.append(f"| `{n}` | {unit} | " + " | ".join(cells) + " |")
    lines += ["", "Share of the traced op's wall time (`trace.op_s`) per billing layer:", "",
              "| layer | " + " | ".join(w for w in results if w != "corpus_clean") + " |",
              "|---|" + "---|" * sum(w != "corpus_clean" for w in results)]
    for n in BILLING_LAYERS:
        cells = [f'{100 * r["traced"]["metrics"][n]["value"] / r["traced"]["metrics"]["trace.op_s"]["value"]:.1f}%'
                 for w, r in results.items() if w != "corpus_clean"]
        lines.append(f"| `{n}` | " + " | ".join(cells) + " |")
    return "\n".join(lines) + "\n"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(ALL))
    ap.add_argument("--trace-seconds", type=int, default=60)
    ap.add_argument("--write", action="store_true")
    a = ap.parse_args()
    results, failed = {}, 0
    for w in a.workloads.split(","):
        for trace in (0, 1):
            r = run(w, a.seed, trace, a.trace_seconds if trace else 1)
            failed += r["failed"]
            for name, m in r["metrics"].items():
                print(f"{w:15s} {name:28s} {m['value']:>16.6g} {m['unit']}", flush=True)
            full = stamped(w, a.seed, trace)
            results.setdefault(w, {})["traced" if trace else "untraced"] = full
    print(f"output checks: {'all ops passed' if failed == 0 else f'{failed} ops FAILED'}")
    if a.write:
        config = configuration()
        dest = os.path.join(HERE, "results", config)
        os.makedirs(dest, exist_ok=True)
        with open(os.path.join(dest, "results.json"), "w") as fh:
            json.dump(results, fh, indent=1, sort_keys=True)
            fh.write("\n")
        info = next(iter(results.values()))["traced"]["info"]
        header = (f"# Per-layer table, {config}\n\n"
                  f"git {info['git_sha']}, seed {a.seed}, {info['nproc']} cores, "
                  f"master {info['master']}, heap {info['heap']}, Spark {info['spark_version']}. "
                  "Input sizes are in results.json. Medians over the traced ops of one run.\n\n")
        with open(os.path.join(dest, "LAYERS.md"), "w") as fh:
            fh.write(header + layer_table(results))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
